"""Recall properties for the ANN operators vs the exact brute-force kNN."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectordb_similarity_search_spark.operators.ann import ivf_fit, lsh_bucket_topk
from vectordb_similarity_search_spark.operators.topk import knn
from vectordb_similarity_search_spark.sources.tables import load_table


def _query_vec(emb):
    return list(emb.filter(F.col("vec_id") == 0).select("embedding").head()[0])


def test_ivf_recall(spark, sf_dir, tmp_path):
    from vectordb_similarity_search_spark.operators.ann import (
        ivf_search_index,
        ivf_write_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(emb)
    corpus = emb.filter(F.col("vec_id") != 0)
    exact = {r.vec_id for r in knn(corpus, qv, 10).collect()}
    model = ivf_fit(emb, n_cells=8)
    path = str(tmp_path / "ivf")
    ivf_write_index(model, corpus, path)
    approx = {r.vec_id for r in ivf_search_index(spark, path, model, qv, 10, nprobe=4).collect()}
    # probing half the cells should recover most of the true top-10
    assert len(exact & approx) >= 6
    # full probe == exact search
    full = {r.vec_id for r in ivf_search_index(spark, path, model, qv, 10, nprobe=8).collect()}
    assert full == exact


def test_lsh_bucket_topk_properties(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(emb)
    corpus = emb.filter(F.col("vec_id") != 0)
    got = lsh_bucket_topk(corpus, qv, k=10, dim=len(qv), n_planes=4).collect()
    # non-empty bucket, correctly ordered scores
    assert 0 < len(got) <= 10
    scores = [r.score for r in got]
    assert scores == sorted(scores, reverse=True)
    # every returned hit must score identically under exact brute force
    exact_scores = {r.vec_id: r.score for r in knn(corpus, qv, 500).collect()}
    for r in got:
        assert abs(exact_scores[r.vec_id] - r.score) < 1e-9


def test_lsh_recalls_planted_near_duplicate(spark, sf_dir):
    """A vector at cosine ~1 to the query lands in the query's bucket with
    certainty (same side of every hyperplane up to sign noise at ~0)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(emb)
    planted = [x * 1.001 for x in qv]  # same direction, cosine == 1
    corpus = emb.filter(F.col("vec_id") != 0).unionByName(
        spark.createDataFrame(
            [(99999, planted, 0)], "vec_id long, embedding array<float>, label int"
        )
    )
    got = [r.vec_id for r in
           lsh_bucket_topk(corpus, qv, k=5, dim=len(qv), n_planes=6).collect()]
    assert got[0] == 99999


def test_ivf_written_index_prunes_partitions(spark, sf_dir, tmp_path):
    from vectordb_similarity_search_spark.operators.ann import (
        ivf_fit,
        ivf_search_index,
        ivf_write_index,
    )
    from .test_plans import plan_of

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(emb)
    model = ivf_fit(emb, n_cells=8)
    path = str(tmp_path / "ivf")
    ivf_write_index(model, emb.filter(F.col("vec_id") != 0), path)

    res = ivf_search_index(spark, path, model, qv, k=5, nprobe=2)
    rows = res.collect()
    assert 0 < len(rows) <= 5
    plan = plan_of(res)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "cell" in pf[0]
    # full-probe search over the written index == exact brute force
    exact = {r.vec_id for r in knn(emb.filter(F.col("vec_id") != 0), qv, 5).collect()}
    full = {r.vec_id for r in ivf_search_index(spark, path, model, qv, 5, nprobe=8).collect()}
    assert full == exact


def test_blocked_join_zero_norm_query_no_nan(spark, sf_dir):
    """A zero-norm query vector must score 0.0 (documented convention), not
    NaN — the guard mirrors the corpus-side norms[norms==0]=1 fix."""
    import math

    from vectordb_similarity_search_spark.operators.topk import (
        similarity_join_blocked,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    dim = len(emb.select("embedding").head()[0])
    q = spark.createDataFrame(
        [(0, [0.0] * dim)], "query_id int, query_vec array<double>"
    )
    got = similarity_join_blocked(q, emb, k=5).collect()
    assert len(got) == 5
    assert all(r.score == 0.0 and not math.isnan(r.score) for r in got)


def test_blocked_join_rejects_oversized_query_side(spark, sf_dir):
    """The query side is collected+broadcast by contract; a corpus-sized
    'queries' frame must raise (bounded limit+1 probe), not OOM the
    driver — the mmr_rerank max_candidates pattern."""
    from vectordb_similarity_search_spark.operators.topk import (
        similarity_join_blocked,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    with pytest.raises(ValueError, match="query rows"):
        similarity_join_blocked(q, emb, k=5, max_queries=10)


def test_ivf_append_and_compact(spark, tmp_path):
    import glob

    import numpy as np
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.operators.ann import (
        ivf_append,
        ivf_compact,
        ivf_fit,
        ivf_search_index,
        ivf_write_index,
    )
    from vectordb_similarity_search_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    model = ivf_fit(emb, n_cells=4, seed=1)
    path = str(tmp_path / "ivf")
    base = emb.filter(F.col("vec_id") >= 10)
    ivf_write_index(model, base, path)

    # append the held-out rows; a probe must now find an appended vector
    held = emb.filter(F.col("vec_id") < 10)
    ivf_append(model, held, path)
    qv = [float(x) for x in held.filter(F.col("vec_id") == 3).head()["embedding"]]
    hits = ivf_search_index(spark, path, model, qv, k=1, nprobe=4).collect()
    assert hits[0]["vec_id"] == 3  # self-retrieval through the appended files

    n_before = spark.read.parquet(path).count()
    files_before = len(glob.glob(f"{path}/cell=*/*.parquet"))
    ivf_compact(spark, path, target_rows_per_file=10_000)
    assert spark.read.parquet(path).count() == n_before
    files_after = len(glob.glob(f"{path}/cell=*/*.parquet"))
    assert files_after <= files_before
    # search still correct post-swap
    hits = ivf_search_index(spark, path, model, qv, k=1, nprobe=4).collect()
    assert hits[0]["vec_id"] == 3


def test_ivfpq_index_probe(spark, tmp_path):
    """IVF-PQ: partition-pruned probe + ADC + rescore matches the plain
    IVF probe of the same cells (rescore window spans the probed rows)."""
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.operators.ann import (
        ivf_fit,
        ivf_search_index,
        ivf_write_index,
        ivfpq_search_index,
        ivfpq_write_index,
    )
    from vectordb_similarity_search_spark.operators.pq import fit_pq, l2_normalized
    from vectordb_similarity_search_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = l2_normalized(emb.filter(F.col("vec_id") != 0))
    ivf = ivf_fit(emb, n_cells=4, seed=1)
    pq = fit_pq(emb, m=8, k=16, seed=7)
    path = str(tmp_path / "ivfpq")
    ivfpq_write_index(ivf, pq, corpus, path)

    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    got = [
        r.vec_id
        for r in ivfpq_search_index(
            spark, path, ivf, pq, qv, k=5, nprobe=4, rescore=10_000
        ).collect()
    ]
    # reference: plain IVF index over the same normalized corpus/cells
    ref_path = str(tmp_path / "ivf_ref")
    ivf_write_index(ivf, corpus, ref_path)
    want = [
        r.vec_id
        for r in ivf_search_index(spark, ref_path, ivf, qv, k=5, nprobe=4).collect()
    ]
    assert got == want

    # pruning: non-probed cells never reach the scan
    probed = ivfpq_search_index(spark, path, ivf, pq, qv, k=5, nprobe=1, rescore=50)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_assign_blas_matches_expression_at_256_cells(spark, monkeypatch):
    """The Arrow BLAS argmin assign (the >EXPR_MAX_CELLS path a production
    4k-64k-cell IVF takes) must agree cell-for-cell with the small-model
    expression form, and must be the auto-picked strategy at 256 cells."""
    import numpy as np

    from vectordb_similarity_search_spark.operators.ann import IvfModel

    rng = np.random.default_rng(7)
    centers = rng.standard_normal((256, 16))
    rows = [
        (i, [float(x) for x in rng.standard_normal(16)]) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    model = IvfModel(centers, "embedding")
    assert len(model.centers) > IvfModel.EXPR_MAX_CELLS  # auto -> BLAS
    blas = {r.vec_id: r.cell for r in model.assign(df).collect()}
    monkeypatch.setattr(IvfModel, "EXPR_MAX_CELLS", 256)  # expression path
    expr = {r.vec_id: r.cell for r in model.assign(df).collect()}
    assert blas == expr
    assert set(blas.values()) <= set(range(256))


def test_assign_blas_handles_empty_partitions(spark):
    import numpy as np

    from vectordb_similarity_search_spark.operators.ann import IvfModel

    rng = np.random.default_rng(3)
    model = IvfModel(rng.standard_normal((128, 8)), "embedding")
    df = spark.createDataFrame(
        [(0, [0.0] * 8)], "vec_id long, embedding array<float>"
    ).repartition(8)  # 7 empty partitions
    got = model.assign(df).collect()
    assert len(got) == 1 and 0 <= got[0].cell < 128


def test_ivf_recall_curve_monotone(spark):
    """recall@10 must be non-decreasing in nprobe and reach 1.0 at a full
    16-cell probe's upper half (nprobe=8 of 16 probes half the corpus)."""
    from vectordb_similarity_search_spark.plans import REGISTRY

    rows = REGISTRY["v_ivf_recall_curve"].fn(
        spark, "/root/testdata/sf0.01"
    ).collect()
    curve = {r.nprobe: r.recall_at_10 for r in rows}
    assert sorted(curve) == [1, 2, 4, 8]
    vals = [curve[p] for p in (1, 2, 4, 8)]
    assert vals == sorted(vals), vals
    assert all(0.0 <= v <= 1.0 for v in vals)


def test_assign_blas_replaces_existing_cell_column(spark):
    """Re-assigning a frame that already carries the cell column must
    replace it (withColumn semantics), not duplicate the field."""
    import numpy as np

    from vectordb_similarity_search_spark.operators.ann import IvfModel

    rng = np.random.default_rng(5)
    model = IvfModel(rng.standard_normal((128, 8)), "embedding")
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    once = model.assign(df)
    twice = model.assign(once)
    assert twice.columns.count("cell") == 1
    a = {r.vec_id: r.cell for r in once.collect()}
    b = {r.vec_id: r.cell for r in twice.collect()}
    assert a == b


def test_ivf_batch_search_matches_single_probes(spark, sf_dir, tmp_path):
    """Batch ANN == per-query single search over the same written index:
    identical neighbour sets and scores for every query, from ONE
    partition-pruned scan; a small batch's probed-cell union stays a
    strict subset of the cells (real pruning, not a degenerate isin-all)."""
    from vectordb_similarity_search_spark.operators.ann import (
        ivf_fit,
        ivf_search_index,
        ivf_search_index_batch,
        ivf_write_index,
    )
    from .test_plans import plan_of

    emb = load_table(spark, sf_dir, "embeddings")
    model = ivf_fit(emb, n_cells=8)
    path = str(tmp_path / "ivf_batch")
    ivf_write_index(model, emb.filter(F.col("vec_id") != 0), path)

    qrows = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 3)
        .select("vec_id", "embedding")
        .collect()
    ]
    res = ivf_search_index_batch(spark, path, model, qrows, k=5, nprobe=1)
    got = {}
    for r in res.collect():
        got.setdefault(r.q_id, {})[r.vec_id] = r.score
    assert set(got) == {q for q, _ in qrows}
    for qid, qv in qrows:
        single = {
            r.vec_id: r.score
            for r in ivf_search_index(
                spark, path, model, qv, k=5, nprobe=1
            ).collect()
        }
        assert set(got[qid]) == set(single)
        for vid in single:
            assert abs(got[qid][vid] - single[vid]) < 1e-9

    # plan assertions on a FRESH (unexecuted) build: after collect(), AQE's
    # explain prints final+initial trees and double-counts the scan node
    plan = plan_of(ivf_search_index_batch(spark, path, model, qrows, k=5, nprobe=1))
    import re

    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)) == 1
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "cell" in pf[0]
    union = {c for _, qv in qrows for c in model.probe_cells(qv, 1)}
    assert len(union) < 8  # strict subset: non-probed cells pruned


def test_ivf_batch_rejects_duplicate_qids(spark, sf_dir, tmp_path):
    import pytest as _pytest

    from vectordb_similarity_search_spark.operators.ann import (
        ivf_fit,
        ivf_search_index_batch,
        ivf_write_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    model = ivf_fit(emb, n_cells=4)
    path = str(tmp_path / "ivf_dup")
    ivf_write_index(model, emb, path)
    qv = _query_vec(emb)
    with _pytest.raises(ValueError, match="duplicate"):
        ivf_search_index_batch(spark, path, model, [(1, qv), (1, qv)])


def test_ivf_fit_is_one_job(spark, sf_dir, count_jobs):
    """Validation of every row and the training sample share one Spark
    job (an MLlib fit of the same corpus ran 19)."""
    emb = load_table(spark, sf_dir, "embeddings")
    model, jobs = count_jobs(ivf_fit, emb, n_cells=8)
    assert jobs == 1
    assert model.centers.shape == (8, 64)


def test_ivf_fit_is_layout_independent(spark, sf_dir):
    """The hash sample is a function of the vectors, not of the partition
    layout: any repartitioning trains bit-identical centres."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    base = ivf_fit(emb, n_cells=8).centers
    assert np.array_equal(base, ivf_fit(emb.repartition(7), n_cells=8).centers)
    assert np.array_equal(base, ivf_fit(emb.coalesce(1), n_cells=8).centers)


_BAD_VECTORS = {
    "null": None,
    "ragged": [0.5] * 3,
    "nan": [float("nan")] + [0.5] * 7,
    "inf": [0.5] * 7 + [float("inf")],
}


@pytest.mark.parametrize("kind", sorted(_BAD_VECTORS))
def test_ivf_fit_rejects_bad_rows_outside_the_sample(spark, kind):
    """A NULL, ragged or non-finite vector anywhere in the corpus raises
    ValueError — also when the row falls outside the training sample
    (1 cell → the 256 smallest hashes of 2,000 rows), which only the
    all-row observation can catch."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(2000)]
    rows.append((2000, _BAD_VECTORS[kind]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    v = F.col("embedding")
    sampled = df.orderBy(F.xxhash64(F.lit(42), v), v).limit(256)
    assert sampled.filter(F.col("vec_id") == 2000).isEmpty()
    with pytest.raises(ValueError, match="1 (NULL|with)|lengths 3..8"):
        ivf_fit(df, n_cells=1, seed=42)


def test_ivf_fit_rejects_fewer_rows_than_cells(spark):
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(3)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="3 corpus rows"):
        ivf_fit(df, n_cells=4)
