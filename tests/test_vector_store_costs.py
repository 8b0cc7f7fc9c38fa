"""Per-operation fixed costs of the vector-store path: py4j round trips
at plan build, Spark jobs per ingest/compaction, literal exactness, and a
patient search that does not re-run the embedding model per query.

- Query vectors and IVF centroids cross py4j as one byte string
  (functions/vector.array_lit, matrix_lit): building a probe costs the same
  number of py4j calls at dim 8 as at dim 256.
- Those literals, and the driver-folded query norm of cosine_similarity,
  are bit-identical to the per-element ``F.lit`` forms they replace.
- apply_vector_batch validates and stages tombstones in one job;
  ivf_compact needs no count job.
- PatientSimilaritySearch(embed=...) embeds its store once: query plans
  scan the cached store, with no MapInPandas node.
- hyperplane_signature builds each plane as one array literal: the same
  signatures as per-element literals, in py4j calls that do not grow
  with dim.
"""

from __future__ import annotations

import math
import os
import struct

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vectordb_similarity_search_spark.functions.hashing import hyperplane_signature
from vectordb_similarity_search_spark.functions.vector import (
    array_lit,
    cosine_similarity,
    matrix_lit,
)
from vectordb_similarity_search_spark.operators.ann import (
    IvfModel,
    ivf_compact,
    ivf_delete,
    ivf_search_index,
    ivf_write_index,
)
from vectordb_similarity_search_spark.operators.topk import knn
from vectordb_similarity_search_spark.streaming.vectors import apply_vector_batch

SPECIALS = [1.5, -0.0, float("nan"), float("inf"), -float("inf"), 5e-324, 1e300, 0.1]


def _old_array_lit(vec):
    return F.array(*[F.lit(float(x)) for x in vec]).cast("array<double>")


def _bits(xs):
    return [struct.pack(">d", x).hex() for x in xs]


def _corpus(spark, n, dim, seed=0):
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim))
    vecs[0] = 0.0  # a zero vector: cosine NULL on both paths
    pdf = pd.DataFrame({"vec_id": np.arange(n), "embedding": list(vecs)})
    return spark.createDataFrame(pdf, "vec_id long, embedding array<double>"), vecs


def test_array_lit_matches_per_element_literals(spark):
    df = spark.range(1).select(
        array_lit(SPECIALS).alias("v"), _old_array_lit(SPECIALS).alias("v_old")
    )
    one = spark.range(1).select(_old_array_lit(SPECIALS).alias("v"))
    assert df.select("v").schema == one.schema
    row = df.head()
    assert _bits(row.v) == _bits(row.v_old) == _bits(SPECIALS)


def test_matrix_lit_matches_nested_literals(spark):
    m = np.array([SPECIALS, [float(i) / 7 for i in range(len(SPECIALS))]])
    old = F.array(*[F.array(*[F.lit(float(x)) for x in r]) for r in m])
    row = spark.range(1).select(matrix_lit(m).alias("m"), old.alias("o")).head()
    assert [_bits(r) for r in row.m] == [_bits(r) for r in row.o] == [_bits(r) for r in m]
    with pytest.raises(ValueError):
        matrix_lit(np.zeros((2, 0)))


def test_driver_query_norm_is_bit_identical(spark):
    """cosine_similarity against a driver-side vector folds |q| on the
    driver; the scores equal the all-per-row form bit for bit."""
    corpus, _ = _corpus(spark, 200, 16, seed=1)
    rng = np.random.default_rng(2)
    for q in (rng.standard_normal(16).tolist(), [0.0] * 16, [1e-160] * 16):
        got = corpus.select(
            "vec_id",
            cosine_similarity("embedding", q).alias("new"),
            cosine_similarity("embedding", _old_array_lit(q)).alias("old"),
        ).collect()
        for r in got:
            assert (r.new is None and r.old is None) or _bits([r.new]) == _bits([r.old])


def test_assign_expression_matches_per_centroid_form(spark, monkeypatch):
    """One transform over the centroid literal picks the same cells as the
    per-centroid distance array it replaces."""
    corpus, vecs = _corpus(spark, 300, 8, seed=3)
    centers = np.random.default_rng(4).standard_normal((6, 8))
    model = IvfModel(centers, "embedding")
    dists = [
        F.aggregate(
            F.zip_with(F.col("embedding"), _old_array_lit(c), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        for c in centers
    ]
    old = F.array_position(F.array(*dists), F.array_min(F.array(*dists))).cast("int") - 1
    monkeypatch.setattr(IvfModel, "EXPR_MAX_CELLS", len(centers))  # expression path
    rows = model.assign(corpus).withColumn("old", old).collect()
    assert all(r.cell == r.old for r in rows)
    assert {r.cell for r in rows} == set(range(6))


def _old_hyperplane_signature(vec, dim, n_planes=16, seed=42):
    planes = np.random.default_rng(seed).standard_normal((n_planes, dim))
    v = vec.cast("array<double>")
    key = F.lit(0)
    for p in planes:
        d = F.aggregate(
            F.zip_with(v, _old_array_lit(p), lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        )
        key = key * 2 + F.when(d >= 0, 1).otherwise(0)
    return key


def test_hyperplane_signature_matches_per_element_planes(spark):
    """Signatures equal the per-element literal form on a seeded frame,
    including a zero vector (every dot product 0.0) and negative zeros."""
    corpus, _ = _corpus(spark, 200, 16, seed=6)
    corpus = corpus.unionByName(
        spark.createDataFrame([(1000, [-0.0] * 16), (1001, [-0.0, 1.0] * 8)], corpus.schema)
    )
    for n_planes, seed in ((16, 42), (8, 7)):
        rows = corpus.select(
            "vec_id",
            hyperplane_signature(F.col("embedding"), 16, n_planes, seed).alias("new"),
            _old_hyperplane_signature(F.col("embedding"), 16, n_planes, seed).alias("old"),
        ).collect()
        assert all(r.new == r.old for r in rows)
        assert len({r.new for r in rows}) > 1
        zero = next(r for r in rows if r.vec_id == 0)
        assert zero.new == 2**n_planes - 1  # sign(0.0) counts as >= 0


def test_hyperplane_signature_py4j_calls_do_not_grow_with_dim(spark, count_py4j_calls):
    counts = {}
    for dim in (8, 256):
        hyperplane_signature(F.col("embedding"), dim)  # warm
        _, counts[dim] = count_py4j_calls(hyperplane_signature, F.col("embedding"), dim)
    assert counts[8] == counts[256], counts
    # per-element planes cost ~4 calls per element: 16 x 256 x 4
    assert counts[256] < 16 * 256, counts


def _built_index(spark, tmp_path, dim):
    corpus, vecs = _corpus(spark, 64, dim, seed=dim)
    model = IvfModel(vecs[1:5], "embedding")
    path = str(tmp_path / f"idx{dim}")
    ivf_write_index(model, corpus, path)
    return corpus, model, path


def test_probe_build_py4j_calls_do_not_grow_with_dim(spark, tmp_path, count_py4j_calls):
    counts = {}
    for dim in (8, 256):
        corpus, model, path = _built_index(spark, tmp_path, dim)
        q = np.random.default_rng(dim).standard_normal(dim).tolist()
        # warm: the first build caches the index scan and resolves classes
        knn(corpus, q, 10)
        ivf_search_index(spark, path, model, q, 10)
        _, n_knn = count_py4j_calls(knn, corpus, q, 10)
        _, n_ivf = count_py4j_calls(ivf_search_index, spark, path, model, q, 10)
        counts[dim] = (n_knn, n_ivf)
    assert counts[8] == counts[256], counts
    # the old per-element query literal alone cost ~4 calls per dimension
    assert max(counts[256]) < 4 * 256, counts


def test_assign_build_py4j_calls_do_not_grow(spark, count_py4j_calls, monkeypatch):
    sizes = {}
    monkeypatch.setattr(IvfModel, "EXPR_MAX_CELLS", 32)  # expression path at both sizes
    for n_cells, dim in ((4, 8), (32, 256)):
        corpus, _ = _corpus(spark, 8, dim)
        model = IvfModel(np.random.default_rng(0).standard_normal((n_cells, dim)), "embedding")
        model.assign(corpus)  # warm
        _, sizes[(n_cells, dim)] = count_py4j_calls(model.assign, corpus)
    assert sizes[(32, 256)] <= sizes[(4, 8)], sizes


def _ingest_index(spark, tmp_path):
    corpus, vecs = _corpus(spark, 120, 8, seed=5)
    model = IvfModel(vecs[1:5], "embedding")
    path = str(tmp_path / "ingest_idx")
    ivf_write_index(model, corpus, path)
    return model, path


def _cdc_batch(spark, tmp_path, bid, new_ids, dead_ids):
    """A delete+insert CDC batch read back from parquet (a scan, like a
    file-source micro-batch, so every pass over it is a Spark job)."""
    rng = np.random.default_rng(bid)
    rows = [(int(i), rng.standard_normal(8).tolist(), False) for i in new_ids]
    rows += [(int(i), [0.0] * 8, True) for i in dead_ids]
    src = str(tmp_path / f"batch{bid}")
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding", "is_deleted"]),
        "vec_id long, embedding array<double>, is_deleted boolean",
    ).write.parquet(src)
    return spark.read.parquet(src)


def _live_ids(spark, path):
    ids = {r[0] for r in spark.read.parquet(path).select("vec_id").collect()}
    tomb = os.path.join(path, "_tombstones")
    if os.path.isdir(tomb):
        ids -= {r[0] for r in spark.read.parquet(tomb).collect()}
    return ids


def test_apply_vector_batch_job_counts(spark, tmp_path, count_jobs):
    """Delete+insert batch: one validation/tombstone-staging job (a
    shuffle map job plus the write job under AQE) and the append: ≤ 3
    jobs (was 5). Compaction adds the index footer read, the tombstone
    broadcast, the cell shuffle and the write: ≤ 4 more (was 10)."""
    model, path = _ingest_index(spark, tmp_path)
    b0 = _cdc_batch(spark, tmp_path, 0, range(1000, 1020), [1, 2, 3])
    b1 = _cdc_batch(spark, tmp_path, 1, range(1020, 1040), [4, 5])
    kw = dict(delete_col="is_deleted", compact_every=2)
    ok, jobs = count_jobs(apply_vector_batch, b0, 0, model, path, **kw)
    assert ok and jobs <= 3, jobs
    ok, jobs = count_jobs(apply_vector_batch, b1, 1, model, path, **kw)
    assert ok and jobs <= 3 + 4, jobs
    assert _live_ids(spark, path) == (set(range(120)) - {1, 2, 3, 4, 5}) | set(range(1000, 1040))
    assert not os.path.isdir(os.path.join(path, "_tombstones"))  # GC'd by compact
    assert not [d for d in os.listdir(path) if d.startswith("_tombstones_")]


def test_apply_vector_batch_rejects_before_any_visible_write(spark, tmp_path):
    model, path = _ingest_index(spark, tmp_path)
    before = sorted(os.listdir(path))
    bad = _cdc_batch(spark, tmp_path, 2, [7, 1000], [7, 8])
    with pytest.raises(ValueError, match=r"both deletes and inserts ids \[7\]"):
        apply_vector_batch(bad, 0, model, path, delete_col="is_deleted")
    assert sorted(os.listdir(path)) == before  # no tombstones, no staging
    assert _live_ids(spark, path) == set(range(120))
    # a delete-only batch still tombstones, and appends nothing
    dels = _cdc_batch(spark, tmp_path, 3, [], [7, 8])
    assert apply_vector_batch(dels, 1, model, path, delete_col="is_deleted")
    assert _live_ids(spark, path) == set(range(120)) - {7, 8}
    # an empty batch is applied as a no-op, with or without a delete column
    empty = dels.limit(0)
    assert apply_vector_batch(empty, 2, model, path, delete_col="is_deleted")
    assert apply_vector_batch(empty.drop("is_deleted"), 3, model, path)
    assert _live_ids(spark, path) == set(range(120)) - {7, 8}
    assert not [d for d in os.listdir(path) if d.startswith("_tombstones_")]


def _sql_plans(spark) -> dict[int, str]:
    """Physical plan of every SQL execution the status store retains."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {
        e.executionId(): e.physicalPlanDescription()
        for e in (execs.apply(i) for i in range(execs.size()))
    }


def test_ivf_delete_writes_from_a_jvm_frame(spark, tmp_path, count_jobs):
    """The tombstone write scans a JVM literal, not a Python-fed RDD
    (``createDataFrame(list)`` plans as ``Scan ExistingRDD`` and starts
    Python workers)."""
    _, path = _ingest_index(spark, tmp_path)
    before = set(_sql_plans(spark))
    n, jobs = count_jobs(ivf_delete, spark, path, np.array([3, 4, 4]))
    assert n == 3 and jobs == 1
    plans = [p for i, p in _sql_plans(spark).items() if i not in before]
    assert plans and not [p for p in plans if "ExistingRDD" in p], plans
    assert ivf_delete(spark, path, []) == 0
    assert _live_ids(spark, path) == set(range(120)) - {3, 4}


def test_ivf_compact_writes_ceil_rows_over_target_files_per_cell(spark, tmp_path):
    _, path = _ingest_index(spark, tmp_path)
    ivf_delete(spark, path, range(10, 20))
    assert ivf_compact(spark, path, target_rows_per_file=7)
    rows = spark.read.parquet(path).groupBy("cell").count().collect()
    assert sum(r["count"] for r in rows) == 110
    for r in rows:
        d = os.path.join(path, f"cell={r.cell}")
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == math.ceil(r["count"] / 7), (r.cell, r["count"], files)
    with pytest.raises(ValueError):
        ivf_compact(spark, path, target_rows_per_file=0)


def _plan_node_names(df) -> list[str]:
    """Node names of the executed physical plan, walking children only:
    an InMemoryTableScan is a leaf, so the cached store's own plan (with
    the MapInPandas that filled it once) is not part of the query."""
    names, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        names.append(node.nodeName())
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return names


def test_embedded_patient_search_scans_cached_store(spark, count_jobs):
    from vectordb_similarity_search_spark.ml.embed import EmbeddingModel, _forward
    from vectordb_similarity_search_spark import cache
    from vectordb_similarity_search_spark.operators.cohort import (
        PatientSimilaritySearch,
        zscore_params,
        zscore_vector,
    )
    from vectordb_similarity_search_spark.sources.synthetic import gen_hospital_patients

    pts = gen_hospital_patients(spark, {"Hospital_A": 120, "Hospital_B": 80}, seed=11)
    params = zscore_params(pts)
    model = EmbeddingModel.init(42)
    query = {"age": 48, "meld_score": 31, "bilirubin": 12.0}
    try:
        pss, jobs = count_jobs(PatientSimilaritySearch, pts, embed=model, params=params)
        assert jobs == 0  # lazy: persisting runs nothing until a search
        hits = pss.search(query, top_k=10)
        names = _plan_node_names(hits)
        assert "InMemoryTableScan" in names and "MapInPandas" not in names, names
        got = [(r.hospital, r.patient_id, r.score) for r in hits.collect()]

        feats = PatientSimilaritySearch(pts, params=params).store.select(
            "hospital", "patient_id", "features"
        ).toPandas()
        emb = _forward(model.params, np.vstack(feats["features"]), model.bn)
        emb = emb.astype(np.float32).astype(np.float64)
        qv = np.asarray(model.transform_vector(zscore_vector(query, params)))
        scores = emb @ qv / (np.linalg.norm(emb, axis=1) * np.linalg.norm(qv))
        order = np.lexsort((feats["patient_id"].to_numpy(), -scores))[:10]
        want = [(feats["hospital"][i], feats["patient_id"][i]) for i in order]
        assert [g[:2] for g in got] == want
        assert np.allclose([g[2] for g in got], scores[order], rtol=0, atol=1e-12)
        # stats reuse the same cached store
        _, stats = pss.search_with_stats(query, top_k=10)
        assert "MapInPandas" not in _plan_node_names(stats)
    finally:
        cache.release()
