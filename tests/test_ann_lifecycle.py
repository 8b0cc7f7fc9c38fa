"""Index lifecycle: logical deletes (tombstones), compaction GC, filtered
probes — the vector-store mutation surface around the written IVF index.

Contract under test (operators/ann.py): ivf_delete appends an id batch
under <index>/_tombstones without touching index files; every search
(single, batch, IVF-PQ) anti-joins the tombstone set; ivf_compact purges
tombstoned rows physically and retires the tombstone directory with the
old snapshot; probe predicates are pre-filter (filter before top-k).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from vectordb_similarity_search_spark.operators.ann import (
    ivf_compact,
    ivf_delete,
    ivf_fit,
    ivf_search_index,
    ivf_search_index_batch,
    ivf_write_index,
)
from vectordb_similarity_search_spark.operators.topk import knn
from vectordb_similarity_search_spark.sources.tables import load_table


@pytest.fixture()
def index(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    model = ivf_fit(emb, n_cells=8)
    path = str(tmp_path / "ivf_idx")
    ivf_write_index(model, emb.filter(F.col("vec_id") != 0), path)
    qv = emb.filter(F.col("vec_id") == 0).head()[1]
    return model, path, qv


def test_delete_hides_ids_from_search(spark, index):
    model, path, qv = index
    before = [r.vec_id for r in ivf_search_index(spark, path, model, qv, k=5, nprobe=8).collect()]
    n = ivf_delete(spark, path, before[:2])
    assert n == 2
    after = [r.vec_id for r in ivf_search_index(spark, path, model, qv, k=5, nprobe=8).collect()]
    assert not set(before[:2]) & set(after)
    # nprobe=8 probes every cell → remaining results are the exact tail
    assert after[:3] == before[2:5]


def test_delete_is_logical_and_invisible_to_raw_scan(spark, index):
    model, path, qv = index
    raw = spark.read.parquet(path).count()
    ivf_delete(spark, path, [1, 2, 3])
    # tombstones are metadata, not data: the raw index scan sees the same
    # rows (no file rewritten) and no phantom rows from _tombstones
    assert spark.read.parquet(path).count() == raw
    assert os.path.isdir(os.path.join(path, "_tombstones"))


def test_delete_empty_batch_is_noop(spark, index):
    model, path, qv = index
    assert ivf_delete(spark, path, []) == 0
    assert not os.path.isdir(os.path.join(path, "_tombstones"))


def test_batch_search_honors_tombstones(spark, index):
    model, path, qv = index
    queries = [(0, qv)]
    before = ivf_search_index_batch(spark, path, model, queries, k=5, nprobe=8).collect()
    victims = [r.vec_id for r in before[:2]]
    ivf_delete(spark, path, victims)
    after = ivf_search_index_batch(spark, path, model, queries, k=5, nprobe=8).collect()
    assert not set(victims) & {r.vec_id for r in after}


def test_compact_purges_tombstones_physically(spark, index):
    model, path, qv = index
    total = spark.read.parquet(path).count()
    hits = [r.vec_id for r in ivf_search_index(spark, path, model, qv, k=5, nprobe=8).collect()]
    ivf_delete(spark, path, hits[:2])
    logical = ivf_search_index(spark, path, model, qv, k=5, nprobe=8).collect()
    ivf_compact(spark, path, target_rows_per_file=10_000)
    # physically gone, tombstone dir retired, search result unchanged
    assert spark.read.parquet(path).count() == total - 2
    assert not os.path.isdir(os.path.join(path, "_tombstones"))
    assert ivf_search_index(spark, path, model, qv, k=5, nprobe=8).collect() == logical


def test_deleted_id_stays_dead_until_compact_then_reinsert(spark, index):
    """Single-version contract: a tombstone kills the id, not a row —
    appending the same id while its tombstone is live stays hidden AND is
    purged by the next compact (the tombstone cannot know which copy the
    caller meant). The supported re-insert order is compact first, then
    append (upsert semantics belong to operators/merge, not the index)."""
    from vectordb_similarity_search_spark.operators.ann import ivf_append

    model, path, qv = index
    top = ivf_search_index(spark, path, model, qv, k=1, nprobe=8).collect()[0]
    victim = top.vec_id
    row = spark.read.parquet(path).filter(F.col("vec_id") == victim).drop("cell")
    row.write.mode("overwrite").parquet(str(path) + "_stash")
    stashed = spark.read.parquet(str(path) + "_stash")

    ivf_delete(spark, path, [victim])
    ivf_append(model, stashed, path)  # contract violation: tombstone is live
    after = {r.vec_id for r in ivf_search_index(spark, path, model, qv, k=5, nprobe=8).collect()}
    assert victim not in after
    ivf_compact(spark, path, target_rows_per_file=10_000)
    purged = {r.vec_id for r in ivf_search_index(spark, path, model, qv, k=5, nprobe=8).collect()}
    assert victim not in purged  # both copies died with the tombstone

    ivf_append(model, stashed, path)  # supported order: compact, THEN append
    back = {r.vec_id for r in ivf_search_index(spark, path, model, qv, k=5, nprobe=8).collect()}
    assert victim in back


def test_filtered_probe_matches_manual_prefilter(spark, index):
    model, path, qv = index
    got = ivf_search_index(
        spark, path, model, qv, k=5, nprobe=4, predicate=F.col("label") == 1
    ).collect()
    cells = model.probe_cells(qv, 4)
    probed = spark.read.parquet(path).filter(
        F.col("cell").isin(cells) & (F.col("label") == 1)
    )
    want = knn(probed, qv, 5).drop("cell").collect()
    assert [(r.vec_id, r.score) for r in got] == [(r.vec_id, r.score) for r in want]


def test_filtered_probe_prunes_and_pushes(spark, index):
    from .conftest import plan_of

    model, path, qv = index
    df = ivf_search_index(
        spark, path, model, qv, k=5, nprobe=2, predicate=F.col("label") == 1
    )
    plan = plan_of(df)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "cell" in pf[0]  # cell pruning survives the predicate
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "label" in pushed[0]


def test_batch_filtered_probe(spark, index):
    model, path, qv = index
    out = ivf_search_index_batch(
        spark, path, model, [(0, qv)], k=5, nprobe=8, predicate=F.col("label") == 1
    ).collect()
    assert out and all(r.label == 1 for r in out)


def test_ivfpq_search_honors_tombstones(spark, sf_dir, tmp_path):
    from vectordb_similarity_search_spark.operators.ann import (
        ivfpq_search_index,
        ivfpq_write_index,
    )
    from vectordb_similarity_search_spark.operators.pq import fit_pq, l2_normalized

    emb = load_table(spark, sf_dir, "embeddings")
    model = ivf_fit(emb, n_cells=4, seed=1)
    pq = fit_pq(emb, m=8, k=16, seed=7)
    path = str(tmp_path / "ivfpq_idx")
    ivfpq_write_index(model, pq, l2_normalized(emb.filter(F.col("vec_id") != 0)), path)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    before = ivfpq_search_index(spark, path, model, pq, qv, k=5, nprobe=4).collect()
    victim = before[0].vec_id
    ivf_delete(spark, path, [victim])
    after = ivfpq_search_index(spark, path, model, pq, qv, k=5, nprobe=4).collect()
    assert victim not in {r.vec_id for r in after}


def test_compact_with_everything_tombstoned_is_a_safe_noop(spark, index):
    """Deleting every live id then compacting must NOT brick the index:
    plain partitioned parquet cannot represent an empty table, so the
    compact skips (returns False), files and tombstones stay, and probes
    keep working (returning nothing)."""
    model, path, qv = index
    all_ids = [r.vec_id for r in spark.read.parquet(path).select("vec_id").collect()]
    ivf_delete(spark, path, all_ids)
    assert ivf_compact(spark, path, target_rows_per_file=10_000) is False
    # index still readable, probes return empty, tombstones still live
    assert spark.read.parquet(path).count() == len(all_ids)
    assert ivf_search_index(spark, path, model, qv, k=5, nprobe=8).collect() == []
    assert os.path.isdir(os.path.join(path, "_tombstones"))
    # appending new rows makes it compactable again
    from vectordb_similarity_search_spark.operators.ann import ivf_append

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    fresh = emb.withColumn("vec_id", F.col("vec_id") + 10_000)
    ivf_append(model, fresh, path)
    assert ivf_compact(spark, path, target_rows_per_file=10_000) is True
    assert spark.read.parquet(path).count() == fresh.count()


def test_adaptive_probe_escalates_until_k(spark, index):
    """A selective filter starved at start_nprobe must double coverage
    until k survivors (or full coverage); the returned frame is always
    the exact top-k of the filtered probed set."""
    from vectordb_similarity_search_spark.operators.ann import (
        ivf_search_until_k,
    )

    model, path, qv = index
    pred = F.col("label") == 1
    res, used = ivf_search_until_k(
        spark, path, model, qv, k=10, start_nprobe=1, predicate=pred
    )
    assert used >= 1 and used <= len(model.centers)
    rows = res.collect()
    assert all(r.label == 1 for r in rows)
    # escalation guarantees SIZE unless even full coverage lacks k hits
    if used < len(model.centers):
        assert len(rows) == 10


def test_adaptive_probe_full_escalation_is_exact_filtered_search(
    spark, index
):
    """An impossible-to-satisfy k forces full coverage, where the result
    must equal exact filtered search over the whole index corpus."""
    from vectordb_similarity_search_spark.operators.ann import (
        _apply_tombstones,
        _index_scan,
        ivf_search_until_k,
    )

    model, path, qv = index
    pred = F.col("label") == 2
    n_filtered = (
        _apply_tombstones(spark, path, _index_scan(spark, path), "vec_id")
        .filter(pred)
        .count()
    )
    res, used = ivf_search_until_k(
        spark, path, model, qv, k=n_filtered + 100,
        start_nprobe=1, predicate=pred,
    )
    assert used == len(model.centers)
    got = {(r.vec_id, round(r.score, 9)) for r in res.collect()}
    corpus = _apply_tombstones(
        spark, path, _index_scan(spark, path), "vec_id"
    ).filter(pred)
    want = {
        (r.vec_id, round(r.score, 9))
        for r in knn(corpus, qv, n_filtered + 100).collect()
    }
    assert got == want


def test_adaptive_probe_validation(spark, index):
    from vectordb_similarity_search_spark.operators.ann import (
        ivf_search_until_k,
    )

    model, path, qv = index
    with pytest.raises(ValueError):
        ivf_search_until_k(spark, path, model, qv, start_nprobe=0)


def test_adaptive_probe_terminal_frame_materialized_and_releasable(
    spark, index
):
    """Round-5 ADVICE: (a) the full-coverage terminal round must ALSO be
    materialized before return (the old short-circuit skipped its count,
    returning an unmaterialized persisted frame), and (b) every returned
    frame is registered so cache.release() can free it."""
    from vectordb_similarity_search_spark import cache
    from vectordb_similarity_search_spark.operators import ann

    model, path, qv = index
    cache.release()
    # full escalation: impossible k with a selective filter
    res, used = ann.ivf_search_until_k(
        spark, path, model, qv, k=10**6,
        start_nprobe=1, predicate=F.col("label") == 2,
    )
    assert used == len(model.centers)
    assert res.storageLevel.useMemory  # persisted…
    # …and materialized: the cached plan reports positive cached size
    assert res.count() >= 0
    assert len(cache.PERSISTED) >= 1
    assert cache.release() >= 1
    assert not res.storageLevel.useMemory
    assert len(cache.PERSISTED) == 0


def test_ivf_maintain_compacts_when_balanced_and_reclusters_on_drift(
    spark, tmp_path
):
    """Round-5 VERDICT #7: the drift trigger. A balanced index takes the
    plain-compact branch (same model back); a drifted append that blows
    the hottest cell past the ratio takes the re-cluster branch — new
    model, restored balance, exact same live rows, tombstones retired."""
    import numpy as np

    from vectordb_similarity_search_spark.operators import ann

    rng = np.random.default_rng(7)
    # 4 well-separated blobs, 8 cells: near-even split, spare centroid
    # budget for the refit to spend where drift concentrates mass
    centers = np.eye(4) * 10.0
    rows = [
        (i, (centers[i % 4] + rng.normal(0, 0.3, 4)).tolist())
        for i in range(400)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    model = ann.ivf_fit(emb, n_cells=8, seed=1)
    path = str(tmp_path / "drift_idx")
    ann.ivf_write_index(model, emb, path)

    bal0 = ann.ivf_cell_balance(spark, path, model)
    assert bal0["total_rows"] == 400 and bal0["max_cell_ratio"] < 3.0
    same_model, rep = ann.ivf_maintain(spark, path, model,
                                       rebalance_ratio=3.0)
    assert same_model is model and rep["action"] in ("compact", "none")

    # drifted append: 2000 vectors in a region the frozen centroids never
    # saw -- they all land in ONE cell (measured 6.9x the ideal share)
    drift = [
        (10_000 + i, (np.array([30.0, 2.0, 2.0, 2.0])
                      + rng.normal(0, 1.0, 4)).tolist())
        for i in range(2000)
    ]
    ann.ivf_append(
        model,
        spark.createDataFrame(drift, "vec_id long, embedding array<double>"),
        path,
    )
    # plus a tombstone, to prove GC rides the recluster rewrite
    ann.ivf_delete(spark, path, [0])
    bal1 = ann.ivf_cell_balance(spark, path, model)
    assert bal1["max_cell_ratio"] > 3.0  # hottest cell >3x ideal

    new_model, rep = ann.ivf_maintain(spark, path, model,
                                      rebalance_ratio=3.0)
    assert rep["action"] == "recluster" and new_model is not model
    bal2 = ann.ivf_cell_balance(spark, path, new_model)
    assert bal2["total_rows"] == 400 + 2000 - 1  # GC'd the tombstone
    assert bal2["max_cell_ratio"] < bal1["max_cell_ratio"]
    assert bal2["max_cell_ratio"] < 3.0  # balance restored
    assert not os.path.isdir(os.path.join(path, "_tombstones"))

    # probes through the NEW model work and respect the delete
    qv = rows[4][1]
    got = ann.ivf_search_index(
        spark, path, new_model, qv, k=3, nprobe=1
    ).collect()
    assert len(got) == 3 and all(r.vec_id != 0 for r in got)


def test_ivf_maintain_recovers_crashed_swap_on_entry(spark, tmp_path):
    """A compact/recluster that crashed inside swap_snapshot's window
    leaves the index parked at <path>__old_* with <path> missing.
    ivf_maintain must restore ON ENTRY (like ivf_compact does) — its
    balance measurement scans the index before any recovery deeper in the
    recluster branch could run."""
    from vectordb_similarity_search_spark import cache
    from vectordb_similarity_search_spark.operators import ann

    emb = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    model = ann.ivf_fit(emb, n_cells=4, seed=2)
    path = str(tmp_path / "crash_idx")
    ann.ivf_write_index(model, emb, path)
    # simulate the crash window: snapshot parked, live path missing
    os.rename(path, path + "__old_deadbeef")
    cache.invalidate(path)
    got_model, rep = ann.ivf_maintain(spark, path, model,
                                      rebalance_ratio=1000.0)
    assert rep["total_rows"] == 60  # restored, then measured
    assert got_model is model
    assert os.path.isdir(path)
    assert not os.path.isdir(path + "__old_deadbeef")


def test_ivf_maintain_validation(spark, tmp_path):
    import pytest as _pytest

    from vectordb_similarity_search_spark.operators import ann

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    model = ann.ivf_fit(emb, n_cells=2, seed=1)
    path = str(tmp_path / "tiny_idx")
    ann.ivf_write_index(model, emb, path)
    with _pytest.raises(ValueError, match="rebalance_ratio"):
        ann.ivf_maintain(spark, path, model, rebalance_ratio=0.5)


class _StubPQ:
    """Enough of a PQ model for ``ivfpq_write_index`` to reach its write."""

    def encode(self, df, vec_col, code_col):
        return df.select("vec_id", "cell", F.lit(b"").alias(code_col))


@pytest.mark.parametrize("writer", ["ivf_write_index", "ivf_append", "ivfpq_write_index"])
def test_failed_index_write_leaves_no_cached_scan(spark, tmp_path, monkeypatch, writer):
    """A failed overwrite may already have deleted the index files, so
    every index writer invalidates in a ``finally``: after an injected
    write failure no cache entry over the index path survives."""
    from pyspark.sql import DataFrameWriter

    from vectordb_similarity_search_spark import cache
    from vectordb_similarity_search_spark.operators import ann

    emb = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    model = ann.ivf_fit(emb, n_cells=2, seed=1)
    path = str(tmp_path / "idx")
    ann.ivf_write_index(model, emb, path)
    assert ann._index_scan(spark, path).count() == 20

    def boom(self, *a, **k):
        raise OSError("injected write failure")

    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    args = (model, _StubPQ()) if writer == "ivfpq_write_index" else (model,)
    with pytest.raises(OSError, match="injected write failure"):
        getattr(ann, writer)(*args, emb, path)
    over_path = [
        k for k, (_, reads) in cache._ENTRIES.items()
        if any(r == path or r.startswith(path + "/") for r in reads)
    ]
    assert not over_path, over_path
