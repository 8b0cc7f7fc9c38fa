"""Registry-level plan cache (``plan`` entries of the session cache in
vectordb_similarity_search_spark/cache.py) and the cache's path
invalidation.

The cache memoizes the LOGICAL PLAN handle per (applicationId, sf_dir,
query) — never results: executing the cached handle must run Spark jobs
every time (recompute-from-parquet is the bench/oracle contract; a
result cache would be gaming). These tests pin:

1. same (session, sf_dir, query) → the identical DataFrame object
   (the build-once property the bench timed runs rely on);
2. different sf_dir → a different plan (no cross-sf leakage);
3. executing the cached handle twice runs jobs BOTH times — the plan
   cache is not a result cache;
4. entries keyed to a dead application are evicted on insert (no
   unbounded growth across session restarts);
5. a write invalidates exactly the entries whose read paths overlap the
   written path, also when the write fails half-way.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pytest

from vectordb_similarity_search_spark import cache
from vectordb_similarity_search_spark.plans import REGISTRY

ORACLE_SF = "/root/testdata/sf0.01"


def test_same_handle_per_session_and_sf(spark, sf_dir):
    a = REGISTRY["r_pricing_summary"].fn(spark, sf_dir)
    b = REGISTRY["r_pricing_summary"].fn(spark, sf_dir)
    assert a is b


def test_distinct_plans_per_sf_dir(spark, sf_dir):
    a = REGISTRY["r_pricing_summary"].fn(spark, sf_dir)
    b = REGISTRY["r_pricing_summary"].fn(spark, ORACLE_SF)
    assert a is not b


def test_cached_handle_recomputes_every_action(spark, sf_dir):
    sc = spark.sparkContext
    df = REGISTRY["r_pricing_summary"].fn(spark, sf_dir)
    for attempt in range(2):
        group = f"plan-cache-probe-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, f"exec {attempt}")
        try:
            df.write.format("noop").mode("overwrite").save()
        finally:
            sc.setJobGroup(None, None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) >= 1, (
            f"execution {attempt} of the cached plan ran no jobs — "
            "the plan cache must never cache results"
        )


def test_cached_reader_sees_post_merge_data(spark, tmp_path):
    """Round-10 (verdict #3): a snapshot-swapping write must evict the
    memoized plan handles — a cached lazy plan pins the pre-swap file
    listing and would read deleted files on its next action. Pinned
    end-to-end: cache a reader plan on a scratch table, MERGE into the
    table (commit.swap under the hood), and require (a) the plan cache
    was invalidated and (b) a re-obtained reader sees the merged data."""
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.operators.merge import merge_parquet

    tbl = str(tmp_path / "t")
    spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit(1).alias("v")
    ).write.parquet(tbl)

    key = (spark.sparkContext.applicationId, "plan", tbl, "_scratch_reader")
    reader = cache.get(
        spark, *key[1:], reads=(tbl,), build=lambda: spark.read.parquet(tbl)
    )
    assert reader.agg(F.sum("v")).head()[0] == 100

    upd = spark.range(0, 10).select(F.col("id").alias("k"), F.lit(5).alias("v"))
    merge_parquet(spark, tbl, upd, ["k"])

    assert key not in cache._ENTRIES, (
        "commit.swap must clear the registry plan cache"
    )
    fresh = spark.read.parquet(tbl)
    assert fresh.agg(F.sum("v")).head()[0] == 90 + 10 * 5


def test_cached_reader_evicted_by_partitioned_merge(spark, tmp_path):
    """The PARTITIONED rewrite paths rename individual partition dirs and
    never go through commit.swap — they must evict through the same
    helper (round-10 review finding), including when the batch only ADDS
    a brand-new partition."""
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.operators.merge import (
        merge_parquet_partitioned,
    )

    tbl = str(tmp_path / "pt")
    spark.range(0, 40).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).alias("p"),
        F.lit(1).alias("v"),
    ).write.partitionBy("p").parquet(tbl)

    key = (spark.sparkContext.applicationId, "plan", tbl, "_scratch_preader")
    reader = cache.get(
        spark, *key[1:], reads=(tbl,), build=lambda: spark.read.parquet(tbl)
    )
    assert reader.count() == 40

    # updates land ONLY in a brand-new partition p=7 (the add-only branch)
    upd = spark.range(100, 105).select(
        F.col("id").alias("k"), F.lit(7).alias("p"), F.lit(9).alias("v")
    )
    merge_parquet_partitioned(spark, tbl, upd, ["k", "p"], ["p"])

    assert key not in cache._ENTRIES, (
        "partitioned merge must clear the registry plan cache"
    )
    assert spark.read.parquet(tbl).count() == 45


def test_dead_app_entries_evicted(spark, sf_dir):
    REGISTRY["r_pricing_summary"].fn(spark, sf_dir)
    dead = ("app-dead-123", "plan", sf_dir, "r_pricing_summary")
    cache._ENTRIES[dead] = (object(), (sf_dir,))
    cache.clear("plan", sf_dir, "r_scalar_math")
    REGISTRY["r_scalar_math"].fn(spark, sf_dir)  # any insert sweeps
    assert dead not in cache._ENTRIES
    live_apps = {k[0] for k in cache._ENTRIES}
    assert live_apps == {spark.sparkContext.applicationId}


def test_invalidate_overlaps_at_path_component_boundaries(spark, tmp_path):
    """invalidate(p) drops entries reading p, a path under p or a path
    above p — but not a sibling that merely shares a string prefix."""
    root = str(tmp_path / "root")
    reads = {
        "root": root,
        "sub": f"{root}/sub",
        "deep": f"{root}/sub/deeper",
        "root2": f"{root}2",
        "none": None,
    }
    try:
        def fill():
            for name, path in reads.items():
                cache.clear("probe", name)
                cache.get(spark, "probe", name, reads=[path] if path else [], build=object)

        def live():
            return {k[2] for k in cache._ENTRIES if k[1] == "probe"}

        fill()
        cache.invalidate(root)  # downward: root and everything under it
        assert live() == {"root2", "none"}

        fill()
        cache.invalidate(f"{root}/sub/deeper/part-0.parquet")  # upward
        assert live() == {"root2", "none"}

        fill()
        cache.invalidate(f"{root}/subx/")  # sibling of sub, under root
        assert live() == {"sub", "deep", "root2", "none"}

        fill()
        cache.invalidate(f"{root}2")
        assert live() == {"root", "sub", "deep", "none"}
    finally:
        cache.clear("probe")


def _scratch_table(spark, path: str, n: int = 20) -> None:
    from pyspark.sql import functions as F

    spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("p"), F.lit(1).alias("v")
    ).write.partitionBy("p").parquet(path)


def test_registry_plans_survive_unrelated_writes(spark, sf_dir, tmp_path):
    """A merge into a scratch table outside a plan's sf_dir keeps the
    registry plan handle; a write under the sf_dir evicts it."""
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.operators.merge import merge_parquet

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    shutil.copy(os.path.join(sf_dir, "lineitem.parquet"), sf)
    fn = REGISTRY["r_pricing_summary"].fn
    plan = fn(spark, sf)
    upd = spark.range(0, 5).select(
        F.col("id").alias("k"), F.lit(1).alias("p"), F.lit(7).alias("v")
    )

    other = str(tmp_path / "scratch")
    _scratch_table(spark, other)
    merge_parquet(spark, other, upd, ["k"])
    assert fn(spark, sf) is plan

    inside = os.path.join(sf, "scratch")
    _scratch_table(spark, inside)
    merge_parquet(spark, inside, upd, ["k"])
    rebuilt = fn(spark, sf)
    assert rebuilt is not plan
    assert rebuilt.collect() == plan.collect()


def test_partition_swap_crash_leaves_no_entry_over_table(spark, tmp_path, fail_move):
    """A partitioned merge whose SECOND partition move raises must still
    invalidate the table's entries (the invalidation runs in a finally
    around the partition commit)."""
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.operators import merge

    tbl = str(tmp_path / "pt")
    _scratch_table(spark, tbl)
    scan = cache.get(spark, "scan", tbl, reads=(tbl,), build=lambda: spark.read.parquet(tbl))
    assert scan.count() == 20
    part = f"{tbl}/p=0"
    cache.get(spark, "index_scan", part, reads=(part,), build=lambda: spark.read.parquet(part))

    # a move never touches the cache, so only the commit's own
    # invalidation can clear the entries
    calls = fail_move(2)
    upd = spark.range(0, 4).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("p"), F.lit(9).alias("v")
    )
    with pytest.raises(OSError, match="commit move 2"):
        merge.merge_parquet_partitioned(spark, tbl, upd, ["k", "p"], ["p"])
    assert len(calls) == 2
    over_table = [
        k for k, (_, reads) in cache._ENTRIES.items()
        if any(r == tbl or r.startswith(tbl + "/") for r in reads)
    ]
    assert not over_table, over_table
