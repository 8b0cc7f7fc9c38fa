"""MERGE-into-parquet semantics and salted-join equivalence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectordb_similarity_search_spark.operators.merge import merge_parquet
from vectordb_similarity_search_spark.operators.skew import salted_join


def _read(spark, path):
    return {
        r.k: (r.v, r.grp)
        for r in spark.read.parquet(path).collect()
    }


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(i, f"v{i}", "a" if i % 2 == 0 else "b") for i in range(10)],
        "k int, v string, grp string",
    ).write.parquet(path)
    return path


def test_merge_update_insert_delete(spark, table):
    updates = spark.createDataFrame(
        [
            (3, "v3_new", "b", False),   # update
            (42, "v42", "a", False),     # insert
            (4, None, None, True),       # delete
        ],
        "k int, v string, grp string, is_deleted boolean",
    )
    merge_parquet(spark, table, updates, ["k"], delete_col="is_deleted")
    got = _read(spark, table)
    assert got[3] == ("v3_new", "b")
    assert got[42] == ("v42", "a")
    assert 4 not in got
    assert len(got) == 10  # 10 - 1 delete + 1 insert
    assert got[7] == ("v7", "b")  # untouched rows intact


def test_merge_rejects_duplicate_update_keys(spark, table):
    updates = spark.createDataFrame(
        [(1, "x", "a"), (1, "y", "a")], "k int, v string, grp string"
    )
    with pytest.raises(ValueError, match="duplicate"):
        merge_parquet(spark, table, updates, ["k"])


def test_merge_rejects_schema_drift(spark, table):
    updates = spark.createDataFrame([(1, "x")], "k int, v string")
    with pytest.raises(ValueError, match="schema"):
        merge_parquet(spark, table, updates, ["k"])


def test_merge_survives_partitioned_rewrite(spark, table):
    updates = spark.createDataFrame([(0, "z", "a")], "k int, v string, grp string")
    merge_parquet(spark, table, updates, ["k"], partition_by=["grp"])
    got = _read(spark, table)
    assert got[0] == ("z", "a") and len(got) == 10


def test_merge_writes_schema_sidecar_so_reads_skip_the_footer_job(
    spark, table, count_jobs
):
    """merge_parquet stages the table schema next to the data, so after
    the first merge a readback starts no Spark job and the next merge
    skips its schema-inference (footer) job: 1 → 0 and 6 → 5 jobs."""
    import os

    from vectordb_similarity_search_spark.operators.merge import read_table_snapshot

    def batch(i):
        return spark.createDataFrame(
            [(i, f"u{i}", "a")], "k int, v string, grp string"
        )

    _, first = count_jobs(merge_parquet, spark, table, batch(0), ["k"])
    assert os.path.exists(os.path.join(table, "_table_schema.json"))
    df, read_jobs = count_jobs(read_table_snapshot, spark, table)
    _, second = count_jobs(merge_parquet, spark, table, batch(1), ["k"])
    assert (first, read_jobs, second) == (6, 0, 5)
    assert df.schema == spark.read.parquet(table).schema
    assert _read(spark, table)[1] == ("u1", "a")


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_matches_plain(spark, how):
    # 90% of big rows share one hot key
    big = spark.createDataFrame(
        [(1 if i % 10 else i, i) for i in range(2000)], "key int, payload int"
    )
    small = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(0, 2000, 7)], "key int, attr string"
    )
    plain = big.join(small, ["key"], how).orderBy("payload", "attr")
    salted = salted_join(big, small, ["key"], how=how, n_salts=5).orderBy(
        "payload", "attr"
    )
    assert plain.collect() == salted.collect()
    assert "_salt" not in salted.columns


def test_salted_join_rejects_outer(spark):
    df = spark.range(2).withColumnRenamed("id", "key")
    with pytest.raises(ValueError):
        salted_join(df, df, ["key"], how="full")


def test_swap_crash_window_is_recoverable(spark, table, tmp_path):
    """Simulate a crash between swap renames: table dir missing, old
    snapshot parked — the next merge restores it and applies cleanly."""
    import os

    os.rename(table, table + "__old_deadbeef")  # mid-swap crash state
    updates = spark.createDataFrame([(1, "fixed", "a")], "k int, v string, grp string")
    merge_parquet(spark, table, updates, ["k"])
    got = _read(spark, table)
    assert got[1] == ("fixed", "a") and len(got) == 10


def test_skew_report_ratio_matches_measure(spark, sf_dir):
    """r_skew_report's skew_ratio equals the max-to-avg rows per key
    measured directly over the table."""
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.plans import REGISTRY
    from vectordb_similarity_search_spark.sources.tables import load_table

    report = REGISTRY["r_skew_report"].fn(spark, sf_dir).head()
    per_key = load_table(spark, sf_dir, "lineitem").groupBy("l_partkey").count()
    measured = per_key.agg(
        F.max("count").cast("double") / F.avg("count")
    ).head()[0]
    assert abs(report["skew_ratio"] - measured) < 1e-4


def _scd2_table(spark, tmp_path):
    import datetime as dt

    path = str(tmp_path / "dim")
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, "alice", "bronze", t0, None),
        (2, "bob", "silver", t0, None),
        (3, "carol", "gold", t0, None),
    ]
    spark.createDataFrame(
        rows,
        "cust_id int, name string, tier string, "
        "valid_from timestamp, valid_to timestamp",
    ).write.parquet(path)
    return path, t0


def test_scd2_tracks_history(spark, tmp_path):
    """Changed attrs close the current row and open a new one; equal
    updates are no-ops (idempotent replay); new keys insert."""
    import datetime as dt

    from vectordb_similarity_search_spark.operators.merge import scd2_apply

    path, t0 = _scd2_table(spark, tmp_path)
    t1 = dt.datetime(2024, 6, 1)
    updates = spark.createDataFrame(
        [
            (1, "alice", "gold", t1),     # tier change -> versioned
            (2, "bob", "silver", t1),     # identical -> no-op
            (4, "dave", "bronze", t1),    # new key -> first version
        ],
        "cust_id int, name string, tier string, effective_ts timestamp",
    )
    scd2_apply(spark, path, updates, ["cust_id"])
    rows = {
        (r.cust_id, r.tier, r.valid_from, r.valid_to)
        for r in spark.read.parquet(path).collect()
    }
    assert (1, "bronze", t0, t1) in rows      # closed old version
    assert (1, "gold", t1, None) in rows      # new current
    assert (2, "silver", t0, None) in rows    # untouched (idempotent)
    assert (3, "gold", t0, None) in rows      # no update -> untouched
    assert (4, "bronze", t1, None) in rows    # brand-new key
    assert len(rows) == 5
    # replaying the same batch changes nothing
    scd2_apply(spark, path, updates, ["cust_id"])
    again = {
        (r.cust_id, r.tier, r.valid_from, r.valid_to)
        for r in spark.read.parquet(path).collect()
    }
    assert again == rows


def test_scd2_second_change_extends_history(spark, tmp_path):
    import datetime as dt

    from vectordb_similarity_search_spark.operators.merge import scd2_apply

    path, t0 = _scd2_table(spark, tmp_path)
    t1, t2 = dt.datetime(2024, 6, 1), dt.datetime(2024, 9, 1)
    mk = lambda tier, ts: spark.createDataFrame(  # noqa: E731
        [(1, "alice", tier, ts)],
        "cust_id int, name string, tier string, effective_ts timestamp",
    )
    scd2_apply(spark, path, mk("silver", t1), ["cust_id"])
    scd2_apply(spark, path, mk("gold", t2), ["cust_id"])
    hist = sorted(
        (r.tier, r.valid_from, r.valid_to)
        for r in spark.read.parquet(path).filter("cust_id = 1").collect()
    )
    assert hist == [
        ("bronze", t0, t1),
        ("gold", t2, None),
        ("silver", t1, t2),
    ]


def test_scd2_rejects_duplicate_update_keys(spark, tmp_path):
    import datetime as dt

    import pytest as _pytest

    from vectordb_similarity_search_spark.operators.merge import scd2_apply

    path, _ = _scd2_table(spark, tmp_path)
    t1 = dt.datetime(2024, 6, 1)
    dup = spark.createDataFrame(
        [(1, "alice", "gold", t1), (1, "alice", "silver", t1)],
        "cust_id int, name string, tier string, effective_ts timestamp",
    )
    with _pytest.raises(ValueError):
        scd2_apply(spark, path, dup, ["cust_id"])


def test_scd2_rejects_stale_batch(spark, tmp_path):
    """An update older than the row it would replace is stale CDC
    re-delivery — refuse instead of corrupting history. The check rides
    the write job itself (Observation), so rejection costs no separate
    dimension scan, and no leftover tmp snapshot survives the refusal."""
    import datetime as dt
    import os

    import pytest as _pytest

    from vectordb_similarity_search_spark.operators.merge import scd2_apply

    path, t0 = _scd2_table(spark, tmp_path)
    t1, t2 = dt.datetime(2024, 6, 1), dt.datetime(2024, 9, 1)
    mk = lambda tier, ts: spark.createDataFrame(  # noqa: E731
        [(1, "alice", tier, ts)],
        "cust_id int, name string, tier string, effective_ts timestamp",
    )
    scd2_apply(spark, path, mk("gold", t2), ["cust_id"])
    with _pytest.raises(ValueError, match="stale"):
        scd2_apply(spark, path, mk("silver", t1), ["cust_id"])
    # table unchanged by the refused apply; the discarded tmp is gone
    cur = spark.read.parquet(path).filter("cust_id = 1 AND valid_to IS NULL")
    assert [r.tier for r in cur.collect()] == ["gold"]
    parent = os.path.dirname(path)
    assert not [d for d in os.listdir(parent) if "__scd2_" in d]


def test_scd2_rejects_equal_timestamp_change(spark, tmp_path):
    """A changed update whose effective_ts EQUALS the current row's
    valid_from would write a zero-duration history row no as-of lookup
    can return — rejected as ambiguous (documented boundary decision)."""
    import datetime as dt

    import pytest as _pytest

    from vectordb_similarity_search_spark.operators.merge import scd2_apply

    path, t0 = _scd2_table(spark, tmp_path)
    upd = spark.createDataFrame(
        [(1, "alice", "gold", t0)],  # changed attrs, _ts == valid_from
        "cust_id int, name string, tier string, effective_ts timestamp",
    )
    with _pytest.raises(ValueError, match="at-or-before"):
        scd2_apply(spark, path, upd, ["cust_id"])
    # but an IDENTICAL row at the same timestamp is still an idempotent
    # no-op, not a false stale hit (changed gate guards the check)
    same = spark.createDataFrame(
        [(1, "alice", "bronze", t0)],
        "cust_id int, name string, tier string, effective_ts timestamp",
    )
    scd2_apply(spark, path, same, ["cust_id"])
    cur = spark.read.parquet(path).filter("valid_to IS NULL")
    assert cur.count() == 3


def test_scd2_apply_single_write_pass(spark, tmp_path):
    """Round-4 single-pass validation: the ONLY job that touches the
    dimension parquet is the snapshot write itself — the stale check is
    an Observation riding that job, and the duplicate-key check runs on
    the (broadcast-sized) updates batch. AQE materializes each broadcast
    exchange as its own tiny job, so the total is bounded loosely; the
    parquet-job count is the real pin (the old shape ran an eager
    stale-count job reading the dimension before the write)."""
    import datetime as dt

    from vectordb_similarity_search_spark.operators.merge import scd2_apply

    path, _ = _scd2_table(spark, tmp_path)
    upd = spark.createDataFrame(
        [(1, "alice", "gold", dt.datetime(2024, 6, 1))],
        "cust_id int, name string, tier string, effective_ts timestamp",
    )
    sc = spark.sparkContext
    group = "scd2-jobcount"
    sc.setJobGroup(group, "scd2 job-count pin")
    try:
        scd2_apply(spark, path, upd, ["cust_id"])
    finally:
        sc.setJobGroup("", "")
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert jobs, "no jobs recorded in group"
    parquet_jobs = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        names = [
            tracker.getStageInfo(s).name
            for s in info.stageIds
            if tracker.getStageInfo(s) is not None
        ]
        if any("parquet" in n for n in names):
            parquet_jobs += 1
    assert parquet_jobs == 1, f"expected 1 parquet job (the write), got {parquet_jobs}"
    assert len(jobs) <= 8, f"job inflation: {len(jobs)}"


@pytest.mark.parametrize("bcast", [True, False])
def test_merge_tombstone_for_absent_key_is_noop(spark, table, bcast):
    """Deleting a key that isn't in the target neither inserts nor fails —
    on both the broadcast (left+anti) and big-batch (full_outer) paths."""
    from vectordb_similarity_search_spark.operators.merge import merge_parquet

    before = _read(spark, table)
    updates = spark.createDataFrame(
        [(999, "ghost", "zz", True)],
        "k int, v string, grp string, is_deleted boolean",
    )
    merge_parquet(
        spark, table, updates, ["k"],
        delete_col="is_deleted", broadcast_updates=bcast,
    )
    assert _read(spark, table) == before


def _part_table(spark, tmp_path):
    """A bucket-partitioned table: bucket = k % 3 (key-derived, so a row
    can never change partitions — the pruned-merge precondition)."""
    path = str(tmp_path / "ptbl")
    rows = [(i, f"v{i}", i % 3) for i in range(30)]
    spark.createDataFrame(rows, "k int, v string, bucket int").write.partitionBy(
        "bucket"
    ).parquet(path)
    return path


def _snapshot_files(path):
    import glob
    import os

    return {
        os.path.relpath(f, path): os.stat(f).st_mtime_ns
        for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
    }


def test_pruned_merge_rewrites_only_touched_partitions(spark, tmp_path):
    """The 100 TB property: a CDC batch touching one bucket leaves every
    other partition's FILES untouched (same inodes/mtimes), while the
    result matches a full merge."""
    from vectordb_similarity_search_spark.operators.merge import (
        merge_parquet,
        merge_parquet_partitioned,
    )

    path = _part_table(spark, tmp_path)
    # twin table for the full-merge equivalence check
    twin = str(tmp_path / "twin")
    spark.read.parquet(path).write.partitionBy("bucket").parquet(twin)

    before = _snapshot_files(path)
    updates = spark.createDataFrame(
        [(3, "v3_new", 0, False), (90, "v90", 0, False), (6, None, 0, True)],
        "k int, v string, bucket int, is_deleted boolean",
    )
    n = merge_parquet_partitioned(
        spark, path, updates, ["k", "bucket"], ["bucket"],
        delete_col="is_deleted",
    )
    assert n == 1  # only bucket=0 rewritten
    after = _snapshot_files(path)
    untouched_before = {f: m for f, m in before.items() if "bucket=0" not in f}
    untouched_after = {f: m for f, m in after.items() if "bucket=0" not in f}
    assert untouched_before == untouched_after  # bytes never rewritten

    merge_parquet(
        spark, twin, updates, ["k", "bucket"], delete_col="is_deleted",
        partition_by=["bucket"],
    )
    got = {(r.k, r.v, r.bucket) for r in spark.read.parquet(path).collect()}
    want = {(r.k, r.v, r.bucket) for r in spark.read.parquet(twin).collect()}
    assert got == want
    assert (3, "v3_new", 0) in got and (90, "v90", 0) in got
    assert not any(k == 6 for k, _, _ in got)


def test_pruned_merge_new_and_emptied_partitions(spark, tmp_path):
    """Inserts into a partition value the table has never seen create its
    dir; tombstoning every row of a partition removes its dir."""
    import os

    from vectordb_similarity_search_spark.operators.merge import (
        merge_parquet_partitioned,
    )

    path = str(tmp_path / "ptbl2")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k int, v string, bucket int"
    ).write.partitionBy("bucket").parquet(path)

    updates = spark.createDataFrame(
        [(3, "c", 30, False), (2, None, 20, True)],
        "k int, v string, bucket int, is_deleted boolean",
    )
    merge_parquet_partitioned(
        spark, path, updates, ["k", "bucket"], ["bucket"],
        delete_col="is_deleted",
    )
    got = {(r.k, r.v, r.bucket) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a", 10), (3, "c", 30)}
    assert os.path.isdir(os.path.join(path, "bucket=30"))
    assert not os.path.exists(os.path.join(path, "bucket=20"))


def test_pruned_merge_requires_key_determined_partition(spark, tmp_path):
    import pytest as _pytest

    from vectordb_similarity_search_spark.operators.merge import (
        merge_parquet_partitioned,
    )

    path = _part_table(spark, tmp_path)
    upd = spark.createDataFrame([(1, "x", 1)], "k int, v string, bucket int")
    with _pytest.raises(ValueError, match="subset of key_cols"):
        merge_parquet_partitioned(spark, path, upd, ["k"], ["bucket"])


def test_pruned_merge_recovers_parked_partition(spark, tmp_path, fail_move):
    """A crash inside the partition commit leaves the partition dir
    missing from the live table; the next pruned merge finishes the
    commit before proceeding."""
    import os

    from vectordb_similarity_search_spark.operators.merge import (
        merge_parquet_partitioned,
    )

    path = _part_table(spark, tmp_path)
    fail_move(1)
    upd = spark.createDataFrame([(1, "v1x", 1)], "k int, v string, bucket int")
    with pytest.raises(OSError, match="injected"):
        merge_parquet_partitioned(spark, path, upd, ["k", "bucket"], ["bucket"])
    assert not os.path.exists(os.path.join(path, "bucket=1"))  # torn
    fail_move(0)
    upd = spark.createDataFrame([(0, "fixed", 0)], "k int, v string, bucket int")
    merge_parquet_partitioned(spark, path, upd, ["k", "bucket"], ["bucket"])
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert (0, "fixed") in got and (1, "v1x") in got
    assert len(got) == 30  # bucket=1's rows are back


def test_pruned_merge_torn_commit_rolls_forward_on_next_entry(
    spark, tmp_path, fail_move
):
    """A failure on the SECOND partition move leaves one partition
    published and one removed; the next writer's entry finishes the
    commit, and the table equals the same merges run without a crash —
    the batch is neither lost nor applied twice."""
    import os
    import shutil

    from vectordb_similarity_search_spark import commit
    from vectordb_similarity_search_spark.operators.merge import (
        merge_parquet_partitioned,
    )

    path = _part_table(spark, tmp_path)
    control = str(tmp_path / "control")
    shutil.copytree(path, control)
    schema = "k int, v string, bucket int"
    # replaces bucket=0 and bucket=1, brings in a new bucket=3
    batch1 = spark.createDataFrame(
        [(0, "b1", 0), (1, "b1", 1), (100, "b1", 3)], schema
    )
    batch2 = spark.createDataFrame([(2, "b2", 2)], schema)

    def merge(table, batch):
        merge_parquet_partitioned(spark, table, batch, ["k", "bucket"], ["bucket"])

    moves = fail_move(2)
    with pytest.raises(OSError, match="injected"):
        merge(path, batch1)
    assert len(moves) == 2
    assert os.path.exists(os.path.join(path, commit.PENDING))
    fail_move(0)
    merge(path, batch2)
    merge(control, batch1)
    merge(control, batch2)

    def rows(table):
        return sorted(tuple(r) for r in spark.read.parquet(table).collect())

    assert rows(path) == rows(control)
    assert len(rows(path)) == 31
    assert not os.path.exists(os.path.join(path, commit.PENDING))
    assert not [d for d in os.listdir(tmp_path) if "__pmerge_" in d]


def test_snapshot_reader_refuses_half_committed_table(spark, tmp_path, fail_move):
    """After a crash between two partition moves, read_table_snapshot
    raises instead of serving the merge half-applied; once commit.recover
    has rolled the commit forward it reads the merged rows."""
    import shutil

    from vectordb_similarity_search_spark import commit
    from vectordb_similarity_search_spark.operators.merge import (
        merge_parquet_partitioned,
        read_table_snapshot,
    )

    path = _part_table(spark, tmp_path)
    control = str(tmp_path / "control")
    shutil.copytree(path, control)
    batch = spark.createDataFrame(
        [(0, "b1", 0), (1, "b1", 1), (100, "b1", 3)], "k int, v string, bucket int"
    )
    fail_move(2)
    with pytest.raises(OSError, match="injected"):
        merge_parquet_partitioned(spark, path, batch, ["k", "bucket"], ["bucket"])
    fail_move(0)
    with pytest.raises(RuntimeError, match="commit.recover"):
        read_table_snapshot(spark, path)
    commit.recover(path)
    merge_parquet_partitioned(spark, control, batch, ["k", "bucket"], ["bucket"])

    def rows(table):
        return sorted(tuple(r) for r in read_table_snapshot(spark, table).collect())

    assert rows(path) == rows(control)
    assert len(rows(path)) == 31


def _part_dim(spark, tmp_path, name="pdim"):
    import datetime as dt

    path = str(tmp_path / name)
    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, f"n{i}", "bronze", i % 4, t0, None) for i in range(20)]
    spark.createDataFrame(
        rows,
        "cust_id int, name string, tier string, bucket int, "
        "valid_from timestamp, valid_to timestamp",
    ).write.partitionBy("bucket").parquet(path)
    return path, t0


def test_pruned_scd2_touches_only_updated_buckets(spark, tmp_path):
    import datetime as dt

    from vectordb_similarity_search_spark.operators.merge import (
        scd2_apply,
        scd2_apply_partitioned,
    )

    path, t0 = _part_dim(spark, tmp_path)
    twin = str(tmp_path / "pdim_twin")
    spark.read.parquet(path).write.partitionBy("bucket").parquet(twin)

    t1 = dt.datetime(2024, 6, 1)
    updates = spark.createDataFrame(
        [
            (1, "n1", "gold", 1, t1),    # tier change in bucket 1
            (5, "n5", "bronze", 1, t1),  # identical -> no-op
            (41, "n41", "silver", 1, t1),  # new key in bucket 1
        ],
        "cust_id int, name string, tier string, bucket int, "
        "effective_ts timestamp",
    )
    before = _snapshot_files(path)
    n = scd2_apply_partitioned(
        spark, path, updates, ["cust_id", "bucket"], ["bucket"]
    )
    assert n == 1
    after = _snapshot_files(path)
    ub = {f: m for f, m in before.items() if "bucket=1" not in f}
    ua = {f: m for f, m in after.items() if "bucket=1" not in f}
    assert ub == ua  # other buckets' bytes untouched

    scd2_apply(spark, twin, updates, ["cust_id", "bucket"])
    got = {
        tuple(r) for r in spark.read.parquet(path)
        .select("cust_id", "tier", "bucket", "valid_from", "valid_to")
        .collect()
    }
    want = {
        tuple(r) for r in spark.read.parquet(twin)
        .select("cust_id", "tier", "bucket", "valid_from", "valid_to")
        .collect()
    }
    assert got == want
    assert (1, "bronze", 1, t0, t1) in got  # closed old version
    assert (1, "gold", 1, t1, None) in got  # new current
    assert (41, "silver", 1, t1, None) in got  # insert


def test_pruned_scd2_stale_batch_leaves_dims_untouched(spark, tmp_path):
    import datetime as dt

    import pytest as _pytest

    from vectordb_similarity_search_spark.operators.merge import (
        scd2_apply_partitioned,
    )

    path, t0 = _part_dim(spark, tmp_path, "pdim_stale")
    t1, t2 = dt.datetime(2024, 6, 1), dt.datetime(2024, 9, 1)
    mk = lambda tier, ts: spark.createDataFrame(  # noqa: E731
        [(2, "n2", tier, 2, ts)],
        "cust_id int, name string, tier string, bucket int, "
        "effective_ts timestamp",
    )
    scd2_apply_partitioned(spark, path, mk("gold", t2), ["cust_id", "bucket"], ["bucket"])
    before = _snapshot_files(path)
    with _pytest.raises(ValueError, match="stale"):
        scd2_apply_partitioned(
            spark, path, mk("silver", t1), ["cust_id", "bucket"], ["bucket"]
        )
    assert _snapshot_files(path) == before  # nothing swapped on rejection


def test_pruned_apply_refuses_flat_table(spark, tmp_path):
    """A pruned merge against a non-hive-partitioned table would leave the
    root-level files in place beside the new partition dirs (silent row
    duplication) — refused at entry."""
    import pytest as _pytest

    from vectordb_similarity_search_spark.operators.merge import (
        merge_parquet_partitioned,
    )

    path = str(tmp_path / "flat")
    spark.createDataFrame(
        [(1, "a", 0)], "k int, v string, bucket int"
    ).write.parquet(path)
    upd = spark.createDataFrame([(1, "x", 0)], "k int, v string, bucket int")
    with _pytest.raises(ValueError, match="hive-partitioned"):
        merge_parquet_partitioned(spark, path, upd, ["k", "bucket"], ["bucket"])


def test_pruned_merge_handles_uri_hostile_partition_values(spark, tmp_path):
    """Partition values containing spaces/colons/percents: the on-disk
    dir names go through hive escaping AND input_file_name returns them
    URI-encoded — the two namings must reconcile or the merge crashes
    mid-swap (regression: _existing_partition_dirs now unquotes)."""
    from vectordb_similarity_search_spark.operators.merge import (
        merge_parquet_partitioned,
    )

    tbl = str(tmp_path / "hostile")
    rows = [(1, "a b", 1.0), (2, "x:y", 2.0), (3, "p%q", 3.0), (4, "a b", 4.0)]
    spark.createDataFrame(rows, "k long, part string, val double").write.partitionBy(
        "part"
    ).parquet(tbl)

    upd = spark.createDataFrame(
        [(1, "a b", 10.0), (2, "x:y", 20.0)], "k long, part string, val double"
    )
    n = merge_parquet_partitioned(spark, tbl, upd, ["k", "part"], ["part"])
    assert n == 2
    got = {r.k: r.val for r in spark.read.parquet(tbl).collect()}
    assert got == {1: 10.0, 2: 20.0, 3: 3.0, 4: 4.0}


def test_touched_predicate_scales_to_thousands_of_partitions(spark):
    """A CDC batch touching 5k partitions is legal (cap 10k); the OR
    tree must be balanced or Catalyst's recursive analysis overflows the
    driver stack (regression for the left-deep chain)."""
    from vectordb_similarity_search_spark.operators.merge import (
        _touched_predicate,
    )

    upd = spark.range(5000).selectExpr(
        "id AS p1", "cast(id % 7 AS string) AS p2"
    )
    pred = _touched_predicate(upd, ["p1", "p2"], 10_000)
    base = spark.range(6000).selectExpr(
        "id AS p1", "cast(id % 7 AS string) AS p2", "id AS v"
    )
    # analysis + optimization of the 5000-clause predicate must complete
    assert base.filter(pred).count() == 5000


def test_merge_schema_evolution_adds_column_with_null_backfill(
    spark, tmp_path
):
    """A batch carrying a NEW column evolves the table: touched rows get
    the value, untouched rows NULL; evolution off keeps the old error."""
    import pytest

    from vectordb_similarity_search_spark.operators.merge import (
        merge_parquet,
    )

    tbl = str(tmp_path / "evo")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    ).write.parquet(tbl)
    batch = spark.createDataFrame(
        [(2, "B", "eu"), (4, "D", "us")], "k int, v string, region string"
    )
    with pytest.raises(ValueError, match="updates schema"):
        merge_parquet(spark, tbl, batch, ["k"])
    merge_parquet(spark, tbl, batch, ["k"], schema_evolution=True)
    got = {
        r.k: (r.v, r.region)
        for r in spark.read.parquet(tbl).collect()
    }
    assert got == {
        1: ("a", None),
        2: ("B", "eu"),
        3: ("c", None),
        4: ("D", "us"),
    }


def test_merge_schema_evolution_rejects_type_change_and_missing_cols(
    spark, tmp_path
):
    import pytest

    from vectordb_similarity_search_spark.operators.merge import (
        merge_parquet,
    )

    tbl = str(tmp_path / "evo2")
    spark.createDataFrame([(1, "a")], "k int, v string").write.parquet(tbl)
    retyped = spark.createDataFrame([(1, 5)], "k int, v int")
    with pytest.raises(ValueError, match="cannot change column"):
        merge_parquet(spark, tbl, retyped, ["k"], schema_evolution=True)
    # a batch MISSING an existing column is data loss, not evolution
    narrow = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError, match="updates schema"):
        merge_parquet(spark, tbl, narrow, ["k"], schema_evolution=True)


def test_merge_schema_evolution_rejects_case_drifted_column(
    spark, tmp_path
):
    """Under Spark's default case-insensitive resolution, a batch column
    differing only by case from a table column must be REJECTED (like
    the non-evolution path), never treated as a new column — the
    case-sensitive membership check silently NULLed the entire existing
    column (review-confirmed data loss)."""
    import pytest

    from vectordb_similarity_search_spark.operators.merge import (
        merge_parquet,
    )

    tbl = str(tmp_path / "evo_case")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    ).write.parquet(tbl)
    drifted = spark.createDataFrame([(2, "B")], "k int, V string")
    with pytest.raises(ValueError, match="updates schema"):
        merge_parquet(spark, tbl, drifted, ["k"], schema_evolution=True)
    # table unchanged: no column renamed, no value NULLed
    got = {r.k: r.v for r in spark.read.parquet(tbl).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}


def test_merge_schema_evolution_case_drifted_tombstone_not_added(
    spark, tmp_path
):
    """A batch whose tombstone column case-drifts ('_DELETED' vs
    delete_col='_deleted') must NOT get that flag added to the table as
    a data column by evolution (round-5 ADVICE: the tombstone skip was
    case-sensitive while data-column membership was case-insensitive).
    The drifted batch is rejected like any case-drifted column."""
    import pytest

    from vectordb_similarity_search_spark.operators.merge import (
        merge_parquet,
    )

    tbl = str(tmp_path / "evo_tomb_case")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, v string"
    ).write.parquet(tbl)
    drifted = spark.createDataFrame(
        [(2, "B", True)], "k int, v string, _DELETED boolean"
    )
    with pytest.raises(ValueError, match="updates schema"):
        merge_parquet(
            spark, tbl, drifted, ["k"],
            delete_col="_deleted", schema_evolution=True,
        )
    # table unchanged: in particular NO '_DELETED' data column appeared
    out = spark.read.parquet(tbl)
    assert set(out.columns) == {"k", "v"}
    # exact-case tombstone still merges fine with evolution on
    ok = spark.createDataFrame(
        [(2, "B", True), (3, "c", False)],
        "k int, v string, _deleted boolean",
    )
    merge_parquet(
        spark, tbl, ok, ["k"], delete_col="_deleted", schema_evolution=True
    )
    got = {r.k: r.v for r in spark.read.parquet(tbl).collect()}
    assert got == {1: "a", 3: "c"}


def test_pruned_merge_schema_evolution_sidecar_null_backfill(
    spark, tmp_path
):
    """Partitioned ADD-COLUMN evolution: only the touched partition is
    rewritten with the new column (untouched dirs byte-identical), the
    table-level schema lands in the _table_schema.json sidecar, and
    sidecar-aware reads surface the column as NULL everywhere the files
    predate it."""
    import os

    from vectordb_similarity_search_spark.operators.merge import (
        merge_parquet_partitioned,
        read_table_snapshot,
    )

    path = _part_table(spark, tmp_path)
    before = _snapshot_files(path)
    updates = spark.createDataFrame(
        [(3, "v3_new", 0, "eu"), (90, "v90", 0, "us")],
        "k int, v string, bucket int, region string",
    )
    n = merge_parquet_partitioned(
        spark, path, updates, ["k", "bucket"], ["bucket"],
        schema_evolution=True,
    )
    assert n == 1  # only bucket=0 rewritten, evolution did not widen it
    after = _snapshot_files(path)
    untouched_b = {f: m for f, m in before.items() if "bucket=0" not in f}
    untouched_a = {f: m for f, m in after.items() if "bucket=0" not in f}
    assert untouched_b == untouched_a  # old-footer dirs never rewritten
    assert os.path.exists(os.path.join(path, "_table_schema.json"))

    got = {
        (r.k, r.v, r.region)
        for r in read_table_snapshot(spark, path).collect()
    }
    assert (3, "v3_new", "eu") in got and (90, "v90", "us") in got
    # untouched partitions surface the new column as NULL
    assert (1, "v1", None) in got and (2, "v2", None) in got
    assert len(got) == 31
    # the sidecar read is deterministic: every column present, every row
    sch = read_table_snapshot(spark, path).schema
    assert [f.name for f in sch if f.name == "region"] == ["region"]


def test_pruned_merge_evolution_crash_before_reconcile_is_rerunnable(
    spark, tmp_path, monkeypatch
):
    """The sidecar is written BEFORE the dir reconcile: a crash between
    the two leaves the table readable at the NEW schema (column NULL
    everywhere — no data dir changed yet) and a RE-RUN completes the
    merge. The reverse order was unrepairable: mixed footers with no
    sidecar read nondeterministically, and the re-run saw the column as
    pre-existing so the sidecar was never written."""
    import os

    from vectordb_similarity_search_spark import commit
    from vectordb_similarity_search_spark.operators import merge as M

    path = _part_table(spark, tmp_path)
    updates = spark.createDataFrame(
        [(3, "v3_new", 0, "eu")], "k int, v string, bucket int, region string"
    )

    real = commit.commit_partitions

    def boom(*a, **k):
        raise RuntimeError("simulated crash before reconcile")

    monkeypatch.setattr(commit, "commit_partitions", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        M.merge_parquet_partitioned(
            spark, path, updates, ["k", "bucket"], ["bucket"],
            schema_evolution=True,
        )
    # crash state: sidecar committed, no data dir touched — the table is
    # consistently readable at the new schema with region NULL everywhere
    assert os.path.exists(os.path.join(path, "_table_schema.json"))
    crash_rows = M.read_table_snapshot(spark, path).collect()
    assert all(r.region is None for r in crash_rows)
    assert {(r.k, r.v) for r in crash_rows if r.k == 3} == {(3, "v3")}

    # the re-run completes the evolution (column now pre-exists via the
    # sidecar: evolved=False, but the data merge still lands)
    monkeypatch.setattr(commit, "commit_partitions", real)
    n = M.merge_parquet_partitioned(
        spark, path, updates, ["k", "bucket"], ["bucket"],
        schema_evolution=True,
    )
    assert n == 1
    got = {
        (r.k, r.v, r.region)
        for r in M.read_table_snapshot(spark, path).collect()
    }
    assert (3, "v3_new", "eu") in got


def test_pruned_merge_evolved_table_merges_again_without_new_columns(
    spark, tmp_path
):
    """After evolution, a later batch WITHOUT the new column must be
    rejected (strictly the full-path semantics: whole rows replace by
    key, so omitting a column would be data loss) and a batch WITH it
    merges normally across old and new partitions."""
    import pytest as _pytest

    from vectordb_similarity_search_spark.operators.merge import (
        merge_parquet_partitioned,
        read_table_snapshot,
    )

    path = _part_table(spark, tmp_path)
    first = spark.createDataFrame(
        [(3, "v3", 0, "eu")], "k int, v string, bucket int, region string"
    )
    merge_parquet_partitioned(
        spark, path, first, ["k", "bucket"], ["bucket"],
        schema_evolution=True,
    )
    narrow = spark.createDataFrame([(4, "v4", 1)], "k int, v string, bucket int")
    with _pytest.raises(ValueError, match="updates schema"):
        merge_parquet_partitioned(
            spark, path, narrow, ["k", "bucket"], ["bucket"],
            schema_evolution=True,
        )
    # a full-width batch updates an UNTOUCHED-by-evolution partition fine
    second = spark.createDataFrame(
        [(4, "v4_new", 1, "ap")], "k int, v string, bucket int, region string"
    )
    merge_parquet_partitioned(
        spark, path, second, ["k", "bucket"], ["bucket"]
    )
    got = {
        (r.k, r.v, r.region)
        for r in read_table_snapshot(spark, path).collect()
    }
    assert (3, "v3", "eu") in got and (4, "v4_new", "ap") in got


def test_pruned_merge_evolution_rejects_type_change_and_case_drift(
    spark, tmp_path
):
    """The partitioned path enforces the same evolution guards as the
    full path: no retyping, no case-drifted column smuggling."""
    import pytest as _pytest

    from vectordb_similarity_search_spark.operators.merge import (
        merge_parquet_partitioned,
    )

    path = _part_table(spark, tmp_path)
    retyped = spark.createDataFrame([(1, 5, 1)], "k int, v int, bucket int")
    with _pytest.raises(ValueError, match="cannot change column"):
        merge_parquet_partitioned(
            spark, path, retyped, ["k", "bucket"], ["bucket"],
            schema_evolution=True,
        )
    drifted = spark.createDataFrame([(1, "x", 1)], "k int, V string, bucket int")
    with _pytest.raises(ValueError, match="updates schema"):
        merge_parquet_partitioned(
            spark, path, drifted, ["k", "bucket"], ["bucket"],
            schema_evolution=True,
        )


def test_partitioned_compact_preserves_evolved_schema(spark, tmp_path):
    """Partitioned compaction over a sidecar-evolved table must read the
    table-level schema (deterministic across mixed old/new footers, NULL
    backfill on pre-evolution files) — and the sidecar survives, since
    untouched dirs may still hold old footers."""
    import os

    from vectordb_similarity_search_spark.operators.compact import (
        compact_parquet_partitioned,
    )
    from vectordb_similarity_search_spark.operators.merge import (
        merge_parquet_partitioned,
        read_table_snapshot,
    )

    # multiple files per partition dir so compaction has work to do
    path = str(tmp_path / "ptbl_evo")
    rows = [(i, f"v{i}", i % 3) for i in range(30)]
    (
        spark.createDataFrame(rows, "k int, v string, bucket int")
        .repartition(4)
        .write.partitionBy("bucket")
        .parquet(path)
    )
    updates = spark.createDataFrame(
        [(3, "v3_new", 0, "eu")], "k int, v string, bucket int, region string"
    )
    merge_parquet_partitioned(
        spark, path, updates, ["k", "bucket"], ["bucket"],
        schema_evolution=True,
    )
    rep = compact_parquet_partitioned(
        spark, path, ["bucket"], target_file_bytes=1 << 30
    )
    assert rep["rewritten"] and rep["dirs_touched"] >= 1
    assert os.path.exists(os.path.join(path, "_table_schema.json"))
    got = {
        (r.k, r.v, r.region)
        for r in read_table_snapshot(spark, path).collect()
    }
    assert (3, "v3_new", "eu") in got
    assert (1, "v1", None) in got and (2, "v2", None) in got
    assert len(got) == 30
