"""Small shared utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def widen(df: DataFrame) -> DataFrame:
    """Raise the partition count of a NARROW input to the session's default
    parallelism before a per-row-heavy pass (Arrow ``mapInPandas``, wide
    HOF expression chains).

    Why: Spark parallelizes a narrow pass by *input splits*. A small local
    parquet file scans as 1-2 splits, so an expensive per-document pass
    (MinHash signatures, 64-bit simhash folds, winnowing) runs on a single
    core while 31 sit idle. At production scale the input already carries
    >= cores partitions and this branch is a no-op — no shuffle is added
    where it would hurt. Round-robin repartition is safe here because
    per-row transforms are partitioning-independent.

    Only SCAN-SHAPED inputs (scan + projections/filters) are probed and
    widened: the split-count probe goes through ``df.rdd``, and under AQE
    that finalizes the physical plan and EXECUTES any upstream shuffle
    stages — real Spark jobs at plan-build time, which would break the
    zero-job-build contract (tests/test_lazy_build.py) for a caller
    passing a derived (joined/aggregated) frame. A derived frame is
    returned unchanged — its shuffle already spread it across the
    session's partitions, so widening would be the no-op branch anyway
    (round-10, ADVICE item)."""
    if not _scan_shaped(df):
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


_SCAN_NODES = frozenset(
    {"Relation", "LogicalRelation", "Project", "Filter", "SubqueryAlias", "View"}
)


def _scan_shaped(df: DataFrame) -> bool:
    """True when the analyzed logical plan is only scan/project/filter
    nodes — the shapes whose ``.rdd`` probe cannot execute jobs."""
    import re

    tree = df._jdf.queryExecution().analyzed().toString()
    for line in tree.splitlines():
        m = re.match(r"^[\s+:\-]*'?([A-Za-z]+)", line)
        if m and m.group(1) not in _SCAN_NODES:
            return False
    return True


def swap_snapshot(table_path: str, new_path: str) -> None:
    """Replace the directory at ``table_path`` with ``new_path`` by two
    renames, parking the previous snapshot at ``<table>__old_<uuid>`` until
    the swap completes.

    Honest atomicity note: POSIX cannot atomically exchange two
    directories (no portable renameat2), so there IS a crash window
    between the renames in which ``table_path`` does not exist — but the
    previous snapshot is intact under the ``__old_`` name and
    :func:`restore_snapshot` (called automatically by the writers before
    their next run) brings it back. Data is never lost; readers racing
    the window see a missing path, not a half-written table."""
    import os
    import shutil
    import uuid

    from . import cache

    old = f"{table_path.rstrip('/')}__old_{uuid.uuid4().hex[:8]}"
    try:
        os.rename(table_path, old)
        os.rename(new_path, table_path)
        shutil.rmtree(old)
    finally:
        cache.invalidate(table_path)


def restore_snapshot(table_path: str) -> bool:
    """Crash recovery for :func:`swap_snapshot`: if ``table_path`` is
    missing and a parked ``__old_`` snapshot exists, restore the newest
    one. Returns True if a restore happened."""
    import glob
    import os

    if os.path.exists(table_path):
        return False
    parked = sorted(glob.glob(f"{table_path.rstrip('/')}__old_*"), key=os.path.getmtime)
    if not parked:
        return False
    os.rename(parked[-1], table_path)
    return True
