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
