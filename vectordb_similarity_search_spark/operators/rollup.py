"""Incremental rollup maintenance — the hypertable/continuous-aggregate
pattern (TimescaleDB continuous aggregates, Druid rollup segments; public
architecture) emulated on plain partitioned parquet.

The rollup table stores per-(hour, event_type) MERGEABLE partial
aggregates (count / sum / min / max — never avg, which is derived at read
time as sum/count), partitioned by day. Maintenance is incremental:

1. aggregate ONLY the new batch of events,
2. read back ONLY the day partitions that batch touches (partition-pruned
   scan; the touched-day set is tiny and bounded by the batch's time span,
   so collecting it to the driver is a constant-size lookup, not a data
   collect),
3. re-merge those days (partial aggregates combine by sum/sum/min/max),
4. publish ONLY the touched day directories as one partition-set commit
   (``commit.commit_partitions``): a crash mid-commit is rolled forward
   by the next upsert's entry, so a batch is never left half-applied
   (replaying it would double-count the days already published, and
   skipping it would lose the rest).

At 100 TB of history the cost per batch is O(batch + touched days), never
a rescan of the table — untouched partitions are not read and not
rewritten. The same mergeability discipline is what lets Spark push
partial aggregation below its shuffles; here it's used across batches.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import commit

_AGG = lambda: [  # noqa: E731 — one shared shape for full & incremental
    F.count("*").cast("long").alias("n_events"),
    F.sum("value").alias("sum_value"),
    F.min("value").alias("min_value"),
    F.max("value").alias("max_value"),
]


def hourly_rollup(events: DataFrame) -> DataFrame:
    """The rollup aggregation shape: per-(day, hour, event_type) mergeable
    partials. ``day`` is a string so the partition directory round-trips
    without type inference surprises."""
    return (
        events.withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .withColumn("day", F.date_format("hour", "yyyy-MM-dd"))
        .groupBy("day", "hour", "event_type")
        .agg(*_AGG())
    )


def _remerge(existing: DataFrame, inc: DataFrame) -> DataFrame:
    """Combine two sets of partial aggregates (count+count, sum+sum,
    min(min), max(max)) — correctness does not depend on how events were
    split across batches, including mid-hour splits."""
    return (
        existing.unionByName(inc)
        .groupBy("day", "hour", "event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )


def upsert_rollup(
    spark: SparkSession, rollup_path: str, new_events: DataFrame
) -> list[str]:
    """Apply one batch of events to the rollup table at ``rollup_path``.
    Returns the list of day partitions that were (re)written."""
    inc = hourly_rollup(new_events)
    commit.recover(rollup_path)
    # bounded driver lookup: one row per day touched by THIS batch
    days = sorted(r[0] for r in inc.select("day").distinct().collect())
    if not days:
        return days
    if os.path.exists(rollup_path):
        existing = _read_raw(spark, rollup_path).filter(F.col("day").isin(days))
        merged = _remerge(existing, inc)
    else:
        merged = inc

    tmp = f"{rollup_path.rstrip('/')}__inc_{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").partitionBy("day").parquet(tmp)
    os.makedirs(rollup_path, exist_ok=True)
    commit.commit_partitions(rollup_path, tmp, [f"day={d}" for d in days])
    return days


def _read_raw(spark: SparkSession, rollup_path: str) -> DataFrame:
    """Read the rollup normalizing the partition column back to string
    (partition-value type inference would otherwise hand back DATE and
    silently fork the column's type between written and re-read data).
    Raises ``RuntimeError`` while a day commit is pending
    (``commit.require_committed``)."""
    commit.require_committed(rollup_path)
    return spark.read.parquet(rollup_path).withColumn(
        "day", F.col("day").cast("string")
    )


def read_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    """Read the rollup with derived (non-mergeable) columns: avg at read
    time from the stored sum/count partials."""
    r = _read_raw(spark, rollup_path)
    return r.withColumn("avg_value", F.col("sum_value") / F.col("n_events"))
