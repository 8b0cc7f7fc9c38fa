"""Incremental rollup maintenance (operators/rollup.py): applying event
batches incrementally must equal a one-shot rollup of all events, and a
batch must only rewrite the day partitions it touches."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from vectordb_similarity_search_spark import commit
from vectordb_similarity_search_spark.operators.rollup import (
    hourly_rollup,
    read_rollup,
    upsert_rollup,
)
from vectordb_similarity_search_spark.sources.tables import load_table

from .conftest import SMOKE_SF


def _canon(df):
    return sorted(
        (r["day"], r["hour"], r["event_type"], r["n_events"],
         round(r["sum_value"], 6), round(r["min_value"], 6),
         round(r["max_value"], 6))
        for r in df.select(
            "day", "hour", "event_type", "n_events",
            "sum_value", "min_value", "max_value",
        ).collect()
    )


def test_incremental_equals_one_shot(spark, tmp_path):
    events = load_table(spark, SMOKE_SF, "events")
    cut = events.agg(F.percentile(F.col("ts").cast("long"), F.lit(0.5))).head()[0]
    path = str(tmp_path / "rollup")

    # two batches split MID-STREAM (the cut lands inside an hour, so the
    # boundary hour's partials must merge across batches)
    upsert_rollup(spark, path, events.filter(F.col("ts").cast("long") <= cut))
    upsert_rollup(spark, path, events.filter(F.col("ts").cast("long") > cut))

    assert _canon(read_rollup(spark, path)) == _canon(hourly_rollup(events))


def test_untouched_partitions_not_rewritten(spark, tmp_path):
    events = load_table(spark, SMOKE_SF, "events")
    days = [
        r[0]
        for r in events.select(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .distinct()
        .orderBy("d")
        .collect()
    ]
    assert len(days) >= 2, "fixture must span multiple days"
    first_day, last_day = days[0], days[-1]
    path = str(tmp_path / "rollup")

    upsert_rollup(spark, path, events)
    before = set(os.listdir(os.path.join(path, f"day={first_day}")))

    # second batch touches ONLY the last day
    touched = upsert_rollup(
        spark,
        path,
        events.filter(F.date_format("ts", "yyyy-MM-dd") == last_day),
    )
    assert touched == [last_day]
    after = set(os.listdir(os.path.join(path, f"day={first_day}")))
    assert before == after  # untouched day partition: identical files

    # and the touched day now holds DOUBLED counts (events applied twice)
    doubled = (
        spark.read.parquet(path)
        .filter(F.col("day") == last_day)
        .agg(F.sum("n_events"))
        .head()[0]
    )
    one_shot = (
        hourly_rollup(events)
        .filter(F.col("day") == last_day)
        .agg(F.sum("n_events"))
        .head()[0]
    )
    assert doubled == 2 * one_shot


def test_read_rollup_derives_avg(spark, tmp_path):
    events = load_table(spark, SMOKE_SF, "events")
    path = str(tmp_path / "rollup")
    upsert_rollup(spark, path, events)
    row = (
        read_rollup(spark, path)
        .withColumn("check", F.abs(F.col("avg_value") - F.col("sum_value") / F.col("n_events")))
        .agg(F.max("check"))
        .head()
    )
    assert row[0] == 0.0


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "ts timestamp, event_type string, value double"
    )


def _day_rows(day: int, n: int, value: float):
    return [
        (dt.datetime(2026, 5, day, h % 24, 7), "click" if h % 2 else "view", value + h)
        for h in range(n)
    ]


def test_crashed_swap_recovers(spark, tmp_path, fail_move):
    """A crash inside the day commit leaves a touched day missing from the
    live rollup; the next upsert must restore it first."""
    path = str(tmp_path / "rollup")
    upsert_rollup(spark, path, _events(spark, _day_rows(1, 10, 1.0) + _day_rows(2, 10, 2.0)))
    batch = _events(spark, _day_rows(1, 3, 5.0))
    victim = os.path.join(path, f"day={hourly_rollup(batch).head()['day']}")
    assert os.path.exists(victim)

    fail_move(1)
    with pytest.raises(OSError, match="injected"):
        upsert_rollup(spark, path, batch)
    assert not os.path.exists(victim)  # the crash window: live dir gone

    # next maintenance run restores it (no events for that day in batch 3)
    fail_move(0)
    upsert_rollup(spark, path, _events(spark, _day_rows(2, 3, 9.0)))
    assert os.path.exists(victim)
    assert not [d for d in os.listdir(path) if not d.startswith(("day=", "_"))]


def test_reader_refuses_half_committed_rollup(spark, tmp_path, fail_move):
    """After a crash between two day moves, read_rollup raises instead of
    serving the batch half-applied (one day new, one day missing); once
    commit.recover has rolled the commit forward it reads every row."""
    b1 = _day_rows(1, 8, 1.0) + _day_rows(2, 8, 2.0)
    b2 = _day_rows(1, 5, 3.0) + _day_rows(2, 5, 4.0) + _day_rows(3, 5, 5.0)
    path = str(tmp_path / "rollup")
    upsert_rollup(spark, path, _events(spark, b1))
    fail_move(2)
    with pytest.raises(OSError, match="injected"):
        upsert_rollup(spark, path, _events(spark, b2))
    fail_move(0)
    with pytest.raises(RuntimeError, match="commit.recover"):
        read_rollup(spark, path)
    commit.recover(path)
    assert _canon(read_rollup(spark, path)) == _canon(
        hourly_rollup(_events(spark, b1 + b2))
    )


def test_torn_commit_neither_double_counts_nor_loses_days(
    spark, tmp_path, fail_move
):
    """A failure on the SECOND day move of a batch touching three days:
    the next upsert's entry finishes the batch, so the rollup equals a
    one-shot rollup of every event — no day counted twice or lost."""
    b1 = _day_rows(1, 8, 1.0) + _day_rows(2, 8, 2.0)
    b2 = _day_rows(1, 5, 3.0) + _day_rows(2, 5, 4.0) + _day_rows(3, 5, 5.0)
    b3 = _day_rows(3, 4, 6.0) + _day_rows(4, 4, 7.0)
    path = str(tmp_path / "rollup")
    upsert_rollup(spark, path, _events(spark, b1))
    moves = fail_move(2)
    with pytest.raises(OSError, match="injected"):
        upsert_rollup(spark, path, _events(spark, b2))
    assert len(moves) == 2
    fail_move(0)
    upsert_rollup(spark, path, _events(spark, b3))
    assert _canon(read_rollup(spark, path)) == _canon(
        hourly_rollup(_events(spark, b1 + b2 + b3))
    )
    assert not [d for d in os.listdir(tmp_path) if "__inc_" in d]
