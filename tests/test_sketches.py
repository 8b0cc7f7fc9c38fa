"""Mergeable HLL sketch ledger guarantees (operators/sketches.py).

The oracle for the catalog queries is expected-parquet (HLL estimates
are not SQL-reproducible), so these tests carry the semantic load:
accuracy vs exact distinct counts, layout/merge-order independence
(the determinism contract the fixture oracle rests on), and
incremental-merge == full-rebuild parity.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from vectordb_similarity_search_spark.operators.sketches import (
    HLL,
    daily_hll_sketches,
    rolling_distinct,
    rollup_distinct,
    sketch_ledger_merge_batch,
)


@pytest.fixture(scope="module")
def events(spark):
    # 40k deterministic events over 21 days, 3 types, heavy user reuse
    # (so distinct << count and windows genuinely dedupe across days)
    return (
        spark.range(40_000)
        .select(
            (
                F.to_timestamp(F.lit("2026-01-01 00:00:00"))
                + F.make_interval(hours=F.pmod(F.xxhash64("id"), F.lit(21 * 24)))
            ).alias("ts"),
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(2500)).alias("user_id"),
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("buy")),
                (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(3)) + 1).cast("int"),
            ).alias("event_type"),
        )
        .cache()
    )


def _exact_rolling(spark, events, window_days=7):
    base = events.select(F.to_date("ts").alias("day"), "user_id")
    days = base.select("day").distinct().select(F.col("day").alias("out_day"))
    joined = days.join(
        base,
        (F.col("day") <= F.col("out_day"))
        & (F.col("day") > F.date_sub(F.col("out_day"), window_days)),
    )
    return {
        r["out_day"]: r["d"]
        for r in joined.groupBy("out_day")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }


def test_rolling_estimates_close_to_exact(spark, events):
    ledger = daily_hll_sketches(events)
    got = {
        dt.date.fromisoformat(str(r["day"])): r["est_distinct"]
        for r in rolling_distinct(ledger, 7).collect()
    }
    exact = _exact_rolling(spark, events, 7)
    assert set(got) == set(exact)
    for day, est in got.items():
        # lg_k=12 -> ~0.8% RSE; 5% is a >6-sigma bound, safe for a pin
        assert abs(est - exact[day]) / exact[day] < 0.05, (day, est, exact[day])


def test_rollup_estimates_close_to_exact_and_not_sum(spark, events):
    ledger = daily_hll_sketches(events)
    got = {r["scope"]: r["est_distinct"] for r in rollup_distinct(ledger).collect()}
    exact_total = events.select("user_id").distinct().count()
    per_type = {
        "type:" + r["event_type"]: r["d"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert abs(got["total"] - exact_total) / exact_total < 0.05
    for k, ex in per_type.items():
        assert abs(got[k] - ex) / ex < 0.05, (k, got[k], ex)
    # the union must DEDUPE across types: with heavy user reuse the sum
    # of per-type distincts wildly exceeds the true total
    assert sum(per_type.values()) > 1.5 * exact_total
    assert got["total"] < 1.2 * exact_total


def test_estimates_layout_independent(spark, events):
    """The determinism contract behind the expected-parquet oracle:
    identical estimates whatever the partitioning."""
    a = sorted(
        (str(r["day"]), r["n_events"], r["est_distinct"])
        for r in rolling_distinct(daily_hll_sketches(events), 7).collect()
    )
    b = sorted(
        (str(r["day"]), r["n_events"], r["est_distinct"])
        for r in rolling_distinct(
            daily_hll_sketches(events.repartition(13, "event_type")), 7
        ).collect()
    )
    assert a == b


def test_leaf_union_equals_direct_sketch(spark, events):
    """Merge invariance: the union of per-day-type leaf sketches must
    estimate EXACTLY what one direct sketch over all rows estimates —
    the property that makes pre-aggregation lossless."""
    ledger = daily_hll_sketches(events)
    via_leaves = (
        ledger.agg(F.hll_union_agg("sk").alias("u"))
        .select(F.hll_sketch_estimate("u").cast("long").alias("e"))
        .first()["e"]
    )
    direct = (
        events.agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("s"))
        .select(F.hll_sketch_estimate("s").cast("long").alias("e"))
        .first()["e"]
    )
    assert via_leaves == direct


def test_incremental_merge_matches_full_rebuild(spark, events, tmp_path):
    """Ledger maintenance: sketch history once, fold a new batch in via
    sketch_ledger_merge_batch — estimates must equal a full rebuild over
    the union of rows, bit-for-bit, and the sketch column must survive
    the parquet round-trip."""
    old = events.filter(F.to_date("ts") < F.lit("2026-01-15"))
    new = events.filter(F.to_date("ts") >= F.lit("2026-01-15"))
    path = str(tmp_path / "ledger")
    n = HLL.write(daily_hll_sketches(old), path)
    assert n > 0
    merged = sketch_ledger_merge_batch(spark, new, path)
    rebuilt = daily_hll_sketches(events)

    def estimates(ledger):
        return sorted(
            (str(r["day"]), r["event_type"], r["n_events"], r["e"])
            for r in ledger.select(
                "day",
                "event_type",
                "n_events",
                F.hll_sketch_estimate("sk").cast("long").alias("e"),
            ).collect()
        )

    assert estimates(merged) == estimates(rebuilt)


def test_validation():
    # both validate their scalars before touching the frame
    with pytest.raises(ValueError, match="lg_k"):
        daily_hll_sketches(None, lg_k=3)
    with pytest.raises(ValueError, match="window_days"):
        rolling_distinct(None, 0)


def test_rolling_by_type_matches_exact_and_full_rolling(spark, events):
    """Per-type trailing windows: each (day, type) estimate within the
    HLL bound of the exact per-type distinct, and NOT derivable by
    splitting the all-types number (union semantics per type)."""
    from vectordb_similarity_search_spark.operators.sketches import (
        rolling_distinct_by_type,
    )

    ledger = daily_hll_sketches(events)
    got = {
        (str(r["day"]), r["event_type"]): r["est_distinct"]
        for r in rolling_distinct_by_type(ledger, 7).collect()
    }
    base = events.select(
        F.to_date("ts").alias("day"), "event_type", "user_id"
    )
    days = base.select("day").distinct().select(F.col("day").alias("out_day"))
    contrib = base.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("_o"),
        "day",
        "event_type",
        "user_id",
    ).select(F.date_add("day", "_o").alias("out_day"), "event_type", "user_id")
    exact = {
        (str(r["out_day"]), r["event_type"]): r["d"]
        for r in contrib.join(F.broadcast(days), "out_day", "left_semi")
        .groupBy("out_day", "event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) / exact[k] < 0.05, (k, est, exact[k])


def test_sketch_plans_stay_scale_shaped(spark, events):
    """Pin the plan shapes the 100-TB story depends on: the ledger build
    is ONE exchange with map-side partials; the rolling query joins the
    day dimension by BROADCAST (no BNLJ, no sort-merge on the tiny
    side)."""
    from tests.conftest import plan_of

    ledger = daily_hll_sketches(events)
    p_build = plan_of(ledger)
    tree = p_build.split("(1)")[0]
    assert tree.count("Exchange") == 1, tree
    assert "partial_hll_sketch_agg" in p_build or "partial" in p_build, p_build

    p_roll = plan_of(rolling_distinct(ledger, 7))
    assert "BroadcastNestedLoopJoin" not in p_roll
    assert "CartesianProduct" not in p_roll
    assert "BroadcastHashJoin" in p_roll, p_roll


def _mk_batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )


def test_upsert_stages_executor_side_and_survives_torn_commit(
    spark, tmp_path
):
    """Round-8 advisory fix: the upsert commit is marker-protected. A
    crash mid-swap (simulated by rebuilding the exact torn state the
    marker describes: staged merged slice present, live day dir already
    deleted) must be repaired losslessly by the next maintenance entry —
    the pre-crash history for the touched day comes back merged, not
    lost, and untouched days stay byte-identical."""
    import json
    import os
    import shutil

    from vectordb_similarity_search_spark.operators.sketches import (
        HLL,
        sketch_ledger_repair,
    )

    path = str(tmp_path / "ledger")
    base = [
        (1, dt.datetime(2026, 4, 1, 9), 1, "click", 1.0),
        (2, dt.datetime(2026, 4, 2, 9), 2, "click", 1.0),
    ]
    assert HLL.upsert(_mk_batch(spark, base), path) == 2

    # build the torn state a mid-commit crash leaves: stage the merged
    # slice for day 2 via a REAL upsert against a copy, then transplant
    # its staged output and marker into the live store with the live day
    # dir removed (the exact moment between rmtree and replace)
    shadow = str(tmp_path / "shadow")
    shutil.copytree(path, shadow)
    batch = [(3, dt.datetime(2026, 4, 2, 15), 9, "view", 1.0)]
    assert HLL.upsert(_mk_batch(spark, batch), shadow) == 1
    staged = os.path.join(path, "_staging", "day=2026-04-02")
    shutil.copytree(os.path.join(shadow, "day=2026-04-02"), staged)
    with open(os.path.join(path, "_upsert_pending.json"), "w") as fh:
        json.dump({"days": ["2026-04-02"], "staging": "_staging"}, fh)
    shutil.rmtree(os.path.join(path, "day=2026-04-02"))

    assert sketch_ledger_repair(path) == 1
    assert not os.path.exists(os.path.join(path, "_upsert_pending.json"))
    assert not os.path.exists(os.path.join(path, "_staging"))
    got = {
        (str(r["day"]), r["event_type"]): r["n_events"]
        for r in spark.read.parquet(path).collect()
    }
    # pre-crash click survived the torn overwrite; the batch merged in
    assert got[("2026-04-02", "click")] == 1
    assert got[("2026-04-02", "view")] == 1
    assert got[("2026-04-01", "click")] == 1


def test_ledger_meta_rejects_mismatched_maintenance(spark, tmp_path):
    """Advisory fix: a merge/upsert whose lg_k or column mapping differs
    from the stored ledger's build configuration must be refused up
    front, not silently accepted."""
    from vectordb_similarity_search_spark.operators.sketches import (
        HLL,
    )

    path = str(tmp_path / "ledger")
    rows = [(1, dt.datetime(2026, 5, 1, 9), 1, "click", 1.0)]
    assert HLL.upsert(_mk_batch(spark, rows), path) == 1
    with pytest.raises(ValueError, match="lg_k"):
        HLL.upsert(_mk_batch(spark, rows), path, lg_k=14)
    with pytest.raises(ValueError, match="key_col"):
        sketch_ledger_merge_batch(
            spark, _mk_batch(spark, rows), path, key_col="event_id"
        )


def test_ledger_custom_columns_thread_through_maintenance(spark, tmp_path):
    """Advisory fix: a ledger built over non-default key/type/ts columns
    is incrementally maintainable by passing the same mapping."""
    from vectordb_similarity_search_spark.operators.sketches import (
        HLL,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows, "stamp timestamp, actor long, action string"
        )

    path = str(tmp_path / "ledger")
    kw = {"key_col": "actor", "type_col": "action", "ts_col": "stamp"}
    assert (
        HLL.upsert(
            mk([(dt.datetime(2026, 6, 1, 9), 1, "click")]), path, **kw
        )
        == 1
    )
    assert (
        HLL.upsert(
            mk([(dt.datetime(2026, 6, 1, 15), 2, "view")]), path, **kw
        )
        == 1
    )
    got = {
        (str(r["day"]), r["event_type"]): r["n_events"]
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        ("2026-06-01", "click"): 1,
        ("2026-06-01", "view"): 1,
    }


# ---------------------------------------------------------------------------
# Count-min sketch ledger (round 8)
# ---------------------------------------------------------------------------


def test_cms_never_undercounts_and_overcount_bounded(spark, events):
    """The two structural CMS contracts, for EVERY key (not just heavy
    ones): est >= exact always (counters only add colliding mass), and
    est - exact <= 3*ceil(N/width) for this seeded hash family and
    corpus (~3x the expected colliding mass per row, min over depth)."""
    from vectordb_similarity_search_spark.operators.sketches import (
        CMS_WIDTH,
        cms_estimate,
        daily_cms_sketches,
    )

    ledger = daily_cms_sketches(events)
    exact = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_n")
    )
    est = cms_estimate(ledger, exact, "user_id")
    n_total = events.count()
    rows = exact.join(est, "user_id").collect()
    assert len(rows) == exact.count()
    bound = 3 * -(-n_total // CMS_WIDTH)
    for r in rows:
        assert r["est"] >= r["exact_n"], (r["user_id"], r["est"], r["exact_n"])
        assert r["est"] - r["exact_n"] <= bound, (
            r["user_id"],
            r["est"],
            r["exact_n"],
            bound,
        )


def test_cms_ledger_mergeable_and_layout_independent(spark, events):
    """Mergeability is plain integer addition: a ledger built from
    day-split halves and SUMMED must equal the direct build cell by
    cell, and a repartitioned build is bit-identical (pure row
    function + sum — no order sensitivity anywhere)."""
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_cms_sketches,
    )

    def cells(ledger):
        return sorted(
            (str(r["day"]), r["r"], r["c"], r["cnt"])
            for r in ledger.collect()
        )

    direct = daily_cms_sketches(events)
    a = events.filter(F.dayofmonth("ts") <= 10)
    b = events.filter(F.dayofmonth("ts") > 10)
    merged = (
        daily_cms_sketches(a)
        .unionByName(daily_cms_sketches(b))
        .groupBy("day", "r", "c")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    assert cells(merged) == cells(direct)
    shuffled = daily_cms_sketches(events.repartition(13, "event_type"))
    assert cells(shuffled) == cells(direct)


def test_cms_validation():
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_cms_sketches,
    )

    with pytest.raises(ValueError, match="depth"):
        daily_cms_sketches(None, depth=0)
    with pytest.raises(ValueError, match="width"):
        daily_cms_sketches(None, width=4)


def test_cms_upsert_touched_days_only_and_matches_rebuild(spark, tmp_path):
    """CMS persisted maintenance through the shared staged-commit
    engine: only touched day dirs are rewritten, the merged store equals
    a full rebuild cell-by-cell, and a mismatched hash-family config is
    refused."""
    import os

    from vectordb_similarity_search_spark.operators.sketches import (
        CMS,
        daily_cms_sketches,
    )

    path = str(tmp_path / "cms")
    base = [
        (1, dt.datetime(2026, 7, 1, 9), 11, "click", 1.0),
        (2, dt.datetime(2026, 7, 2, 9), 12, "click", 1.0),
        (3, dt.datetime(2026, 7, 3, 9), 13, "click", 1.0),
    ]
    assert CMS.upsert(_mk_batch(spark, base), path) == 3

    def file_state(day):
        d = os.path.join(path, f"day={day}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before_d1 = file_state("2026-07-01")
    batch = [(4, dt.datetime(2026, 7, 2, 15), 11, "view", 1.0)]
    assert CMS.upsert(_mk_batch(spark, batch), path) == 1
    assert file_state("2026-07-01") == before_d1

    def cells(df):
        return sorted(
            (str(r["day"]), r["r"], r["c"], r["cnt"]) for r in df.collect()
        )

    rebuilt = daily_cms_sketches(_mk_batch(spark, base + batch))
    assert cells(spark.read.parquet(path)) == cells(rebuilt)

    with pytest.raises(ValueError, match="width"):
        CMS.upsert(_mk_batch(spark, batch), path, width=1024)


# ---------------------------------------------------------------------------
# Round-9 advisory fixes: null days, empty deltas, concurrency, sidecar
# ---------------------------------------------------------------------------


def test_upsert_rejects_null_day_and_stream_apply_drops(spark, tmp_path):
    """A null ts yields a NULL day, which a day-partitioned ledger cannot
    address (isin() never matches NULL; the dir swap would look for
    'day=None' while Spark stages '__HIVE_DEFAULT_PARTITION__'). The
    library upsert refuses loudly; the STREAMING apply path drops the
    malformed rows under its documented contract so a single bad event
    cannot wedge the stream on every retry."""
    import os

    from vectordb_similarity_search_spark.streaming.events import (
        apply_ledger_batch,
    )

    rows = [
        (1, dt.datetime(2026, 8, 1, 9), 1, "click", 1.0),
        (2, None, 2, "view", 1.0),
    ]
    path = str(tmp_path / "ledger")
    with pytest.raises(ValueError, match="NULL day"):
        HLL.upsert(_mk_batch(spark, rows), path)
    assert not os.path.isdir(path)  # refused BEFORE any store mutation

    assert apply_ledger_batch(HLL, _mk_batch(spark, rows), 0, path) is True
    got = {
        (str(r["day"]), r["event_type"]): r["n_events"]
        for r in spark.read.parquet(path).collect()
    }
    assert got == {("2026-08-01", "click"): 1}  # null-ts row dropped


def test_upsert_empty_delta_is_noop(spark, tmp_path):
    """Advisory fix: a zero-row first micro-batch must NOT bootstrap a
    store containing only _SUCCESS (unreadable by the next upsert's
    schema inference) — and an empty delta against an existing store is
    a clean no-op."""
    import os

    from vectordb_similarity_search_spark.operators.sketches import (
        CMS,
        HLL,
    )

    path = str(tmp_path / "ledger")
    empty = _mk_batch(spark, [])
    assert HLL.upsert(empty, path) == 0
    assert not os.path.isdir(path)  # no unreadable husk left behind

    rows = [(1, dt.datetime(2026, 8, 2, 9), 1, "click", 1.0)]
    assert HLL.upsert(_mk_batch(spark, rows), path) == 1
    assert HLL.upsert(empty, path) == 0
    assert spark.read.parquet(path).count() == 1

    cpath = str(tmp_path / "cms")
    assert CMS.upsert(empty, cpath) == 0
    assert not os.path.isdir(cpath)


def test_concurrent_upsert_raises_descriptive_error(
    spark, tmp_path, monkeypatch
):
    """Advisory fix: a pending marker appearing mid-upsert (another LIVE
    writer — entry-time repair already consumed any crashed one) must
    surface as a descriptive single-writer violation, not a raw
    FileExistsError traceback."""
    import os

    import vectordb_similarity_search_spark.operators.sketches as sk

    path = str(tmp_path / "ledger")
    rows = [(1, dt.datetime(2026, 8, 3, 9), 1, "click", 1.0)]
    assert sk.HLL.upsert(_mk_batch(spark, rows), path) == 1

    # freeze entry-time repair so the hand-planted marker survives to the
    # commit point, simulating a concurrent writer's marker
    monkeypatch.setattr(sk, "sketch_ledger_repair", lambda p: 0)
    with open(os.path.join(path, "_upsert_pending.json"), "w") as fh:
        fh.write('{"days": [], "staging": "_staging"}')
    with pytest.raises(RuntimeError, match="concurrent"):
        sk.HLL.upsert(_mk_batch(spark, rows), path)


def test_write_sidecar_cross_checked_against_frame(spark, tmp_path):
    """Advisory fix: HLL.write/CMS.write must not record caller kwargs
    the frame contradicts — a wrong sidecar later rejects correct
    maintenance and validates wrong maintenance."""
    from vectordb_similarity_search_spark.operators.sketches import (
        CMS,
        daily_cms_sketches,
        daily_hll_sketches,
    )

    rows = [
        (1, dt.datetime(2026, 8, 4, 9), 1, "click", 1.0),
        (2, dt.datetime(2026, 8, 4, 10), 2, "view", 1.0),
    ]
    batch = _mk_batch(spark, rows)

    # HLL: frame built with lg_k=14, write claims the default 12
    with pytest.raises(ValueError, match="lg_k"):
        HLL.write(
            daily_hll_sketches(batch, lg_k=14), str(tmp_path / "h1")
        )
    # not a ledger frame at all
    with pytest.raises(ValueError, match="missing columns"):
        HLL.write(batch, str(tmp_path / "h2"))
    # matching config passes
    assert (
        HLL.write(
            daily_hll_sketches(batch, lg_k=14), str(tmp_path / "h3"), lg_k=14
        )
        > 0
    )

    # CMS: frame built with depth=8, write claims the default 4
    with pytest.raises(ValueError, match="hash family"):
        CMS.write(daily_cms_sketches(batch, depth=8), str(tmp_path / "c1"))
    with pytest.raises(ValueError, match="missing columns"):
        CMS.write(batch, str(tmp_path / "c2"))
    assert (
        CMS.write(
            daily_cms_sketches(batch, depth=2, width=64),
            str(tmp_path / "c3"),
            depth=2,
            width=64,
        )
        > 0
    )


# ---------------------------------------------------------------------------
# Quantile rank-sketch ledger (round 9)
# ---------------------------------------------------------------------------


def test_qsk_rolling_within_structural_bound(spark, events):
    """The theorem the ledger sells: every trailing-window percentile
    estimate within 2^(1/(2k)) - 1 of the exact continuous percentile
    (ranks are exact; order stats provably in the buckets read)."""
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_qsk_sketches,
        qsk_relative_bound,
        rolling_percentiles,
    )

    ev = events.withColumn(
        "value", (F.pmod(F.xxhash64("user_id", "ts"), F.lit(100000)) / 100.0)
    )
    got = {
        str(r["day"]): (r["n"], r["p5"], r["p9"], r["p99"])
        for r in rolling_percentiles(daily_qsk_sketches(ev), 7).collect()
    }
    base = ev.select(F.to_date("ts").alias("day"), "value")
    days = base.select("day").distinct().select(F.col("day").alias("out_day"))
    exact = {
        str(r["out_day"]): (r["n"], r["x5"], r["x9"], r["x99"])
        for r in base.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("_o"),
            "day",
            "value",
        )
        .select(F.date_add("day", "_o").alias("out_day"), "value")
        .join(F.broadcast(days), "out_day", "left_semi")
        .groupBy("out_day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("percentile(value, 0.5)").alias("x5"),
            F.expr("percentile(value, 0.9)").alias("x9"),
            F.expr("percentile(value, 0.99)").alias("x99"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    bound = qsk_relative_bound() * (1 + 1e-6)
    for day, (n, *ests) in got.items():
        xn, *xs = exact[day]
        assert n == xn
        for est, x in zip(ests, xs):
            assert abs(est - x) <= x * bound + 1e-9, (day, est, x)


def test_qsk_merge_is_addition_and_layout_independent(spark, events):
    """Leaf merge = integer bucket-count sum: day-split halves summed
    equal the direct build cell-by-cell; a repartitioned build is
    bit-identical (pure row function + sum)."""
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_qsk_sketches,
    )

    ev = events.withColumn(
        "value", (F.pmod(F.xxhash64("user_id"), F.lit(5000)) / 7.0)
    )

    def cells(led):
        return sorted(
            (str(r["day"]), r["event_type"], r["b"], r["cnt"])
            for r in led.collect()
        )

    direct = daily_qsk_sketches(ev)
    merged = (
        daily_qsk_sketches(ev.filter(F.dayofmonth("ts") <= 10))
        .unionByName(daily_qsk_sketches(ev.filter(F.dayofmonth("ts") > 10)))
        .groupBy("day", "event_type", "b")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    assert cells(merged) == cells(direct)
    shuffled = daily_qsk_sketches(ev.repartition(13, "event_type"))
    assert cells(shuffled) == cells(direct)


def test_qsk_rollup_handles_signs_zeros_and_totals(spark):
    """Signed + zero values through the mirrored bucket scheme, and the
    total row genuinely re-aggregates the same leaves (a total
    percentile is not derivable from per-type percentiles)."""
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_qsk_sketches,
        qsk_relative_bound,
        rollup_percentiles,
    )

    rows = []
    for i in range(2000):
        v = (i - 700) * 0.37  # negatives, zero at i=700, positives
        rows.append(
            (i, dt.datetime(2026, 9, 1 + i % 5, 9), i, ["a", "bb"][i % 2], v)
        )
    ev = _mk_batch(spark, rows)
    got = {
        r["scope"]: (r["n"], r["p5"], r["p9"], r["p99"])
        for r in rollup_percentiles(daily_qsk_sketches(ev)).collect()
    }
    bound = qsk_relative_bound() * (1 + 1e-6)
    import numpy as np

    vals = {"a": [], "bb": [], "total": []}
    for i in range(2000):
        v = (i - 700) * 0.37
        vals[["a", "bb"][i % 2]].append(v)
        vals["total"].append(v)
    for scope_key, data in vals.items():
        scope = scope_key if scope_key == "total" else f"type:{scope_key}"
        n, *ests = got[scope]
        assert n == len(data)
        for est, q in zip(ests, (0.5, 0.9, 0.99)):
            x = float(np.percentile(np.array(data), q * 100))
            # same-sign guarantee: these quantiles are positive here
            assert abs(est - x) <= abs(x) * bound + 1e-9, (scope, q, est, x)


def test_qsk_upsert_touched_days_only_and_matches_rebuild(spark, tmp_path):
    """Persisted maintenance through the shared staged-commit engine:
    untouched day dirs stay byte-identical, the merged store equals a
    full rebuild cell-by-cell, and a mismatched k is refused."""
    import os

    from vectordb_similarity_search_spark.operators.sketches import (
        QSK,
        daily_qsk_sketches,
    )

    path = str(tmp_path / "qsk")
    base = [
        (1, dt.datetime(2026, 9, 11, 9), 11, "click", 1.25),
        (2, dt.datetime(2026, 9, 12, 9), 12, "click", 40.0),
        (3, dt.datetime(2026, 9, 13, 9), 13, "click", 0.0),
    ]
    assert QSK.upsert(_mk_batch(spark, base), path) == 3

    def file_state(day):
        d = os.path.join(path, f"day={day}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before_d1 = file_state("2026-09-11")
    batch = [(4, dt.datetime(2026, 9, 12, 15), 11, "view", -3.5)]
    assert QSK.upsert(_mk_batch(spark, batch), path) == 1
    assert file_state("2026-09-11") == before_d1

    def cells(df):
        return sorted(
            (str(r["day"]), r["event_type"], r["b"], r["cnt"])
            for r in df.collect()
        )

    rebuilt = daily_qsk_sketches(_mk_batch(spark, base + batch))
    assert cells(spark.read.parquet(path)) == cells(rebuilt)

    with pytest.raises(ValueError, match="'k'"):
        QSK.upsert(_mk_batch(spark, batch), path, k=64)


def test_qsk_validation_and_write_cross_check(spark, tmp_path):
    from vectordb_similarity_search_spark.operators.sketches import (
        QSK,
        daily_qsk_sketches,
        rolling_percentiles,
    )

    with pytest.raises(ValueError, match="k must"):
        daily_qsk_sketches(None, k=0)
    with pytest.raises(ValueError, match="window_days"):
        rolling_percentiles(None, 0)
    rows = [(1, dt.datetime(2026, 9, 14, 9), 1, "click", 2.0)]
    with pytest.raises(ValueError, match="missing columns"):
        QSK.write(_mk_batch(spark, rows), str(tmp_path / "q1"))
    assert (
        QSK.write(
            daily_qsk_sketches(_mk_batch(spark, rows)), str(tmp_path / "q2")
        )
        == 1
    )


def test_qsk_stream_apply_exactly_once(spark, tmp_path):
    """The production micro-batch apply (streaming/events.apply_qsk_batch):
    marker-protected replay is a no-op (bucket counts are NOT replay-safe
    by algebra), and the stored ledger equals a one-shot build."""
    from vectordb_similarity_search_spark.operators.sketches import (
        CMS,
        QSK,
        daily_qsk_sketches,
    )
    from vectordb_similarity_search_spark.streaming.events import (
        apply_ledger_batch,
    )

    rows = [
        (1, dt.datetime(2026, 9, 20, 9), 1, "click", 3.0),
        (2, dt.datetime(2026, 9, 21, 9), 2, "view", 9.0),
        (3, dt.datetime(2026, 9, 21, 10), 3, "view", 27.0),
    ]
    path = str(tmp_path / "qsk")
    assert apply_ledger_batch(QSK, _mk_batch(spark, rows[:2]), 0, path) is True
    assert apply_ledger_batch(QSK, _mk_batch(spark, rows[2:]), 1, path) is True
    assert apply_ledger_batch(QSK, _mk_batch(spark, rows[:2]), 0, path) is False

    def cells(df):
        return sorted(
            (str(r["day"]), r["event_type"], r["b"], r["cnt"])
            for r in df.collect()
        )

    assert cells(spark.read.parquet(path)) == cells(
        daily_qsk_sketches(_mk_batch(spark, rows))
    )

    # CMS twin of the same protocol
    cpath = str(tmp_path / "cms")
    assert apply_ledger_batch(CMS, _mk_batch(spark, rows[:2]), 0, cpath) is True
    assert apply_ledger_batch(CMS, _mk_batch(spark, rows[:2]), 0, cpath) is False


# ---------------------------------------------------------------------------
# Theta-style set-operation ledger (round 9)
# ---------------------------------------------------------------------------


def test_theta_overlap_estimates_close_to_exact(spark, events):
    """Pairwise intersection/union estimates from the sampled ledger
    within the fixture-validated tolerance of exact set algebra."""
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_theta_sketches,
        theta_overlap,
        theta_rollup_distinct,
    )

    ledger = daily_theta_sketches(events)
    got = {
        (r["type_a"], r["type_b"]): (r["est_both"], r["est_union"])
        for r in theta_overlap(ledger).collect()
    }
    ut = events.select("event_type", "user_id").distinct().collect()
    sets: dict = {}
    for r in ut:
        sets.setdefault(r["event_type"], set()).add(r["user_id"])
    import itertools

    for a, b in itertools.combinations(sorted(sets), 2):
        xb = len(sets[a] & sets[b])
        xu = len(sets[a] | sets[b])
        eb, eu = got[(a, b)]
        assert abs(eb - xb) <= 0.25 * xb, (a, b, eb, xb)
        assert abs(eu - xu) <= 0.25 * xu, (a, b, eu, xu)
    roll = {
        r["scope"]: r["est_distinct"]
        for r in theta_rollup_distinct(ledger).collect()
    }
    total = len(set().union(*sets.values()))
    assert abs(roll["total"] - total) <= 0.25 * total
    for k, s in sets.items():
        assert abs(roll[f"type:{k}"] - len(s)) <= 0.25 * len(s)


def test_theta_merge_idempotent_and_layout_independent(spark, events):
    """The distinct-union merge: split halves unioned equal the direct
    build, re-merging the SAME rows is a no-op (replay safety by
    algebra), and a repartitioned build is bit-identical."""
    from vectordb_similarity_search_spark.operators.sketches import (
        _theta_merge,
        daily_theta_sketches,
    )

    def cells(led):
        return sorted(
            (str(r["day"]), r["event_type"], r["h"]) for r in led.collect()
        )

    direct = daily_theta_sketches(events)
    a = daily_theta_sketches(events.filter(F.dayofmonth("ts") <= 10))
    b = daily_theta_sketches(events.filter(F.dayofmonth("ts") > 10))
    assert cells(_theta_merge(a, b)) == cells(direct)
    assert cells(_theta_merge(direct, direct)) == cells(direct)  # replay
    shuffled = daily_theta_sketches(events.repartition(13, "event_type"))
    assert cells(shuffled) == cells(direct)


def test_theta_ledger_lifecycle_and_validation(spark, tmp_path):
    """Persisted maintenance through the shared staged engine: upsert
    merges, a REPLAYED upsert leaves the store identical (idempotent
    algebra), mismatched config refused, and the write cross-check
    catches hashes that violate the claimed sampling predicate."""
    import os

    from vectordb_similarity_search_spark.operators.sketches import (
        THETA,
        daily_theta_sketches,
        theta_overlap,
    )

    path = str(tmp_path / "theta")
    rows = [
        (i, dt.datetime(2026, 10, 1 + i % 3, 9), i % 40, "click", 1.0)
        for i in range(120)
    ] + [
        (1000 + i, dt.datetime(2026, 10, 1 + i % 3, 10), i % 25, "view", 1.0)
        for i in range(75)
    ]
    assert THETA.upsert(_mk_batch(spark, rows), path) == 3

    def cells(df):
        return sorted(
            (str(r["day"]), r["event_type"], r["h"]) for r in df.collect()
        )

    before = cells(spark.read.parquet(path))
    # replayed upsert: distinct-union is idempotent — store unchanged
    assert THETA.upsert(_mk_batch(spark, rows), path) == 3
    assert cells(spark.read.parquet(path)) == before
    assert cells(spark.read.parquet(path)) == cells(
        daily_theta_sketches(_mk_batch(spark, rows))
    )

    with pytest.raises(ValueError, match="den"):
        THETA.upsert(_mk_batch(spark, rows), path, num=1, den=2)

    # write cross-check: a full-rate (den=1 impossible; use num=7,den=8)
    # ledger written claiming a STRICTER predicate is caught
    led_78 = daily_theta_sketches(_mk_batch(spark, rows), num=7, den=8)
    with pytest.raises(ValueError, match="sampling"):
        THETA.write(led_78, str(tmp_path / "t2"), num=1, den=8)
    with pytest.raises(ValueError, match="missing columns"):
        THETA.write(_mk_batch(spark, rows), str(tmp_path / "t3"))
    assert THETA.write(led_78, str(tmp_path / "t4"), num=7, den=8) > 0

    # estimates survive the parquet round-trip
    est = theta_overlap(spark.read.parquet(path))
    assert est.count() >= 1

    # streaming apply: marker-gated no-op on replay
    from vectordb_similarity_search_spark.streaming.events import (
        apply_ledger_batch,
    )

    spath = str(tmp_path / "theta_stream")
    assert apply_ledger_batch(THETA, _mk_batch(spark, rows), 0, spath) is True
    assert apply_ledger_batch(THETA, _mk_batch(spark, rows), 0, spath) is False
    with pytest.raises(ValueError, match="num"):
        daily_theta_sketches(None, num=2, den=2)


def test_qsk_rolling_by_type_within_bound(spark, events):
    """Per-type trailing percentiles: every (day, type) estimate within
    the structural bound of the exact per-type trailing percentile —
    and NOT derivable from the all-types rolling (union semantics per
    type, same argument as rolling_distinct_by_type)."""
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_qsk_sketches,
        qsk_relative_bound,
        rolling_percentiles_by_type,
    )

    ev = events.withColumn(
        "value", (F.pmod(F.xxhash64("user_id", "ts"), F.lit(50000)) / 50.0)
    )
    got = {
        (str(r["day"]), r["event_type"]): (r["n"], r["p5"], r["p9"])
        for r in rolling_percentiles_by_type(
            daily_qsk_sketches(ev), 7, (0.5, 0.9)
        ).collect()
    }
    base = ev.select(F.to_date("ts").alias("day"), "event_type", "value")
    days = base.select("day").distinct().select(F.col("day").alias("out_day"))
    exact = {
        (str(r["out_day"]), r["event_type"]): (r["n"], r["x5"], r["x9"])
        for r in base.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("_o"),
            "day",
            "event_type",
            "value",
        )
        .select(
            F.date_add("day", "_o").alias("out_day"), "event_type", "value"
        )
        .join(F.broadcast(days), "out_day", "left_semi")
        .groupBy("out_day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("percentile(value, 0.5)").alias("x5"),
            F.expr("percentile(value, 0.9)").alias("x9"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    bound = qsk_relative_bound() * (1 + 1e-6)
    for key, (n, *ests) in got.items():
        xn, *xs = exact[key]
        assert n == xn
        for est, x in zip(ests, xs):
            assert abs(est - x) <= x * bound + 1e-9, (key, est, x)
    with pytest.raises(ValueError, match="window_days"):
        rolling_percentiles_by_type(None, 0)


def test_ledger_retention_prunes_old_days_across_kinds(spark, tmp_path):
    """One retention GC serves every day-partitioned ledger kind: day
    dirs older than keep_days behind the newest stored day are deleted
    (data-relative horizon — deterministic), the newest always survives,
    reads and rolling queries over the retained horizon still work, and
    the validation knob is checked."""
    from vectordb_similarity_search_spark.operators.sketches import (
        HH,
        HLL,
        QSK,
        SAMPLE,
        STRATIFIED,
        rolling_hh,
        rolling_percentiles,
        sketch_ledger_retention,
    )

    rows = [
        (i, dt.datetime(2026, 11, 1 + i, 9), i, "click", float(i + 1))
        for i in range(6)
    ]
    hll = str(tmp_path / "hll")
    qsk = str(tmp_path / "qsk")
    hh = str(tmp_path / "hh")
    assert HLL.upsert(_mk_batch(spark, rows), hll) == 6
    assert QSK.upsert(_mk_batch(spark, rows), qsk) == 6
    assert HH.upsert(_mk_batch(spark, rows), hh, k=4) == 6

    assert sketch_ledger_retention(hll, keep_days=3) == [
        "2026-11-01", "2026-11-02", "2026-11-03",
    ]
    got = sorted(
        str(r["day"]) for r in spark.read.parquet(hll).collect()
    )
    assert got == ["2026-11-04", "2026-11-05", "2026-11-06"]

    assert sketch_ledger_retention(hh, keep_days=2) == [
        f"2026-11-0{i}" for i in range(1, 5)
    ]
    kept = rolling_hh(spark.read.parquet(hh), 2, 3).collect()
    assert {str(r["day"]) for r in kept} == {"2026-11-05", "2026-11-06"}

    # the two sample kinds share the same day layout — one GC serves
    # all seven ledger kinds
    for name, fn in (
        ("sample", SAMPLE.upsert),
        ("strat", STRATIFIED.upsert),
    ):
        store = str(tmp_path / name)
        assert fn(_mk_batch(spark, rows), store) == 6
        assert sketch_ledger_retention(store, keep_days=2) == [
            f"2026-11-0{i}" for i in range(1, 5)
        ]
        left = sorted(
            str(r["day"]) for r in
            spark.read.parquet(store).select("day").distinct().collect()
        )
        assert left == ["2026-11-05", "2026-11-06"]

    assert sketch_ledger_retention(qsk, keep_days=1) == [
        f"2026-11-0{i}" for i in range(1, 6)
    ]
    est = rolling_percentiles(spark.read.parquet(qsk), 1).collect()
    assert len(est) == 1 and est[0]["n"] == 1  # newest day serves fine

    # idempotent; keep_days covering everything is a no-op
    assert sketch_ledger_retention(qsk, keep_days=1) == []
    assert sketch_ledger_retention(qsk, keep_days=99) == []
    with pytest.raises(ValueError, match="keep_days"):
        sketch_ledger_retention(qsk, keep_days=0)
    with pytest.raises(ValueError, match="no ledger"):
        sketch_ledger_retention(str(tmp_path / "nope"), keep_days=1)


def test_qsk_theta_plans_stay_scale_shaped(spark, events):
    """Plan-shape pins for the round-9 ledgers (the HLL plan-test
    discipline): the theta leaf build's sample Filter runs BELOW its
    one distinct Exchange (the map-side p·n claim — at 100 TB the
    shuffle must carry only sampled rows) with a partial aggregate
    before the exchange; the qsk builds/readouts plan one exchange for
    the leaf aggregation and broadcast-only joins for the window — no
    BNLJ, no cartesian anywhere."""
    import re

    from tests.conftest import plan_of
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_qsk_sketches,
        daily_theta_sketches,
        rolling_percentiles,
        theta_overlap,
    )

    ev = events.withColumn("value", F.col("user_id").cast("double"))

    p_theta = plan_of(daily_theta_sketches(ev))
    tree = p_theta.split("(1)")[0]
    filt = re.search(r"Filter \((\d+)\)", tree)
    exch = re.search(r"Exchange \((\d+)\)", tree)
    assert filt and exch, tree
    # formatted-plan numbering is bottom-up: a smaller id = deeper node,
    # so the sample filter must carry a smaller id than the shuffle
    assert int(filt.group(1)) < int(exch.group(1)), tree
    assert tree.count("Exchange") == 1, tree

    p_qsk = plan_of(daily_qsk_sketches(ev))
    qtree = p_qsk.split("(1)")[0]
    assert qtree.count("Exchange") == 1, qtree

    for frame in (
        rolling_percentiles(daily_qsk_sketches(ev), 7),
        theta_overlap(daily_theta_sketches(ev)),
    ):
        p = plan_of(frame)
        assert "BroadcastNestedLoopJoin" not in p
        assert "CartesianProduct" not in p
        assert "BatchEvalPython" not in p


def test_rolling_theta_overlap_close_to_exact(spark, events):
    """Day-windowed pairwise overlap from the ledger: every (day, pair)
    intersection/union estimate within tolerance of the exact trailing
    7-day set algebra, and the whole-range form unchanged by the
    refactor onto the shared estimator."""
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_theta_sketches,
        rolling_theta_overlap,
    )

    ledger = daily_theta_sketches(events)
    got = {
        (str(r["day"]), r["type_a"], r["type_b"]): (
            r["est_both"],
            r["est_union"],
        )
        for r in rolling_theta_overlap(ledger, 7).collect()
    }
    # exact trailing sets per (day, type)
    base = events.select(
        F.to_date("ts").alias("day"), "event_type", "user_id"
    ).distinct()
    rows = base.collect()
    import datetime as _dt
    from collections import defaultdict

    daily: dict = defaultdict(set)
    for r in rows:
        daily[(r["day"], r["event_type"])].add(r["user_id"])
    all_days = sorted({d for d, _ in daily})
    types = sorted({t for _, t in daily})
    import itertools

    checked = 0
    for day in all_days:
        win = [
            d for d in all_days if 0 <= (day - d).days < 7
        ]
        sets = {
            t: set().union(*(daily.get((d, t), set()) for d in win))
            for t in types
        }
        for a, b in itertools.combinations(types, 2):
            xb = len(sets[a] & sets[b])
            xu = len(sets[a] | sets[b])
            key = (str(day), a, b)
            if key not in got:
                assert xb == 0, key  # omitted only when nothing shared
                continue
            eb, eu = got[key]
            assert abs(eb - xb) <= 0.25 * max(xb, 8), (key, eb, xb)
            assert abs(eu - xu) <= 0.25 * xu, (key, eu, xu)
            checked += 1
    assert checked >= 50  # the fixture genuinely exercises many cells
    with pytest.raises(ValueError, match="window_days"):
        rolling_theta_overlap(ledger, 0)


# ---------------------------------------------------------------------------
# Heavy-hitters (Misra-Gries) summary ledger
# ---------------------------------------------------------------------------


def _hh_exact_counts(events):
    """Exact (day, event_type, key) counts as a dict — the truth the
    interval bounds are checked against."""
    return {
        (str(r["day"]), r["event_type"], r["k"]): r["c"]
        for r in events.groupBy(
            F.to_date("ts").alias("day"),
            "event_type",
            F.col("user_id").cast("string").alias("k"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }


def _hh_mass_violations(ledger, k):
    """Rows violating invariant (b): Σ counters + (k+1)·err ≤ n_events."""
    mass = F.coalesce(
        F.aggregate(
            "items", F.lit(0).cast("long"), lambda a, x: a + x["c"]
        ),
        F.lit(0).cast("long"),
    )
    return ledger.filter(
        mass + F.lit(k + 1) * F.col("err") > F.col("n_events")
    ).count()


def test_hh_leaf_census_exact_when_unevicted(spark, events):
    """k ≥ distinct keys → err = 0 everywhere and the leaves are a
    complete exact census (counter == exact count for every key), so
    rollup intervals collapse to points that equal the plain groupBy."""
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_hh_sketches,
        hh_rollup,
    )

    ledger = daily_hh_sketches(events, k=4096)
    assert ledger.filter(F.col("err") != 0).count() == 0
    exact = _hh_exact_counts(events)
    for r in ledger.collect():
        for it in r["items"]:
            assert exact[(str(r["day"]), r["event_type"], it["k"])] == it["c"]
    top = hh_rollup(ledger, 5).collect()
    scoped: dict = {}
    for (d, et, key), c in exact.items():
        scoped[("type:" + et, key)] = scoped.get(("type:" + et, key), 0) + c
        scoped[("total", key)] = scoped.get(("total", key), 0) + c
    for r in top:
        assert r["lb"] == r["ub"] == scoped[(r["scope"], r["key"])], r


def test_hh_bounds_and_mass_invariant_under_eviction(spark, events):
    """Small k forces evictions: every stored summary still satisfies
    invariants (a) and (b), and every rollup/rolling output key's exact
    count lies in [lb, ub] with ub − lb ≤ N_scope/(k+1) (the PODS'12
    bound surfaced through the interval algebra)."""
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_hh_sketches,
        hh_rollup,
        rolling_hh,
    )

    k = 8
    ledger = daily_hh_sketches(events, k=k).cache()
    assert _hh_mass_violations(ledger, k) == 0
    exact = _hh_exact_counts(events)
    for r in ledger.collect():
        for it in r["items"]:
            t = exact[(str(r["day"]), r["event_type"], it["k"])]
            assert it["c"] <= t <= it["c"] + r["err"], (r, it, t)

    scoped: dict = {}
    scope_n: dict = {}
    for (d, et, key), c in exact.items():
        for s in ("type:" + et, "total"):
            scoped[(s, key)] = scoped.get((s, key), 0) + c
            scope_n[s] = scope_n.get(s, 0) + c
    rows = hh_rollup(ledger, 10).collect()
    assert rows, "rollup returned nothing"
    for r in rows:
        t = scoped[(r["scope"], r["key"])]
        assert r["lb"] <= t <= r["ub"], (r, t)
        assert r["ub"] - r["lb"] <= scope_n[r["scope"]] / (k + 1) * (
            1 + 1e-9
        ), r

    # rolling: per-day trailing-window truth
    daily: dict = {}
    for (d, et, key), c in exact.items():
        daily.setdefault(d, {})[key] = daily.get(d, {}).get(key, 0) + c
    days = sorted(daily)
    for r in rolling_hh(ledger, 7, 5).collect():
        day = str(r["day"])
        win = [
            d
            for d in days
            if 0
            <= (
                dt.date.fromisoformat(day) - dt.date.fromisoformat(d)
            ).days
            < 7
        ]
        t = sum(daily[d].get(r["key"], 0) for d in win)
        assert r["lb"] <= t <= r["ub"], (r, t)


def test_hh_upsert_matches_invariants_and_layout_independent(
    spark, events, tmp_path
):
    """Three hash-split batches through the staged upsert: merged
    summaries keep invariants (a)/(b) under the compress rule,
    ``n_events`` stays exactly additive, and the stored state is
    bit-identical across input partitioning AND tournament fan-in
    (buckets is an execution knob, not a semantic one)."""
    from vectordb_similarity_search_spark.operators.sketches import (
        HH,
    )

    k = 8
    ev = events.select(
        F.monotonically_increasing_id().alias("event_id"),
        "ts",
        "user_id",
        "event_type",
    ).cache()
    paths = [str(tmp_path / "a"), str(tmp_path / "b")]
    for path, (part, buckets) in zip(paths, [(None, 16), (7, 64)]):
        for b in range(3):
            batch = ev.filter(
                F.pmod(F.xxhash64("event_id"), F.lit(3)) == b
            )
            if part:
                batch = batch.repartition(part)
            HH.upsert(batch, path, k=k, buckets=buckets)
    stored = spark.read.parquet(paths[0])
    assert _hh_mass_violations(stored, k) == 0
    exact = _hh_exact_counts(ev)
    n_exact = {
        (str(r["day"]), r["event_type"]): r["n"]
        for r in ev.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    checked = 0
    for r in stored.collect():
        assert n_exact[(str(r["day"]), r["event_type"])] == r["n_events"]
        for it in r["items"]:
            t = exact[(str(r["day"]), r["event_type"], it["k"])]
            assert it["c"] <= t <= it["c"] + r["err"], (r, it, t)
            checked += 1
    assert checked > 50

    def snap(path):
        return {
            (str(r["day"]), r["event_type"]): (
                tuple((i["k"], i["c"]) for i in r["items"]),
                r["err"],
                r["n_events"],
            )
            for r in spark.read.parquet(path).collect()
        }

    assert snap(paths[0]) == snap(paths[1])


def test_hh_merge_survives_all_subtracted_summaries(spark, tmp_path):
    """Edge the compress rule must handle: k+1 equal-count keys make the
    leaf subtract EVERYTHING (empty items, err = the common count); a
    later same-day merge of such a summary goes through the left-join
    coalesce path and the bounds stay valid."""
    from vectordb_similarity_search_spark.operators.sketches import (
        HH,
    )

    k = 2
    rows = [
        (i, dt.datetime(2026, 11, 1, 9), i % 3, "click", 1.0)
        for i in range(9)
    ]  # 3 keys x 3 events: top-(k+1) all equal -> items empty, err=3
    path = str(tmp_path / "hh")
    assert HH.upsert(_mk_batch(spark, rows), path, k=k) == 1
    first = spark.read.parquet(path).collect()
    assert len(first) == 1
    assert first[0]["items"] == [] and first[0]["err"] == 3
    # second batch: key 7 dominates
    rows2 = [
        (100 + i, dt.datetime(2026, 11, 1, 10), 7, "click", 1.0)
        for i in range(10)
    ]
    assert HH.upsert(_mk_batch(spark, rows2), path, k=k) == 1
    merged = spark.read.parquet(path).collect()[0]
    assert merged["n_events"] == 19
    assert _hh_mass_violations(spark.read.parquet(path), k) == 0
    got = {i["k"]: i["c"] for i in merged["items"]}
    # key 7 has true count 10; its counter must lower-bound it within err
    assert "7" in got and got["7"] <= 10 <= got["7"] + merged["err"]


def test_hh_validation_and_write_cross_check(spark, events, tmp_path):
    """Parameter validation plus the write-side sidecar cross-check: a
    too-large claimed k inflates the (k+1)·err mass term and is caught
    whenever any summary evicted; a corrupted items column is caught by
    the counter-positivity check."""
    from vectordb_similarity_search_spark.operators.sketches import (
        HH,
        daily_hh_sketches,
        rolling_hh,
    )

    with pytest.raises(ValueError, match="k must be"):
        daily_hh_sketches(events, k=0)
    with pytest.raises(ValueError, match="buckets"):
        daily_hh_sketches(events, buckets=0)
    with pytest.raises(ValueError, match="window_days"):
        rolling_hh(daily_hh_sketches(events, k=4), 0)
    with pytest.raises(ValueError, match="missing columns"):
        HH.write(events, str(tmp_path / "x"))

    ledger = daily_hh_sketches(events, k=8).cache()
    assert HH.write(ledger, str(tmp_path / "ok"), k=8) > 0
    with pytest.raises(ValueError, match="claimed k"):
        HH.write(ledger, str(tmp_path / "badk"), k=512)
    broken = ledger.withColumn(
        "items",
        F.transform(
            "items",
            lambda x: F.struct(
                x["k"].alias("k"), (x["c"] - 100).alias("c")
            ),
        ),
    )
    with pytest.raises(ValueError, match="claimed k"):
        HH.write(broken, str(tmp_path / "neg"), k=8)


def test_hh_plans_stay_scale_shaped(spark, events):
    """Plan-shape pins (round-10 form): the per-group top-n is a
    rank-limit window that MUST convert to WindowGroupLimit with a
    Partial (map-side) stage — ≤ n rows per group per task cross the
    exchange, never whole distinct-key buffers — no Python, and the
    readouts join broadcast-only. A plain Window WITHOUT the group-limit
    conversion would sort every group's full key set in one task — that
    is the regression this lint exists to catch."""
    from tests.conftest import plan_of
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_hh_sketches,
        hh_rollup,
        rolling_hh,
    )

    # k=6 on purpose: another test caches the k=8 ledger, and Spark's
    # CacheManager would serve the whole build as an InMemoryTableScan —
    # a 2-line plan that satisfies ANY shape assertion vacuously (the
    # pre-round-10 form of this lint was passing that way)
    p = plan_of(daily_hh_sketches(events, k=6))
    tree = p.split("(1)")[0]
    assert tree.count("Exchange") <= 5, tree
    # two WindowGroupLimit nodes = the Partial (map-side, pre-exchange)
    # and Final stages both present
    assert tree.count("WindowGroupLimit") >= 2, tree
    for frame in (
        hh_rollup(daily_hh_sketches(events, k=6), 10),
        rolling_hh(daily_hh_sketches(events, k=6), 7, 5),
    ):
        pp = plan_of(frame)
        assert "BroadcastNestedLoopJoin" not in pp
        assert "CartesianProduct" not in pp
        assert "BatchEvalPython" not in pp
        # every window in the plan must be a converted rank-limit
        body = pp.split("(1)")[0]
        if "Window" in body:
            assert "WindowGroupLimit" in body, body


def test_hh_estimate_brackets_exact_and_handles_absent_keys(spark, events):
    """Point interval probe: for every candidate — including keys that
    never survived any summary and keys that don't exist at all — the
    exact whole-range count lies in [lb, ub]; an absent key reads
    [0, Σ err]."""
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_hh_sketches,
        hh_estimate,
    )

    ledger = daily_hh_sketches(events, k=8).cache()
    cands = events.select("user_id").distinct().limit(50)
    exact = {
        r["k"]: r["c"]
        for r in events.groupBy(
            F.col("user_id").cast("string").alias("k")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    got = hh_estimate(ledger, cands, "user_id").collect()
    assert len(got) == 50
    for r in got:
        t = exact[r["user_id"]]
        assert r["lb"] <= t <= r["ub"], (r, t)
    err_total = ledger.agg(F.sum("err")).first()[0]
    ghost = spark.createDataFrame([("no-such-key",)], "user_id string")
    g = hh_estimate(ledger, ghost, "user_id").collect()[0]
    assert (g["lb"], g["ub"]) == (0, err_total)


def test_hh_rolling_by_type_brackets_exact(spark, events):
    """Per-type trailing windows: every (day, type) output key's exact
    trailing count lies in [lb, ub] — the family-symmetric readout."""
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_hh_sketches,
        rolling_hh_by_type,
    )

    k = 8
    ledger = daily_hh_sketches(events, k=k)
    got = rolling_hh_by_type(ledger, 7, 3).collect()
    assert got
    base = events.select(
        F.to_date("ts").alias("day"),
        "event_type",
        F.col("user_id").cast("string").alias("key"),
    )
    days = base.select("day").distinct().select(F.col("day").alias("out_day"))
    exact = {
        (str(r["out_day"]), r["event_type"], r["key"]): r["c"]
        for r in base.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("_o"),
            "day",
            "event_type",
            "key",
        )
        .select(F.date_add("day", "_o").alias("out_day"), "event_type", "key")
        .join(F.broadcast(days), "out_day", "left_semi")
        .groupBy("out_day", "event_type", "key")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .collect()
    }
    for r in got:
        t = exact[(str(r["day"]), r["event_type"], r["key"])]
        assert r["lb"] <= t <= r["ub"], (r, t)


# ---------------------------------------------------------------------------
# Deterministic row-sample ledger (approximate query processing)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def sample_events(spark):
    # events with a UNIQUE id and a value column (the HLL fixture has no
    # id/value); deterministic, 21 days, 3 types
    return (
        spark.range(30_000)
        .select(
            F.col("id").alias("event_id"),
            (
                F.to_timestamp(F.lit("2026-01-01 00:00:00"))
                + F.make_interval(
                    hours=F.pmod(F.xxhash64("id"), F.lit(21 * 24))
                )
            ).alias("ts"),
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("buy")),
                (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(3)) + 1).cast(
                    "int"
                ),
            ).alias("event_type"),
            (
                F.pmod(F.xxhash64("id", F.lit(3)), F.lit(1000)) / 10.0
            ).alias("value"),
        )
        .cache()
    )


def test_sample_estimates_within_binomial_error(spark, sample_events):
    """HT estimators vs exact grouped aggregates: p=3/4 over ~10k rows
    per type gives ~0.6% relative std; 5% is a many-sigma deterministic
    bound for this fixed hash family and fixture."""
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_sample_rows,
        sample_grouped_stats,
    )

    led = daily_sample_rows(sample_events)
    est = {r["event_type"]: r for r in sample_grouped_stats(led).collect()}
    exact = {
        r["event_type"]: r
        for r in sample_events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("value").alias("s"),
            F.avg("value").alias("a"),
        )
        .collect()
    }
    assert set(est) == set(exact)
    for t, x in exact.items():
        e = est[t]
        assert abs(e["est_count"] - x["c"]) / x["c"] < 0.05
        assert abs(e["est_sum"] - x["s"]) / abs(x["s"]) < 0.05
        assert abs(e["est_avg"] - x["a"]) / abs(x["a"]) < 0.05


def test_sample_rolling_matches_window_semantics(spark, sample_events):
    """Trailing-window estimates bracket the exact trailing aggregates
    (same tolerance), and every (day, type) cell with sampled rows is
    present."""
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_sample_rows,
        rolling_sample_stats,
    )

    led = daily_sample_rows(sample_events)
    got = {
        (str(r["day"]), r["event_type"]): r
        for r in rolling_sample_stats(led, 7).collect()
    }
    base = sample_events.select(
        F.to_date("ts").alias("day"), "event_type", "value"
    )
    days = base.select("day").distinct().select(F.col("day").alias("out_day"))
    exact = {
        (str(r["out_day"]), r["event_type"]): r
        for r in base.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("_o"),
            "day",
            "event_type",
            "value",
        )
        .select(F.date_add("day", "_o").alias("out_day"), "event_type", "value")
        .join(F.broadcast(days), "out_day", "left_semi")
        .groupBy("out_day", "event_type")
        .agg(F.count(F.lit(1)).alias("c"), F.avg("value").alias("a"))
        .collect()
    }
    assert set(got) == set(exact)
    for k, x in exact.items():
        e = got[k]
        assert abs(e["est_count"] - x["c"]) / x["c"] < 0.10, (k, e, x)
        assert abs(e["est_avg"] - x["a"]) / abs(x["a"]) < 0.10, (k, e, x)


def test_sample_upsert_idempotent_and_matches_one_shot(
    spark, sample_events, tmp_path
):
    """Three hash-split batches + one replay through the staged upsert:
    the stored sample equals the one-shot build row-for-row, and the
    replay changes nothing (distinct-union on a unique id)."""
    from vectordb_similarity_search_spark.operators.sketches import (
        SAMPLE,
        daily_sample_rows,
    )

    path = str(tmp_path / "s")
    for b in range(3):
        batch = sample_events.filter(
            F.pmod(F.xxhash64("event_id"), F.lit(3)) == b
        )
        assert SAMPLE.upsert(batch, path) > 0
    snap = lambda df: sorted(  # noqa: E731
        (str(r["day"]), r["id"], r["event_type"], r["value"])
        for r in df.collect()
    )
    s1 = snap(spark.read.parquet(path))
    SAMPLE.upsert(
        sample_events.filter(F.pmod(F.xxhash64("event_id"), F.lit(3)) == 1),
        path,
    )
    assert snap(spark.read.parquet(path)) == s1
    one_shot = daily_sample_rows(sample_events)
    assert snap(spark.read.parquet(path).select(*one_shot.columns)) == snap(
        one_shot
    )


def test_sample_validation_and_write_cross_check(
    spark, sample_events, tmp_path
):
    """Rate validation, keep-predicate cross-check, and the UNIQUE-id
    cross-check (a non-identity id column biases every estimate — must
    be caught at write time)."""
    from vectordb_similarity_search_spark.operators.sketches import (
        SAMPLE,
        daily_sample_rows,
        rolling_sample_stats,
        sample_grouped_stats,
    )

    with pytest.raises(ValueError, match="num"):
        daily_sample_rows(sample_events, num=4, den=4)
    with pytest.raises(ValueError, match="num"):
        sample_grouped_stats(None, num=0, den=4)
    with pytest.raises(ValueError, match="window_days"):
        rolling_sample_stats(None, 0)
    with pytest.raises(ValueError, match="missing columns"):
        SAMPLE.write(sample_events, str(tmp_path / "x"))

    led = daily_sample_rows(sample_events).cache()
    assert SAMPLE.write(led, str(tmp_path / "ok")) > 0
    with pytest.raises(ValueError, match="keep-predicate"):
        SAMPLE.write(led, str(tmp_path / "rate"), num=1, den=64)
    with pytest.raises(ValueError, match="duplicate id"):
        SAMPLE.write(
            led.unionByName(led.limit(3)), str(tmp_path / "dup")
        )


def test_sample_build_plans_no_shuffle(spark, sample_events):
    """The whole maintenance story: the ledger build is a filtered
    projection — ZERO exchanges; the grouped estimator adds exactly the
    one aggregation exchange any grouped question costs."""
    from tests.conftest import plan_of
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_sample_rows,
        sample_grouped_stats,
    )

    tree = plan_of(daily_sample_rows(sample_events)).split("(1)")[0]
    assert tree.count("Exchange") == 0, tree
    tree2 = plan_of(
        sample_grouped_stats(daily_sample_rows(sample_events))
    ).split("(1)")[0]
    assert tree2.count("Exchange") == 1, tree2


def test_hh_cms_interval_intersection_tightens_both(spark, events):
    """The cross-ledger contract hh_estimate's docstring claims: CMS
    never undercounts (est ≥ true) while MG brackets from both sides
    (lb ≤ true ≤ ub), so [lb, min(cms_est, ub)] is a valid interval —
    and for keys whose CMS estimate beats the MG upper bound it is
    STRICTLY tighter than either ledger alone."""
    from vectordb_similarity_search_spark.operators.sketches import (
        cms_estimate,
        daily_cms_sketches,
        daily_hh_sketches,
        hh_estimate,
    )

    hh = daily_hh_sketches(events, k=8)
    cms = daily_cms_sketches(events)
    cands = events.select("user_id").distinct().limit(40).cache()
    exact = {
        r["k"]: r["c"]
        for r in events.groupBy(
            F.col("user_id").cast("string").alias("k")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    mg = {
        r["user_id"]: (r["lb"], r["ub"])
        for r in hh_estimate(hh, cands, "user_id").collect()
    }
    cm = {
        str(r["user_id"]): r["est"]
        for r in cms_estimate(cms, cands, "user_id").collect()
    }
    assert set(mg) == set(cm)
    tightened = 0
    for key, (lb, ub) in mg.items():
        t = exact[key]
        cut = min(cm[key], ub)
        assert lb <= t <= cut, (key, lb, cut, t, cm[key], ub)
        if cm[key] < ub:
            tightened += 1
    # the fixture's MG ub (Σ err over 63 day-type leaves) is loose for
    # mid-frequency keys, so CMS must genuinely cut it somewhere
    assert tightened > 0


# ---------------------------------------------------------------------------
# Stratified bottom-k sample ledger
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def skewed_events(spark, sample_events):
    # sample_events with one stratum made rare (~1% of its rows kept):
    # the case uniform sampling fails and stratification must rescue
    return sample_events.filter(
        (F.col("event_type") != "buy")
        | (F.pmod(F.xxhash64("event_id"), F.lit(100)) == 0)
    ).cache()


def test_stratified_rare_stratum_exact_common_within_error(
    spark, skewed_events
):
    """The reason this ledger exists: the rare stratum keeps ALL its
    rows — estimates EXACT, is_exact TRUE — while common strata are
    capped and land within the without-replacement sampling error;
    est_count is exact for EVERY stratum (n rides the ledger)."""
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_stratified_sample,
        stratified_grouped_stats,
    )

    led = daily_stratified_sample(skewed_events, cap=64)
    est = {r["event_type"]: r for r in stratified_grouped_stats(led).collect()}
    exact = {
        r["event_type"]: r
        for r in skewed_events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("value").alias("s"),
            F.avg("value").alias("a"),
        )
        .collect()
    }
    assert set(est) == set(exact)
    for t, x in exact.items():
        e = est[t]
        assert e["n_exact"] == x["c"] and e["est_count"] == x["c"]
        assert abs(e["est_sum"] - x["s"]) / abs(x["s"]) < 0.08, (t, e, x)
        assert abs(e["est_avg"] - x["a"]) / abs(x["a"]) < 0.08, (t, e, x)
    rare = est["buy"]
    assert rare["is_exact"] and rare["n_sampled"] == rare["n_exact"]
    assert abs(rare["est_sum"] - exact["buy"]["s"]) < 1e-6
    assert not est["view"]["is_exact"]  # common strata genuinely capped


def test_stratified_merge_bit_equal_and_replay_semantics(
    spark, skewed_events, tmp_path
):
    """Bottom-cap of the union is ASSOCIATIVE: three hash-split batches
    through the staged upsert produce a ledger BIT-EQUAL to the one-shot
    build (rows AND the additive n column); a replayed batch leaves the
    sampled rows untouched (idempotent by id) while n would inflate —
    the documented marker-guarded column, exactly HLL's n_events."""
    from vectordb_similarity_search_spark.operators.sketches import (
        STRATIFIED,
        daily_stratified_sample,
    )

    path = str(tmp_path / "st")
    for b in range(3):
        batch = skewed_events.filter(
            F.pmod(F.xxhash64("event_id"), F.lit(3)) == b
        )
        STRATIFIED.upsert(batch, path, cap=64)

    def snap(df):
        return sorted(
            (str(r["day"]), r["event_type"], r["n"], r["id"], r["h"], r["value"])
            for r in df.collect()
        )

    stored = snap(spark.read.parquet(path))
    one_shot = snap(daily_stratified_sample(skewed_events, cap=64))
    assert stored == one_shot  # bit-equal incl. n, any partitioning

    STRATIFIED.upsert(
        skewed_events.filter(F.pmod(F.xxhash64("event_id"), F.lit(3)) == 1),
        path,
        cap=64,
    )
    replayed = snap(spark.read.parquet(path))
    assert [r[3] for r in replayed] == [r[3] for r in stored]  # rows fixed
    assert any(r[2] != s[2] for r, s in zip(replayed, stored))  # n inflated


def test_stratified_validation_and_write_cross_check(
    spark, skewed_events, tmp_path
):
    from vectordb_similarity_search_spark.operators.sketches import (
        STRATIFIED,
        daily_stratified_sample,
    )

    with pytest.raises(ValueError, match="cap"):
        daily_stratified_sample(skewed_events, cap=0)
    with pytest.raises(ValueError, match="missing columns"):
        STRATIFIED.write(skewed_events, str(tmp_path / "x"))

    led = daily_stratified_sample(skewed_events, cap=64).cache()
    assert STRATIFIED.write(led, str(tmp_path / "ok"), cap=64) > 0
    with pytest.raises(ValueError, match="contract"):
        STRATIFIED.write(led, str(tmp_path / "cap"), cap=10)
    broken = led.withColumn("h", F.col("h") + 1)
    with pytest.raises(ValueError, match="contract"):
        STRATIFIED.write(broken, str(tmp_path / "hash"), cap=64)


def test_stratified_write_validates_in_one_aggregate(
    spark, tmp_path, count_jobs
):
    """The write runs ONE read-back aggregate: its row count is Σm of the
    per-stratum validation aggregate, not a second full count (8 jobs
    when it also ran ``count()``; 6 with the one aggregate)."""
    from vectordb_similarity_search_spark.operators.sketches import (
        STRATIFIED,
        daily_stratified_sample,
    )

    rows = [
        (i, dt.datetime(2026, 5, 1 + i % 4, 9), i % 7, "abc"[i % 3], 1.0 * i)
        for i in range(300)
    ]
    led = daily_stratified_sample(_mk_batch(spark, rows), cap=16).cache()
    kept = led.count()
    n, jobs = count_jobs(STRATIFIED.write, led, str(tmp_path / "st"), cap=16)
    assert n == kept == 4 * 3 * 16
    assert jobs <= 6, jobs


# ---------------------------------------------------------------------------
# One ledger engine: the same contract for every kind
# ---------------------------------------------------------------------------

# The default-config sidecar of each kind as written before the kinds
# became LedgerKind specs; ledgers written then must stay maintainable.
_SIDECARS = {
    "hll": {"kind": "hll", "key_col": "user_id", "type_col": "event_type",
            "ts_col": "ts", "lg_k": 12},
    "cms": {"kind": "cms", "key_col": "user_id", "ts_col": "ts",
            "depth": 4, "width": 4096},
    "qsk": {"kind": "qsk", "value_col": "value", "type_col": "event_type",
            "ts_col": "ts", "k": 32},
    "theta": {"kind": "theta", "key_col": "user_id",
              "type_col": "event_type", "ts_col": "ts", "num": 3, "den": 4},
    "hh": {"kind": "hh", "key_col": "user_id", "type_col": "event_type",
           "ts_col": "ts", "k": 64},
    "sample": {"kind": "sample", "id_col": "event_id", "ts_col": "ts",
               "payload": ["event_type", "value"], "num": 3, "den": 4},
    "stratified": {"kind": "stratified", "id_col": "event_id",
                   "ts_col": "ts", "strata": ["event_type"],
                   "payload": ["value"], "cap": 1024},
}

# per kind: one config key and a value that differs from the default
_MISMATCH = {
    "hll": ("lg_k", 14),
    "cms": ("width", 1024),
    "qsk": ("k", 64),
    "theta": ("den", 8),
    "hh": ("k", 8),
    "sample": ("den", 8),
    "stratified": ("cap", 64),
}


def _file_bytes(path):
    import os

    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), path)] = fh.read()
    return out


@pytest.mark.parametrize("name", sorted(_SIDECARS))
def test_ledger_kind_contract(spark, tmp_path, name):
    """Every kind runs the same write/upsert/apply engine, so the
    maintenance contract holds for all seven alike: an empty first batch
    creates no store; a NULL-day upsert is refused with the store
    byte-identical, while the streaming apply drops the null-ts row; a
    replayed batch id changes no byte; a mismatched config is refused
    naming the key; an unknown config key is a TypeError; and the
    default sidecar is the one existing ledgers carry."""
    import json
    import os
    import re

    from vectordb_similarity_search_spark.operators.sketches import (
        LEDGER_KINDS,
    )
    from vectordb_similarity_search_spark.streaming.events import (
        apply_ledger_batch,
    )

    kind = LEDGER_KINDS[name]
    path = str(tmp_path / name)
    rows = [
        (1, dt.datetime(2026, 12, 1, 9), 1, "click", 1.0),
        (2, dt.datetime(2026, 12, 2, 9), 2, "view", 2.0),
    ]
    null = [(3, None, 3, "click", 3.0)]

    assert kind.upsert(_mk_batch(spark, []), path) == 0
    assert not os.path.exists(path)

    assert kind.upsert(_mk_batch(spark, rows), path) == 2
    with open(os.path.join(path, "_ledger_meta.json")) as fh:
        assert json.load(fh) == _SIDECARS[name]
    before = _file_bytes(path)
    with pytest.raises(ValueError, match="NULL day"):
        kind.upsert(_mk_batch(spark, rows + null), path)
    assert _file_bytes(path) == before

    key, value = _MISMATCH[name]
    with pytest.raises(ValueError, match=re.escape(f"disagrees on {{'{key}'")):
        kind.upsert(_mk_batch(spark, rows), path, **{key: value})
    assert _file_bytes(path) == before
    with pytest.raises(TypeError, match="bogus"):
        kind.upsert(_mk_batch(spark, rows), path, bogus=1)
    with pytest.raises(TypeError, match="bogus"):
        kind.write(None, str(tmp_path / "w"), bogus=1)

    stream = str(tmp_path / f"{name}_stream")
    batch = _mk_batch(spark, rows + null)
    assert apply_ledger_batch(kind, batch, 0, stream) is True

    def cells(p):
        return sorted(str(r) for r in spark.read.parquet(p).collect())

    assert cells(stream) == cells(path)  # the null-ts row was dropped
    applied = _file_bytes(stream)
    assert apply_ledger_batch(kind, batch, 0, stream) is False
    assert _file_bytes(stream) == applied


def test_ledger_writers_invalidate_cached_scans(spark, tmp_path):
    """Ledger writers keep cache.py's contract: an upsert that rewrites a
    stored day, and a retention pass that deletes one, drop the session's
    cached scan of the ledger, so the next scan lists the new files
    instead of serving the old listing."""
    from vectordb_similarity_search_spark.operators import ann
    from vectordb_similarity_search_spark.operators.sketches import (
        sketch_ledger_retention,
    )

    path = str(tmp_path / "ledger")
    assert HLL.upsert(
        _mk_batch(spark, [(1, dt.datetime(2026, 12, 5, 9), 1, "click", 1.0)]),
        path,
    ) == 1
    cached = ann._index_scan(spark, path)
    assert cached.count() == 1
    assert ann._index_scan(spark, path) is cached

    batch = [
        (2, dt.datetime(2026, 12, 5, 10), 2, "view", 1.0),
        (3, dt.datetime(2026, 12, 6, 10), 2, "view", 1.0),
    ]
    assert HLL.upsert(_mk_batch(spark, batch), path) == 2
    fresh = ann._index_scan(spark, path)
    assert fresh is not cached
    assert fresh.count() == 3

    assert sketch_ledger_retention(path, keep_days=1) == ["2026-12-05"]
    pruned = ann._index_scan(spark, path)
    assert pruned is not fresh
    assert pruned.count() == 1
