#!/usr/bin/env python
"""Mergeable HLL sketch ledger at scale (operators/sketches.py), vanilla
SparkSession.

What it proves (the 100 TB claims):

- ONE linear pass builds the leaf ledger; the trailing-window distinct
  query over the LEDGER beats the naive exact recompute (which
  re-shuffles rows x window_days) by an honest measured factor, while
  staying within the HLL error bound of the exact answer;
- leaf-union == direct-sketch estimate equality holds at scale (merge
  invariance — the property that makes pre-aggregation lossless);
- incremental maintenance: folding a new day's batch into the stored
  ledger costs a batch-sized pass, never a history rescan, and its
  estimates equal a full rebuild bit-for-bit;
- the rolling plan stays equi-join only (no BroadcastNestedLoopJoin).

    python scripts/scale_smoke_sketches.py          # ~2 min
    SMOKE_ROWS=50000000 python scripts/...          # bigger run
"""

from __future__ import annotations

import contextlib
import io
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

N_ROWS = int(os.environ.get("SMOKE_ROWS", 20_000_000))
N_DAYS = 60
N_USERS = 2_000_000
WINDOW = 7

failures: list[str] = []


def check(name: str, ok: bool, detail: str = "") -> None:
    print(f"{'PASS' if ok else 'FAIL'}  {name}  {detail}", flush=True)
    if not ok:
        failures.append(name)


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.operators.sketches import (
        HLL,
        daily_hll_sketches,
        rolling_distinct,
        sketch_ledger_merge_batch,
    )

    # 8g heap: the NAIVE contender's partial-distinct hash state (rows x
    # window_days (day,user) pairs across 8 threads) OOMs the 1g local
    # default — the ledger path itself runs fine there, which is half
    # the story this smoke tells. Shared heap keeps the timing fair.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("scale-smoke-sketches")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def gen(n: int, day_lo: int, day_hi: int):
        # deterministic skewed events: user popularity is heavy-tailed
        # (pmod of squared hash), days uniform in [day_lo, day_hi)
        return spark.range(n).select(
            (
                F.to_timestamp(F.lit("2026-01-01 00:00:00"))
                + F.make_interval(
                    days=day_lo + F.pmod(F.xxhash64("id"), F.lit(day_hi - day_lo)),
                    hours=F.pmod(F.xxhash64("id", F.lit(9)), F.lit(24)),
                )
            ).alias("ts"),
            F.pmod(
                F.pmod(F.xxhash64("id", F.lit(1)), F.lit(N_USERS))
                * F.pmod(F.xxhash64("id", F.lit(2)), F.lit(97)),
                F.lit(N_USERS),
            ).alias("user_id"),
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("buy")),
                (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(3)) + 1).cast("int"),
            ).alias("event_type"),
        )

    # NOT persisted: the generator is deterministic (per-id hashes), so
    # both contenders recompute identical input; persisting 20M wide rows
    # would blow the vanilla session's default heap, and the honest
    # comparison charges each contender its own input pass anyway.
    events = gen(N_ROWS, 0, N_DAYS)

    # --- 1. ledger build: the one linear pass --------------------------
    t0 = time.perf_counter()
    ledger = daily_hll_sketches(events).persist()
    n_leaves = ledger.count()
    wall_build = time.perf_counter() - t0

    # --- 2. rolling window: ledger vs naive exact ----------------------
    t0 = time.perf_counter()
    est = {
        str(r["day"]): r["est_distinct"]
        for r in rolling_distinct(ledger, WINDOW).collect()
    }
    wall_ledger = time.perf_counter() - t0

    t0 = time.perf_counter()
    base = events.select(F.to_date("ts").alias("day"), "user_id")
    contrib = base.select(
        F.explode(F.sequence(F.lit(0), F.lit(WINDOW - 1))).alias("_o"),
        "day",
        "user_id",
    ).select(F.date_add("day", F.col("_o")).alias("out_day"), "user_id")
    days = base.select("day").distinct().select(F.col("day").alias("out_day"))
    exact = {
        str(r["out_day"]): r["d"]
        for r in contrib.join(F.broadcast(days), "out_day", "left_semi")
        .groupBy("out_day")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    wall_exact = time.perf_counter() - t0

    worst_err = max(
        abs(est[d] - exact[d]) / exact[d] for d in exact
    )
    check(
        "ledger_rolling_beats_exact_recompute",
        set(est) == set(exact)
        # max over ~60 window estimates at lg_k=12 (1.6% RSE): 5% is a
        # >3-sigma bound for the worst of the batch (3.5% observed)
        and worst_err < 0.05
        and wall_ledger < wall_exact,
        f"rows={N_ROWS:,} leaves={n_leaves} build={wall_build:.1f}s "
        f"ledger_query={wall_ledger:.1f}s exact_recompute={wall_exact:.1f}s "
        f"speedup={wall_exact / max(wall_ledger, 1e-9):.1f}x "
        f"worst_rel_err={worst_err:.4%}",
    )

    # --- 3. merge invariance at scale ----------------------------------
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
    check(
        "leaf_union_equals_direct_sketch",
        via_leaves == direct,
        f"union={via_leaves} direct={direct}",
    )

    # --- 4. incremental maintenance vs rebuild -------------------------
    import tempfile

    store = tempfile.mkdtemp(prefix="smoke_sketch_ledger_")
    path = os.path.join(store, "ledger")
    HLL.write(ledger, path)
    batch = gen(N_ROWS // 20, N_DAYS, N_DAYS + 1)

    t0 = time.perf_counter()
    merged = sketch_ledger_merge_batch(spark, batch, path).persist()
    merged.count()
    wall_merge = time.perf_counter() - t0

    t0 = time.perf_counter()
    rebuilt = daily_hll_sketches(events.unionByName(batch)).persist()
    rebuilt.count()
    wall_rebuild = time.perf_counter() - t0

    def estimates(df):
        return sorted(
            (str(r["day"]), r["event_type"], r["n_events"], r["e"])
            for r in df.select(
                "day",
                "event_type",
                "n_events",
                F.hll_sketch_estimate("sk").cast("long").alias("e"),
            ).collect()
        )

    check(
        "incremental_merge_matches_rebuild",
        estimates(merged) == estimates(rebuilt) and wall_merge < wall_rebuild,
        f"merge={wall_merge:.1f}s rebuild={wall_rebuild:.1f}s "
        f"speedup={wall_rebuild / max(wall_merge, 1e-9):.1f}x",
    )

    # --- 5. plan hygiene ------------------------------------------------
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rolling_distinct(ledger, WINDOW).explain(mode="formatted")
    plan = buf.getvalue()
    check(
        "rolling_plan_equi_join_only",
        "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan,
    )

    import shutil

    shutil.rmtree(store, ignore_errors=True)

    # --- 5. count-min frequency ledger at the same scale (round 8) -----
    from vectordb_similarity_search_spark.operators.sketches import (
        CMS_WIDTH,
        cms_estimate,
        daily_cms_sketches,
    )

    t0 = time.perf_counter()
    cms = daily_cms_sketches(events).persist()
    n_cells = cms.count()
    t_cms_build = time.perf_counter() - t0
    # exact counts for the 50 heaviest users (the candidate set a
    # Misra-Gries pass would feed)
    top = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("user_id").asc())
        .limit(50)
    ).persist()
    t0 = time.perf_counter()
    est = {r["user_id"]: r["est"]
           for r in cms_estimate(cms, top, "user_id").collect()}
    t_cms_probe = time.perf_counter() - t0
    bound = 3 * -(-N_ROWS // CMS_WIDTH)
    bad = [
        (r["user_id"], est[r["user_id"]], r["exact_n"])
        for r in top.collect()
        if not (0 <= est[r["user_id"]] - r["exact_n"] <= bound)
    ]
    check(
        "cms_top50_never_undercount_and_bounded",
        not bad,
        f"(ledger {n_cells} cells, build {t_cms_build:.1f}s, "
        f"probe {t_cms_probe:.1f}s, bound {bound})",
    )
    cms.unpersist()
    top.unpersist()

    # --- 6. quantile rank-sketch ledger at the same scale (round 9) ----
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_qsk_sketches,
        qsk_relative_bound,
        rolling_percentiles,
    )

    ev_val = events.withColumn(
        "value",
        # ~100k distinct positive values: enough spread to probe many
        # buckets while keeping the EXACT contender feasible (Spark's
        # exact percentile buffers per-distinct-value counts per group —
        # 10M distinct OOMs the shared 8g heap; the LEDGER path is
        # cardinality-independent either way)
        (F.pmod(F.xxhash64("user_id", "ts"), F.lit(100_000)) / 100.0),
    )
    t0 = time.perf_counter()
    qled = daily_qsk_sketches(ev_val).persist()
    n_qleaves = qled.count()
    t_q_build = time.perf_counter() - t0

    t0 = time.perf_counter()
    qest = {
        str(r["day"]): (r["p5"], r["p9"], r["p99"])
        for r in rolling_percentiles(qled, WINDOW).collect()
    }
    t_q_ledger = time.perf_counter() - t0

    # EXACT contender, scale-shaped: Spark's built-in exact
    # ``percentile`` buffers a boxed per-distinct-value map per group
    # per task and OOMs the shared heap at this scale, so the honest
    # exact recompute is distributed (out_day, value) counts + the same
    # in-array (n-1)p rank interpolation over EXACT values — feasible
    # only because this corpus has ~100k distinct values; at real-world
    # cardinality even this collapses, which is the ledger's point.
    t0 = time.perf_counter()
    vbase = ev_val.select(F.to_date("ts").alias("day"), "value")
    vdays = vbase.select("day").distinct().select(
        F.col("day").alias("out_day")
    )
    vcounts = (
        vbase.select(
            F.explode(F.sequence(F.lit(0), F.lit(WINDOW - 1))).alias("_o"),
            "day",
            "value",
        )
        .select(F.date_add("day", F.col("_o")).alias("out_day"), "value")
        .join(F.broadcast(vdays), "out_day", "left_semi")
        .groupBy("out_day", "value")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .groupBy("out_day")
        .agg(
            F.sum("cnt").cast("long").alias("n"),
            F.array_sort(F.collect_list(F.struct("value", "cnt"))).alias(
                "arr"
            ),
        )
    )

    def rank_val(r):
        acc0 = F.struct(
            F.lit(0).cast("long").alias("cum"),
            F.lit(None).cast("double").alias("vv"),
        )
        res = F.aggregate(
            F.col("arr"),
            acc0,
            lambda acc, x: F.struct(
                (acc["cum"] + x["cnt"]).alias("cum"),
                F.when(acc["vv"].isNotNull(), acc["vv"])
                .when(acc["cum"] + x["cnt"] >= r, x["value"])
                .alias("vv"),
            ),
        )
        return res["vv"]

    qx_cols = [F.col("out_day")]
    for q, nm in ((0.5, "x5"), (0.9, "x9"), (0.99, "x99")):
        pos = (F.col("n") - 1).cast("double") * F.lit(q)
        i = F.floor(pos).cast("long")
        frac = pos - i.cast("double")
        lo = rank_val(i + 1)
        hi = rank_val(F.least(i + 2, F.col("n")))
        qx_cols.append(((1.0 - frac) * lo + frac * hi).alias(nm))
    qexact = {
        str(r["out_day"]): (r["x5"], r["x9"], r["x99"])
        for r in vcounts.select(*qx_cols).collect()
    }
    t_q_exact = time.perf_counter() - t0
    qbound = qsk_relative_bound() * (1 + 1e-6)
    q_worst = max(
        abs(e - x) / x
        for d in qexact
        for e, x in zip(qest[d], qexact[d])
    )
    check(
        "qsk_rolling_within_bound_and_beats_exact",
        set(qest) == set(qexact)
        and q_worst <= qbound
        and t_q_ledger < t_q_exact,
        f"leaves={n_qleaves} build={t_q_build:.1f}s "
        f"ledger_query={t_q_ledger:.1f}s exact_recompute={t_q_exact:.1f}s "
        f"speedup={t_q_exact / max(t_q_ledger, 1e-9):.1f}x "
        f"worst_rel_err={q_worst:.4%} (structural bound {qbound:.4%})",
    )
    qled.unpersist()

    # --- 7. theta set-operation ledger at the same scale (round 9) -----
    # Production-shaped sampling rate (p = 1/64 here; 2^-12 at 100 TB):
    # the intersection estimate must land within the binomial error of
    # the EXACT pairwise overlap, and the sampled ledger must be ~p of
    # the distinct rows (the map-side filter is the scale story).
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_theta_sketches,
        theta_overlap,
    )

    t0 = time.perf_counter()
    tled = daily_theta_sketches(events, num=1, den=64).persist()
    n_trows = tled.count()
    t_t_build = time.perf_counter() - t0
    t0 = time.perf_counter()
    test_rows = {
        (r["type_a"], r["type_b"]): (r["est_both"], r["est_union"])
        for r in theta_overlap(tled, num=1, den=64).collect()
    }
    t_t_query = time.perf_counter() - t0
    t0 = time.perf_counter()
    ut = events.select("event_type", "user_id").distinct()
    texact = {
        (r["type_a"], r["type_b"]): r["n_both"]
        for r in ut.alias("a")
        .join(
            ut.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
        .collect()
    }
    t_t_exact = time.perf_counter() - t0
    t_worst = max(
        abs(test_rows[k][0] - x) / x for k, x in texact.items()
    )
    n_dist = ut.count()
    check(
        "theta_overlap_within_binomial_error",
        set(test_rows) == set(texact)
        # ~1.3M-key intersections at p=1/64: rel std ~ 0.7%; 3% is >4σ
        and t_worst < 0.03
        # leaf rows are (day, type, h) triples: bounded by p of the raw
        # row count — the map-side filter ran before the shuffle
        and n_trows < N_ROWS / 64 * 1.3,
        f"sampled_rows={n_trows:,} (of {n_dist:,} distinct) "
        f"build={t_t_build:.1f}s overlap_query={t_t_query:.1f}s "
        f"exact_selfjoin={t_t_exact:.1f}s worst_rel_err={t_worst:.4%}",
    )
    tled.unpersist()

    # --- 8. heavy-hitters ledger at the same scale (round 9) -----------
    # A Zipf(1)-shaped key (inverse-CDF over a uniform hash: density
    # ∝ 1/key) — heavy hitters are only meaningful under skew; the
    # near-uniform user_id above would drown ANY summary's error term.
    # Claims: every rollup interval brackets the exact count, interval
    # width respects the telescoped N/(k+1) bound, the exact top-5 keys
    # are all surfaced, and the ledger query beats the exact
    # full-groupBy recompute it replaces.
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_hh_sketches,
        hh_rollup,
    )

    HH_SMOKE_K = 256
    zipf = events.withColumn(
        "user_id",
        F.floor(
            F.exp(
                (F.pmod(F.xxhash64("user_id", F.lit(17)), F.lit(1_000_000))
                 / 1_000_000.0)
                * float(math.log(N_USERS))
            )
        ).cast("long"),
    )
    t0 = time.perf_counter()
    hled = daily_hh_sketches(zipf, k=HH_SMOKE_K).persist()
    n_hleaves = hled.count()
    t_h_build = time.perf_counter() - t0
    t0 = time.perf_counter()
    htop = hh_rollup(hled, 20).collect()
    t_h_ledger = time.perf_counter() - t0
    t0 = time.perf_counter()
    scoped = zipf.select(
        F.explode(
            F.array(
                F.concat(F.lit("type:"), F.col("event_type")),
                F.lit("total"),
            )
        ).alias("scope"),
        F.col("user_id").cast("string").alias("key"),
    ).groupBy("scope", "key").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).persist()
    hexact = {
        (r["scope"], r["key"]): r["c"]
        for r in scoped.join(
            F.broadcast(
                spark.createDataFrame(
                    [(r["scope"], r["key"]) for r in htop],
                    "scope string, key string",
                )
            ),
            ["scope", "key"],
        ).collect()
    }
    from pyspark.sql.window import Window as _W

    exact_top5 = {
        (r["scope"], r["key"])
        for r in scoped.withColumn(
            "rn",
            F.row_number().over(
                _W.partitionBy("scope").orderBy(
                    F.col("c").desc(), F.col("key")
                )
            ),
        )
        .filter(F.col("rn") <= 5)
        .collect()
    }
    t_h_exact = time.perf_counter() - t0
    scope_n = {
        ("type:" + r["event_type"] if r["event_type"] else "total"): r["n"]
        for r in hled.groupBy("event_type")
        .agg(F.sum("n_events").alias("n"))
        .collect()
    }
    scope_n["total"] = sum(scope_n.values())
    h_bad = sum(
        1
        for r in htop
        if not (
            r["lb"] <= hexact[(r["scope"], r["key"])] <= r["ub"]
            and r["ub"] - r["lb"]
            <= scope_n[r["scope"]] / (HH_SMOKE_K + 1) + 1
        )
    )
    surfaced = {(r["scope"], r["key"]) for r in htop}
    h_missed = len(exact_top5 - surfaced)
    check(
        "hh_rollup_brackets_exact_and_beats_recompute",
        h_bad == 0 and h_missed == 0 and t_h_ledger < t_h_exact,
        f"leaves={n_hleaves} build={t_h_build:.1f}s "
        f"ledger_query={t_h_ledger:.1f}s exact_recompute={t_h_exact:.1f}s "
        f"speedup={t_h_exact / max(t_h_ledger, 1e-9):.1f}x "
        f"bad_intervals={h_bad} top5_missed={h_missed}",
    )
    hled.unpersist()
    scoped.unpersist()

    # --- 9. row-sample (AQP) ledger at the same scale (round 9) --------
    # Production-shaped rate p = 1/256: the stored sample must be ~p of
    # the rows (the build is a filtered projection — no shuffle), and
    # the HT grouped estimates must land within the binomial error of
    # the exact aggregates while the sample-side query beats the
    # full-scan recompute it replaces.
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_sample_rows,
        sample_grouped_stats,
    )

    aqp_events = spark.range(N_ROWS).select(
        F.col("id").alias("event_id"),
        (
            F.to_timestamp(F.lit("2026-01-01 00:00:00"))
            + F.make_interval(days=F.pmod(F.xxhash64("id"), F.lit(N_DAYS)))
        ).alias("ts"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("buy")),
            (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(3)) + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(F.xxhash64("id", F.lit(5)), F.lit(10_000)) / 100.0).alias(
            "value"
        ),
    )
    t0 = time.perf_counter()
    sled = daily_sample_rows(aqp_events, num=1, den=256).persist()
    n_srows = sled.count()
    t_s_build = time.perf_counter() - t0
    t0 = time.perf_counter()
    s_est = {
        r["event_type"]: r
        for r in sample_grouped_stats(sled, num=1, den=256).collect()
    }
    t_s_query = time.perf_counter() - t0
    t0 = time.perf_counter()
    s_exact = {
        r["event_type"]: r
        for r in aqp_events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("value").alias("s"),
            F.avg("value").alias("a"),
        )
        .collect()
    }
    t_s_exact = time.perf_counter() - t0
    # per type: ~26k sampled rows at p=1/256 -> rel std ~0.6%; 3% is >4σ
    s_worst = max(
        max(
            abs(s_est[t]["est_count"] - x["c"]) / x["c"],
            abs(s_est[t]["est_sum"] - x["s"]) / abs(x["s"]),
            abs(s_est[t]["est_avg"] - x["a"]) / abs(x["a"]),
        )
        for t, x in s_exact.items()
    )
    check(
        "sample_aqp_within_binomial_error_and_beats_scan",
        set(s_est) == set(s_exact)
        and s_worst < 0.03
        and n_srows < N_ROWS / 256 * 1.3
        and t_s_query < t_s_exact,
        f"sampled_rows={n_srows:,} (p=1/256) build={t_s_build:.1f}s "
        f"sample_query={t_s_query:.1f}s exact_scan={t_s_exact:.1f}s "
        f"speedup={t_s_exact / max(t_s_query, 1e-9):.1f}x "
        f"worst_rel_err={s_worst:.4%}",
    )
    sled.unpersist()

    # --- 10. stratified bottom-k sample at the same scale (round 9) ----
    # The skew case the uniform sample fails: one stratum at ~0.01%
    # share. The rare stratum must come back EXACT (it fits under the
    # cap) while the common strata land within the without-replacement
    # sampling error, and the ledger stays ~Σ min(cap·days, n_g) rows.
    from vectordb_similarity_search_spark.operators.sketches import (
        daily_stratified_sample,
        stratified_grouped_stats,
    )

    skewed = spark.range(N_ROWS).select(
        F.col("id").alias("event_id"),
        (
            F.to_timestamp(F.lit("2026-01-01 00:00:00"))
            + F.make_interval(days=F.pmod(F.xxhash64("id"), F.lit(N_DAYS)))
        ).alias("ts"),
        F.when(F.pmod(F.xxhash64("id", F.lit(11)), F.lit(10_000)) == 0,
               F.lit("rare"))
        .otherwise(
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("buy")),
                (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(3)) + 1).cast(
                    "int"
                ),
            )
        )
        .alias("event_type"),
        (F.pmod(F.xxhash64("id", F.lit(5)), F.lit(10_000)) / 100.0).alias(
            "value"
        ),
    )
    ST_CAP = 64
    t0 = time.perf_counter()
    stled = daily_stratified_sample(skewed, cap=ST_CAP).persist()
    n_strows = stled.count()
    t_st_build = time.perf_counter() - t0
    t0 = time.perf_counter()
    st_est = {
        r["event_type"]: r
        for r in stratified_grouped_stats(stled).collect()
    }
    t_st_query = time.perf_counter() - t0
    st_exact = {
        r["event_type"]: r
        for r in skewed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("value").alias("s"),
            F.avg("value").alias("a"),
        )
        .collect()
    }
    rare_ok = (
        st_est["rare"]["is_exact"]
        and abs(st_est["rare"]["est_sum"] - st_exact["rare"]["s"]) < 1e-6
        and st_est["rare"]["n_exact"] == st_exact["rare"]["c"]
    )
    st_worst = max(
        max(
            abs(st_est[t]["est_sum"] - x["s"]) / abs(x["s"]),
            abs(st_est[t]["est_avg"] - x["a"]) / abs(x["a"]),
        )
        for t, x in st_exact.items()
        if t != "rare"
    )
    count_exact_all = all(
        st_est[t]["est_count"] == x["c"] for t, x in st_exact.items()
    )
    check(
        "stratified_rare_exact_common_within_error",
        rare_ok
        and count_exact_all
        # common strata: 64x60 ≈ 3.8k sampled of ~6.7M -> pooled rel
        # std ~1%; 5% is a many-sigma bound
        and st_worst < 0.05
        and n_strows <= (3 * ST_CAP + 70) * N_DAYS,
        f"ledger_rows={n_strows:,} build={t_st_build:.1f}s "
        f"query={t_st_query:.1f}s rare_n={st_exact['rare']['c']:,} "
        f"rare_exact={rare_ok} worst_common_rel_err={st_worst:.4%}",
    )
    stled.unpersist()

    n_checks = 10
    print(
        f"{'OK' if not failures else 'FAILED'} "
        f"({n_checks - len(failures)}/{n_checks})"
    )
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
