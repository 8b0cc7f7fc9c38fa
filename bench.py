#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline query set at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``. Output contract (round 5): the full
per-query detail is written to ``bench_result.json`` AND printed as an
early stdout line; the LAST stdout line is a compact (<1500 char)
headline JSON — ``{"metric", "value", "unit", "queries", group totals,
machine factors, "sf"}`` — sized to survive the driver's bounded
tail-capture (BENCH_r04 recorded ``"parsed": null`` because the single
detail line outgrew that window).

Protocol (round 4 — self-evidencing against environment drift):

* every query gets ONE untimed warm run (codegen compile, page cache,
  broadcast build) and then the MIN of 3 timed runs is reported — min of
  warm runs estimates plan cost with compile/scheduler noise stripped;
* a fixed CALIBRATION probe (pure spark.range compute + one tiny shuffle,
  no data dependency) runs as the MEDIAN of three min-of-3 batches
  (round-8 stabilization — one co-tenancy spike no longer swings the
  session blend; see _stable_probe); its ratio against the committed
  ``CALIBRATION_BASELINE_SEC`` (measured round 4, BASELINE.md)
  is the machine factor for the run. ``queries_normalized`` divides each
  raw timing by that factor, so cross-round comparisons separate "the VM
  got slower" (uniform machine factor shift) from "a plan regressed"
  (normalized number moved);
* a SECOND calibration probe exercises the parquet-scan path (footer
  decode, page decompression, scan codegen) the compute probe avoids;
  ``queries_normalized`` divides by the GEOMETRIC MEAN of the two machine
  factors since the query set is part compute, part columnar IO. Both
  pins are the MIN observed in bench context on the round-4 VM — this
  VM's probe walls swing ~1.5-1.7x between sessions (co-tenancy), which
  is exactly why raw cross-round totals must not be read without the
  factors printed beside them;
* a third group times the WRITE-path operators (MERGE 1%-CDC into
  lineitem, SCD2 apply on a customer dimension, z-ordered write of
  orders) with setup excluded — each run gets a fresh snapshot copy.

Each read query executes via the noop writer so the full physical plan
runs (scan → shuffle → agg) without driver-side collection skewing the
numbers.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from vectordb_similarity_search_spark.plans import REGISTRY  # noqa: E402
from vectordb_similarity_search_spark.session import get_spark  # noqa: E402

# Representative, scale-meaningful subset: one per operator family.
# (t_ngram_jaccard_pairs is deliberately absent — it is the quadratic exact
# baseline; its scale path d_minhash_lsh_pairs IS here.)
HEADLINE = [
    "v_knn_cosine",          # brute-force 1xN cosine top-k
    "v_sim_join_topk",       # NxM similarity join
    "v_centroids",           # vector aggregation
    "d_embedding_neardup",   # exact pairwise cosine threshold
    "d_minhash_lsh_pairs",   # MinHash+LSH near-dup (scale path)
    "r_pricing_summary",     # scan-heavy grouped agg
    "r_market_revenue",      # multi-join top-N
    "r_range_join",          # equi+range join
    "r_rollup_revenue",      # grouping sets
    "w_running_sum",         # window frames
    "e_session_windows",     # sessionization
    "e_asof_join",           # as-of join
    "t_token_stats",         # text tokenization agg
    "t_exact_dedup",         # hash dedup summary
]

# Second group: the round-2 training-data-pipeline surface. Kept OUT of
# the headline total so the 14-query cross-round series stays comparable;
# reported as its own total alongside.
PIPELINE = [
    "t_decontaminate",       # benchmark-suite n-gram decontamination
    "t_bm25_phrase",         # phrase-boosted BM25 retrieval
    "d_semantic_prune",      # SemDeDup-style within-cell semantic dedup
    "t_nb_quality",          # closed-form trained quality classifier
    "t_bpe_apply",           # learned-tokenizer corpus encode + fertility
    "d_substring_spans",     # ExactSubstr duplicated-span report
    "t_line_dedup",          # corpus line dedup (keep-first rewrite)
    "t_token_shards",        # balanced-shard plan on distributed ranks
    "e_attribution",         # last-touch credit over the user exchange
    "d_banding_curve",       # LSH banding advisor (exact truth + 4 configs)
]

# Fourth group (round 4): the ANN serving paths. First warm run pays the
# one-time index/model build (cached per process); min-of-3 then measures
# the steady-state probe cost — the number a serving tier cares about.
ANN = [
    "v_ivf_knn",             # single query, partition-pruned probe
    "v_ivf_knn_batch",       # 100 queries, one pruned scan + grouped rank
    "v_sq8_knn",             # 4x-compressed screen + exact rescore
    "v_pq_knn",              # 16x-compressed ADC screen + exact rescore
    "v_bq_knn",              # 10.7x thermometer-bit JVM popcount screen
    "v_ivf_knn_filtered",    # metadata-filtered pruned probe
    "v_filtered_knn",        # exact filtered search (semi-join allow-list)
    "v_search_docs",         # top-k + broadcast payload hydration
    "v_mmr_rerank",          # top-25 retrieve + MMR diversity rerank
    "v_late_interaction",    # ColBERT-style sum-of-max, multi-vector docs
    "v_triplet_mining",      # NN positive + semi-hard negatives, one scan
    "v_grouped_knn",         # top-k per payload group, WindowGroupLimit
    "t_bm25_indexed",        # BM25 from the written inverted index
    "t_bm25_incremental",    # BM25 from the build+append (ingest-path) index
    "v_ivfpq_knn",           # two-level IVF-PQ probe (ADC + exact rescore)
    "v_knn_graph",           # mutual kNN graph build (block-grid top-k)
    "v_link_prediction",     # Adamic-Adar wedges over the mutual graph
    "t_hashtf_knn",          # hashed-TF lexical vector search
    "v_adaptive_knn",        # escalating-nprobe filtered serving loop
                             # (memoized result frame: the 0.09 s pin
                             # measures cached-escalation serving, not a
                             # cold probe — labeled per round-5 verdict)
]

# Fifth group (round-4 seventh session): the product-analytics surface —
# attribution/experiment/inequality/association/robust-stats reports.
# Small plans by design; benched so regressions in the window/aggregate
# machinery they share show up as a group-total drift.
ANALYTICS = [
    "e_ab_test",             # hash-split experiment + z statistic
    "e_markov_transitions",  # event-type transition matrix
    "e_funnel_latency",      # asof pairing + exact gap percentiles
    "e_audience_overlap",    # in-array pair gen + jaccard
    "e_gini_users",          # exact rank-formula inequality
    "r_rfm_segments",        # three total-order ntile quartiles
    "r_winsorized_mean",     # percentile clamp, decomposed exact mean
    "t_chisq_lang_source",   # fixed-order fold chi-square
    "t_readability_ari",     # BIGINT-sum corpus readability
    "e_session_stats",       # session_window + duration percentiles
    "r_pareto_revenue",      # DECIMAL cumulative concentration tiers
    "e_seasonal_profile",    # dow x hod exact seasonal baseline
    "e_dau_wau",             # one distinct exchange, DAU/WAU stickiness
    "r_monthly_growth",      # DECIMAL lag growth trend
    "w_percentile_rank",     # percent_rank/cume_dist/decile trio
    "e_ewma_smooth",         # unrolled 12-term EWMA, one window exchange
    "r_benford",             # first-digit audit, 9-group aggregate
    "r_corr_matrix",         # one-scan sufficient-stats correlation matrix
    "t_keyword_tfidf",       # corpus df + broadcast tf, WindowGroupLimit
    "r_k_anonymity",         # one GROUPING SETS exchange, two QI levels
    "r_dp_counts",           # content-keyed Laplace release
    "e_cuped",               # DECIMAL sufficient-stats CUPED adjustment
    "e_changepoint",         # integer CUSUM peak per series
    "t_pmi_bigrams",         # PMI collocations, window-sum totals
    "t_token_entropy",       # ppm-quantized Shannon entropy per lang
    "v_label_ndcg",          # broadcast-queries retrieval eval
    "d_ppjoin_pairs",        # exact prefix-filtered similarity join
    "e_power_analysis",      # sample-size planning over shared z literals
    "r_theil_index",         # decomposed inequality, DECIMAL+ppm-ln sums
    "e_top_sequences",       # event trigram mining, one user window
    "d_novelty_curve",       # first-occurrence gram share per decile
    "t_bm25_prf",            # 2-stage PRF: feedback -> dynamic-term fold
    "t_nb_crossval",         # 3-fold CV by count subtraction
    "r_skyline",             # 2-D Pareto frontier, one sort exchange
    "e_cohort_ltv",          # cumulative cohort revenue curves
    # round-5 additions (bench every new nontrivial query the session it
    # lands — round-4 lesson; unpinned until the next bench_pins refresh)
    "r_equidepth_histogram", # fact-table global_ntile equi-depth buckets
    "t_heldout_ppl",         # held-out bigram LM quality score
    "r_entity_resolution",   # fuzzy pairs -> components -> golden records
    "r_mutual_info",         # MI/NMI from one quantized-ln cell aggregate
    "e_forecast_baseline",   # seasonal-naive backtest, leakage-free MAE
    # round-6 additions (same rule; unpinned until the next pins refresh)
    "e_mad_outliers",        # median/MAD robust outlier fences
    "r_hhi_concentration",   # revenue-concentration HHI per region
    "e_stream_audit",        # exactly-once ledger observability report
    "t_kl_divergence",       # per-source KL drift from the corpus mixture
    "r_survival_km",         # Kaplan-Meier churn survival curve
    "r_bootstrap_ci",        # Poisson-bootstrap grouped mean CI
    "e_conformal",           # split conformal intervals + test coverage
    "e_did",                 # difference-in-differences panel baseline
    "w_streaks",             # gaps-and-islands longest activity streak
    "t_temperature_mixture", # n^alpha low-resource upsampling weights
    "r_lorenz_curve",        # spend-decile cumulative revenue shares
    "e_burstiness",          # hourly dispersion index (Fano factor)
    "t_lang_outliers",       # per-source majority-language deviation audit
    "v_ood_centroid",        # centroid-argmax confident-mislabel screen
    "s_time_split",          # embargoed temporal train/test split audit
    "r_ab_srm",              # sample-ratio-mismatch chi-square guard
    "t_dedup_impact",        # per-source dedup token-waste attribution
    "w_moving_median",       # robust sliding median (frame percentile)
    "e_hll_rolling_users",   # mergeable-sketch 7d rolling distinct
    "e_hll_type_rollup",     # leaf-sketch union re-aggregation
    "e_new_users_curve",     # exact first-seen growth curve
    "r_mann_whitney",        # rank-sum nonparametric A/B metric test
    "m_wav_loudness",        # real-WAV codec loudness features
    "e_hll_rolling_by_type", # per-type sketch-ledger rolling distinct
    "e_stream_sketch_audit", # streaming sketch-ledger exactly-once audit
    "e_cms_user_counts",     # count-min frequency ledger, top-user probes
    # round-9 additions (same rule; pinned at round-9 close)
    "e_qsk_rolling_percentiles",  # quantile rank-sketch 7d rolling p50/p99
    "e_sketch_overlap",      # theta-sampled segment set-operation matrix
    "e_qsk_type_percentiles",  # quantile-ledger type/total re-aggregation
    "e_hh_rollup",           # heavy-hitters ledger interval-bound top-k
    "e_hh_rolling",          # heavy-hitters ledger trailing-window top-k
    "e_sample_aqp",          # AQP row-sample ledger, HT grouped estimates
    "e_stratified_aqp",      # stratified bottom-k AQP, rare strata exact
]

# Machine factor reference: CALIBRATION probe wall (min of 3 warm) on the
# round-4 grading VM (local[32], 128 GiB). Committed so later rounds can
# compute machine_factor = calibration_now / this. Re-pin ONLY when the
# probe itself changes, never to "fix" a slow round — the whole point is
# that the probe moves with the machine, not with the repo.
CALIBRATION_BASELINE_SEC = 0.309

# Second axis: parquet-scan throughput. The compute probe above is pure
# codegen+shuffle; the catalog queries also pay columnar IO and those two
# machine properties drift INDEPENDENTLY (observed this round: compute
# probe 15% faster than its pin while scan-bound queries ran ~1.2x slower
# raw — one factor cannot normalize both). Pinned the same way, same
# re-pin rule.
IO_CALIBRATION_BASELINE_SEC = 0.52

N_TIMED_RUNS = 3


def _min_of(fn, *, warm: int = 1, runs: int = N_TIMED_RUNS) -> float:
    for _ in range(warm):
        fn()
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def _stable_probe(fn, *, warm: int = 1, batches: int = 3) -> float:
    """Probe statistic (round-8 stabilization): the MEDIAN of ``batches``
    min-of-3 batches. A single min-of-3 is one co-tenancy spike away from
    a 1.5-2x session swing (observed round 7: compute probe 2.02x pin
    while the io probe ran 0.8x); the median of three batches rejects one
    bad batch outright. The per-batch statistic stays min-of-3, so the
    value scale matches the committed probe pins (median-of-mins biases
    a few percent above a single min — far inside the ±17% session noise
    the blend regression already absorbs; pins unchanged by design)."""
    for _ in range(warm):
        fn()
    vals = []
    for _ in range(batches):
        vals.append(_min_of(fn, warm=0))
    return sorted(vals)[len(vals) // 2]


def calibration_probe(spark) -> float:
    """Fixed machine-speed probe, independent of the repo's query plans and
    of the testdata: 50M-row range → xxhash64 per row (codegen compute) →
    97-key grouped aggregate (one minimal shuffle + scheduler round-trip).
    Chosen to exercise the same cost components as the query set (codegen
    throughput, task scheduling, one exchange) with zero I/O, so its
    cross-round ratio isolates the environment."""

    def run() -> None:
        (
            spark.range(0, 50_000_000, 1, 32)
            .selectExpr("id % 97 AS g", "pmod(xxhash64(id), 1000000) AS h")
            .groupBy("g")
            .agg({"h": "sum"})
            .write.format("noop").mode("overwrite").save()
        )

    return round(_stable_probe(run), 3)


def io_calibration_probe(spark) -> float:
    """Fixed parquet-IO probe: one untimed write of a 10M-row 3-column
    table to scratch, then timed pruned-scan + filter + aggregate over it
    (min of 3 warm). Exercises the columnar read path (footer decode,
    page decompression, scan codegen) the compute probe deliberately
    avoids, so the two factors separate 'CPU got faster' from 'IO got
    slower' across rounds."""
    import shutil
    import tempfile

    scratch = tempfile.mkdtemp(prefix="bench_iocal_")
    path = os.path.join(scratch, "t")

    def run() -> None:
        (
            spark.read.parquet(path)
            .filter("k < 500")
            .groupBy("k")
            .agg({"v": "sum"})
            .write.format("noop").mode("overwrite").save()
        )

    try:
        (
            spark.range(0, 10_000_000, 1, 32)
            .selectExpr(
                "id",
                "pmod(xxhash64(id), 1000) AS k",
                "CAST(pmod(xxhash64(id, 7), 100000) AS DOUBLE) / 100 AS v",
            )
            .write.parquet(path)
        )
        return round(_stable_probe(run), 3)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def run_group(
    spark,
    sf_dir: str,
    names: list[str],
    builds: dict[str, float] | None = None,
) -> dict[str, float]:
    timings: dict[str, float] = {}
    for name in names:
        fn = REGISTRY[name].fn

        # Surface the one-time PLAN-BUILD cost (python-side expression
        # construction; first call populates the registry plan cache) so
        # the per-query detail separates build amortization from exec
        # improvements (round-10 VERDICT #4). The timed protocol below is
        # UNCHANGED — the build always happened before the timed runs
        # (previously inside the untimed warm run), it is now measured.
        t0 = time.perf_counter()
        fn(spark, sf_dir)
        if builds is not None:
            builds[name] = round(time.perf_counter() - t0, 3)

        def run() -> None:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

        timings[name] = round(_min_of(run), 3)
    return timings


# ---------------------------------------------------------------------------
# Write-path group. Setup (snapshot copy, CDC batch build) is excluded from
# the timing; each timed run starts from a fresh snapshot so run 2 does the
# same work as run 1 (min of 2 — a full-table rewrite has less scheduler
# noise than a sub-second read query, and 3 runs of a write triples bench
# wall for little extra signal).
# ---------------------------------------------------------------------------


def _timed_write(setup, run, *, runs: int = 2) -> float:
    best = float("inf")
    for _ in range(runs):
        setup()
        t0 = time.perf_counter()
        run()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def run_write_group(spark, sf_dir: str, scratch: str) -> dict[str, float]:
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.operators.merge import (
        merge_parquet,
        scd2_apply,
    )
    from vectordb_similarity_search_spark.operators.sampling import hash_sample
    from vectordb_similarity_search_spark.sources.io import write_zordered

    timings: dict[str, float] = {}
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    keys = ["l_orderkey", "l_linenumber"]

    # -- MERGE: 1% content-keyed CDC batch (price bump) into lineitem ------
    # the synthetic lineitem's (orderkey, linenumber) is NOT unique; MERGE
    # requires unique UPDATE keys (the target may repeat them — every
    # matching row updates), so collapse the sampled batch per key
    cdc = (
        hash_sample(li, 0.01, keys)
        .dropDuplicates(keys)
        .withColumn("l_extendedprice", F.col("l_extendedprice") * 1.01)
        .cache()
    )
    cdc.count()  # materialize the batch outside the timed region
    tbl = os.path.join(scratch, "lineitem_merge")

    def setup_merge() -> None:
        shutil.rmtree(tbl, ignore_errors=True)
        li.write.parquet(tbl)

    timings["write_merge_cdc_lineitem"] = _timed_write(
        setup_merge, lambda: merge_parquet(spark, tbl, cdc, keys)
    )

    # -- Partition-pruned MERGE: same-size table partitioned by ship
    # month, CDC confined to the latest month — the O(touched partitions)
    # path vs the full rewrite above
    from vectordb_similarity_search_spark.operators.merge import (
        merge_parquet_partitioned,
    )

    li_m = li.withColumn(
        "l_shipmonth", F.date_format("l_shipdate", "yyyy-MM")
    )
    last_month = li_m.agg(F.max("l_shipmonth")).head()[0]
    pkeys = keys + ["l_shipmonth"]
    cdc_m = (
        hash_sample(
            li_m.filter(F.col("l_shipmonth") == last_month), 0.5, keys
        )
        .dropDuplicates(pkeys)
        .withColumn("l_extendedprice", F.col("l_extendedprice") * 1.01)
        .cache()
    )
    cdc_m.count()
    ptbl = os.path.join(scratch, "lineitem_pmerge")

    def setup_pmerge() -> None:
        shutil.rmtree(ptbl, ignore_errors=True)
        li_m.write.partitionBy("l_shipmonth").parquet(ptbl)

    timings["write_merge_pruned_lineitem"] = _timed_write(
        setup_pmerge,
        lambda: merge_parquet_partitioned(
            spark, ptbl, cdc_m, pkeys, ["l_shipmonth"]
        ),
    )
    cdc_m.unpersist()

    # -- SCD2: 1% of customers change acctbal ------------------------------
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    dim_src = cust.select(
        "*",
        F.to_timestamp(F.lit("2024-01-01")).alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    upd = (
        hash_sample(cust, 0.01, ["c_custkey"])
        .withColumn("c_acctbal", F.col("c_acctbal") + 100.0)
        .withColumn("effective_ts", F.to_timestamp(F.lit("2024-06-01")))
        .cache()
    )
    upd.count()
    dim = os.path.join(scratch, "customer_scd2")

    def setup_scd2() -> None:
        shutil.rmtree(dim, ignore_errors=True)
        dim_src.write.parquet(dim)

    timings["write_scd2_customer"] = _timed_write(
        setup_scd2, lambda: scd2_apply(spark, dim, upd, ["c_custkey"])
    )
    cdc.unpersist()
    upd.unpersist()

    # -- Z-ordered write of orders on (o_custkey, o_totalprice) ------------
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    zdir = os.path.join(scratch, "orders_z")
    timings["write_zorder_orders"] = _timed_write(
        lambda: shutil.rmtree(zdir, ignore_errors=True),
        lambda: write_zordered(
            orders, zdir, ["o_custkey", "o_totalprice"], n_files=8
        ),
    )
    return timings


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm-up

    calibration = calibration_probe(spark)
    machine_factor = round(calibration / CALIBRATION_BASELINE_SEC, 3)
    io_calibration = io_calibration_probe(spark)
    machine_factor_io = round(
        io_calibration / IO_CALIBRATION_BASELINE_SEC, 3
    )
    # Blended factor for normalization. Weights RE-DERIVED round 7 from
    # data (VERDICT r6 order #4): least-squares over 4 full bench
    # sessions x 96 pinned queries (log raw wall vs log probe factors)
    # fits the compute weight at >= 1 — within a machine epoch the io
    # probe's session noise (+-17%) anticorrelates with query walls and
    # the old sqrt(mf*io) blend ADDED dispersion (19.6% normalized vs
    # 17.3% raw). 0.75/0.25 keeps a quarter-weight io term purely as
    # insurance for genuine IO-era shifts (the r4 reason the probe
    # exists) while halving the io-noise leak into normalized totals.
    # Pin re-derived in the same commit (bench_pins.json blend 1.432 =
    # 1.566^0.75 * 1.094^0.25 from the SAME pinned session's factors).
    blend_factor = round(machine_factor**0.75 * machine_factor_io**0.25, 3)

    builds: dict[str, float] = {}
    timings = run_group(spark, sf_dir, HEADLINE, builds)
    pipeline = run_group(spark, sf_dir, PIPELINE, builds)
    ann = run_group(spark, sf_dir, ANN, builds)
    analytics = run_group(spark, sf_dir, ANALYTICS, builds)

    # teardown: the PRF/dedup paths persist module-level frames; release
    # them before the write group so its walls aren't paid under cache
    # memory pressure (round-4 ADVICE: nothing ever called this)
    from vectordb_similarity_search_spark import cache

    cache.release()

    import tempfile

    with tempfile.TemporaryDirectory(prefix="bench_writes_") as scratch:
        writes = run_write_group(spark, sf_dir, scratch)

    normalized = {
        k: round(v / blend_factor, 3) for k, v in timings.items()
    }
    total = round(sum(timings.values()), 3)
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "pipeline_queries": pipeline,
        "pipeline_total_wall": round(sum(pipeline.values()), 3),
        "ann_queries": ann,
        "ann_total_wall": round(sum(ann.values()), 3),
        "analytics_queries": analytics,
        "analytics_total_wall": round(sum(analytics.values()), 3),
        "write_queries": writes,
        # one-time plan-construction cost per query (round-10 VERDICT
        # #4): the timed numbers above are EXEC-ONLY (cached handle +
        # noop sink); this is what the first build of each plan paid.
        "build_seconds": builds,
        "build_total_sec": round(sum(builds.values()), 3),
        "write_total_wall": round(sum(writes.values()), 3),
        "calibration_sec": calibration,
        "calibration_baseline_sec": CALIBRATION_BASELINE_SEC,
        "machine_factor": machine_factor,
        "io_calibration_sec": io_calibration,
        "io_calibration_baseline_sec": IO_CALIBRATION_BASELINE_SEC,
        "machine_factor_io": machine_factor_io,
        "blend_factor": blend_factor,
        "queries_normalized": normalized,
        "normalized_total": round(sum(normalized.values()), 3),
        "protocol": f"warm1_min{N_TIMED_RUNS}",
        "sf": sf,
    }
    # Full per-query detail goes to a committed artifact + an EARLY stdout
    # line; the LAST line printed is a compact headline the driver's
    # bounded tail-capture can always parse (round-4 lesson: the one
    # detail line outgrew the capture window -> BENCH_r04 "parsed": null).
    result_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_result.json"
    )
    with open(result_path, "w") as fh:
        json.dump(detail, fh, indent=1)
        fh.write("\n")
    print(json.dumps(detail))
    compact = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "pipeline_total_wall": detail["pipeline_total_wall"],
        "ann_total_wall": detail["ann_total_wall"],
        "analytics_total_wall": detail["analytics_total_wall"],
        "write_total_wall": detail["write_total_wall"],
        "machine_factor": machine_factor,
        "machine_factor_io": machine_factor_io,
        "blend_factor": blend_factor,
        "normalized_total": detail["normalized_total"],
        "detail": "bench_result.json",
        "protocol": detail["protocol"],
        "sf": sf,
    }
    line = json.dumps(compact)
    if len(line) >= 1500:
        # never fail (or stop printing) after the full bench already ran —
        # that would reproduce the exact unparseable-tail failure this
        # guards against; degrade by dropping the per-query map (the full
        # detail is in bench_result.json either way)
        compact["queries"] = f"truncated: see {compact['detail']}"
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
