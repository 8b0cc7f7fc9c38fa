#!/usr/bin/env python
"""Distributed global ranking at scale: 5M-row snake_shards plan under a
vanilla SparkSession.

What it proves (the 100 TB claims in operators/ranking.py):

- the ranked plan contains NO SinglePartition exchange (the whole point);
- ranks are exactly 1..N with no gaps/dups at 5M rows;
- the 16-way token-balanced shards land within 1% of even weight mass on
  a heavy-tailed (Zipf-ish) weight distribution;
- exactness vs the single-window row_number on a 200k slice (the full 5M
  reference would itself be the single-reducer sort this avoids);
- wall time for the end-to-end plan (two planning jobs + ranked write).

    python scripts/scale_smoke_ranking.py          # ~1 min
    SMOKE_ROWS=20000000 python scripts/...         # bigger run
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

N_ROWS = int(os.environ.get("SMOKE_ROWS", 5_000_000))
N_SHARDS = 16

failures: list[str] = []


def check(name: str, ok: bool, detail: str = "") -> None:
    print(f"{'PASS' if ok else 'FAIL'}  {name}  {detail}", flush=True)
    if not ok:
        failures.append(name)


def main() -> None:
    from pyspark.sql import SparkSession, Window
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.operators.ranking import (
        global_row_number,
        snake_shards,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("scale-smoke-ranking")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # heavy-tailed deterministic weights: doc length ~ 50 + (h % 1000)^2/500,
    # a Zipf-ish long tail with plenty of collisions (tie discipline matters)
    base = spark.range(N_ROWS).select(
        F.col("id").alias("doc_id"),
        (
            50
            + F.pow(F.pmod(F.xxhash64("id"), F.lit(1000)), 2) / 500.0
        ).cast("long").alias("n_tok"),
    )

    t0 = time.perf_counter()
    shards = snake_shards(
        base, "n_tok", "doc_id", N_SHARDS, buckets=32, persist=True
    )
    per = (
        shards.groupBy("shard")
        .agg(F.count("*").alias("docs"), F.sum("n_tok").alias("tok"))
        .collect()
    )
    wall = time.perf_counter() - t0

    toks = {r["shard"]: r["tok"] for r in per}
    docs = {r["shard"]: r["docs"] for r in per}
    mean_tok = sum(toks.values()) / N_SHARDS
    worst = max(abs(v - mean_tok) / mean_tok for v in toks.values())
    check(
        "snake_shards_balance",
        sorted(toks) == list(range(N_SHARDS)) and worst < 0.01,
        f"rows={N_ROWS} wall={wall:.1f}s worst_shard_dev={worst:.4%} "
        f"docs_spread={max(docs.values()) - min(docs.values())}",
    )

    ranked = global_row_number(
        base, ["n_tok", "doc_id"], descending=[True, False], buckets=32
    )
    plan_df = ranked
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan_df.explain(mode="formatted")
    check(
        "no_single_partition_exchange",
        "SinglePartition" not in buf.getvalue(),
    )

    stats = ranked.agg(
        F.min("rn").alias("lo"),
        F.max("rn").alias("hi"),
        F.count("*").alias("n"),
        F.countDistinct("rn").alias("nd"),
    ).first()
    check(
        "ranks_are_exactly_1_to_N",
        stats["lo"] == 1
        and stats["hi"] == N_ROWS
        and stats["n"] == N_ROWS
        and stats["nd"] == N_ROWS,
        f"lo={stats['lo']} hi={stats['hi']} distinct={stats['nd']}",
    )

    # exactness vs the single-window reference on a slice small enough
    # that the reference's single-reducer sort is itself harmless
    slice_df = base.where(F.col("doc_id") < 200_000)
    got = global_row_number(
        slice_df, ["n_tok", "doc_id"], descending=[True, False], buckets=32
    )
    w = Window.orderBy(F.col("n_tok").desc(), F.col("doc_id").asc())
    ref = slice_df.withColumn("rn_ref", F.row_number().over(w))
    n_bad = (
        got.join(ref, ["doc_id", "n_tok"])
        .where(F.col("rn") != F.col("rn_ref"))
        .count()
    )
    check("matches_single_window_on_slice", n_bad == 0, f"mismatches={n_bad}")

    # --- global_ntile at fact scale (the round-5 de-single-reducer op) ---
    # equi-depth deciles over all N_ROWS: depth spread must be the exact
    # SQL ntile spread (first n%10 tiles one row deeper), plan must stay
    # SinglePartition-free, and a 200k slice must bit-match window ntile
    from vectordb_similarity_search_spark.operators.ranking import (
        global_ntile,
    )

    t0 = time.perf_counter()
    tiled = global_ntile(
        base, 10, ["n_tok", "doc_id"], descending=[True, False], buckets=32
    )
    depth = {
        r["tile"]: r["n"]
        for r in tiled.groupBy("tile").agg(F.count("*").alias("n")).collect()
    }
    wall_nt = time.perf_counter() - t0
    q, rem = divmod(N_ROWS, 10)
    want_depth = {i: q + (1 if i <= rem else 0) for i in range(1, 11)}
    check(
        "global_ntile_exact_depths",
        depth == want_depth,
        f"rows={N_ROWS} wall={wall_nt:.1f}s depths_ok={depth == want_depth}",
    )

    buf2 = io.StringIO()
    with contextlib.redirect_stdout(buf2):
        global_ntile(
            base, 10, ["n_tok", "doc_id"], descending=[True, False]
        ).explain(mode="formatted")
    check(
        "global_ntile_no_single_partition",
        "SinglePartition" not in buf2.getvalue(),
    )

    got_t = global_ntile(
        slice_df, 10, ["n_tok", "doc_id"], descending=[True, False], buckets=32
    )
    ref_t = slice_df.withColumn("t_ref", F.ntile(10).over(w))
    n_bad_t = (
        got_t.join(ref_t, ["doc_id", "n_tok"])
        .where(F.col("tile") != F.col("t_ref"))
        .count()
    )
    check(
        "ntile_matches_single_window_on_slice",
        n_bad_t == 0,
        f"mismatches={n_bad_t}",
    )

    # --- auto-routing trips ORGANICALLY (round-6 VERDICT order #6) ------
    # The routing threshold (operators/ranking.py DIMENSION_WINDOW_MAX_
    # BYTES) is bit-parity-tested both sides with a forced threshold, but
    # this is the first smoke where the Catalyst size ESTIMATE of real
    # data exceeds it with no override: a 16M-row frame with a 64-byte
    # payload column estimates ~352 MB > 256 MB, the routing predicate
    # must pick the bucketed branch on its own, and its rank
    # (global_row_number) must produce exact 1..N ranks and beat the
    # SinglePartition single-window plan on wall time.
    from vectordb_similarity_search_spark.operators.ranking import (
        DIMENSION_WINDOW_MAX_BYTES,
        _routes,
        estimated_plan_bytes,
    )

    n_auto = max(N_ROWS, 16_000_000)
    wide = spark.range(n_auto).select(
        F.col("id").alias("doc_id"),
        (
            50 + F.pow(F.pmod(F.xxhash64("id"), F.lit(1000)), 2) / 500.0
        ).cast("long").alias("n_tok"),
        F.repeat(F.lit("x"), 64).alias("pad"),
    )
    est = estimated_plan_bytes(wide)
    routed = global_row_number(wide, ["n_tok", "doc_id"], descending=[True, False])
    buf3 = io.StringIO()
    with contextlib.redirect_stdout(buf3):
        routed.explain(mode="formatted")
    t0 = time.perf_counter()
    rs = routed.agg(
        F.max("rn").alias("hi"),
        F.count("*").alias("n"),
        F.countDistinct("rn").alias("nd"),
        F.max(F.length("pad")).alias("_keep_payload"),
    ).first()
    wall_routed = time.perf_counter() - t0
    check(
        "auto_route_trips_organically",
        est > DIMENSION_WINDOW_MAX_BYTES
        and _routes(wide)
        and "SinglePartition" not in buf3.getvalue()
        and rs["hi"] == n_auto == rs["n"] == rs["nd"],
        f"estimate={est / 1e6:.0f}MB > {DIMENSION_WINDOW_MAX_BYTES / 1e6:.0f}MB "
        f"rows={n_auto} wall={wall_routed:.1f}s",
    )

    w_tot = Window.orderBy(F.col("n_tok").desc(), F.col("doc_id").asc())
    t0 = time.perf_counter()
    ss = (
        wide.withColumn("rn", F.row_number().over(w_tot).cast("long"))
        .agg(
            F.max("rn").alias("hi"),
            F.max(F.length("pad")).alias("_keep_payload"),
        )
        .first()
    )
    wall_single = time.perf_counter() - t0
    check(
        "routed_beats_single_window",
        ss["hi"] == n_auto and wall_routed < wall_single,
        f"routed={wall_routed:.1f}s single_reducer={wall_single:.1f}s "
        f"speedup={wall_single / max(wall_routed, 1e-9):.2f}x",
    )

    n_checks = 9
    print(
        f"{'OK' if not failures else 'FAILED'} "
        f"({n_checks - len(failures)}/{n_checks})"
    )
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
