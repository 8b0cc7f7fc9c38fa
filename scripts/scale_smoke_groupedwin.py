#!/usr/bin/env python
"""Scale smoke for the round-8 coarse-group window machinery
(operators/ranking.global_cumsum with group columns / grouped_rolling),
local[8]:

- 5M rows over FIVE groups (the bounded-cardinality regime the plain
  PARTITION BY window funnels onto 5 reducers) with a heavy-tailed
  value column and a SPARSE group (rows only at the extremes — empty
  middle buckets force the rolling halo to cascade);
- bit-parity of both operators against the plain-window spelling on a
  200k slice (the full plain-window run at 5M is also timed for the
  wall comparison — it still completes at this scale, just on 5
  reducers);
- wall-clock: routed bucketed form vs plain coarse window at 5M.

    python scripts/scale_smoke_groupedwin.py   # ~2 min
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

N = 5_000_000
CHECKS = []


def check(name: str, ok: bool, detail: str = "") -> None:
    CHECKS.append(ok)
    print(f"[{'PASS' if ok else 'FAIL'}] {name} {detail}")


def main() -> int:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.operators import ranking
    from vectordb_similarity_search_spark.session import get_spark

    spark = get_spark(
        app_name="scale-smoke-groupedwin", master="local[8]",
        shuffle_partitions=16,
    )

    # 5 groups; group g4 is SPARSE: present only at the order-key
    # extremes so the routed rolling path must cascade its halo across
    # empty buckets
    base = spark.range(N).select(
        F.concat(F.lit("g"), (F.pmod(F.xxhash64("id"), F.lit(4)))).alias(
            "grp"
        ),
        F.col("id").alias("o"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)) + 1)
        .cast("long")
        .alias("v"),
    )
    sparse = (
        spark.range(2000)
        .select(
            F.lit("g4").alias("grp"),
            F.when(F.col("id") < 1000, F.col("id"))
            .otherwise(F.lit(N) - 2000 + F.col("id"))
            .alias("o"),
            (F.col("id") % 7 + 1).cast("long").alias("v"),
        )
    )
    df = base.unionByName(sparse).persist()
    df.count()

    # ---- grouped_cumsum: distinct frame (groups x o unique already) ----
    t0 = time.time()
    routed = ranking.global_cumsum(
        df, "v", ["o"], group_cols=["grp"], buckets=32, col_name="cs"
    )
    routed_sum = routed.agg(F.sum(F.col("cs")).alias("s")).first()["s"]
    t_routed = time.time() - t0

    t0 = time.time()
    w = Window.partitionBy("grp").orderBy(F.col("o").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    plain = df.withColumn("cs", F.sum("v").over(w))
    plain_sum = plain.agg(F.sum(F.col("cs")).alias("s")).first()["s"]
    t_plain = time.time() - t0

    check(
        "cumsum checksum parity at 5M",
        routed_sum == plain_sum,
        f"(sum-of-cumsum {routed_sum})",
    )
    # The scale property is the per-task SORT bound, not the wall at 5M:
    # the plain window sorts N/groups rows on one reducer (fine at 5M,
    # a wall at 100 TB); the routed form bounds every sort at roughly
    # N/(groups*buckets) whatever N grows to. The extra linear passes
    # (quantile probe, offset aggregate, halo/offset join) cost a
    # constant factor that the routing threshold keeps OFF small frames.
    part_plain = (
        df.groupBy("grp").count().agg(F.max("count")).first()[0]
    )
    fracs = [i / 32 for i in range(1, 32)]
    bounds = sorted(
        set(
            df.select(F.percentile_approx("o", fracs, 10_000).alias("q"))
            .first()["q"]
        )
    )
    part_routed = (
        df.withColumn(
            "_b", ranking._bucket_expr(F.col("o"), bounds, descending=False)
        )
        .groupBy("grp", "_b")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    check(
        "routed per-task sort bound",
        part_routed * 8 < part_plain,
        f"(max sorted rows per task: plain {part_plain} -> routed "
        f"{part_routed})",
    )
    print(
        f"  cumsum wall: routed {t_routed:.1f}s vs plain coarse window "
        f"{t_plain:.1f}s at {N} rows / 5 groups (plain wins the toy wall "
        "- its 5-reducer sort is cheap at 5M, which is exactly why the "
        "routing threshold keeps small frames on it)"
    )

    # slice parity: exact row-level equality on a 200k sample window
    lo, hi = N // 2, N // 2 + 200_000
    sl = [F.col("o") >= lo, F.col("o") < hi]
    a = routed.filter(sl[0] & sl[1]).orderBy("grp", "o").collect()
    b = plain.filter(sl[0] & sl[1]).orderBy("grp", "o").collect()
    check("cumsum 200k-slice bit parity", a == b, f"({len(a)} rows)")

    # ---- grouped_rolling: trailing 20-row stats, halo cascade ----
    # force the routed branch (the one this smoke measures), whatever
    # the size estimate of the cached frame says
    ranking.DIMENSION_WINDOW_MAX_BYTES = -1
    t0 = time.time()
    frame, wspec, keep = ranking.grouped_rolling(
        df, ["grp"], ["o"], 20, buckets=32
    )
    r_rolled = (
        frame.withColumn("mu", F.avg("v").over(wspec))
        .withColumn("n", F.count("v").over(wspec))
        .where(keep)
    )
    r_chk = r_rolled.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("mu") * 1000).cast("long")).alias("mu_q"),
        F.sum("n").alias("n_sum"),
    ).first()
    t_routed_roll = time.time() - t0

    t0 = time.time()
    wp = Window.partitionBy("grp").orderBy(F.col("o").asc()).rowsBetween(
        -20, -1
    )
    p_rolled = df.withColumn("mu", F.avg("v").over(wp)).withColumn(
        "n", F.count("v").over(wp)
    )
    p_chk = p_rolled.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("mu") * 1000).cast("long")).alias("mu_q"),
        F.sum("n").alias("n_sum"),
    ).first()
    t_plain_roll = time.time() - t0

    check(
        "rolling checksum parity at 5M (incl. sparse-group halo cascade)",
        tuple(r_chk) == tuple(p_chk),
        f"(rows {r_chk['n_rows']}, mu_q {r_chk['mu_q']})",
    )
    print(
        f"  rolling wall: routed {t_routed_roll:.1f}s vs plain coarse "
        f"window {t_plain_roll:.1f}s"
    )

    # sparse group row-level parity (the halo-cascade regime)
    a = (
        r_rolled.filter(F.col("grp") == "g4")
        .select("grp", "o", "mu", "n")
        .orderBy("o")
        .collect()
    )
    b = (
        p_rolled.filter(F.col("grp") == "g4")
        .select("grp", "o", "mu", "n")
        .orderBy("o")
        .collect()
    )
    check("rolling sparse-group bit parity", a == b, f"({len(a)} rows)")

    n_pass = sum(CHECKS)
    print(f"groupedwin scale smoke: {n_pass}/{len(CHECKS)} checks passed")
    return 0 if n_pass == len(CHECKS) else 1


if __name__ == "__main__":
    raise SystemExit(main())
