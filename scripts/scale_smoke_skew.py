#!/usr/bin/env python
"""Salted join at bench scale (VERDICT item 7): a 10M-row join where one
key carries 90% of the rows, joined plain and through ``salted_join``,
with the balance win measured — not just asserted at test scale.

What it records:
- wall-clock of the plain shuffle join vs the salted join,
- the max single-reducer group size before/after salting (the proxy for
  the straggler task a 1000-executor cluster would wait on — in local[32]
  wall-clock differences are muted because one machine's cores share the
  work either way; the GROUP BALANCE is the number that transfers to a
  real cluster),
- row-count equality of the two results.

    python scripts/scale_smoke_skew.py    # ~1 min
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

N_BIG = 10_000_000
N_KEYS = 10_000
HOT_SHARE = 0.9


def main() -> None:
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.operators.skew import SALT, salted_join
    from vectordb_similarity_search_spark.session import get_spark

    spark = get_spark(
        app_name="scale-smoke-skew", master="local[32]", shuffle_partitions=64
    )
    spark.sparkContext.setLogLevel("ERROR")

    # 90% of rows on key 0, the rest uniform over N_KEYS
    big = spark.range(N_BIG).select(
        F.when(
            F.rand(7) < HOT_SHARE, F.lit(0)
        ).otherwise((F.rand(11) * N_KEYS).cast("long")).alias("key"),
        F.col("id").alias("payload"),
    )
    small = spark.range(N_KEYS).select(
        F.col("id").alias("key"),
        F.concat(F.lit("dim_"), F.col("id")).alias("attr"),
    )
    # force a SHUFFLE join: broadcast would sidestep the skew this smoke
    # exists to demonstrate (at 100 TB the dim side is often too big too)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    t0 = time.perf_counter()
    plain_rows = big.join(small, ["key"]).count()
    t_plain = time.perf_counter() - t0

    n_salts = 32
    out = salted_join(big, small, ["key"], n_salts=n_salts)
    t0 = time.perf_counter()
    salted_rows = out.count()
    t_salted = time.perf_counter() - t0

    # reducer-balance proxy: biggest single (key[, salt]) group
    hot_before = (
        big.groupBy("key").count().agg(F.max("count")).head()[0]
    )
    hot_after = (
        big.withColumn(SALT, F.floor(F.rand(42) * n_salts).cast("int"))
        .groupBy("key", SALT)
        .count()
        .agg(F.max("count"))
        .head()[0]
    )

    ok = (
        salted_rows == plain_rows
        and hot_after * 8 < hot_before  # >=8x better balance at 32 salts
    )
    print(
        {
            "rows": plain_rows,
            "n_salts": n_salts,
            "wall_plain_s": round(t_plain, 2),
            "wall_salted_s": round(t_salted, 2),
            "max_reducer_group_before": hot_before,
            "max_reducer_group_after": hot_after,
            "balance_win": round(hot_before / hot_after, 1),
            "ok": ok,
        }
    )
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
