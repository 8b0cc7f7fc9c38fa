"""Window-function surface (SURVEY.md §2.6: O3 + the frames/lag/lead rows
marked 'absent in reference — cover in oracle set').

All window orderings carry an explicit unique tie-break key so ranks are
deterministic — the discipline the reference's np.argsort lacks
(similarity_search.py:305, SURVEY.md §7 hard part b).

Scale note: windows here partition by a key (custkey/user) so state is
bounded per group and the shuffle is a normal hash exchange. The one
exception is w_percentile_rank's rank trio over the per-customer
AGGREGATE, which auto-reroutes onto the bucketed global-rank machinery
(operators/ranking) past a Catalyst size estimate — below it the plain
ORDER-BY-only window runs on a dimension-sized frame by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import query, t

DEC = "decimal(18,2)"


@query(
    "w_rank_orders",
    oracle="""
SELECT * FROM (
  SELECT o_custkey, o_orderkey,
         CAST(o_totalprice AS DOUBLE) AS totalprice,
         CAST(row_number() OVER w AS INTEGER) AS rn,
         CAST(rank()       OVER w AS INTEGER) AS rnk,
         CAST(dense_rank() OVER w AS INTEGER) AS drnk
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
) WHERE rn <= 3
""",
)
def w_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: row_number / rank / dense_rank over one
    window definition (reference O3 'Rank {i+1}' rendering,
    similarity_search.py:674-675, done declaratively)."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").alias("totalprice"),
            F.row_number().over(w).cast("int").alias("rn"),
            F.rank().over(w).cast("int").alias("rnk"),
            F.dense_rank().over(w).cast("int").alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "w_lag_delta",
    oracle="""
SELECT o_custkey, o_orderkey,
       (round(CAST(o_totalprice AS DOUBLE)
             - lag(CAST(o_totalprice AS DOUBLE))
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) + 0) AS price_delta
FROM orders
""",
)
def w_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(): order-over-order price change per customer (NULL for each
    customer's first order — real NULL semantics, not sentinel 0)."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2).alias(
            "price_delta"
        ),
    )


@query(
    "w_running_sum",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
FROM orders
""",
)
def w_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit ROWS frame: per-customer running revenue, decimal-exact."""
    o = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias(
            "running_total"
        ),
    )


@query(
    "w_share_of_customer",
    oracle="""
SELECT o_custkey, o_orderkey,
       (round(CAST(o_totalprice AS DOUBLE) /
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey) AS DOUBLE), 6) + 0) AS price_share
FROM orders
""",
)
def w_share_of_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered partition window (full-partition aggregate): each order's
    share of its customer's lifetime spend — the ratio-of-counts pattern
    (reference A2) at row grain."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.col("o_totalprice")
            / F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double"),
            6,
        ).alias("price_share"),
    )


@query(
    "w_lead_gap_days",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(date_diff('day', CAST(o_orderdate AS DATE),
                      CAST(lead(o_orderdate) OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey) AS DATE)) AS INTEGER) AS days_to_next
FROM orders
""",
)
def w_lead_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead() + date arithmetic (reference P9/D-ops): days until the
    customer's next order."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.to_date(F.lead("o_orderdate").over(w)), F.to_date("o_orderdate")
        )
        .cast("int")
        .alias("days_to_next"),
    )


@query(
    "w_moving_avg",
    oracle="""
SELECT o_custkey, o_orderkey,
       (round(avg(CAST(o_totalprice AS DOUBLE))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) + 0) AS moving_avg3
FROM orders
""",
)
def w_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded sliding frame (3-order moving average per customer)."""
    o = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.avg(F.col("o_totalprice").cast("double")).over(w), 6).alias(
            "moving_avg3"
        ),
    )


@query(
    "w_percentile_rank",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
  FROM orders GROUP BY 1)
SELECT o_custkey,
       (round(CAST(spend AS DOUBLE), 2) + 0) AS spend,
       (round(percent_rank() OVER (ORDER BY spend, o_custkey), 6) + 0)
         AS pct_rank,
       (round(cume_dist() OVER (ORDER BY spend, o_custkey), 6) + 0)
         AS cume,
       CAST(ntile(10) OVER (ORDER BY spend, o_custkey) AS INTEGER)
         AS decile
FROM per_cust
""",
)
def w_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing window surface (percent_rank / cume_dist / ntile
    deciles) over per-customer spend — the remaining rank-family trio next
    to w_rank_orders' rank/dense_rank/row_number.

    Total order (spend, custkey) makes all three deterministic; both
    engines share the SQL-standard definitions ((rank-1)/(n-1),
    rows<=current/n, larger-buckets-first). Windows run on the
    per-customer aggregate; the wide work is the grouped sum. All three
    are replayed from (rank, count) of operators/ranking.dimension_rank,
    which reroutes onto the bucketed global rank once the dimension is no
    longer ≪ facts — no SinglePartition exchange; exact twin-parity
    between the branches is pinned in tests/test_ranking.py."""
    from ..operators import ranking

    o = t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend")
    )
    ranked = ranking.dimension_rank(per, ["spend", "o_custkey"])
    # Spark's own definitions under a total order (rank == row_number),
    # the same double divisions, so bit-identical to the window functions
    rn, n = F.col("rn"), F.col("n")
    return ranked.select(
        "o_custkey",
        F.round(F.col("spend").cast("double"), 2).alias("spend"),
        F.round(F.when(n > 1, (rn - 1) / (n - 1)).otherwise(F.lit(0.0)), 6)
        .alias("pct_rank"),
        F.round(rn / n, 6).alias("cume"),
        ranking.ntile_of(rn, n, 10).alias("decile"),
    )


@query(
    "w_streaks",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_idx
  FROM events),
isl AS (
  SELECT user_id, day_idx,
         day_idx - row_number() OVER (PARTITION BY user_id
                                      ORDER BY day_idx) AS grp
  FROM ud),
streaks AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS len,
         min(day_idx) AS start_day
  FROM isl GROUP BY user_id, grp),
best AS (
  SELECT user_id, len, start_day,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY len DESC, start_day) AS r,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_streaks
  FROM streaks)
SELECT user_id, len AS best_streak_days,
       CAST(start_day AS BIGINT) AS streak_start_day, n_streaks
FROM best WHERE r = 1
ORDER BY best_streak_days DESC, user_id LIMIT 20
""",
)
def w_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (top-20) — the
    gaps-and-islands idiom: day_idx minus its per-user row_number is
    constant exactly within a run of consecutive days, so one grouped
    count per (user, island) yields every streak; ties on length break
    by earliest start. The engagement metric behind "N-day streak"
    product features, and the one classic window idiom the w_* family
    did not yet cover.

    Everything is integer epoch-day arithmetic (timezone-free); per-user
    windows over the DISTINCT (user, day) frame — one user-hash exchange
    feeds the island assignment, the streak aggregate, and the best-pick
    window (same partitioning reused, no re-shuffle); the top-20 is a
    TakeOrdered under a total order."""
    e = t(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day_idx"),
    ).distinct()
    wday = Window.partitionBy("user_id").orderBy("day_idx")
    isl = ud.select(
        "user_id",
        "day_idx",
        (F.col("day_idx") - F.row_number().over(wday)).alias("grp"),
    )
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.min("day_idx").alias("start_day"),
    )
    wbest = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.col("start_day")
    )
    wall = Window.partitionBy("user_id")
    best = streaks.select(
        "user_id",
        "len",
        "start_day",
        F.row_number().over(wbest).alias("r"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n_streaks"),
    )
    return (
        best.filter(F.col("r") == 1)
        .select(
            "user_id",
            F.col("len").alias("best_streak_days"),
            F.col("start_day").cast("long").alias("streak_start_day"),
            "n_streaks",
        )
        .orderBy(F.col("best_streak_days").desc(), "user_id")
        .limit(20)
    )


@query(
    "w_moving_median",
    oracle="""
SELECT o_custkey, o_orderkey,
       (round(median(CAST(o_totalprice AS DOUBLE))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) + 0)
         AS moving_median5
FROM orders
""",
)
def w_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust sliding baseline: the 5-order moving MEDIAN per customer —
    the outlier-resistant twin of w_moving_avg (one fat-finger order
    drags a moving mean for its whole window; the median shrugs it off),
    the smoother robust-anomaly pipelines feed (e_mad_outliers' fence
    logic at row grain).

    Exactness: both engines compute the SQL-standard interpolated median
    over the identical <= 5 doubles of the frame (the r_percentiles /
    e_mad_outliers percentile-parity precedent), round-6. Spark's
    median() refuses window FRAMES (INVALID_WINDOW_SPEC) — the exact
    percentile(v, 0.5) aggregate is the frame-capable spelling of the
    same definition. One per-key window exchange; frame state is
    bounded at 5 rows."""
    o = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-4, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.expr("percentile(cast(o_totalprice as double), 0.5)").over(w),
            6,
        ).alias("moving_median5"),
    )
