"""Event-stream surface in batch form (SURVEY.md §2.9): time-windowed
aggregation (tumbling/sliding/session), as-of join, JSON extraction.

These run the exact transformations the Structured Streaming jobs in
``streaming/`` use — in Spark the batch and streaming plans share the same
DataFrame expressions, so the oracle checks here validate the streaming
semantics too (minus watermarking, which is covered by stream tests).

Timestamps are compared as epoch integers (seconds or microseconds) to keep
the oracle timezone-proof.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import ranking
from .catalog import query, t

DEC = "decimal(18,2)"


@query(
    "e_tumbling_hourly",
    oracle="""
SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_start,
       event_type,
       count(*) AS n_events,
       (round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) + 0) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def e_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type. Uses F.window() — the same
    operator the streaming job uses; window.start is epoch-aligned, exported
    as epoch seconds."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias(
                "total_value"
            ),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "e_sliding_2h",
    oracle="""
SELECT CAST((floor(epoch(ts) / 3600) - k) * 3600 AS BIGINT) AS win_start,
       count(*) AS n_events,
       (round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) + 0) AS total_value
FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
GROUP BY 1
""",
)
def e_sliding_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 2-hour length, 1-hour slide — each event lands in two
    windows. F.window(ts, '2 hours', '1 hour') on the Spark side; the oracle
    replays the assignment arithmetic."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias(
                "total_value"
            ),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("win_start"),
            "n_events",
            "total_value",
        )
    )


@query(
    "e_session_windows",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us,
       count(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
""",
)
def e_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap) via
    ``session_window`` — Spark's native stateful session operator (end =
    last event + gap). Oracle replays it as gaps-and-islands."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )


@query(
    "e_json_extract",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       (round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) + 0) AS avg_k
FROM events
GROUP BY event_type
""",
)
def e_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON props column (reference metadata-dict analogue,
    SURVEY.md §2.8 array/json row): extract + aggregate."""
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).cast("long").alias("sum_k"),
        F.round(F.avg(k), 6).alias("avg_k"),
    )


@query(
    "e_asof_join",
    oracle="""
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
)
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def e_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator the reference and vanilla Spark both lack;
    DuckDB has it natively as ASOF JOIN): for each purchase, the latest click
    at-or-before it per user.

    Spark-first implementation: union the two sides tagged, sort within
    user by (ts, side-tag), and carry the last click forward with
    last(ignorenulls) — one shuffle on user_id, state bounded per user,
    no range-join explosion. Clicks sort before purchases at equal ts so
    an exactly-simultaneous click matches (mirrors ASOF's >=).
    """
    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("ts"),
        F.lit(0).alias("tag"),
        F.col("event_id").alias("click_id"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("ts"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("click_id"),
        F.col("event_id").alias("purchase_id"),
    )
    unioned = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "purchase_id",
        "ts",
        F.last("click_id", ignorenulls=True).over(w).alias("click_id"),
        F.last(F.when(F.col("tag") == 0, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("click_ts"),
    )
    return carried.filter(F.col("purchase_id").isNotNull()).select(
        "purchase_id",
        "click_id",
        (F.unix_micros("ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )


@query(
    "e_pivot_user_activity",
    oracle="""
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click')    AS "click",
       count(*) FILTER (WHERE event_type = 'view')     AS "view",
       count(*) FILTER (WHERE event_type = 'purchase') AS "purchase",
       count(*) FILTER (WHERE event_type = 'error')    AS "error",
       count(*) FILTER (WHERE event_type = 'signup')   AS "signup"
FROM events
GROUP BY user_id
""",
)
def e_pivot_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (reference A4 enum-breakdown): per-user event-type counts as
    columns. Explicit value list keeps the plan single-pass (no distinct-scan
    to discover pivot values)."""
    e = t(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "error", "signup"]
    df = (
        e.groupBy("user_id")
        .pivot("event_type", kinds)
        .count()
    )
    # pivot yields NULL for absent combos; the oracle's FILTER yields 0.
    return df.select(
        "user_id",
        *[F.coalesce(F.col(k), F.lit(0)).cast("long").alias(k) for k in kinds],
    )


@query(
    "e_from_json_filter",
    oracle="""
SELECT event_type, count(*) AS n_high
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
GROUP BY event_type
""",
)
def e_from_json_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json into a typed struct + predicate on the extracted field
    (the reference's metadata-dict access with defaults, P6, as schema-on-
    read)."""
    e = t(spark, sf_dir, "events")
    parsed = e.withColumn(
        "p", F.from_json("props", "k INT")
    )
    return (
        parsed.filter(F.col("p.k") > 50)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_high"))
    )


@query(
    "e_hourly_top_type",
    oracle="""
WITH hourly AS (
  SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_start,
         event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT hour_start, event_type, n
FROM (
  SELECT *, row_number() OVER (PARTITION BY hour_start
                               ORDER BY n DESC, event_type) AS rn
  FROM hourly
) WHERE rn = 1
""",
)
def e_hourly_top_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event type per hour: aggregate then rank-within-group
    (top-1-per-group, deterministic tie-break on type name)."""
    e = t(spark, sf_dir, "events")
    from pyspark.sql import Window

    hourly = (
        e.groupBy(
            (F.floor(F.unix_timestamp("ts") / 3600) * 3600)
            .cast("long")
            .alias("hour_start"),
            "event_type",
        ).agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("hour_start").orderBy(F.col("n").desc(), "event_type")
    return (
        hourly.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "e_value_histogram",
    oracle="""
SELECT CAST(floor(value / 10) AS BIGINT) AS bucket,
       count(*) AS n_events,
       (round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) + 0) AS total_value
FROM events
GROUP BY 1
""",
)
def e_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric bucketing histogram over the value column."""
    e = t(spark, sf_dir, "events")
    return e.groupBy(
        F.floor(F.col("value") / 10).cast("long").alias("bucket")
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias(
            "total_value"
        ),
    )


@query(
    "e_interval_join",
    oracle="""
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
)
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM purchases p JOIN clicks c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 1 HOUR
""",
)
def e_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (attribution) join — the batch form of a watermarked
    stream-stream join: every click within the
    hour preceding a same-user purchase (e_asof_join keeps only the LAST
    click; the interval form keeps them all, which is the shape whose
    streaming state Spark can bound and evict).

    Plan shape: equi-key on user_id makes this a hash/sort-merge join with
    the time range as a post-join predicate — the shuffle moves each side
    once, keyed by user, no unbounded range-join explosion (each user's
    clicks meet only that user's purchases)."""
    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return (
        purchases.join(clicks, "user_id")
        .filter(
            (F.col("click_ts") <= F.col("purchase_ts"))
            & (
                F.col("click_ts")
                >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")
            )
        )
        .select(
            "purchase_id",
            "click_id",
            (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
                "gap_us"
            ),
        )
    )


@query(
    "e_gapfill_locf",
    oracle="""
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS h,
         count(*) AS n,
         (round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) + 0) AS tot
  FROM events GROUP BY 1, 2),
span AS (
  SELECT event_type, min(h) AS lo, max(h) AS hi FROM hourly GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, 3600)) AS h FROM span)
SELECT g.event_type,
       g.h AS hour_start,
       CAST(coalesce(hh.n, 0) AS BIGINT) AS n_events,
       last_value(hh.tot IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
FROM grid g LEFT JOIN hourly hh ON hh.event_type = g.event_type AND hh.h = g.h
""",
)
def e_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: dense per-type hourly grid with
    last-observation-carried-forward interpolation — the resample step
    every downstream forecasting/feature job needs over irregular event
    data. Spark shape: hourly agg -> per-key [min,max] span ->
    ``sequence``/``explode`` grid (per-key array bounded by span/step;
    chunk the span per key if a single series spans decades at
    sub-second steps) -> co-partitioned left join on (key, bucket) ->
    ``last(ignorenulls)`` ordered window per key. Empty buckets report 0
    events and carry the last seen hourly total. Movement (verified in
    the executed plan): the hourly-agg exchange, the span-agg exchange on
    event_type — whose partitioning the exploded grid inherits and the
    LOCF window REUSES (no extra window shuffle) — and a broadcast of the
    post-agg hourly side into the grid join (bounded by types x hours,
    not events). If hourly ever outgrew broadcast, repartitioning both
    sides by event_type alone still co-locates the 2-key join (subset of
    join keys) AND the window. No driver-side calendar
    materialization."""
    e = t(spark, sf_dir, "events")
    hourly = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("value").cast(DEC)).cast("double"), 2
            ).alias("tot"),
        )
        .select(
            "event_type",
            F.unix_timestamp(F.col("w.start")).cast("long").alias("h"),
            "n",
            "tot",
        )
    )
    grid = (
        hourly.groupBy("event_type")
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.lit(3600))
            ).alias("hour_start"),
        )
    )
    joined = grid.join(
        hourly.withColumnRenamed("h", "hour_start"),
        ["event_type", "hour_start"],
        "left",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "hour_start",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
        F.last("tot", ignorenulls=True).over(w).alias("locf_value"),
    )


@query(
    "e_rolling_anomaly",
    oracle="""
WITH scored AS (
  SELECT event_id, event_type, value,
         avg(value)         OVER w AS mu,
         stddev_samp(value) OVER w AS sd,
         count(value)       OVER w AS n
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
SELECT event_id, event_type, (round((value - mu) / sd, 6) + 0) AS zscore
FROM scored
WHERE n >= 5 AND sd > 0 AND abs(value - mu) > 3 * sd
""",
)
def e_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-shaped anomaly detection in batch form: each event is
    scored against the TRAILING window of its own series (20 preceding
    rows, current row excluded — no self-contamination), flagged when it
    sits more than 3 rolling sigmas from the rolling mean. One shuffle
    (the per-type window exchange), state bounded by the frame length —
    the same plan shape Structured Streaming would run with a
    transformWithState rolling buffer. Warm-up guard (n >= 5) and
    constant-series guard (sd > 0) are explicit, not NaN-driven.

    Scale routing (round-8 coarse-window lint): ~5 event types means the
    plain per-type window sorts the whole log on 5 reducers at 100 TB,
    so the trailing frame routes through operators/ranking.
    grouped_rolling past the size threshold — time-quantile buckets with
    exact predecessor-tail HALO rows keep every trailing frame complete
    while each (type, bucket) partition sorts ~1/buckets of a series;
    bit-identical to the plain window (parity pinned in
    tests/test_ranking.py)."""
    from ..operators.ranking import grouped_rolling

    e = t(spark, sf_dir, "events")
    frame, w, keep = grouped_rolling(
        e, ["event_type"], ["ts", "event_id"], 20
    )
    scored = (
        frame.withColumn("mu", F.avg("value").over(w))
        .withColumn("sd", F.stddev_samp("value").over(w))
        .withColumn("n", F.count("value").over(w))
        .where(keep)
    )
    return (
        scored.where(
            (F.col("n") >= 5)
            & (F.col("sd") > 0)
            & (F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sd"))
        )
        .select(
            "event_id",
            "event_type",
            F.round((F.col("value") - F.col("mu")) / F.col("sd"), 6).alias(
                "zscore"
            ),
        )
    )


@query(
    "e_retention_cohorts",
    oracle="""
WITH first_seen AS (
  SELECT user_id, date_trunc('week', min(ts)) AS w0 FROM events GROUP BY 1),
activity AS (
  SELECT DISTINCT f.w0,
         CAST(datediff('day', f.w0, date_trunc('week', e.ts)) / 7 AS INTEGER)
           AS week_offset,
         e.user_id
  FROM events e JOIN first_seen f ON e.user_id = f.user_id),
counts AS (
  SELECT w0, week_offset, CAST(count(*) AS BIGINT) AS active_users
  FROM activity GROUP BY 1, 2)
SELECT CAST(CAST(w0 AS DATE) AS VARCHAR) AS cohort_week, week_offset, active_users,
       (round(CAST(active_users AS DOUBLE) / max(CASE WHEN week_offset = 0
          THEN active_users END) OVER (PARTITION BY w0), 4) + 0)
         AS retention
FROM counts
""",
)
def e_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix (the product-analytics staple): users
    bucketed by first-seen week; for every (cohort, week-offset) cell,
    distinct active users and retention vs the cohort's week-0 size.
    Spark shape (verified in the executed plan): first-seen is one
    partial-agg groupBy(user) whose POST-AGG one-row-per-user result
    BROADCASTS into the events scan (no events shuffle for the join;
    with a user dimension too big to broadcast the same plan co-shuffles
    both sides on user_id); DISTINCT map-side-dedupes (cohort, offset,
    user) before its exchange, so the widest shuffle carries ~one row
    per user-week per map partition, never raw events; the week-0
    denominator is a window over the tiny counts frame (no re-scan).
    Weeks via date_trunc (Monday start in BOTH engines); cohort exported
    as string per the date-parity discipline."""
    e = t(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("w0")
    )
    activity = (
        e.join(first, "user_id")
        .select(
            "w0",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("w0"))
                / 7
            )
            .cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .distinct()
    )
    counts = activity.groupBy("w0", "week_offset").agg(
        F.count("*").alias("active_users")
    )
    w = Window.partitionBy("w0")
    return counts.select(
        F.to_date("w0").cast("string").alias("cohort_week"),
        "week_offset",
        "active_users",
        F.round(
            F.col("active_users")
            / F.max(
                F.when(F.col("week_offset") == 0, F.col("active_users"))
            ).over(w),
            4,
        ).alias("retention"),
    )


@query(
    "e_funnel_conversion",
    oracle="""
WITH t1s AS (
  SELECT user_id, ts, event_type,
         min(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM events),
t2s AS (
  SELECT user_id, ts, event_type, t1,
         min(CASE WHEN event_type = 'click' AND ts >= t1 THEN ts END)
           OVER (PARTITION BY user_id) AS t2
  FROM t1s),
t3s AS (
  SELECT user_id, t1, t2,
         min(CASE WHEN event_type = 'purchase' AND ts >= t2 THEN ts END)
           OVER (PARTITION BY user_id) AS t3
  FROM t2s),
per_user AS (
  SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
  FROM t3s GROUP BY user_id),
tot AS (
  SELECT CAST(count(t1) AS BIGINT) AS u1, CAST(count(t2) AS BIGINT) AS u2,
         CAST(count(t3) AS BIGINT) AS u3
  FROM per_user)
SELECT s.step, s.users,
       (round(CAST(s.users AS DOUBLE) / u1, 4) + 0) AS conversion
FROM tot, LATERAL (VALUES (1, 'view', u1), (2, 'click_after_view', u2),
                          (3, 'purchase_after_click', u3)) AS s(ord, step, users)
ORDER BY s.ord
""",
)
def e_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (the other product-analytics staple next to
    e_retention_cohorts): users reaching view -> click-after-view ->
    purchase-after-click, with strict per-user event ordering. Spark
    shape: the three step timestamps are STACKED windows over ONE
    user-hashed exchange (each step's min is conditional on the previous
    step's timestamp — expressible as window-over-window on the same
    partitioning, no joins, no re-scan); per-user reduction reuses the
    same exchange; the final 3-row report is one tiny global aggregate
    exploded into steps. Full SQL twin (identical window cascade).

    The scan filters to the three step types before the window — other
    types match no step predicate and the per-user max() ignores them,
    so shipping them through the user exchange was pure shuffle waste
    (same discipline as e_attribution; the twin is unchanged because the
    filter is semantics-preserving)."""
    e = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "click", "purchase")
    )
    wu = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(wu)
    s1 = e.select("user_id", "ts", "event_type", t1.alias("t1"))
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") >= F.col("t1")),
            F.col("ts"),
        )
    ).over(wu)
    s2 = s1.select("user_id", "ts", "event_type", "t1", t2.alias("t2"))
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.col("t2")),
            F.col("ts"),
        )
    ).over(wu)
    s3 = s2.select("user_id", "t1", "t2", t3.alias("t3"))
    per_user = s3.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    tot = per_user.agg(
        F.count("t1").alias("u1"),
        F.count("t2").alias("u2"),
        F.count("t3").alias("u3"),
    )
    steps = tot.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("view").alias("step"), F.col("u1").alias("users")
                ),
                F.struct(
                    F.lit("click_after_view").alias("step"),
                    F.col("u2").alias("users"),
                ),
                F.struct(
                    F.lit("purchase_after_click").alias("step"),
                    F.col("u3").alias("users"),
                ),
            )
        ).alias("s"),
        "u1",
    )
    return steps.select(
        F.col("s.step").alias("step"),
        F.col("s.users").alias("users"),
        F.round(F.col("s.users") / F.col("u1"), 4).alias("conversion"),
    )


@query(
    "e_attribution",
    oracle="""
WITH touched AS (
  SELECT event_type, value,
         last_value(CASE WHEN event_type IN ('view', 'click')
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM events),
credited AS (
  SELECT coalesce(touch, 'unattributed') AS channel, value
  FROM touched WHERE event_type = 'purchase')
SELECT channel,
       CAST(count(*) AS BIGINT) AS conversions,
       (round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) + 0)
         AS credited_value,
       (round(CAST(count(*) AS DOUBLE)
              / CAST(sum(count(*)) OVER () AS DOUBLE), 6) + 0) AS share
FROM credited
GROUP BY 1
""",
)
def e_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (the revenue-credit staple next to funnels):
    each purchase is credited to the user's most recent PRIOR touch event
    (view/click); purchases with no prior touch report as 'unattributed'.

    Spark shape: the scan filters to the three PARTICIPATING types before
    the window (other types are neither touches nor credited — shipping
    them through the user-hashed exchange would be pure shuffle waste, and
    the filter pushes down to the parquet scan); then one conditional
    ``last(..., ignorenulls)`` window (frame ends at the preceding row, so
    a purchase never credits itself); the credit report is a tiny grouped
    aggregate; channel shares come from a window over the ≤4-row grouped
    frame. ``ts`` is globally unique in the fixture, so the per-user order
    is total and the credit assignment deterministic."""
    e = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type").isin("view", "click"), F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    credited = (
        e.select("event_type", "value", touch.alias("touch"))
        .where(F.col("event_type") == "purchase")
        .select(
            F.coalesce(F.col("touch"), F.lit("unattributed")).alias("channel"),
            "value",
        )
    )
    per = credited.groupBy("channel").agg(
        F.count("*").alias("conversions"),
        F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias(
            "credited_value"
        ),
    )
    wall = Window.partitionBy()
    return per.select(
        "channel",
        "conversions",
        "credited_value",
        F.round(
            F.col("conversions").cast("double")
            / F.sum("conversions").over(wall).cast("double"),
            6,
        ).alias("share"),
    )


@query(
    "e_ab_test",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= 14 THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id),
assigned AS (
  SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7')
              THEN 'A' ELSE 'B' END AS variant,
         converted
  FROM per_user),
per_variant AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS users,
         CAST(sum(converted) AS BIGINT) AS converters
  FROM assigned GROUP BY variant),
stats AS (
  SELECT variant, users, converters,
         CAST(coalesce(sum(CASE WHEN variant = 'A' THEN users END) OVER (), 0)
              AS DOUBLE) AS na,
         CAST(coalesce(sum(CASE WHEN variant = 'A' THEN converters END) OVER (), 0)
              AS DOUBLE) AS ca,
         CAST(coalesce(sum(CASE WHEN variant = 'B' THEN users END) OVER (), 0)
              AS DOUBLE) AS nb,
         CAST(coalesce(sum(CASE WHEN variant = 'B' THEN converters END) OVER (), 0)
              AS DOUBLE) AS cb
  FROM per_variant)
SELECT variant, users, converters,
       (round(CAST(converters AS DOUBLE) / CAST(users AS DOUBLE), 6) + 0)
         AS conversion_rate,
       (CASE WHEN na > 0 AND nb > 0
                  AND (ca + cb) / (na + nb) > 0 AND (ca + cb) / (na + nb) < 1
             THEN round((ca / na - cb / nb)
                        / sqrt(((ca + cb) / (na + nb))
                               * (1 - (ca + cb) / (na + nb))
                               * (1 / na + 1 / nb)), 6) + 0
        END) AS z_stat
FROM stats
""",
)
def e_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users are deterministically split into two
    variants by a CONTENT-KEYED hash of user_id (md5 — replays bit-for-bit
    in the oracle and across sessions/layouts, the same keying discipline as
    hash_sample); conversion = "heavy buyer" (>= 14 purchases, the fixture's
    median split — every user purchases at least once, so >=1 would be a
    degenerate 100% rate with zero pooled variance); the report carries the
    pooled two-proportion z statistic (same value on both rows), guarded to
    NULL when a variant is empty or the pooled rate is 0/1 (the z is
    undefined there — and ANSI mode would raise on the division).

    Spark shape: one user-hashed partial-agg groupBy collapses events to a
    per-user conversion bit; variant derives from user_id AFTER the
    collapse (hash of the group key, zero extra exchange); the z arithmetic
    runs as conditional window sums over the 2-row variant frame."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            >= 14,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("converted")
    )
    variant = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(
            *"01234567"
        ),
        F.lit("A"),
    ).otherwise(F.lit("B"))
    per_variant = (
        per_user.select(variant.alias("variant"), "converted")
        .groupBy("variant")
        .agg(
            F.count("*").alias("users"),
            F.sum("converted").cast("long").alias("converters"),
        )
    )
    wall = Window.partitionBy()

    def _tot(v: str, c: str):
        return (
            F.coalesce(
                F.sum(F.when(F.col("variant") == v, F.col(c))).over(wall),
                F.lit(0),
            )
        ).cast("double")

    stats = per_variant.select(
        "variant", "users", "converters",
        _tot("A", "users").alias("na"), _tot("A", "converters").alias("ca"),
        _tot("B", "users").alias("nb"), _tot("B", "converters").alias("cb"),
    )
    pooled = (F.col("ca") + F.col("cb")) / (F.col("na") + F.col("nb"))
    z = (F.col("ca") / F.col("na") - F.col("cb") / F.col("nb")) / F.sqrt(
        pooled * (1 - pooled) * (1 / F.col("na") + 1 / F.col("nb"))
    )
    z_guarded = F.when(
        (F.col("na") > 0)
        & (F.col("nb") > 0)
        & (pooled > 0)
        & (pooled < 1),
        F.round(z, 6),
    )
    return stats.select(
        "variant",
        "users",
        "converters",
        F.round(
            F.col("converters").cast("double") / F.col("users").cast("double"), 6
        ).alias("conversion_rate"),
        z_guarded.alias("z_stat"),
    )


@query(
    "e_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT event_type AS to_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS from_type
  FROM events),
pairs AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
  FROM seq WHERE from_type IS NOT NULL
  GROUP BY 1, 2)
SELECT from_type, to_type, n_transitions,
       (round(CAST(n_transitions AS DOUBLE)
              / CAST(sum(n_transitions) OVER (PARTITION BY from_type)
                     AS DOUBLE), 6) + 0) AS prob
FROM pairs
""",
)
def e_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix (first-order Markov counts +
    row-normalized probabilities) — the session-path analysis primitive
    behind "what do users do after X".

    Spark shape: one ``lag`` window over the user-hashed exchange, one
    grouped aggregate over the (from, to) pairs (bounded by #types², here
    25 rows), probabilities from a window over that tiny frame. ``ts`` is
    globally unique, so the per-user sequence is total-ordered and the
    matrix deterministic."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    seq = e.select(
        F.col("event_type").alias("to_type"),
        F.lag("event_type").over(w).alias("from_type"),
    ).where(F.col("from_type").isNotNull())
    pairs = seq.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_transitions")
    )
    wrow = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(wrow).cast("double"),
            6,
        ).alias("prob"),
    )


@query(
    "e_gini_users",
    oracle="""
WITH per_user AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1),
ranked AS (
  SELECT n_events,
         CAST(row_number() OVER (ORDER BY n_events, user_id) AS BIGINT) AS i,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(sum(n_events) OVER () AS BIGINT) AS tot
  FROM per_user)
SELECT CAST(max(n) AS BIGINT) AS n_users,
       CAST(max(tot) AS BIGINT) AS total_events,
       (round(2.0 * CAST(sum(i * n_events) AS DOUBLE)
                  / (CAST(max(n) AS DOUBLE) * CAST(max(tot) AS DOUBLE))
              - (CAST(max(n) AS DOUBLE) + 1) / CAST(max(n) AS DOUBLE),
              6) + 0) AS gini
FROM ranked
""",
)
def e_gini_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of activity concentration across users ("do 20% of
    users generate 80% of events?") via the exact rank formula
    G = 2*sum(i*c_i)/(n*sum(c)) - (n+1)/n over ascending-sorted per-user
    counts — the inequality diagnostic behind power-user and hot-key
    analyses (a high Gini on a join key is the r_skew_report warning in
    distribution form).

    Determinism: the weighted sum uses exact BIGINT arithmetic over a
    total order (count, then user_id); doubles appear only in the final
    scalar expression, which both engines evaluate with an identical tree.
    The window frame is the per-user AGGREGATE (users << events); the wide
    pass is the grouped count."""
    e = t(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(F.count("*").alias("n_events"))
    # BIGINT rank rn and scalars (n, total); past the dimension threshold
    # the rank is bucketed and no SinglePartition sort runs
    ranked = ranking.dimension_rank(per, ["n_events", "user_id"], total="n_events")
    n_d = F.max("n").cast("double")
    tot_d = F.max("total").cast("double")
    gini = (
        F.lit(2.0) * F.sum(F.col("rn") * F.col("n_events")).cast("double")
        / (n_d * tot_d)
        - (n_d + 1) / n_d
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_users"),
        F.max("total").cast("long").alias("total_events"),
        F.round(gini, 6).alias("gini"),
    )


@query(
    "e_audience_overlap",
    oracle="""
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2),
pop AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY 1)
SELECT type_a, type_b, n_both,
       pa.n AS n_a, pb.n AS n_b,
       (round(CAST(n_both AS DOUBLE)
              / CAST(pa.n + pb.n - n_both AS DOUBLE), 6) + 0) AS jaccard
FROM pairs
JOIN pop pa ON pa.event_type = type_a
JOIN pop pb ON pb.event_type = type_b
""",
)
def e_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every pair of event types, how many
    users did BOTH, plus per-type audience sizes and the Jaccard overlap —
    the segment-intersection readout ad/analytics stacks run constantly.

    Spark shape: the r_market_basket idiom — per-user sorted type sets
    (bounded by #types), ordered pairs generated IN-ARRAY (no self-join of
    the user-type frame), pair counts on a #types²-bounded frame, audience
    sizes broadcast back onto it. The oracle replays it as the distinct
    self-join, which at fixture scale is exact and cheap — the in-array
    form is the one that survives 100 TB (shuffle carries user→set rows,
    never user×user pairs)."""
    e = t(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct()
    per_user = ut.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    pairs = per_user.where(F.size("types") > 1).select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("types"),
                    lambda a: F.transform(
                        F.filter(F.col("types"), lambda b: b > a),
                        lambda b: F.struct(
                            a.alias("type_a"), b.alias("type_b")
                        ),
                    ),
                )
            )
        ).alias("pr")
    )
    pc = pairs.groupBy("pr.type_a", "pr.type_b").agg(
        F.count("*").alias("n_both")
    )
    pop = F.broadcast(
        ut.groupBy("event_type").agg(F.count("*").alias("n"))
    )
    joined = (
        pc.join(pop, pc.type_a == pop.event_type)
        .select("type_a", "type_b", "n_both", F.col("n").alias("n_a"))
        .join(pop, F.col("type_b") == pop.event_type)
        .select("type_a", "type_b", "n_both", "n_a", F.col("n").alias("n_b"))
    )
    return joined.select(
        "type_a",
        "type_b",
        "n_both",
        "n_a",
        "n_b",
        F.round(
            F.col("n_both").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double"),
            6,
        ).alias("jaccard"),
    )


@query(
    "e_funnel_latency",
    oracle="""
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click'
), gaps AS (
  SELECT p.event_id,
         epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
  FROM purchases p ASOF LEFT JOIN clicks c
    ON p.user_id = c.user_id AND p.ts >= c.ts)
SELECT CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(count(gap_us) AS BIGINT) AS n_matched,
       (round(quantile_cont(gap_us, 0.5) / 1e6, 6) + 0) AS p50_gap_s,
       (round(quantile_cont(gap_us, 0.9) / 1e6, 6) + 0) AS p90_gap_s,
       (round(CAST(max(gap_us) AS DOUBLE) / 1e6, 6) + 0) AS max_gap_s
FROM gaps
""",
)
def e_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase latency distribution (the "how long does conversion
    take" readout on top of the funnel): each purchase pairs with the
    latest click at-or-before it (the e_asof_join idiom — tagged union +
    one carry-forward window per user, no range-join explosion), then
    exact interpolated percentiles over the gap.

    Gaps stay exact BIGINT microseconds until the final percentile
    scalars; both engines interpolate with the same definition
    (quantile_cont ≡ F.percentile, the r_percentiles contract)."""
    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("tag"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("tag"),
        F.col("event_id").alias("purchase_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = clicks.unionByName(purchases).select(
        "purchase_id",
        "ts",
        F.last(F.when(F.col("tag") == 0, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("click_ts"),
    )
    gaps = carried.filter(F.col("purchase_id").isNotNull()).select(
        (F.unix_micros("ts") - F.unix_micros("click_ts")).alias("gap_us")
    )
    return gaps.agg(
        F.count("*").alias("n_purchases"),
        F.count("gap_us").alias("n_matched"),
        F.round(F.percentile("gap_us", F.lit(0.5)) / 1e6, 6).alias(
            "p50_gap_s"
        ),
        F.round(F.percentile("gap_us", F.lit(0.9)) / 1e6, 6).alias(
            "p90_gap_s"
        ),
        F.round(F.max("gap_us").cast("double") / 1e6, 6).alias("max_gap_s"),
    )


@query(
    "e_session_stats",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged),
per_session AS (
  SELECT user_id, session_id,
         CAST(count(*) AS BIGINT) AS n_events,
         epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
  FROM sessions GROUP BY user_id, session_id)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       (round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*), 6) + 0) AS bounce_rate,
       (round(CAST(sum(n_events) AS DOUBLE) / count(*), 6) + 0)
         AS avg_events,
       (round(quantile_cont(dur_us, 0.5) / 1e6, 6) + 0) AS p50_dur_s,
       (round(quantile_cont(dur_us, 0.9) / 1e6, 6) + 0) AS p90_dur_s
FROM per_session
""",
)
def e_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-quality report on top of gap-based sessionization: session
    count, bounce rate (single-event sessions), events per session, and
    exact duration percentiles — the engagement readout next to
    e_session_windows' raw window list.

    Spark side uses the native ``session_window`` operator (the same one
    the streaming job runs); window end includes the 30-minute gap, so
    duration = last event − first event comes from min/max inside the
    group, exact BIGINT microseconds. The oracle replays sessionization
    as gaps-and-islands (the e_session_windows twin) and the same
    aggregate; percentiles follow the quantile_cont ≡ F.percentile
    contract."""
    e = t(spark, sf_dir, "events")
    per_session = (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
                "dur_us"
            ),
        )
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return per_session.agg(
        F.count("*").alias("n_sessions"),
        bounce.cast("long").alias("n_bounces"),
        F.round(bounce.cast("double") / F.count("*"), 6).alias("bounce_rate"),
        F.round(F.sum("n_events").cast("double") / F.count("*"), 6).alias(
            "avg_events"
        ),
        F.round(F.percentile("dur_us", F.lit(0.5)) / 1e6, 6).alias(
            "p50_dur_s"
        ),
        F.round(F.percentile("dur_us", F.lit(0.9)) / 1e6, 6).alias(
            "p90_dur_s"
        ),
    )


@query(
    "e_seasonal_profile",
    oracle="""
WITH hourly AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_idx,
         sum(CAST(value AS DECIMAL(18,2))) AS total
  FROM events GROUP BY 1),
keyed AS (
  SELECT ((hour_idx // 24) + 4) % 7 AS dow,
         hour_idx % 24 AS hod,
         total
  FROM hourly)
SELECT CAST(dow AS INTEGER) AS dow,
       CAST(hod AS INTEGER) AS hod,
       CAST(count(*) AS BIGINT) AS n_hours,
       (round(CAST(sum(total) AS DOUBLE) / count(*), 6) + 0) AS avg_total,
       (round(CAST(max(total) AS DOUBLE), 2) + 0) AS max_total,
       (round(CAST(min(total) AS DOUBLE), 2) + 0) AS min_total
FROM keyed
GROUP BY 1, 2
""",
)
def e_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day seasonal baseline (the profile a seasonal
    anomaly detector subtracts before flagging — complements
    e_rolling_anomaly's trailing-window form): per (dow, hod) cell, how
    many such hours the fixture spans and the exact average/extremes of
    hourly value totals.

    Determinism/TZ discipline: dow/hod come from pure integer arithmetic
    on the epoch hour index ((days+4)%7 — 1970-01-01 was a Thursday) —
    no calendar functions whose week-start or timezone conventions could
    diverge between engines or sessions; hourly totals are DECIMAL-exact
    before any double appears. Two partial-agg groupBys (events→hourly,
    hourly→168-cell profile); nothing corpus-sized shuffles twice."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hour_idx")
    ).agg(F.sum(F.col("value").cast(DEC)).alias("total"))
    keyed = hourly.select(
        (F.expr("hour_idx div 24") + 4) % 7,
        (F.col("hour_idx") % 24),
        "total",
    ).toDF("dow", "hod", "total")
    return keyed.groupBy(
        F.col("dow").cast("int").alias("dow"),
        F.col("hod").cast("int").alias("hod"),
    ).agg(
        F.count("*").alias("n_hours"),
        F.round(F.sum("total").cast("double") / F.count("*"), 6).alias(
            "avg_total"
        ),
        F.round(F.max("total").cast("double"), 2).alias("max_total"),
        F.round(F.min("total").cast("double"), 2).alias("min_total"),
    )


@query(
    "e_dau_wau",
    oracle="""
WITH ud AS (
  SELECT DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_idx,
         user_id
  FROM events),
dau AS (
  SELECT day_idx, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
wau AS (
  SELECT (day_idx + 3) // 7 AS week_idx,
         CAST(count(DISTINCT user_id) AS BIGINT) AS wau
  FROM ud GROUP BY 1),
dau_w AS (
  SELECT (day_idx + 3) // 7 AS week_idx,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(dau) AS BIGINT) AS dau_sum
  FROM dau GROUP BY 1)
SELECT CAST(w.week_idx AS BIGINT) AS week_idx, w.wau, d.n_days,
       (round(CAST(d.dau_sum AS DOUBLE) / d.n_days, 6) + 0) AS avg_dau,
       (round(CAST(d.dau_sum AS DOUBLE) / d.n_days / w.wau, 6) + 0)
         AS stickiness
FROM wau w JOIN dau_w d ON w.week_idx = d.week_idx
""",
)
def e_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU engagement: distinct daily actives, weekly actives, and the
    stickiness ratio avg(DAU)/WAU per Monday-start epoch week — the
    growth-analytics headline metric.

    Day/week indices are pure integer epoch arithmetic ((day+3)//7 —
    1970-01-01 was a Thursday), timezone-free like e_seasonal_profile.
    Shape: ONE (day, user) distinct exchange feeds both the daily counts
    and the weekly distincts; everything after is day- or week-sized."""
    e = t(spark, sf_dir, "events")
    ud = e.select(
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day_idx"),
        "user_id",
    ).distinct()
    dau = ud.groupBy("day_idx").agg(F.count("*").alias("dau"))
    week = F.expr("(day_idx + 3) div 7")
    wau = ud.groupBy(week.alias("week_idx")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    dau_w = dau.groupBy(week.alias("week_idx")).agg(
        F.count("*").alias("n_days"),
        F.sum("dau").cast("long").alias("dau_sum"),
    )
    joined = wau.join(dau_w, "week_idx")
    avg_dau = F.col("dau_sum").cast("double") / F.col("n_days")
    return joined.select(
        F.col("week_idx").cast("long").alias("week_idx"),
        "wau",
        "n_days",
        F.round(avg_dau, 6).alias("avg_dau"),
        F.round(avg_dau / F.col("wau"), 6).alias("stickiness"),
    )


# Exact-binary EWMA weights, alpha = 1/4 over a 12-observation memory:
# w_j = alpha*(1-alpha)^j for j=0..10 plus (1-alpha)^11 on the oldest
# point — the closed form of the textbook recursion s_t = a*x_t +
# (1-a)*s_{t-1} seeded 11 steps back, so the weights sum to exactly 1.
# Every weight is 3^j / 4^(j+1): a dyadic-denominator rational, hence an
# EXACT double whose repr() round-trips bit-for-bit through both Spark's
# and DuckDB's literal parsers.
_EWMA_W = [0.25 * 0.75**j for j in range(11)] + [0.75**11]


@query(
    "e_ewma_smooth",
    oracle=f"""
WITH hourly AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_idx, event_type,
         sum(CAST(value AS DECIMAL(18,2))) AS total
  FROM events GROUP BY 1, 2),
lagged AS (
  SELECT event_type, hour_idx, CAST(total AS DOUBLE) AS x0,
         {", ".join(f"lag(CAST(total AS DOUBLE), {j}) OVER w AS x{j}" for j in range(1, 12))},
         row_number() OVER w AS rn
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour_idx))
SELECT event_type, CAST(hour_idx * 3600 AS BIGINT) AS hour_start,
       (round(x0, 2) + 0) AS total,
       (round({" + ".join(f"{w!r} * x{j}" for j, w in enumerate(_EWMA_W))}, 6) + 0)
         AS ewma
FROM lagged WHERE rn >= 12
""",
)
def e_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per event-type hourly series —
    the smoothing baseline an alerting pipeline plots next to the raw
    series (complements e_rolling_anomaly's 3-sigma flags and
    e_seasonal_profile's dow x hod baseline).

    Determinism: the recursive EWMA is unrolled into its exact 12-term
    closed form (weights alpha*(1-alpha)^j + tail, alpha=1/4 — all
    dyadic-exact doubles) and evaluated as ONE fixed left-to-right sum of
    lag() products, the identical parse shape on both engines — so the
    doubles match bit-for-bit (the BM25 folded-expression discipline).
    Warm-up rows (fewer than 12 prior observations) are excluded rather
    than renormalized.

    Scale shape: one partial-agg groupBy events -> hourly, then one
    window exchange partitioned by the series key; lag(j) for j=1..11
    and row_number share the SAME window frame, so the plan has exactly
    one WindowExec over one exchange. Per-series state is 12 rows."""
    hourly = (
        t(spark, sf_dir, "events")
        .groupBy(
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hour_idx"),
            "event_type",
        )
        .agg(F.sum(F.col("value").cast(DEC)).alias("total"))
    )
    w = Window.partitionBy("event_type").orderBy("hour_idx")
    x = F.col("total").cast("double")
    xs = [x] + [F.lag(x, j).over(w) for j in range(1, 12)]
    ewma = F.lit(_EWMA_W[0]) * xs[0]
    for j in range(1, 12):
        ewma = ewma + F.lit(_EWMA_W[j]) * xs[j]
    return (
        hourly.select(
            "event_type",
            (F.col("hour_idx") * 3600).cast("long").alias("hour_start"),
            F.round(x, 2).alias("total"),
            ewma.alias("_ewma"),
            F.row_number().over(w).alias("_rn"),
        )
        .filter(F.col("_rn") >= 12)
        .select(
            "event_type",
            "hour_start",
            "total",
            F.round("_ewma", 6).alias("ewma"),
        )
    )


@query(
    "e_pit_features",
    oracle="""
WITH pts AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click,
         CAST(round(value * 1000000, 0) AS BIGINT) AS vu
  FROM events
),
feat AS (
  SELECT event_id, user_id, ts, event_type,
         sum(is_click) OVER (PARTITION BY user_id ORDER BY ts) AS c_le,
         sum(is_click) OVER (PARTITION BY user_id, ts) AS c_eq,
         sum(vu) OVER (PARTITION BY user_id ORDER BY ts) AS v_le,
         sum(vu) OVER (PARTITION BY user_id, ts) AS v_eq
  FROM pts
)
SELECT event_id, user_id,
       CAST(c_le - c_eq AS BIGINT) AS clicks_before,
       (round(CAST(v_le - v_eq AS DOUBLE) / 1000000.0, 6) + 0) AS value_before
FROM feat WHERE event_type = 'purchase'
ORDER BY event_id
""",
)
def e_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free training-set assembly (point-in-time correctness):
    for every purchase label, the user's click count and total event
    value STRICTLY BEFORE the label's timestamp — the feature-store
    discipline that keeps same-instant and future signals out of
    training rows (the batch twin of what online stores enforce with
    as-of reads; e_asof_join covers the two-table form, this is the
    self-table cumulative form).

    Strictness without an interval self-join: the cumulative RANGE
    window (ties INCLUDED) minus a (user, ts) same-instant window —
    two frames over ONE per-user sort exchange, engine-neutral under
    timestamp ties. Values are quantized to integer millionths before
    summing (exact, order-independent), divided back only in the final
    projection; TZ-free (pure ordering, no calendar functions)."""
    ev = t(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "click", F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_click"),
        F.round(F.col("value") * 1000000, 0).cast("long").alias("vu"),
    )
    w_le = Window.partitionBy("user_id").orderBy("ts")
    w_eq = Window.partitionBy("user_id", "ts")
    feat = pts.select(
        "event_id",
        "user_id",
        "event_type",
        (F.sum("is_click").over(w_le) - F.sum("is_click").over(w_eq))
        .cast("long")
        .alias("clicks_before"),
        F.round(
            (F.sum("vu").over(w_le) - F.sum("vu").over(w_eq)).cast("double")
            / 1000000.0,
            6,
        ).alias("value_before"),
    )
    return feat.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "clicks_before", "value_before"
    ).orderBy("event_id")


@query(
    "e_cuped",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
         sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 1000000, 0) AS BIGINT)
                  ELSE 0 END) AS y
  FROM events GROUP BY user_id),
assigned AS (
  SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7')
              THEN 'A' ELSE 'B' END AS variant,
         x, y
  FROM per_user),
mom AS (
  SELECT variant,
         CAST(count(*) AS DECIMAL(38, 0)) AS n,
         CAST(sum(x) AS DECIMAL(38, 0)) AS sx,
         CAST(sum(y) AS DECIMAL(38, 0)) AS sy,
         sum(CAST(x AS DECIMAL(19, 0)) * CAST(x AS DECIMAL(19, 0))) AS sxx,
         sum(CAST(x AS DECIMAL(19, 0)) * CAST(y AS DECIMAL(19, 0))) AS sxy,
         sum(CAST(y AS DECIMAL(19, 0)) * CAST(y AS DECIMAL(19, 0))) AS syy
  FROM assigned GROUP BY variant),
pooled AS (
  SELECT variant, n, sx, sy, sxx, sxy, syy,
         CAST(sum(n) OVER () AS DOUBLE) AS pn,
         CAST(sum(sx) OVER () AS DOUBLE) AS psx,
         CAST(sum(sy) OVER () AS DOUBLE) AS psy,
         CAST(sum(sxx) OVER () AS DOUBLE) AS psxx,
         CAST(sum(sxy) OVER () AS DOUBLE) AS psxy
  FROM mom),
withins AS (
  SELECT variant,
         CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
         CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
         CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd,
         CASE WHEN pn * psxx - psx * psx > 0
              THEN (pn * psxy - psx * psy) / (pn * psxx - psx * psx)
         END AS theta,
         psx / pn AS gx
  FROM pooled),
stats AS (
  SELECT variant, nd, theta,
         syd / nd AS my, sxd / nd AS mx,
         (syyd - syd * syd / nd) / (nd - 1) AS vy,
         (sxxd - sxd * sxd / nd) / (nd - 1) AS vx,
         (sxyd - sxd * syd / nd) / (nd - 1) AS cxy,
         gx
  FROM withins WHERE nd > 1)
SELECT variant, CAST(nd AS BIGINT) AS users,
       (round(theta / 1000000.0, 6) + 0) AS theta,
       (round(my / 1000000.0, 6) + 0) AS mean_y,
       (round((my - theta * (mx - gx)) / 1000000.0, 6) + 0) AS mean_y_cuped,
       (round(vy / 1000000.0 / 1000000.0, 6) + 0) AS var_y,
       (round((vy - 2 * theta * cxy + theta * theta * vx)
              / 1000000.0 / 1000000.0, 6) + 0) AS var_y_cuped,
       (CASE WHEN vy > 0
             THEN round((1 - (vy - 2 * theta * cxy + theta * theta * vx)
                             / vy) * 100, 6) + 0
        END) AS var_reduction_pct
FROM stats ORDER BY variant
""",
)
def e_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM'13): outcome
    Y = per-user purchase value, covariate X = per-user view count; the
    pooled regression coefficient theta = cov(X,Y)/var(X) adjusts each
    variant's outcome (Y' = Y - theta*(X - mean X)), and the report carries
    raw vs adjusted means and variances plus the realized variance-reduction
    percentage.  On this fixture X and Y are nearly independent (uniform
    synthetic events), so the honest reduction is ~0 — the statistic
    machinery, not the effect size, is what the oracle pins.

    Exactness: Y is quantized to integer millionths at the event level
    (e_pit_features discipline) and every cross-row sum (n, Sx, Sy, Sxx,
    Sxy, Syy) accumulates in DECIMAL(38,0) — order-independent — so the
    downstream double arithmetic starts from bit-identical inputs in both
    engines; the adjusted variance uses the closed form
    var(Y - tX) = var(Y) - 2t*cov(X,Y) + t^2*var(X) over the SAME sufficient
    statistics rather than a second data pass.  Guards: theta NULL when
    pooled var(X) = 0, single-user variants dropped (sample variance
    undefined), reduction NULL when var(Y) = 0 — ANSI-safe everywhere.

    Scale shape: one user-keyed partial-agg exchange collapses events to
    (x, y); variant derives from the group key (no extra exchange); one
    2-row variant aggregate; pooled moments ride the 2-row frame as window
    sums.  No second pass, no crossJoin re-scan, nothing driver-side."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 1000000, 0).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("y"),
    )
    assigned = per_user.select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(
                *"01234567"
            ),
            "A",
        )
        .otherwise("B")
        .alias("variant"),
        "x",
        "y",
    )
    d19 = "decimal(19,0)"
    mom = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast(d19) * F.col("x").cast(d19)).alias("sxx"),
        F.sum(F.col("x").cast(d19) * F.col("y").cast(d19)).alias("sxy"),
        F.sum(F.col("y").cast(d19) * F.col("y").cast(d19)).alias("syy"),
    )
    every = Window.partitionBy()
    pooled = mom.select(
        "variant",
        F.col("n").cast("double").alias("nd"),
        F.col("sx").cast("double").alias("sxd"),
        F.col("sy").cast("double").alias("syd"),
        F.col("sxx").cast("double").alias("sxxd"),
        F.col("sxy").cast("double").alias("sxyd"),
        F.col("syy").cast("double").alias("syyd"),
        F.sum("n").over(every).cast("double").alias("pn"),
        F.sum("sx").over(every).cast("double").alias("psx"),
        F.sum("sy").over(every).cast("double").alias("psy"),
        F.sum("sxx").over(every).cast("double").alias("psxx"),
        F.sum("sxy").over(every).cast("double").alias("psxy"),
    )
    pn, psx, psy, psxx, psxy = (
        F.col("pn"),
        F.col("psx"),
        F.col("psy"),
        F.col("psxx"),
        F.col("psxy"),
    )
    nd, sxd, syd = F.col("nd"), F.col("sxd"), F.col("syd")
    withins = pooled.filter(nd > 1).select(
        "variant",
        "nd",
        F.when(
            pn * psxx - psx * psx > 0,
            (pn * psxy - psx * psy) / (pn * psxx - psx * psx),
        ).alias("theta"),
        (psx / pn).alias("gx"),
        (syd / nd).alias("my"),
        (sxd / nd).alias("mx"),
        ((F.col("syyd") - syd * syd / nd) / (nd - 1)).alias("vy"),
        ((F.col("sxxd") - sxd * sxd / nd) / (nd - 1)).alias("vx"),
        ((F.col("sxyd") - sxd * syd / nd) / (nd - 1)).alias("cxy"),
    )
    theta, vy, vx, cxy = (
        F.col("theta"),
        F.col("vy"),
        F.col("vx"),
        F.col("cxy"),
    )
    adj_var = vy - 2 * theta * cxy + theta * theta * vx
    return withins.select(
        "variant",
        F.col("nd").cast("long").alias("users"),
        F.round(theta / 1000000.0, 6).alias("theta"),
        F.round(F.col("my") / 1000000.0, 6).alias("mean_y"),
        F.round(
            (F.col("my") - theta * (F.col("mx") - F.col("gx"))) / 1000000.0, 6
        ).alias("mean_y_cuped"),
        F.round(vy / 1000000.0 / 1000000.0, 6).alias("var_y"),
        F.round(adj_var / 1000000.0 / 1000000.0, 6).alias("var_y_cuped"),
        F.when(vy > 0, F.round((1 - adj_var / vy) * 100, 6)).alias(
            "var_reduction_pct"
        ),
    ).orderBy("variant")


@query(
    "e_changepoint",
    oracle="""
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         count(*) AS c
  FROM events GROUP BY 1, 2),
cum AS (
  SELECT event_type, h, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY h) AS cum_c,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY h)
              AS BIGINT) AS i,
         sum(c) OVER (PARTITION BY event_type) AS total,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM hourly),
scored AS (
  SELECT event_type, h, n, total,
         n * cum_c - i * total AS s,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(n * cum_c - i * total) DESC, h ASC)
           AS pk
  FROM cum)
SELECT event_type, CAST(n AS BIGINT) AS n_hours,
       CAST(total AS BIGINT) AS total_events,
       CAST(h * 3600 AS BIGINT) AS peak_hour,
       (round(CAST(abs(s) AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0)
         AS peak_cusum,
       CASE WHEN s > 0 THEN 'drop_after' WHEN s < 0 THEN 'rise_after'
            ELSE 'flat' END AS direction
FROM scored WHERE pk = 1 ORDER BY event_type
""",
)
def e_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CUSUM changepoint estimate per event-type series (AMOC
    shape — 'at most one change', Page 1954): the hour where the cumulative
    deviation of hourly counts from the series mean peaks, i.e. the
    arg-max split point a level-shift detector would report, with the
    deviation magnitude and direction (positive CUSUM peak = rate drops
    after the peak hour; negative = rises).

    Exactness: with integer hourly counts, CUSUM_t = sum_{i<=t}(c_i - T/n)
    is evaluated multiplied through by n — S_t = n*cum_t - t*T — which is
    pure int64 arithmetic, so the arg-max (ties broken by earliest hour)
    is exact in both engines and the float deviation S/n appears only in
    the display projection.  Hours with zero events are absent from the
    series (observed-hours CUSUM; a dense grid is e_gapfill_locf's
    domain).  Hour keys are epoch-integer arithmetic, timezone-proof.

    Scale shape: one partial-agg exchange to hourly counts, ONE
    per-series window exchange shared by the running sum, the series
    totals and the arg-max rank (same partitioning), and the rank<=1
    filter compiles to WindowGroupLimit so only each series' peak row
    survives to the driver."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    hourly = (
        e.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = Window.partitionBy("event_type")
    ordered = per.orderBy("h")
    cum = hourly.select(
        "event_type",
        "h",
        F.sum("c").over(ordered).alias("cum_c"),
        F.row_number().over(ordered).cast("long").alias("i"),
        F.sum("c").over(per).alias("total"),
        F.count(F.lit(1)).over(per).alias("n"),
    )
    s = F.col("n") * F.col("cum_c") - F.col("i") * F.col("total")
    scored = cum.withColumn("s", s).withColumn(
        "pk",
        F.row_number().over(per.orderBy(F.abs(F.col("s")).desc(), F.col("h").asc())),
    )
    return (
        scored.filter(F.col("pk") == 1)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_hours"),
            F.col("total").cast("long").alias("total_events"),
            (F.col("h") * 3600).cast("long").alias("peak_hour"),
            F.round(
                F.abs(F.col("s")).cast("double") / F.col("n").cast("double"), 6
            ).alias("peak_cusum"),
            F.when(F.col("s") > 0, "drop_after")
            .when(F.col("s") < 0, "rise_after")
            .otherwise("flat")
            .alias("direction"),
        )
        .orderBy("event_type")
    )


# Two-sided alpha=0.05 and power=0.80 normal quantiles, shared literals —
# no engine evaluates an inverse normal CDF.
_Z_ALPHA = "1.959963984540054"
_Z_BETA = "0.8416212335729143"


@query(
    "e_power_analysis",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= 14 THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id),
assigned AS (
  SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7')
              THEN 'A' ELSE 'B' END AS variant,
         converted
  FROM per_user),
vsz AS (
  SELECT variant, count(*) AS vn, sum(converted) AS vconv
  FROM assigned GROUP BY variant),
tot AS (
  SELECT CAST(sum(vn) AS BIGINT) AS users,
         CAST(sum(vconv) AS BIGINT) AS converters,
         CAST(min(vn) AS BIGINT) AS min_variant_n
  FROM vsz),
mde AS (SELECT unnest([0.01, 0.02, 0.05]) AS mde),
calc AS (
  SELECT mde, users, min_variant_n,
         CAST(converters AS DOUBLE) / CAST(users AS DOUBLE) AS p1
  FROM tot, mde),
calc2 AS (
  SELECT mde, users, min_variant_n, p1, p1 + mde AS p2,
         (p1 + p1 + mde) / 2 AS pbar
  FROM calc),
sized AS (
  SELECT mde, users, min_variant_n, p1,
         CASE WHEN p2 <= 1 THEN CAST(ceil(
           ({_Z_ALPHA} * sqrt(2 * pbar * (1 - pbar))
            + {_Z_BETA} * sqrt(p1 * (1 - p1) + p2 * (1 - p2))) *
           ({_Z_ALPHA} * sqrt(2 * pbar * (1 - pbar))
            + {_Z_BETA} * sqrt(p1 * (1 - p1) + p2 * (1 - p2)))
           / (mde * mde)) AS BIGINT) END AS required_n
  FROM calc2)
SELECT (round(mde, 6) + 0) AS mde,
       (round(p1, 6) + 0) AS baseline_rate,
       required_n AS required_n_per_variant,
       min_variant_n,
       min_variant_n >= required_n AS powered
FROM sized ORDER BY mde
""",
)
def e_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis over the SAME conversion definition as
    e_ab_test: for each candidate minimum-detectable effect (absolute
    +1/+2/+5pp), the required per-variant sample size of a two-proportion
    test at alpha=0.05 (two-sided) and 80% power — the planning readout
    run BEFORE an experiment, next to the readouts run after (e_ab_test,
    e_cuped).  required_n = (z_a*sqrt(2*pbar*qbar) + z_b*sqrt(p1*q1 +
    p2*q2))^2 / mde^2 (standard normal-approximation formula, e.g.
    Fleiss); the normal quantiles are SHARED literals, so both engines
    evaluate the identical double expression over the exact integer
    user/converter counts — no inverse CDF in any engine.

    Scale shape: one user-keyed partial-agg exchange (shared shape with
    e_ab_test), a 2-row variant aggregate collapsed to a 1-row total (the
    min variant size rides it), and a 3-row literal MDE cross against the
    1-row stats — nothing corpus-sized moves."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            >= 14,
            1,
        )
        .otherwise(0)
        .alias("converted")
    )
    assigned = per_user.select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(
                *"01234567"
            ),
            "A",
        )
        .otherwise("B")
        .alias("variant"),
        "converted",
    )
    vsz = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).alias("vn"), F.sum("converted").alias("vconv")
    )
    tot = vsz.agg(
        F.sum("vn").cast("long").alias("users"),
        F.sum("vconv").cast("long").alias("converters"),
        F.min("vn").cast("long").alias("min_variant_n"),
    )
    mdes = spark.range(1).select(
        F.explode(F.array(F.lit(0.01), F.lit(0.02), F.lit(0.05))).alias("mde")
    )
    calc = tot.crossJoin(F.broadcast(mdes)).select(
        "mde",
        "min_variant_n",
        (F.col("converters").cast("double") / F.col("users").cast("double")).alias(
            "p1"
        ),
    )
    p1, mde = F.col("p1"), F.col("mde")
    p2 = p1 + mde
    pbar = (p1 + p1 + mde) / 2
    za, zb = F.lit(float(_Z_ALPHA)), F.lit(float(_Z_BETA))
    num = za * F.sqrt(2 * pbar * (1 - pbar)) + zb * F.sqrt(
        p1 * (1 - p1) + p2 * (1 - p2)
    )
    # p2 > 1 means the target rate is unreachable: no sample size detects
    # it (and sqrt would go NaN here but hard-error in the oracle) — NULL.
    required = F.when(
        p2 <= 1, F.ceil(num * num / (mde * mde)).cast("long")
    )
    return (
        calc.select(
            F.round(mde, 6).alias("mde"),
            F.round(p1, 6).alias("baseline_rate"),
            required.alias("required_n_per_variant"),
            "min_variant_n",
            (F.col("min_variant_n") >= required).alias("powered"),
        )
        .orderBy("mde")
    )


@query(
    "e_top_sequences",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
tri AS (
  SELECT event_type AS e1, e2, e3, count(*) AS n
  FROM ordered WHERE e3 IS NOT NULL
  GROUP BY event_type, e2, e3),
tot AS (SELECT e1, e2, e3, n, sum(n) OVER () AS total FROM tri),
ranked AS (
  SELECT e1, e2, e3, n, total,
         row_number() OVER (ORDER BY n DESC, e1, e2, e3) AS rk
  FROM tot)
SELECT CAST(rk AS INTEGER) AS rank, e1, e2, e3, CAST(n AS BIGINT) AS n,
       (round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) + 0) AS support
FROM ranked WHERE rk <= 10 ORDER BY rank
""",
)
def e_top_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-step behavioural sequences: the top-10 consecutive
    event-type trigrams across all user sessions with their support — the
    sequence-mining readout behind funnel DISCOVERY (e_funnel_conversion
    checks a funnel you already hypothesized; this surfaces which paths
    actually dominate).  Ties break lexicographically; support is an exact
    integer ratio (trigram count over total trigrams) rounded at 6.

    Order within a user is (ts, event_id) — the deterministic total order
    every sequence query in this catalog uses for timestamp ties.

    Scale shape: ONE user-hashed window exchange produces both lead
    columns, a partial-agg'ed trigram aggregate (at most |types|^3 groups
    — bounded vocabulary), the grand total rides the grouped frame as an
    empty-partition window sum, and the global top-10 is a single
    WindowGroupLimit-style rank over the tiny trigram table."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    tri = (
        ordered.filter(F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = tri.withColumn("total", F.sum("n").over(Window.partitionBy()))
    rk = F.row_number().over(
        Window.orderBy(
            F.col("n").desc(), F.col("e1"), F.col("e2"), F.col("e3")
        )
    )
    return (
        tot.withColumn("rank", rk.cast("int"))
        .filter(F.col("rank") <= 10)
        .select(
            "rank",
            "e1",
            "e2",
            "e3",
            F.col("n").cast("long").alias("n"),
            F.round(
                F.col("n").cast("double") / F.col("total").cast("double"), 6
            ).alias("support"),
        )
        .orderBy("rank")
    )


@query(
    "e_cohort_ltv",
    oracle="""
WITH first_seen AS (
  SELECT user_id, date_trunc('week', min(ts)) AS w0 FROM events GROUP BY 1),
sizes AS (SELECT w0, count(*) AS n_users FROM first_seen GROUP BY w0),
rev AS (
  SELECT f.w0,
         CAST(datediff('day', f.w0, date_trunc('week', e.ts)) / 7
              AS INTEGER) AS week_offset,
         sum(CASE WHEN e.event_type = 'purchase'
                  THEN CAST(round(e.value * 1000000, 0) AS BIGINT)
                  ELSE 0 END) AS wk_rev
  FROM events e JOIN first_seen f ON e.user_id = f.user_id
  GROUP BY 1, 2),
cum AS (
  SELECT w0, week_offset, wk_rev,
         sum(wk_rev) OVER (PARTITION BY w0 ORDER BY week_offset) AS cum_rev
  FROM rev)
SELECT CAST(CAST(c.w0 AS DATE) AS VARCHAR) AS cohort_week,
       c.week_offset,
       CAST(s.n_users AS BIGINT) AS n_users,
       (round(CAST(c.cum_rev AS DOUBLE) / 1000000.0
              / CAST(s.n_users AS DOUBLE), 6) + 0) AS cum_ltv_per_user
FROM cum c JOIN sizes s ON s.w0 = c.w0
ORDER BY cohort_week, week_offset
""",
)
def e_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves (e_retention_cohorts' revenue
    counterpart): users bucketed by first-seen week; for every (cohort,
    week-offset) cell, the CUMULATIVE purchase revenue per cohort member —
    the 'how fast does a cohort pay back' readout that sits next to
    retention in every growth dashboard.  Offsets with zero purchases
    still appear (any activity creates the cell, keeping the cumulative
    series dense over observed weeks).

    Exactness: revenue micro-quantized per event (e_pit discipline),
    per-cell and cumulative sums exact int64, LTV displayed as an
    identical-shape double division (round 6).  Week bucketing is
    date_trunc('week') — Monday-start in both engines (retention-cohorts
    precedent), cohort exported as a date string.

    Scale shape: first-seen is one user partial-agg whose one-row-per-user
    result joins back into the events scan (broadcast here; co-shuffle at
    dimension scale); the revenue aggregate carries (cohort, offset)
    cells; the cumulative is one window over the tiny cell frame; cohort
    sizes ride a second aggregate of the same first-seen frame (exchange
    reuse dedupes it at runtime)."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("w0")
    )
    sizes = first_seen.groupBy("w0").agg(F.count(F.lit(1)).alias("n_users"))
    rev = (
        e.join(first_seen, "user_id")
        .select(
            "w0",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("w0")) / 7
            )
            .cast("int")
            .alias("week_offset"),
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 1000000, 0).cast("long"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("vu"),
        )
        .groupBy("w0", "week_offset")
        .agg(F.sum("vu").alias("wk_rev"))
    )
    cum = rev.withColumn(
        "cum_rev",
        F.sum("wk_rev").over(
            Window.partitionBy("w0").orderBy("week_offset")
        ),
    )
    return (
        cum.join(sizes, "w0")
        .select(
            F.col("w0").cast("date").cast("string").alias("cohort_week"),
            "week_offset",
            F.col("n_users").cast("long").alias("n_users"),
            F.round(
                F.col("cum_rev").cast("double")
                / 1000000.0
                / F.col("n_users").cast("double"),
                6,
            ).alias("cum_ltv_per_user"),
        )
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "e_forecast_baseline",
    oracle="""
WITH h AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_idx,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
k AS (
  SELECT event_type, c,
         CAST((hour_idx // 24 + 3) // 7 AS BIGINT) AS week,
         CAST(((hour_idx // 24) + 4) % 7 AS BIGINT) AS dow,
         CAST(hour_idx % 24 AS BIGINT) AS hod
  FROM h),
p AS (
  SELECT event_type, c,
         avg(CAST(c AS DOUBLE)) OVER (
           PARTITION BY event_type, dow, hod ORDER BY week
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pred
  FROM k)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_hours,
       (round(CAST(sum(abs(c * 1000000
                 - CAST(floor(pred * 1000000) AS BIGINT))) AS DOUBLE)
              / 1000000.0 / count(*), 6) + 0) AS mae,
       (round(CAST(sum(CAST(floor(pred * 1000000) AS BIGINT)) AS DOUBLE)
              / 1000000.0 / count(*), 6) + 0) AS mean_pred,
       (round(CAST(sum(c) AS DOUBLE) / count(*), 6) + 0) AS mean_actual
FROM p WHERE pred IS NOT NULL
GROUP BY event_type ORDER BY event_type
""",
)
def e_forecast_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast BACKTEST — the honest baseline every
    anomaly/forecast system must beat before it earns a model: predict
    each hour's event count by the expanding mean of the SAME (weekday,
    hour-of-day) slot in prior weeks, score MAE per event type against
    the actual counts. Pure history-to-future evaluation: the expanding
    frame ends 1 PRECEDING, so no hour ever sees itself or its future
    (the e_pit_features leakage discipline applied to forecasting).

    Exactness: hourly counts are integers; the expanding mean is a ratio
    of exact integers (identical double both engines); predictions are
    FLOOR-quantized to integer millionths before the |actual - pred|
    sums (floor, not round — no half-way point ever meets an engine
    rounding-mode difference), so MAE aggregates in exact BIGINT.
    Calendar-free: week/dow/hod from integer epoch arithmetic
    (e_seasonal_profile discipline; 1970-01-01 was a Thursday). Scale
    shape: one (type, hour) partial-agg exchange, one per-(type,dow,hod)
    window exchange over the HOURLY aggregate (8.8k rows per type-week
    here; hours, not events, at any scale), then a type-sized report."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    h = (
        e.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias(
                "hour_idx"
            ),
        )
        .groupBy("event_type", "hour_idx")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    kf = h.select(
        "event_type",
        "c",
        F.expr("(hour_idx div 24 + 3) div 7").cast("long").alias("week"),
        F.expr("((hour_idx div 24) + 4) % 7").cast("long").alias("dow"),
        F.expr("hour_idx % 24").cast("long").alias("hod"),
    )
    w = (
        Window.partitionBy("event_type", "dow", "hod")
        .orderBy("week")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    p = kf.withColumn("pred", F.avg(F.col("c").cast("double")).over(w))
    pq = F.floor(F.col("pred") * 1000000).cast("long")
    return (
        p.filter(F.col("pred").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.round(
                F.sum(F.abs(F.col("c") * 1000000 - pq)).cast("double")
                / 1000000.0
                / F.count(F.lit(1)),
                6,
            ).alias("mae"),
            F.round(
                F.sum(pq).cast("double") / 1000000.0 / F.count(F.lit(1)), 6
            ).alias("mean_pred"),
            F.round(
                F.sum("c").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_actual"),
        )
        .orderBy("event_type")
    )


@query(
    "e_mad_outliers",
    oracle="""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1),
dev AS (
  SELECT e.event_type, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1)
SELECT d.event_type,
       (round(max(d.med), 4) + 0) AS median_value,
       (round(max(m.mad), 4) + 0) AS mad_value,
       CAST(count(*) FILTER (WHERE d.adev > 3 * 1.4826 * m.mad) AS BIGINT)
         AS n_outliers,
       CAST(count(*) AS BIGINT) AS n_events
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
""",
)
def e_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection per event type: median / MAD (median
    absolute deviation) and the count of values beyond the classic
    3-sigma-equivalent fence (3 x 1.4826 x MAD) — the outlier screen that
    survives heavy tails where mean/stddev fences (e_rolling_anomaly's
    z-scores) are themselves dragged by the outliers.

    Determinism: both engines share the linear-interpolation exact
    percentile (the r_percentiles precedent) and evaluate the identical
    fence expression on identical doubles, so the boundary comparison is
    bit-stable. Exact MAD is inherently two sequential percentile passes
    (the second operates on deviations from the first's output) — three
    scans of the fact table total, each reduced by a tiny broadcast
    per-type frame; no window, no single-reducer anywhere."""
    e = t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    fenced = dev.join(F.broadcast(mad), "event_type")
    fence = F.lit(3) * F.lit(1.4826) * F.col("mad")
    return fenced.groupBy("event_type").agg(
        F.round(F.max("med"), 4).alias("median_value"),
        F.round(F.max("mad"), 4).alias("mad_value"),
        F.sum(F.when(F.col("adev") > fence, 1).otherwise(0))
        .cast("long")
        .alias("n_outliers"),
        F.count("*").cast("long").alias("n_events"),
    )


@query(
    "e_conformal",
    oracle="""
WITH s AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_ppm,
         (strpos('0123456789abcdef',
                 substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 1) % 10
           AS split,
         event_id
  FROM events),
train AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_tr,
         CAST(sum(v_ppm) AS HUGEINT) AS s_tr
  FROM s WHERE split < 8 GROUP BY 1),
cal AS (
  SELECT s.event_type,
         abs(CAST(v_ppm AS HUGEINT) * n_tr - s_tr) AS r,
         event_id
  FROM s JOIN train ON s.event_type = train.event_type
  WHERE split = 8),
calr AS (
  SELECT event_type, r,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY r, event_id) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n_cal
  FROM cal),
q AS (
  SELECT event_type, CAST(max(n_cal) AS BIGINT) AS n_cal,
         max(CASE WHEN rk = ((n_cal + 1) * 9 + 9) // 10 THEN r END) AS q_r
  FROM calr GROUP BY event_type),
test AS (
  SELECT s.event_type,
         CAST(count(*) AS BIGINT) AS n_test,
         CAST(sum(CASE WHEN abs(CAST(v_ppm AS HUGEINT) * n_tr - s_tr)
                            <= q_r THEN 1 ELSE 0 END) AS BIGINT) AS n_in
  FROM s
  JOIN train ON s.event_type = train.event_type
  JOIN q ON s.event_type = q.event_type
  WHERE split = 9 AND q_r IS NOT NULL
  GROUP BY 1)
SELECT t.event_type, tr.n_tr AS n_train, q.n_cal, t.n_test,
       (round(CAST(q.q_r AS DOUBLE) / 1000000.0 / CAST(tr.n_tr AS DOUBLE), 6)
          + 0) AS q_hat,
       (round(CAST(t.n_in AS DOUBLE) / CAST(t.n_test AS DOUBLE), 6) + 0)
         AS coverage
FROM test t JOIN q ON t.event_type = q.event_type
JOIN train tr ON t.event_type = tr.event_type
ORDER BY t.event_type
""",
)
def e_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction intervals for event value per type —
    the distribution-free ML-ops guardrail: predict each type's value by
    its TRAIN-split mean, take the ceil((n+1)·0.9)/n-th smallest absolute
    calibration residual as the interval half-width q_hat, and report
    the realized TEST-split coverage (validity says it concentrates near
    90% regardless of the value distribution). Content-keyed 80/10/10
    split by md5 nibble of event_id (the t_nb_crossval keying family).

    Exactness: values quantize to integer millionths; residuals compare
    as |v·n_train − Σv| — SCALED by the train count so no mean division
    ever happens — in exact HUGEINT/DECIMAL(38) arithmetic, and the
    conformal rank k = ceil(9(n+1)/10) is pure integer arithmetic, so
    q_hat's order statistic and every coverage comparison are exact; the
    only doubles are the two round-6 output divisions. Types whose
    calibration slice is smaller than k drop out (q undefined — the
    standard conformal small-sample caveat) rather than reporting a
    vacuous interval.

    Scale shape (round-8, routed past the coarse-window lint): the
    conformal rank is an ORDER STATISTIC, which never needs per-row
    ranks — a (type, residual)-distinct counts frame plus a per-type
    cumulative count locates the k-th smallest residual exactly (the
    value whose inclusive cum first reaches k), and the cumulative count
    comes from operators/ranking.auto_grouped_cumsum: a plain per-type
    window while the distinct frame is small, the bucketed
    (type, residual-quantile-bucket) form past the size threshold — so a
    corpus-sized calibration slice over ~5 event types never sorts on 5
    reducers. Train/test passes are plain grouped aggregates."""
    from ..operators.ranking import auto_grouped_cumsum

    e = t(spark, sf_dir, "events")
    v_ppm = (F.col("value").cast("decimal(18,6)") * 1000000).cast("long")
    split = F.expr(
        "(instr('0123456789abcdef', "
        "substr(md5(cast(event_id as string)), 1, 1)) - 1) % 10"
    ).cast("int")
    s = e.select(
        "event_type", v_ppm.alias("v_ppm"), split.alias("split"), "event_id"
    )
    train = s.filter(F.col("split") < 8).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_tr"),
        F.sum(F.col("v_ppm").cast("decimal(38,0)")).alias("s_tr"),
    )
    resid = F.abs(
        F.col("v_ppm").cast("decimal(38,0)") * F.col("n_tr") - F.col("s_tr")
    )
    cal = (
        s.filter(F.col("split") == 8)
        .join(F.broadcast(train), "event_type")
        .select("event_type", resid.alias("r"))
    )
    # k-th smallest residual per type WITHOUT per-row ranks: tie-distinct
    # counts + per-type cumulative count; the k-th order statistic is the
    # residual whose inclusive cum first reaches k (identical to the old
    # row_number()==k selection — ties share a value, so whichever tied
    # ROW ranked k-th, the VALUE is this one)
    cal_counts = cal.groupBy("event_type", "r").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cum = auto_grouped_cumsum(
        cal_counts, "c", ["event_type"], "r", col_name="cum"
    )
    ncal = cal_counts.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_cal")
    )
    k = F.floor(((F.col("n_cal") + 1) * 9 + 9) / 10)
    q = (
        cum.join(F.broadcast(ncal), "event_type")
        .filter((F.col("cum") >= k) & (F.col("cum") - F.col("c") < k))
        .groupBy("event_type")
        .agg(
            F.max("n_cal").cast("long").alias("n_cal"),
            F.max("r").alias("q_r"),
        )
    )
    test = (
        s.filter(F.col("split") == 9)
        .join(F.broadcast(train), "event_type")
        .join(F.broadcast(q), "event_type")
        .filter(F.col("q_r").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(F.when(resid <= F.col("q_r"), 1).otherwise(0))
            .cast("long")
            .alias("n_in"),
        )
    )
    return (
        test.join(F.broadcast(q), "event_type")
        .join(F.broadcast(train), "event_type")
        .select(
            "event_type",
            F.col("n_tr").alias("n_train"),
            "n_cal",
            "n_test",
            F.round(
                F.col("q_r").cast("double")
                / 1000000.0
                / F.col("n_tr").cast("double"),
                6,
            ).alias("q_hat"),
            F.round(
                F.col("n_in").cast("double") / F.col("n_test").cast("double"),
                6,
            ).alias("coverage"),
        )
        .orderBy("event_type")
    )


@query(
    "e_did",
    oracle="""
WITH bounds AS (
  SELECT (min(CAST(floor(epoch(ts) / 86400) AS BIGINT))
          + max(CAST(floor(epoch(ts) / 86400) AS BIGINT)) + 1) // 2 AS cut
  FROM events),
cells AS (
  SELECT (strpos('0123456789abcdef',
                 substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2
           AS treat,
         CASE WHEN CAST(floor(epoch(ts) / 86400) AS BIGINT) >= cut
              THEN 1 ELSE 0 END AS post,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(value AS DECIMAL(18,6))) AS s
  FROM events, bounds GROUP BY 1, 2),
piv AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_events,
         sum(CASE WHEN treat = 1 AND post = 1 THEN CAST(s AS DOUBLE)
             END) / sum(CASE WHEN treat = 1 AND post = 1 THEN n END) AS t1,
         sum(CASE WHEN treat = 1 AND post = 0 THEN CAST(s AS DOUBLE)
             END) / sum(CASE WHEN treat = 1 AND post = 0 THEN n END) AS t0,
         sum(CASE WHEN treat = 0 AND post = 1 THEN CAST(s AS DOUBLE)
             END) / sum(CASE WHEN treat = 0 AND post = 1 THEN n END) AS c1,
         sum(CASE WHEN treat = 0 AND post = 0 THEN CAST(s AS DOUBLE)
             END) / sum(CASE WHEN treat = 0 AND post = 0 THEN n END) AS c0
  FROM cells)
SELECT n_events,
       (round(t0, 6) + 0) AS treat_pre, (round(t1, 6) + 0) AS treat_post,
       (round(c0, 6) + 0) AS ctrl_pre, (round(c1, 6) + 0) AS ctrl_post,
       (round((t1 - t0) - (c1 - c0), 6) + 0) AS did
FROM piv
""",
)
def e_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout: content-keyed 50/50 "treatment"
    split on user_id (md5 nibble parity — the e_ab_test keying family),
    pre/post periods cut at the observed day-range midpoint, and
    DiD = (treat_post − treat_pre) − (ctrl_post − ctrl_pre) over mean
    event value — the panel-data causal baseline next to e_ab_test's
    cross-sectional z-test and e_cuped's variance reduction (on a null
    split like this one, DiD should sit near 0: the parallel-trends
    sanity check).

    Exactness: cell sums are DECIMAL(18,6), counts BIGINT; the midpoint
    cut is pure integer epoch arithmetic off ONE min/max aggregate
    (1-row broadcast onto the single scan — the r_winsorized_mean
    scalar pattern); the four means and the DiD are identical double
    expression trees in both engines, round-6.

    Scale shape: one scalar aggregate + one 4-cell grouped aggregate —
    two scans, map-side partials, nothing else moves."""
    e = t(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    bounds = e.agg(
        F.floor((F.min(day) + F.max(day) + 1) / 2).cast("long").alias("cut")
    )
    treat = (
        F.expr(
            "(instr('0123456789abcdef', "
            "substr(md5(cast(user_id as string)), 1, 1)) - 1) % 2"
        )
    ).cast("int")
    cells = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy(
            treat.alias("treat"),
            F.when(day >= F.col("cut"), 1).otherwise(0).alias("post"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
        )
    )

    def cell(tr: int, po: int):
        cond = (F.col("treat") == tr) & (F.col("post") == po)
        return F.sum(F.when(cond, F.col("s").cast("double"))) / F.sum(
            F.when(cond, F.col("n"))
        )

    piv = cells.agg(
        F.sum("n").cast("long").alias("n_events"),
        cell(1, 1).alias("t1"),
        cell(1, 0).alias("t0"),
        cell(0, 1).alias("c1"),
        cell(0, 0).alias("c0"),
    )
    return piv.select(
        "n_events",
        F.round("t0", 6).alias("treat_pre"),
        F.round("t1", 6).alias("treat_post"),
        F.round("c0", 6).alias("ctrl_pre"),
        F.round("c1", 6).alias("ctrl_post"),
        F.round(
            (F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0")), 6
        ).alias("did"),
    )


@query(
    "e_burstiness",
    oracle="""
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_idx,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
stats AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(c) AS BIGINT) AS n_events,
         CAST(sum(c * c) AS HUGEINT) AS sum_c2
  FROM hourly GROUP BY 1)
SELECT event_type, n_hours, n_events,
       (round(CAST(n_events AS DOUBLE) / CAST(n_hours AS DOUBLE), 6) + 0)
         AS mean_per_hour,
       (round((CAST(sum_c2 AS DOUBLE)
               - CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)
                 / CAST(n_hours AS DOUBLE))
              / CAST(n_hours AS DOUBLE)
              / (CAST(n_events AS DOUBLE) / CAST(n_hours AS DOUBLE)), 6)
          + 0) AS dispersion,
       CASE WHEN (CAST(sum_c2 AS DOUBLE)
                  - CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)
                    / CAST(n_hours AS DOUBLE))
                 / CAST(n_hours AS DOUBLE)
                 / (CAST(n_events AS DOUBLE) / CAST(n_hours AS DOUBLE))
                 > 1.5 THEN 'bursty'
            WHEN (CAST(sum_c2 AS DOUBLE)
                  - CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)
                    / CAST(n_hours AS DOUBLE))
                 / CAST(n_hours AS DOUBLE)
                 / (CAST(n_events AS DOUBLE) / CAST(n_hours AS DOUBLE))
                 < 0.75 THEN 'regular'
            ELSE 'poisson-like' END AS regime
FROM stats ORDER BY event_type
""",
)
def e_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic burstiness per event type: the index of dispersion
    (variance-to-mean ratio of hourly counts — the Fano factor). A
    Poisson arrival process sits at 1; ratios well above flag bursty,
    campaign-driven, or retry-storm traffic; well below flags throttled/
    scheduled regularity — the capacity-planning diagnostic beside
    e_rolling_anomaly's point alerts.

    Exactness: hourly counts are BIGINTs, so n, Σc, Σc² are exact
    integers (Σc² in HUGEINT/DECIMAL — the t_token_entropy overflow
    discipline) and variance uses the one-pass sufficient-statistics
    identity; both engines evaluate the identical double tree, round-6.
    The regime thresholds compare that same tree, so the CASE can never
    disagree between engines unless the round-6 value itself did.

    Scale shape: one (type, hour) partial-agg exchange, then a
    type-sized aggregate. Nothing else moves."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hour_idx"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("c").cast("long").alias("n_events"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).alias(
            "sum_c2"
        ),
    )
    n_h = F.col("n_hours").cast("double")
    n_e = F.col("n_events").cast("double")
    mean = n_e / n_h
    disp = (F.col("sum_c2").cast("double") - n_e * n_e / n_h) / n_h / mean
    return stats.select(
        "event_type",
        "n_hours",
        "n_events",
        F.round(mean, 6).alias("mean_per_hour"),
        F.round(disp, 6).alias("dispersion"),
        F.when(disp > 1.5, F.lit("bursty"))
        .when(disp < 0.75, F.lit("regular"))
        .otherwise(F.lit("poisson-like"))
        .alias("regime"),
    ).orderBy("event_type")


@query(
    "e_new_users_curve",
    oracle="""
WITH fd AS (
  SELECT user_id,
         CAST(min(floor(epoch(ts) / 86400)) AS BIGINT) AS first_day
  FROM events GROUP BY user_id),
nu AS (
  SELECT first_day AS day_idx, CAST(count(*) AS BIGINT) AS n_new
  FROM fd GROUP BY 1),
days AS (
  SELECT DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_idx
  FROM events)
SELECT d.day_idx,
       CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new_users,
       CAST(sum(coalesce(n.n_new, 0))
            OVER (ORDER BY d.day_idx) AS BIGINT) AS cum_users
FROM days d LEFT JOIN nu n ON d.day_idx = n.day_idx
ORDER BY d.day_idx
""",
)
def e_new_users_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT first-seen growth curve: per day, how many users appear for
    the first time, and the running cumulative distinct-user count — the
    exact counterpart of the HLL ledger's rolling estimate
    (e_hll_rolling_users): cumulative distinct IS sum-decomposable once
    each user is attributed to their FIRST day, so this needs no
    sketches — one user-keyed min aggregate over the log, then
    day-sized frames. When a window/rollup question cannot be first-seen
    attributed (trailing 7-day actives), the sketch ledger takes over.

    Day indices are pure integer epoch arithmetic (timezone-free, the
    e_dau_wau precedent). Shape: ONE user-keyed exchange (min day per
    user — the only log-sized shuffle), then day-sized aggregates; the
    running sum's ORDER BY window runs over the ~days-sized frame, which
    is exactly where a single-partition window is the right plan (the
    auto-routing threshold would never trip on a day dimension)."""
    e = t(spark, sf_dir, "events")
    day_idx = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    fd = e.select(day_idx.alias("day_idx"), "user_id").groupBy("user_id").agg(
        F.min("day_idx").alias("first_day")
    )
    nu = fd.groupBy(F.col("first_day").alias("day_idx")).agg(
        F.count("*").cast("long").alias("n_new")
    )
    days = e.select(day_idx.alias("day_idx")).distinct()
    w = Window.orderBy("day_idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        days.join(nu, "day_idx", "left")
        .select(
            "day_idx",
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new_users"),
        )
        .withColumn(
            "cum_users", F.sum("n_new_users").over(w).cast("long")
        )
        .orderBy("day_idx")
    )
