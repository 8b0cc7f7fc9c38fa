"""Relational-surface queries (SURVEY.md §2.2/§2.3/§2.5/§2.6/§2.8 and §7
step 2): filters/projections, the full join family, aggregation incl.
distinct/rollup/cube, set ops, scalar string/date/math functions.

The reference performs none of these as SQL (it has no relational engine at
all — SURVEY.md §2.3), but they are the oracle surface the north star
requires, and each is a Catalyst-native plan: predicate pushdown + column
pruning reach the parquet scans, dimension joins broadcast, aggregations get
map-side partial combine.

Float discipline: money math goes through DECIMAL (exact in both engines)
and is cast to double at the end; see plans/catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..util import widen
from .catalog import expected_oracle, query, t

DEC = "decimal(18,2)"
D32 = "decimal(3,2)"


def _dec(c: str) -> F.Column:
    return F.col(c).cast(DEC)


def _revenue() -> F.Column:
    """l_extendedprice * (1 - l_discount), exact decimal arithmetic."""
    return _dec("l_extendedprice") * (F.lit(1).cast(D32) - F.col("l_discount").cast(D32))


def _charge() -> F.Column:
    return _revenue() * (F.lit(1).cast(D32) + F.col("l_tax").cast(D32))


# SQL fragments for the same exact arithmetic on the DuckDB side.
SQL_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"
SQL_CHARGE = f"{SQL_REV} * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))"


@query(
    "r_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       (round(CAST(sum({SQL_REV}) AS DOUBLE), 2) + 0) AS sum_disc_price,
       (round(CAST(sum({SQL_CHARGE}) AS DOUBLE), 2) + 0) AS sum_charge,
       (round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) + 0) AS avg_qty,
       (round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) + 0) AS avg_price,
       (round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) + 0) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-06-01'
GROUP BY l_returnflag, l_linestatus
""",
)
def r_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation with decimal-exact
    money math. The filter + 7-column projection push down to the parquet
    scan; partial aggregation combines map-side, so the shuffle carries only
    |groups|·P rows regardless of corpus size."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-06-01").cast("timestamp")
    )
    # Round-9 optimization (guide §2.5 input skew): the fixture is one
    # single-row-group file, so the scan — and everything codegen fuses
    # into it, here six decimal partial aggregates over every row — runs
    # as ONE task. widen() round-robins the projected rows across the
    # session's cores first (a no-op at production scale where the input
    # already carries >= cores splits). Project-before-exchange keeps the
    # shuffle at the 6 agg inputs. Measured 1.44 s -> 1.07 s at sf0.1.
    li = widen(
        li.select(
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_returnflag",
            "l_linestatus",
        )
    )
    cnt = F.count("*")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.round(F.sum(_revenue()).cast("double"), 2).alias("sum_disc_price"),
        F.round(F.sum(_charge()).cast("double"), 2).alias("sum_charge"),
        F.round(F.sum(_dec("l_quantity")).cast("double") / cnt, 6).alias("avg_qty"),
        F.round(F.sum(_dec("l_extendedprice")).cast("double") / cnt, 6).alias("avg_price"),
        F.round(F.sum(_dec("l_discount")).cast("double") / cnt, 6).alias("avg_disc"),
        cnt.alias("count_order"),
    )


@query(
    "r_market_revenue",
    oracle=f"""
SELECT o.o_orderkey, o.o_orderdate,
       (round(CAST(sum({SQL_REV}) AS DOUBLE), 2) + 0) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem ON o.o_orderkey = l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY sum({SQL_REV}) DESC, o.o_orderkey
LIMIT 10
""",
)
def r_market_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact joins → top-N by revenue.
    customer('BUILDING') is small → broadcast hash joins, no fact shuffle for
    the join itself; top-10 is TakeOrdered, not a full sort."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    joined = li.join(
        F.broadcast(o.join(F.broadcast(c), o.o_custkey == c.c_custkey)),
        li.l_orderkey == F.col("o_orderkey"),
    )
    agg = joined.groupBy("o_orderkey", "o_orderdate").agg(
        F.sum(_revenue()).alias("_rev")
    )
    return (
        agg.orderBy(F.col("_rev").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("_rev").cast("double"), 2).alias("revenue"),
        )
    )


@query(
    "r_region_nation_revenue",
    oracle=f"""
SELECT n.n_name,
       (round(CAST(sum({SQL_REV}) AS DOUBLE), 2) + 0) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier s ON l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""",
)
def r_region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: snowflake join through two dim levels with a region
    filter. All dims broadcast; the only shuffle is the final small groupBy."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dims = s.join(
        F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "n_name")
    return (
        li.join(F.broadcast(dims), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(_revenue()).cast("double"), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "r_semi_join",
    oracle="""
SELECT c.c_mktsegment, count(*) AS n_customers
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
GROUP BY c.c_mktsegment
""",
)
def r_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers holding a pending order.
    Catalyst plans a semi hash join — no row multiplication, no payload
    columns from the probe side shuffled."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "r_anti_join",
    oracle="""
SELECT c.c_nationkey, count(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c.c_nationkey
""",
)
def r_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no orders, per nation."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "r_left_join_counts",
    oracle="""
SELECT p.p_brand,
       count(*) AS n_rows,
       count(l.l_orderkey) AS n_lineitems,
       count(DISTINCT p.p_partkey) AS n_parts
FROM part p LEFT JOIN lineitem l ON p.p_partkey = l.l_partkey
GROUP BY p.p_brand
""",
)
def r_left_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer join null semantics: count(col) skips nulls from unmatched left
    rows while count(*) keeps them — the engine's NULL model (real NULLs, not
    the reference's 0/'N/A' sentinels, SURVEY.md §1.3)."""
    p = t(spark, sf_dir, "part")
    li = t(spark, sf_dir, "lineitem")
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left")
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("l_orderkey").alias("n_lineitems"),
            F.countDistinct("p_partkey").alias("n_parts"),
        )
    )


@query(
    "r_distinct_agg",
    oracle="""
SELECT c.c_nationkey,
       count(DISTINCT o.o_custkey) AS n_active_customers,
       count(*) AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_nationkey
""",
)
def r_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) with a broadcast dim join — Catalyst expands distinct
    aggregation into a two-phase plan automatically."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.countDistinct("o_custkey").alias("n_active_customers"),
            F.count("*").alias("n_orders"),
        )
    )


@query(
    "r_rollup_revenue",
    oracle=f"""
SELECT coalesce(r.r_name, 'ALL') AS region,
       coalesce(n.n_name, 'ALL') AS nation,
       CAST(grouping(r.r_name) AS INTEGER) AS g_region,
       CAST(grouping(n.n_name) AS INTEGER) AS g_nation,
       (round(CAST(sum({SQL_REV}) AS DOUBLE), 2) + 0) AS revenue
FROM lineitem
JOIN supplier s ON l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP(r.r_name, n.n_name)
""",
)
def r_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region → nation → grand total) with
    GROUPING() markers (SURVEY.md §2.5 'absent in reference' row).

    Round-9 optimization (guide §2.3 — aggregate before you multiply):
    ROLLUP plans an ``Expand`` that triples every input row before the
    partial aggregate; running it directly on the joined fact rows does
    3× the aggregation work at any scale. Decimal SUM is associative, so
    the fact rows are first reduced to one exact partial sum per
    (region, nation) — 25 rows — and the Expand/rollup runs on those.
    Bit-identical output (same exact decimal total per grouping set,
    grouping() markers unchanged); plan diff: Expand input 600k → 25
    rows at sf0.1, and the heavy stage aggregates 1 sum/row instead of
    3 expanded copies."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    dims = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).join(
        F.broadcast(r), F.col("n_regionkey") == r.r_regionkey
    ).select("s_suppkey", "r_name", "n_name")
    per_nation = (
        li.select("l_suppkey", "l_extendedprice", "l_discount")
        .join(F.broadcast(dims), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("r_name", "n_name")
        .agg(F.sum(_revenue()).alias("_rev"))
    )
    return (
        per_nation.rollup("r_name", "n_name")
        .agg(
            F.grouping("r_name").cast("int").alias("g_region"),
            F.grouping("n_name").cast("int").alias("g_nation"),
            F.round(F.sum("_rev").cast("double"), 2).alias("revenue"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "g_region",
            "g_nation",
            "revenue",
        )
    )


@query(
    "r_cube_orders",
    oracle="""
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
       CAST(grouping(o_orderpriority) AS INTEGER) AS g_priority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
""",
)
def r_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over status × priority with counts and exact totals."""
    o = t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "g_status",
            "g_priority",
            "n_orders",
            "total",
        )
    )


@query(
    "r_conditional_stats",
    oracle="""
SELECT count(*) AS n_orders,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
       (round(avg(CASE WHEN o_orderstatus = 'O' THEN 1.0 ELSE 0.0 END), 6) + 0) AS open_rate,
       (round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE)
             / count(*) FILTER (WHERE o_orderstatus = 'O'), 6) + 0) AS avg_open_price,
       CAST(max(o_totalprice) AS DOUBLE) AS max_price,
       CAST(min(o_totalprice) AS DOUBLE) AS min_price
FROM orders
""",
)
def r_conditional_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's conditional-stats bundle (A1-A3/A5,
    similarity_search.py:366-407): counts, conditional counts, rates,
    filtered means — one pass, no self-joins."""
    o = t(spark, sf_dir, "orders")
    is_open = F.col("o_orderstatus") == "O"
    return o.agg(
        F.count("*").alias("n_orders"),
        F.count(F.when(is_open, 1)).alias("n_open"),
        F.round(F.avg(F.when(is_open, 1.0).otherwise(0.0)), 6).alias("open_rate"),
        F.round(
            F.sum(F.when(is_open, _dec("o_totalprice"))).cast("double")
            / F.count(F.when(is_open, 1)),
            6,
        ).alias("avg_open_price"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_totalprice").alias("min_price"),
    )


@query(
    "r_case_buckets",
    oracle="""
SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
            WHEN o_totalprice < 300000 THEN 'medium'
            ELSE 'large' END AS bucket,
       count(*) AS n_orders,
       (round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) + 0) AS avg_price
FROM orders
GROUP BY 1
""",
)
def r_case_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-bucketed histogram — the masked-conditional-assignment pattern
    (reference P3, `df.loc[mask, col] = ...`) as when/otherwise."""
    o = t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 300000, "medium")
        .otherwise("large")
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(_dec("o_totalprice")).cast("double") / F.count("*"), 6).alias(
                "avg_price"
            ),
        )
    )


@query(
    "r_string_funcs",
    oracle="""
SELECT p_partkey,
       upper(p_name) AS name_upper,
       CAST(length(p_name) AS INTEGER) AS name_len,
       split_part(p_name, ' ', 1) AS first_word,
       CAST(regexp_extract(p_brand, '#(\\d+)', 1) AS INTEGER) AS brand_num,
       concat(p_type, ':', p_brand) AS type_brand
FROM part
WHERE contains(p_name, 'red')
""",
)
def r_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string surface (reference D4/D5 string builds): upper, length,
    split, regexp_extract, concat, contains-filter."""
    p = t(spark, sf_dir, "part")
    return p.filter(F.col("p_name").contains("red")).select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("int").alias("name_len"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.regexp_extract("p_brand", r"#(\d+)", 1).cast("int").alias("brand_num"),
        F.concat_ws(":", "p_type", "p_brand").alias("type_brand"),
    )


@query(
    "r_date_funcs",
    oracle="""
SELECT CAST(extract(year FROM o_orderdate) AS INTEGER) AS yr,
       CAST(extract(month FROM o_orderdate) AS INTEGER) AS mo,
       date_trunc('month', o_orderdate) AS month_start,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY 1, 2, 3
""",
)
def r_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time surface (reference D1-D3): extract, date_trunc, grouping by
    calendar month."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mo"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total"),
        )
    )


@query(
    "r_in_subquery",
    oracle="""
WITH top_cust AS (
  SELECT c_custkey FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 10
)
SELECT count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders WHERE o_custkey IN (SELECT c_custkey FROM top_cust)
""",
)
def r_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery (key lookup J3 generalized): orders of the top-10
    customers by balance; the tiny key set broadcasts into a semi join."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    top = c.orderBy(F.col("c_acctbal").desc(), "c_custkey").limit(10).select("c_custkey")
    return (
        o.join(F.broadcast(top), o.o_custkey == F.col("c_custkey"), "left_semi")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total"),
        )
    )


@query(
    "r_intersect_except",
    oracle="""
SELECT
  (SELECT count(*) FROM (
     SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
     INTERSECT
     SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')) AS n_both,
  (SELECT count(*) FROM (
     SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
     EXCEPT
     SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')) AS n_f_only
""",
)
def r_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (SURVEY.md §2.6 'absent in reference'): customers with
    both finished and open orders vs finished-only.

    One fully-lazy composed plan (no action at query build): each set op
    aggregates to a single row, and the two 1-row branches cross-join —
    Catalyst keeps Intersect/Except nodes in the plan (asserted by
    tests/test_plans.py) and the driver receives a real deferred query."""
    o = t(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    n_both = f.intersect(op).agg(F.count("*").alias("n_both"))
    # subtract == EXCEPT DISTINCT
    n_f_only = f.subtract(op).agg(F.count("*").alias("n_f_only"))
    return n_both.crossJoin(n_f_only)


@query(
    "r_union_parties",
    oracle="""
SELECT nationkey,
       count(*) FILTER (WHERE kind = 'customer') AS n_customers,
       count(*) FILTER (WHERE kind = 'supplier') AS n_suppliers,
       count(*) AS n_parties
FROM (
  SELECT c_nationkey AS nationkey, 'customer' AS kind FROM customer
  UNION ALL
  SELECT s_nationkey AS nationkey, 'supplier' AS kind FROM supplier
)
GROUP BY nationkey
""",
)
def r_union_parties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName (reference J1 scatter-gather concat,
    similarity_search.py:330-350) with per-kind conditional counts."""
    c = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("kind")
    )
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("kind")
    )
    return (
        c.unionByName(s)
        .groupBy("nationkey")
        .agg(
            F.count(F.when(F.col("kind") == "customer", 1)).alias("n_customers"),
            F.count(F.when(F.col("kind") == "supplier", 1)).alias("n_suppliers"),
            F.count("*").alias("n_parties"),
        )
    )


@query(
    "r_range_join",
    oracle=f"""
SELECT o.o_orderpriority,
       count(*) AS n_items,
       (round(CAST(sum({SQL_REV}) AS DOUBLE), 2) + 0) AS revenue
FROM orders o JOIN lineitem l
  ON o.o_orderkey = l.l_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
GROUP BY o.o_orderpriority
""",
)
def r_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range predicate join (ships within 30 days of order). The
    equi-key keeps it a hash join; the range residual filters post-probe —
    no O(N·M) blowup."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    cond = (
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate < o.o_orderdate + F.expr("INTERVAL 30 DAY"))
    )
    return (
        li.join(o, cond)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(_revenue()).cast("double"), 2).alias("revenue"),
        )
    )


@query(
    "r_scalar_math",
    oracle="""
SELECT CAST(sum(CAST(least(greatest(l_quantity, 5), 40) AS DECIMAL(18,2))) AS DOUBLE) AS sum_clipped,
       CAST(sum(CAST(l_quantity AS BIGINT) % 7) AS BIGINT) AS sum_mod,
       CAST(sum(abs(CAST(l_quantity AS DECIMAL(18,2)) - 25)) AS DOUBLE) AS sum_absdev,
       CAST(sum(CAST(ceil(l_discount * 10) AS BIGINT)) AS BIGINT) AS sum_ceil,
       CAST(sum(CAST(floor(l_tax * 10) AS BIGINT)) AS BIGINT) AS sum_floor
FROM lineitem
""",
)
def r_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar math surface: clip via least/greatest (the reference's np.clip,
    similarity_search.py:60-66), mod, abs, ceil/floor."""
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.sum(F.least(F.greatest("l_quantity", F.lit(5)), F.lit(40)).cast(DEC))
        .cast("double")
        .alias("sum_clipped"),
        F.sum(F.col("l_quantity").cast("long") % 7).cast("long").alias("sum_mod"),
        F.sum(F.abs(_dec("l_quantity") - 25)).cast("double").alias("sum_absdev"),
        F.sum(F.ceil(F.col("l_discount") * 10).cast("long")).cast("long").alias("sum_ceil"),
        F.sum(F.floor(F.col("l_tax") * 10).cast("long")).cast("long").alias("sum_floor"),
    )


@query(
    "r_percentiles",
    oracle="""
SELECT o_orderstatus,
       (round(quantile_cont(o_totalprice, 0.5), 4) + 0) AS median_price,
       (round(quantile_cont(o_totalprice, 0.9), 4) + 0) AS p90_price,
       count(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
""",
)
def r_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median/p90) per status — Spark's
    exact ``percentile`` (sort-based within group), not approx sketches;
    both engines use the same linear-interpolation definition."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_price"),
        F.count("*").alias("n_orders"),
    )


@query(
    "r_corr_stats",
    oracle="""
SELECT l_returnflag,
       (round(corr(l_quantity, l_extendedprice), 6) + 0) AS qty_price_corr,
       (round(covar_samp(l_quantity, l_extendedprice), 4) + 0) AS qty_price_covar,
       (round(stddev_samp(l_extendedprice), 4) + 0) AS price_sd,
       (round(var_samp(l_quantity), 6) + 0) AS qty_var
FROM lineitem
GROUP BY l_returnflag
""",
)
def r_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics surface: corr / covar_samp / stddev / variance
    per group, single-pass (Welford-style partial aggregation in both
    engines)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("qty_price_covar"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_sd"),
        F.round(F.var_samp("l_quantity"), 6).alias("qty_var"),
    )


@query(
    "r_string_funcs2",
    oracle="""
SELECT p_partkey,
       array_to_string(list_transform(string_split(p_name, ' '),
           w -> upper(w[1]) || lower(w[2:])), ' ') AS name_title,
       replace(p_name, 'red', 'blue') AS name_swapped,
       lpad(p_brand, 12, '*') AS brand_padded,
       reverse(p_name) AS name_reversed,
       CAST(strpos(p_name, 'e') AS INTEGER) AS first_e,
       translate(p_name, 'aeiou', 'AEIOU') AS name_vowels
FROM part
WHERE p_partkey < 100
""",
)
def r_string_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string batch: initcap/replace/lpad/reverse/instr/translate
    (reference D4/D5 formatting surface)."""
    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") < 100)
    return p.select(
        "p_partkey",
        F.initcap("p_name").alias("name_title"),
        F.replace(F.col("p_name"), F.lit("red"), F.lit("blue")).alias("name_swapped"),
        F.lpad("p_brand", 12, "*").alias("brand_padded"),
        F.reverse("p_name").alias("name_reversed"),
        F.instr(F.col("p_name"), "e").cast("int").alias("first_e"),
        F.translate("p_name", "aeiou", "AEIOU").alias("name_vowels"),
    )


@query(
    "r_date_funcs2",
    oracle="""
SELECT o_orderkey,
       strftime(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE), '%Y-%m-%d') AS plus3mo,
       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
       CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
       CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INTEGER) AS dow,
       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_95
FROM orders
WHERE o_orderkey < 500
""",
)
def r_date_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second date batch: add_months (month-end clamped in both engines),
    last_day, quarter, day-of-week (normalized to Spark's 1=Sunday), and
    datediff from an epoch date (reference D1/D2 surface)."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    return o.select(
        "o_orderkey",
        F.date_format(F.add_months(F.to_date("o_orderdate"), 3), "yyyy-MM-dd").alias(
            "plus3mo"
        ),
        F.date_format(F.last_day(F.to_date("o_orderdate")), "yyyy-MM-dd").alias(
            "month_end"
        ),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        F.dayofweek(F.to_date("o_orderdate")).cast("int").alias("dow"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("days_since_95"),
    )


@query(
    "r_array_agg",
    oracle="""
SELECT s_nationkey,
       array_to_string(list_sort(list(s_suppkey)), ',') AS supplier_keys,
       CAST(len(list(s_suppkey)) AS INTEGER) AS n_suppliers,
       CAST(list_sort(list(s_suppkey))[1] AS BIGINT) AS min_suppkey
FROM supplier
GROUP BY s_nationkey
""",
)
def r_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: collect_list + array_sort (deterministic output
    regardless of shuffle order) + element access; the array is exported
    joined to a string so the value-hash is representation-stable."""
    s = t(spark, sf_dir, "supplier")
    keys = F.array_sort(F.collect_list("s_suppkey"))
    return s.groupBy("s_nationkey").agg(
        F.array_join(keys, ",").alias("supplier_keys"),
        F.size(F.collect_list("s_suppkey")).cast("int").alias("n_suppliers"),
        keys.getItem(0).cast("long").alias("min_suppkey"),
    )


@query(
    "r_approx_distinct",
    oracle="""
SELECT o_orderstatus,
       count(*) AS n_orders,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
       TRUE AS approx_ok
FROM orders GROUP BY o_orderstatus
""",
)
def r_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct counts, INDEPENDENTLY oracled
    (round-8 VERDICT #3, replacing the engine-generated expected-parquet
    pin): the query carries the exact distinct count beside the sketch
    estimate and asserts the ±5% accuracy contract as a boolean the
    DuckDB twin pins to TRUE — a broken sketch (or a broken exactness
    bound) now fails the driver hash-compare outright. The estimate
    itself stays out of the hashed output (HLL++ register values are
    engine-specific; its determinism across layouts is pinned in
    tests/test_fingerprint.py). rsd=0.02 → the 5% gate is ~2.5σ, and
    both sides are deterministic for fixed data, so the boolean is
    stable at every fixture scale."""
    o = t(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("_approx"),
        F.countDistinct("o_custkey").cast("long").alias("exact_customers"),
        F.count("*").alias("n_orders"),
    )
    err = F.abs(F.col("_approx") - F.col("exact_customers")) / F.col(
        "exact_customers"
    )
    return agg.select(
        "o_orderstatus",
        "n_orders",
        "exact_customers",
        (err <= 0.05).alias("approx_ok"),
    )


@query(
    "r_having",
    oracle="""
SELECT o_custkey, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 15
""",
)
def r_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation predicate)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_spend"),
        )
        .filter(F.col("n_orders") >= 15)
    )


@query(
    "r_above_customer_avg",
    oracle="""
WITH cust_avg AS (
  SELECT o_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
  FROM orders GROUP BY o_custkey
)
SELECT o.o_orderstatus, count(*) AS n_above
FROM orders o JOIN cust_avg c ON o.o_custkey = c.o_custkey
WHERE o.o_totalprice > c.avg_price
GROUP BY o.o_orderstatus
""",
)
def r_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery semantics (orders above their customer's own
    average) decorrelated into an aggregate + self-join — the plan Catalyst
    produces for the correlated form, written explicitly so both engines
    run identical arithmetic."""
    o = t(spark, sf_dir, "orders")
    cust_avg = o.groupBy("o_custkey").agg(
        (F.sum(_dec("o_totalprice")).cast("double") / F.count("*")).alias("avg_price")
    )
    return (
        o.join(cust_avg, "o_custkey")
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_above"))
    )


@query(
    "r_nested_agg",
    oracle="""
SELECT (round(avg(total_spend), 4) + 0) AS avg_customer_spend,
       (round(CAST(max(total_spend) AS DOUBLE), 2) + 0) AS max_customer_spend,
       count(*) AS n_customers
FROM (
  SELECT o_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
  FROM orders GROUP BY o_custkey
)
""",
)
def r_nested_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregation: aggregate per customer, then aggregate the
    aggregates (avg-of-sums ≠ avg — a classic correctness trap)."""
    o = t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(_dec("o_totalprice")).cast("double").alias("total_spend")
    )
    return per_cust.agg(
        F.round(F.avg("total_spend"), 4).alias("avg_customer_spend"),
        F.round(F.max("total_spend"), 2).alias("max_customer_spend"),
        F.count("*").alias("n_customers"),
    )


@query(
    "r_string_agg",
    oracle="""
SELECT n_regionkey,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       count(*) AS n_nations
FROM nation
GROUP BY n_regionkey
""",
)
def r_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg): sort inside the array before
    joining so shuffle order can't leak into the result."""
    n = t(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
        F.count("*").alias("n_nations"),
    )


@query(
    "r_first_last_window",
    oracle="""
SELECT DISTINCT o_custkey,
       first_value(o_orderkey) OVER w AS first_order,
       last_value(o_orderkey)  OVER w AS last_order,
       CAST(count(*) OVER w AS BIGINT) AS n_orders
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def r_first_last_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value over a full-partition frame, deduplicated to
    one row per customer."""
    o = t(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
        F.count("*").over(w).alias("n_orders"),
    ).distinct()


@query(
    "r_grouping_sets",
    oracle="""
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def r_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither pure rollup nor cube) through the
    spark.sql surface — the engine's SQL front door over registered views."""
    from ..sources.tables import load_table

    # namespaced view: don't clobber any caller-registered view of the
    # same name in a shared session
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("vss_orders_gs")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n_orders
        FROM vss_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "r_skew_report",
    oracle="""
WITH per_key AS (
  SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY l_partkey)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
       CAST(max(c) AS BIGINT) AS max_rows_per_key,
       (round(CAST(sum(c) AS DOUBLE) / count(*), 6) + 0) AS avg_rows_per_key,
       (round(quantile_cont(c, 0.99), 4) + 0) AS p99_rows_per_key,
       (round(CAST(max(c) AS DOUBLE) / (CAST(sum(c) AS DOUBLE) / count(*)), 6)
         + 0) AS skew_ratio
FROM per_key
""",
)
def r_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the report that decides whether a key
    needs salting (operators/skew.py::salted_join) or AQE skew-join
    handling before a 100 TB shuffle: per-key row counts reduced to
    max / avg / p99 and the max-to-avg skew ratio. Two-level aggregate;
    the first level shuffles (key, partial count), the second is tiny."""
    per_key = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count("*").alias("c"))
    )
    return per_key.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.max("c").cast("long").alias("max_rows_per_key"),
        F.round(F.sum("c").cast("double") / F.count("*"), 6).alias(
            "avg_rows_per_key"
        ),
        F.round(F.percentile("c", F.lit(0.99)), 4).alias("p99_rows_per_key"),
        F.round(
            F.max("c").cast("double")
            / (F.sum("c").cast("double") / F.count("*")),
            6,
        ).alias("skew_ratio"),
    )


@query(
    "r_table_profile",
    oracle="""
SELECT 'o_orderkey' AS column, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct FROM orders
UNION ALL
SELECT 'o_custkey', CAST(count(*) AS BIGINT),
       CAST(count(*) - count(o_custkey) AS BIGINT),
       CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
UNION ALL
SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
       CAST(count(*) - count(o_orderstatus) AS BIGINT),
       CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM orders
UNION ALL
SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
       CAST(count(*) - count(o_orderpriority) AS BIGINT),
       CAST(count(DISTINCT o_orderpriority) AS BIGINT) FROM orders
""",
)
def r_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (the engine's ANALYZE TABLE): per-column row /
    null / exact-distinct counts for the orders key+enum columns in ONE
    scan (operators/profile.py — single aggregate row, exploded to a row
    per column). Exact mode here so DuckDB can twin it; the operator's
    100 TB default is the HLL mode (tiny mergeable sketches, no EXPAND).
    """
    from ..operators.profile import profile_table

    return profile_table(
        t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
        approx=False,
    ).select(
        "column",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_nulls").cast("long").alias("n_nulls"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
    )


@query(
    "r_fuzzy_name_pairs",
    oracle="""
WITH names AS (
  SELECT DISTINCT p_name AS name FROM part WHERE p_name IS NOT NULL),
b AS (
  SELECT name, string_split(name, ' ')[1] AS blk FROM names)
SELECT a.name AS name_a, c.name AS name_b,
       CAST(levenshtein(a.name, c.name) AS INTEGER) AS edit_dist
FROM b a JOIN b c ON a.blk = c.blk AND a.name < c.name
WHERE levenshtein(a.name, c.name) <= 8
""",
)
def r_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage over part names: blocked edit-distance pairing
    (operators/linkage.py). Blocking on the first name word bounds the
    candidate set; the exact levenshtein filter runs JVM-side on in-block
    pairs only — one shuffle of (name, block), never an N x N join. The
    oracle twin is the same blocked self-join in DuckDB (identical plain
    edit-distance semantics), so the blocking-correctness is checked too:
    a pair crossing blocks is excluded on BOTH sides by construction."""
    from ..operators.linkage import fuzzy_self_pairs

    p = t(spark, sf_dir, "part")
    return fuzzy_self_pairs(
        p, "p_name", F.substring_index(F.col("name"), " ", 1), 8
    )


@query(
    "r_data_checks",
    oracle="""
SELECT 'not_null(o_custkey)' AS check_name,
       CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS violations,
       count(*) FILTER (WHERE o_custkey IS NULL) = 0 AS passed FROM orders
UNION ALL
SELECT 'unique(o_orderkey)',
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
       count(*) - count(DISTINCT o_orderkey) = 0 FROM orders
UNION ALL
SELECT 'in_range(o_totalprice,0..)',
       CAST(count(*) FILTER (WHERE o_totalprice < 0) AS BIGINT),
       count(*) FILTER (WHERE o_totalprice < 0) = 0 FROM orders
UNION ALL
SELECT 'values_in(o_orderstatus)',
       CAST(count(*) FILTER (WHERE o_orderstatus IS NOT NULL
             AND o_orderstatus NOT IN ('O','F','P')) AS BIGINT),
       count(*) FILTER (WHERE o_orderstatus IS NOT NULL
             AND o_orderstatus NOT IN ('O','F','P')) = 0 FROM orders
UNION ALL
SELECT 'row_count_between(1,None)',
       CAST(CASE WHEN count(*) < 1 THEN 1 - count(*) ELSE 0 END AS BIGINT),
       count(*) >= 1 FROM orders
UNION ALL
SELECT 'foreign_key(o_custkey)',
       CAST(count(*) FILTER (WHERE o_custkey IS NOT NULL AND c_custkey IS NULL) AS BIGINT),
       count(*) FILTER (WHERE o_custkey IS NOT NULL AND c_custkey IS NULL) = 0
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
UNION ALL
SELECT 'unique(l_orderkey,l_linenumber)',
       CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT),
       count(*) - count(DISTINCT (l_orderkey, l_linenumber)) = 0 FROM lineitem
""",
)
def r_data_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite (operators/validate.py — the
    Deequ/Great-Expectations pattern): completeness, key uniqueness,
    range, accepted values, and table-size checks compile into ONE
    aggregate job per table scan; referential integrity (orders.o_custkey
    -> customer) is a broadcast anti-join unioned into the same report.
    The lineitem primary-key check FAILS by design — the fixture's
    (l_orderkey, l_linenumber) is not unique (ROUND_NOTES round-4
    learning #3), exactly the defect such a suite exists to catch; the
    oracle twin pins the violation count, proving failing checks report
    the metric instead of aborting the pipeline."""
    from ..operators.validate import (
        check_suite,
        foreign_key,
        in_range,
        not_null,
        row_count_between,
        unique,
        values_in,
    )

    o = t(spark, sf_dir, "orders")
    suite = check_suite(
        o,
        [
            not_null("o_custkey"),
            unique("o_orderkey"),
            in_range("o_totalprice", lo=0),
            values_in("o_orderstatus", ["O", "F", "P"]),
            row_count_between(1),
        ],
    )
    fk = foreign_key(o, "o_custkey", t(spark, sf_dir, "customer"), "c_custkey")
    li_pk = check_suite(
        t(spark, sf_dir, "lineitem"), [unique("l_orderkey", "l_linenumber")]
    )
    return suite.unionByName(fk).unionByName(li_pk)


@query(
    "r_snapshot_diff",
    oracle="""
WITH l AS (
  SELECT o_orderkey, o_custkey,
         CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice, o_orderstatus
  FROM orders),
r AS (
  SELECT o_orderkey, o_custkey,
         CAST(o_totalprice AS DECIMAL(18,2))
           + CASE WHEN o_orderkey % 101 = 0 THEN CAST(1.50 AS DECIMAL(18,2))
                  ELSE CAST(0 AS DECIMAL(18,2)) END AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT -o_orderkey, o_custkey,
         CAST(o_totalprice AS DECIMAL(18,2)), o_orderstatus
  FROM orders WHERE o_orderkey % 103 = 0),
d AS (
  SELECT coalesce(l.o_orderkey, r.o_orderkey) AS k,
         CASE WHEN l.o_orderkey IS NULL THEN 'added'
              WHEN r.o_orderkey IS NULL THEN 'removed'
              WHEN (l.o_custkey IS NOT DISTINCT FROM r.o_custkey)
               AND (l.o_totalprice IS NOT DISTINCT FROM r.o_totalprice)
               AND (l.o_orderstatus IS NOT DISTINCT FROM r.o_orderstatus)
                   THEN 'same' ELSE 'changed' END AS st,
         CASE WHEN l.o_orderkey IS NOT NULL AND r.o_orderkey IS NOT NULL
               AND NOT (l.o_custkey IS NOT DISTINCT FROM r.o_custkey)
              THEN 1 ELSE 0 END AS ch_cust,
         CASE WHEN l.o_orderkey IS NOT NULL AND r.o_orderkey IS NOT NULL
               AND NOT (l.o_totalprice IS NOT DISTINCT FROM r.o_totalprice)
              THEN 1 ELSE 0 END AS ch_price,
         CASE WHEN l.o_orderkey IS NOT NULL AND r.o_orderkey IS NOT NULL
               AND NOT (l.o_orderstatus IS NOT DISTINCT FROM r.o_orderstatus)
              THEN 1 ELSE 0 END AS ch_status
  FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey)
SELECT metric, n FROM (
  SELECT 'rows_added' AS metric,
         CAST(count(*) FILTER (WHERE st = 'added') AS BIGINT) AS n FROM d
  UNION ALL SELECT 'rows_removed',
         CAST(count(*) FILTER (WHERE st = 'removed') AS BIGINT) FROM d
  UNION ALL SELECT 'rows_changed',
         CAST(count(*) FILTER (WHERE st = 'changed') AS BIGINT) FROM d
  UNION ALL SELECT 'rows_same',
         CAST(count(*) FILTER (WHERE st = 'same') AS BIGINT) FROM d
  UNION ALL SELECT 'col_changed_o_custkey', CAST(sum(ch_cust) AS BIGINT) FROM d
  UNION ALL SELECT 'col_changed_o_totalprice',
         CAST(sum(ch_price) AS BIGINT) FROM d
  UNION ALL SELECT 'col_changed_o_orderstatus',
         CAST(sum(ch_status) AS BIGINT) FROM d)
""",
)
def r_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed table reconciliation (operators/diff.diff_summary — the
    dbt-audit/Datafold primitive): diff the orders snapshot against a
    deterministically mutated version (keys %97 removed, %101 price
    +1.50, %103 re-added under shifted keys) and report rows added /
    removed / changed / same plus per-column change counts. ONE
    full-outer sort-merge join on the key (the correct big-to-big
    reconciliation plan — broadcast hints are ignored on full_outer) +
    one aggregate; NULL-safe column equality; duplicate keys on either
    side raise in-plan rather than pairing rows arbitrarily. Full SQL
    twin (IS NOT DISTINCT FROM mirrors eqNullSafe; DECIMAL keeps the
    +1.50 mutation exact in both engines)."""
    from ..operators.diff import diff_summary

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
        "o_orderstatus",
    )
    kept = base.where(F.col("o_orderkey") % 97 != 0)
    mutated = kept.withColumn(
        "o_totalprice",
        (
            F.col("o_totalprice")
            + F.when(
                F.col("o_orderkey") % 101 == 0,
                F.lit("1.50").cast("decimal(18,2)"),
            ).otherwise(F.lit("0").cast("decimal(18,2)"))
        ).cast("decimal(18,2)"),
    )
    # negated keys can never collide with real TPC-H keys (positive at
    # EVERY scale factor — a +10M shift would collide from sf2 up and
    # trip the duplicate-key guard; round-4 review)
    readded = base.where(F.col("o_orderkey") % 103 == 0).withColumn(
        "o_orderkey", -F.col("o_orderkey")
    )
    right = mutated.unionByName(readded)
    return diff_summary(base, right, ["o_orderkey"])


@query(
    "r_market_basket",
    oracle="""
WITH op AS (
  SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
pc AS (
  SELECT a.p AS part_a, b.p AS part_b, CAST(count(*) AS BIGINT) AS n_both
  FROM op a JOIN op b ON a.k = b.k AND a.p < b.p
  GROUP BY 1, 2),
ic AS (SELECT p, CAST(count(*) AS BIGINT) AS n FROM op GROUP BY 1),
tot AS (SELECT CAST(count(DISTINCT k) AS BIGINT) AS o FROM op)
SELECT part_a, part_b, n_both,
       (round(CAST(n_both AS DOUBLE) * o / (ia.n * ib.n), 4) + 0) AS lift
FROM pc, tot
JOIN ic ia ON ia.p = pc.part_a
JOIN ic ib ON ib.p = pc.part_b
ORDER BY n_both DESC, part_a, part_b
LIMIT 20
""",
)
def r_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with lift (the association-rules
    staple): top part pairs ordered together, lift = P(ab)/(P(a)P(b))
    over order baskets. Spark shape: ONE shuffle builds per-order
    baskets (collect_set, avg 4 / max 13 parts per order here), pairs
    generate IN-ARRAY (the linkage/dedup idiom — no self-join, pair
    blowup bounded by basket size squared), pair counts partial-agg;
    item counts and the order total are separate cheap aggregates whose
    results BROADCAST into the bounded pair frame (at 100 TB you'd
    derive all three from one cached basket pass; the catalog keeps the
    pure-lazy form — every shuffle carries aggregates, never line
    items). Lift divides exact BIGINT counts in double — bit-identical
    across engines."""
    li = t(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = baskets.where(F.size("parts") > 1).select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("parts"),
                    lambda a: F.transform(
                        F.filter(F.col("parts"), lambda b: b > a),
                        lambda b: F.struct(
                            a.alias("part_a"), b.alias("part_b")
                        ),
                    ),
                )
            )
        ).alias("pr")
    )
    pc = pairs.groupBy("pr.part_a", "pr.part_b").agg(
        F.count("*").alias("n_both")
    )
    op = li.select("l_orderkey", "l_partkey").distinct()
    # ONE item-count subtree referenced by both joins: keeping the plan
    # identical (renames applied AFTER the join, not inside the broadcast
    # side) lets ReusedExchange serve the second join from the first
    # broadcast — 3 source scans, not 4 (plan-pinned in tests)
    ic = F.broadcast(op.groupBy("l_partkey").agg(F.count("*").alias("n")))
    tot = li.agg(F.countDistinct("l_orderkey").alias("o"))
    ia, ib = ic.alias("ia"), ic.alias("ib")
    out = (
        pc.crossJoin(F.broadcast(tot))
        .join(ia, F.col("part_a") == F.col("ia.l_partkey"))
        .withColumnRenamed("n", "n_a")
        .drop(F.col("ia.l_partkey"))
        .join(ib, F.col("part_b") == F.col("ib.l_partkey"))
        .withColumnRenamed("n", "n_b")
        .drop(F.col("ib.l_partkey"))
        .select(
            "part_a",
            "part_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                * F.col("o")
                / (F.col("n_a") * F.col("n_b")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.col("n_both").desc(), "part_a", "part_b")
        .limit(20)
    )
    return out


@query(
    "r_target_encoding",
    oracle="""
WITH base AS (
  SELECT c_mktsegment AS seg,
         CAST(c_acctbal AS DECIMAL(18,2)) AS y
  FROM customer),
g AS (
  SELECT seg, y,
         sum(y) OVER (PARTITION BY seg) AS s_cat,
         count(*) OVER (PARTITION BY seg) AS n_cat,
         sum(y) OVER () AS s_all,
         count(*) OVER () AS n_all
  FROM base),
enc AS (
  SELECT seg, n_cat,
         CAST(s_cat AS DOUBLE) / n_cat AS cat_mean,
         (CAST(s_cat AS DOUBLE)
            + 20.0 * CAST(s_all AS DOUBLE) / n_all) / (n_cat + 20.0)
           AS enc_smooth,
         (CAST(s_cat - y AS DOUBLE)
            + 20.0 * CAST(s_all AS DOUBLE) / n_all) / (n_cat - 1 + 20.0)
           AS loo
  FROM g)
SELECT seg, CAST(n_cat AS BIGINT) AS n,
       (round(min(cat_mean), 4) + 0) AS cat_mean,
       (round(min(enc_smooth), 4) + 0) AS enc_smooth,
       (round(min(loo), 4) + 0) AS loo_min,
       (round(max(loo), 4) + 0) AS loo_max
FROM enc GROUP BY seg, n_cat
""",
)
def r_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out smoothed target encoding (the categorical feature-
    engineering staple): encode c_mktsegment against account balance with
    m=20 smoothing toward the global mean, plus the per-row LOO variant
    (each row's own target excluded — the anti-leakage form actually fed
    to models). One category-hashed window exchange computes the
    category sums; the GLOBAL sums come from a separate tiny aggregate
    broadcast-crossJoined onto the frame (an unpartitioned window here
    would funnel every row through ONE task — the single-reducer
    anti-pattern; the broadcast costs one extra cheap scan instead,
    the r_market_basket idiom). The per-category report is one groupBy
    that reuses the category exchange. DECIMAL sums keep both engines
    bit-exact; the divisions happen in double on identical inputs."""
    from pyspark.sql import Window

    base = t(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_acctbal").cast(DEC).alias("y"),
    )
    w_cat = Window.partitionBy("seg")
    glob = base.agg(
        F.sum("y").alias("s_all"), F.count("*").alias("n_all")
    )
    g = base.select(
        "seg",
        "y",
        F.sum("y").over(w_cat).alias("s_cat"),
        F.count("*").over(w_cat).alias("n_cat"),
    ).crossJoin(F.broadcast(glob))
    mu = F.lit(20.0) * F.col("s_all").cast("double") / F.col("n_all")
    enc = g.select(
        "seg",
        "n_cat",
        (F.col("s_cat").cast("double") / F.col("n_cat")).alias("cat_mean"),
        (
            (F.col("s_cat").cast("double") + mu)
            / (F.col("n_cat") + F.lit(20.0))
        ).alias("enc_smooth"),
        (
            ((F.col("s_cat") - F.col("y")).cast("double") + mu)
            / (F.col("n_cat") - 1 + F.lit(20.0))
        ).alias("loo"),
    )
    return enc.groupBy("seg", "n_cat").agg(
        F.round(F.min("cat_mean"), 4).alias("cat_mean"),
        F.round(F.min("enc_smooth"), 4).alias("enc_smooth"),
        F.round(F.min("loo"), 4).alias("loo_min"),
        F.round(F.max("loo"), 4).alias("loo_max"),
    ).select(
        "seg",
        F.col("n_cat").cast("long").alias("n"),
        "cat_mean",
        "enc_smooth",
        "loo_min",
        "loo_max",
    )


@query(
    "r_rfm_segments",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         CAST(count(*) AS BIGINT) AS n_orders,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
  FROM orders GROUP BY 1),
scored AS (
  SELECT spend,
         ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS r_score,
         ntile(4) OVER (ORDER BY n_orders DESC, o_custkey) AS f_score,
         ntile(4) OVER (ORDER BY spend DESC, o_custkey) AS m_score
  FROM per_cust)
SELECT concat(CAST(r_score AS VARCHAR), CAST(f_score AS VARCHAR),
              CAST(m_score AS VARCHAR)) AS segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       (round(CAST(sum(spend) AS DOUBLE) / count(*), 6) + 0) AS avg_spend
FROM scored
GROUP BY 1
""",
)
def r_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (the CRM staple): quartile scores for
    recency (last order date), frequency (order count) and monetary value
    (DECIMAL-exact spend), concatenated into a segment code; the report
    aggregates customer count and average spend per segment (<= 64 rows).

    Ordering discipline: every ntile ranks a TOTAL order (metric then
    o_custkey), so the quartile boundaries are deterministic and the SQL
    twin reproduces them exactly — both engines implement SQL-standard
    ntile (larger buckets first), and operators/ranking.global_ntile
    replays that form bit-exactly (parity pinned in tests/test_ranking.py).

    Scale shape: the three quartile scores come from global_ntile —
    quantile-bucketed distributed rank + tile arithmetic — NOT from
    ntile() over three unpartitioned windows: the per-customer frame is
    one row per CUSTOMER, and three SinglePartition sort exchanges over
    it were the round-4 verdict's flagged scale-killer (billions of rows
    through one task each, three times). tests/test_plans.py pins no
    SinglePartition exchange in this plan. The three bucket exchanges are
    P-way parallel; last_order ranks through an integer day surrogate
    (strictly monotone, so identical order) because the quantile-stats
    pass needs a numeric leading key."""
    from ..operators.ranking import global_ntile

    o = t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"),
    ).withColumn(
        "recency_days", F.datediff("last_order", F.lit("1970-01-01"))
    )
    scored = per
    for col_name, key in (
        ("r_score", "recency_days"),
        ("f_score", "n_orders"),
        ("m_score", "spend"),
    ):
        scored = global_ntile(
            scored,
            4,
            [key, "o_custkey"],
            descending=[True, False],
            col_name=col_name,
            # persist the per-customer aggregate once: the later tiles'
            # planning jobs re-derive their input plan on top of it
            persist=(col_name == "r_score"),
            memo_key=(sf_dir, "r_rfm_segments", col_name),
        )
    return scored.groupBy(
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("segment")
    ).agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("spend").cast("double") / F.count("*"), 6).alias(
            "avg_spend"
        ),
    )


@query(
    "r_winsorized_mean",
    oracle="""
WITH st AS (
  SELECT quantile_cont(l_extendedprice, 0.01) AS p01,
         quantile_cont(l_extendedprice, 0.99) AS p99
  FROM lineitem),
flagged AS (
  SELECT l_returnflag,
         CASE WHEN l_extendedprice < p01 THEN 1 ELSE 0 END AS is_low,
         CASE WHEN l_extendedprice > p99 THEN 1 ELSE 0 END AS is_high,
         CASE WHEN l_extendedprice >= p01 AND l_extendedprice <= p99
              THEN CAST(l_extendedprice AS DECIMAL(18,2)) END AS mid_price,
         p01, p99
  FROM lineitem, st)
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(is_low) AS BIGINT) AS n_clamped_low,
       CAST(sum(is_high) AS BIGINT) AS n_clamped_high,
       (round((CAST(coalesce(sum(mid_price), 0) AS DOUBLE)
               + CAST(sum(is_low) AS DOUBLE) * max(p01)
               + CAST(sum(is_high) AS DOUBLE) * max(p99))
              / count(*), 6) + 0) AS winsorized_mean
FROM flagged
GROUP BY l_returnflag
""",
)
def r_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per return flag: prices clamped at the corpus-wide
    exact p01/p99 percentiles — the robust-statistics step before means
    feed dashboards or features, reported with how many rows each tail
    clamped.

    Float discipline: the winsorized mean is DECOMPOSED —
    (exact DECIMAL sum of unclamped prices + n_low*p01 + n_high*p99) / n —
    so the only floats are the two interpolated percentile scalars and the
    final scalar arithmetic; no float accumulates across rows in partition
    order. The percentile pair is a 1-row aggregate broadcast-crossJoined
    onto the scan (bounded-broadcast BNLJ, whitelisted in
    tests/test_plan_invariants.py)."""
    li = t(spark, sf_dir, "lineitem")
    # Round-10: the cut points come from the DISTRIBUTED exact-percentile
    # plan (operators/percentiles.exact_percentiles — bit-identical
    # interpolation to F.percentile, pinned in tests/test_percentiles.py)
    # instead of a single-task ObjectHashAggregate that buffers every
    # l_extendedprice value in one task — O(N) memory in one task at
    # 100 TB (guide §5; the round-9 verdict's #1 remaining scale problem).
    # Round-9 note kept for history: widening the OLD aggregate branch was
    # measured WORSE (1.70 -> 2.04 s); the bucket-histogram plan replaces
    # it outright.
    from ..operators.percentiles import exact_percentiles

    st = exact_percentiles(li, "l_extendedprice", (0.01, 0.99)).select(
        F.col("ps")[0].alias("p01"), F.col("ps")[1].alias("p99")
    )
    flagged = li.crossJoin(F.broadcast(st)).select(
        "l_returnflag",
        F.when(F.col("l_extendedprice") < F.col("p01"), 1)
        .otherwise(0)
        .alias("is_low"),
        F.when(F.col("l_extendedprice") > F.col("p99"), 1)
        .otherwise(0)
        .alias("is_high"),
        F.when(
            (F.col("l_extendedprice") >= F.col("p01"))
            & (F.col("l_extendedprice") <= F.col("p99")),
            F.col("l_extendedprice").cast("decimal(18,2)"),
        ).alias("mid_price"),
        "p01",
        "p99",
    )
    win_mean = (
        F.coalesce(F.sum("mid_price"), F.lit(0)).cast("double")
        + F.sum("is_low").cast("double") * F.max("p01")
        + F.sum("is_high").cast("double") * F.max("p99")
    ) / F.count("*")
    return flagged.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        F.sum("is_low").cast("long").alias("n_clamped_low"),
        F.sum("is_high").cast("long").alias("n_clamped_high"),
        F.round(win_mean, 6).alias("winsorized_mean"),
    )


@query(
    "r_pareto_revenue",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
  FROM orders GROUP BY 1),
ranked AS (
  SELECT spend,
         CAST(row_number() OVER (ORDER BY spend DESC, o_custkey) AS BIGINT)
           AS r,
         CAST(count(*) OVER () AS BIGINT) AS n,
         sum(spend) OVER () AS total_spend,
         sum(spend) OVER (ORDER BY spend DESC, o_custkey
                          ROWS UNBOUNDED PRECEDING) AS cum_spend
  FROM per_cust),
tiers AS (
  SELECT t.pct,
         CAST(max(CASE WHEN r * 100 <= n * t.pct THEN r END) AS BIGINT)
           AS n_customers,
         max(CASE WHEN r * 100 <= n * t.pct THEN cum_spend END) AS tier_spend,
         max(total_spend) AS total_spend
  FROM ranked
  CROSS JOIN (SELECT unnest([1, 10, 20]) AS pct) t
  GROUP BY t.pct)
SELECT pct AS top_pct, n_customers,
       (round(CAST(tier_spend AS DOUBLE), 2) + 0) AS tier_revenue,
       (round(CAST(tier_spend AS DOUBLE) / CAST(total_spend AS DOUBLE), 6)
          + 0) AS revenue_share
FROM tiers
""",
)
def r_pareto_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto / "80-20") report: what share of total
    revenue comes from the top 1% / 10% / 20% of customers — the
    distribution readout next to e_gini_users' single coefficient.

    All accumulation is DECIMAL-exact over a total order (spend desc,
    custkey): the cumulative-spend window and the grand total are exact
    sums, so every tier's share divides two exact decimals in double. The
    tier membership test (rn*100 <= n*pct) is pure BIGINT arithmetic — no
    float percent thresholds. Windows run on the per-customer AGGREGATE
    frame (dimension-sized; operators/ranking.dimension_rank takes the
    bucketed past-single-reducer path once it is not)."""
    from ..operators import ranking

    o = t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend")
    )
    # rank, count, grand total and cumulative spend under one order;
    # bucketed past the dimension threshold (no SinglePartition sort)
    ranked = ranking.dimension_rank(
        per, ["spend", "o_custkey"], descending=[True, False],
        total="spend", running=True,
    )
    tiers = ranked.crossJoin(
        F.broadcast(
            spark.createDataFrame([(1,), (10,), (20,)], "pct: int")
        )
    )
    in_tier = F.col("rn") * 100 <= F.col("n") * F.col("pct")
    agg = tiers.groupBy("pct").agg(
        F.max(F.when(in_tier, F.col("rn"))).cast("long").alias("n_customers"),
        F.max(F.when(in_tier, F.col("cumsum"))).alias("tier_spend"),
        F.max("total").alias("total_spend"),
    )
    return agg.select(
        F.col("pct").alias("top_pct"),
        "n_customers",
        F.round(F.col("tier_spend").cast("double"), 2).alias("tier_revenue"),
        F.round(
            F.col("tier_spend").cast("double")
            / F.col("total_spend").cast("double"),
            6,
        ).alias("revenue_share"),
    )


@query(
    "r_monthly_growth",
    oracle="""
WITH monthly AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER)
           AS ym,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
  FROM orders GROUP BY 1)
SELECT ym,
       (round(CAST(revenue AS DOUBLE), 2) + 0) AS revenue,
       (round(CAST(revenue - lag(revenue) OVER (ORDER BY ym) AS DOUBLE)
              / CAST(lag(revenue) OVER (ORDER BY ym) AS DOUBLE), 6) + 0)
         AS mom_growth
FROM monthly
""",
)
def r_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — the BI trend staple: monthly
    DECIMAL-exact revenue, lag window, growth ratio. The delta is an exact
    DECIMAL subtraction; doubles appear only in the final ratio (NULL on
    the first month via lag's NULL propagating through +0). year()/month()
    on DATE are timezone-free in both engines (the r_date_funcs family
    contract). The window frame is the ~84-row monthly aggregate."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("ym")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue")
    )
    w = Window.orderBy("ym")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "ym",
        F.round(F.col("revenue").cast("double"), 2).alias("revenue"),
        F.round(
            (F.col("revenue") - prev).cast("double") / prev.cast("double"), 6
        ).alias("mom_growth"),
    )


# First-digit expected shares under Benford's law, log10(1 + 1/d) rounded
# to the house 6 decimals in Python so BOTH engines parse the same literal
# (no reliance on cross-engine libm log10 agreement).
_BENFORD = {d: round(__import__("math").log10(1 + 1 / d), 6) for d in range(1, 10)}


@query(
    "r_benford",
    oracle=f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                     1, 1) AS INTEGER) AS digit
  FROM orders),
counts AS (
  SELECT digit, count(*) AS n FROM digits GROUP BY digit),
shares AS (
  SELECT digit, n,
         CAST(n AS DOUBLE) / sum(n) OVER () AS obs_raw,
         CASE digit {" ".join(f"WHEN {d} THEN {v!r}" for d, v in _BENFORD.items())}
         END AS benford_share
  FROM counts)
SELECT CAST(digit AS INTEGER) AS digit, CAST(n AS BIGINT) AS n,
       (round(obs_raw, 6) + 0) AS obs_share,
       benford_share,
       (round(abs(obs_raw - benford_share), 6) + 0) AS abs_dev
FROM shares
""",
)
def r_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the
    fraud/data-quality screen run over any money column at ingest:
    observed first-significant-digit shares vs the log10(1+1/d)
    expectation, with per-digit absolute deviation.

    The first digit comes from integer arithmetic (floor -> BIGINT ->
    string head), never float log10 of the value — Spark CAST truncates
    doubles while DuckDB CAST rounds, so floor() runs before the cast on
    both sides. Expected shares are Python-computed literals embedded in
    both plans (identical parse, no cross-engine libm dependence); the
    deviation is computed from the UNROUNDED observed share with the same
    expression shape on both sides.

    Scale shape: one scan -> partial-agg groupBy over <= 9 digit groups
    -> a 9-row window for the grand total. Nothing but digit counts ever
    shuffles."""
    from pyspark.sql import Window

    digit = (
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counts = (
        t(spark, sf_dir, "orders")
        .select(digit)
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    obs_raw = F.col("n").cast("double") / F.sum("n").over(
        Window.partitionBy()
    )
    benford = F.when(F.col("digit") == 1, F.lit(_BENFORD[1]))
    for d in range(2, 10):
        benford = benford.when(F.col("digit") == d, F.lit(_BENFORD[d]))
    return counts.select(
        F.col("digit").cast("int").alias("digit"),
        F.col("n").cast("long").alias("n"),
        obs_raw.alias("_obs"),
        benford.alias("benford_share"),
    ).select(
        "digit",
        "n",
        F.round("_obs", 6).alias("obs_share"),
        "benford_share",
        F.round(F.abs(F.col("_obs") - F.col("benford_share")), 6).alias(
            "abs_dev"
        ),
    )


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_matrix_sql() -> str:
    """DuckDB twin of r_corr_matrix with the identical expression shape
    (exact DECIMAL sufficient statistics -> double formula) so the
    doubles match bit-for-bit."""
    cols = _CORR_COLS
    dec = "DECIMAL(18,2)"
    stats = ["CAST(count(*) AS DOUBLE) AS n"]
    for i, c in enumerate(cols):
        stats.append(f"CAST(sum(CAST({c} AS {dec})) AS DOUBLE) AS s{i}")
    for i in range(len(cols)):
        for j in range(i, len(cols)):
            stats.append(
                f"CAST(sum(CAST({cols[i]} AS {dec}) * CAST({cols[j]} AS {dec}))"
                f" AS DOUBLE) AS m{i}{j}"
            )
    arms = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            num = f"(n * m{i}{j} - s{i} * s{j})"
            di = f"(n * m{i}{i} - s{i} * s{i})"
            dj = f"(n * m{j}{j} - s{j} * s{j})"
            arms.append(
                f"SELECT '{cols[i]}' AS col_a, '{cols[j]}' AS col_b,\n"
                f"       CAST(n AS BIGINT) AS n,\n"
                f"       (round(CASE WHEN {di} * {dj} <= 0 THEN NULL\n"
                f"              ELSE {num} / (sqrt({di}) * sqrt({dj}))\n"
                f"              END, 6) + 0) AS corr_r\n"
                f"FROM s"
            )
    return (
        "WITH s AS (\n  SELECT " + ",\n         ".join(stats) + "\n  FROM lineitem)\n"
        + "\nUNION ALL\n".join(arms)
    )


@query("r_corr_matrix", oracle=_corr_matrix_sql())
def r_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix of the lineitem numeric columns in ONE
    scan — the feature-screening pass a training pipeline runs before
    model fitting, computed from sufficient statistics instead of
    Spark's pairwise ``corr`` (which would rescan per pair).

    Exactness: every sum and cross-product accumulates in DECIMAL (the
    inputs are 2-decimal money/rate values, so the cast is exact and the
    sums are order-independent); doubles appear only in the final
    per-pair formula, whose shape matches the oracle token-for-token.
    Degenerate (constant) columns yield NULL instead of a divide-by-zero.

    Scale shape: one scan -> one partial-agg reduction to a single
    15-stat row -> explode to the 6 pair rows. At 100 TB this is the
    canonical map-side-combine aggregate; the DECIMAL(38,4) accumulators
    hold ~1e34, far above any realistic sum of 1e10-scale products."""
    cols = _CORR_COLS
    dec = "decimal(18,2)"
    aggs = [F.count("*").cast("double").alias("n")]
    for i, c in enumerate(cols):
        aggs.append(F.sum(F.col(c).cast(dec)).cast("double").alias(f"s{i}"))
    for i in range(len(cols)):
        for j in range(i, len(cols)):
            aggs.append(
                F.sum(F.col(cols[i]).cast(dec) * F.col(cols[j]).cast(dec))
                .cast("double")
                .alias(f"m{i}{j}")
            )
    # Round-9 optimization (guide §2.5 input skew): 14 decimal sufficient
    # statistics (10 of them DECIMAL(37,4) cross-products) per row fuse
    # into the single-row-group scan task; widen() spreads the projected
    # 4 columns across the cores first (no-op at production scale).
    # Measured 2.39 s -> ~1.0 s at sf0.1.
    stats = widen(t(spark, sf_dir, "lineitem").select(*cols)).agg(*aggs)

    def pair(i: int, j: int):
        n = F.col("n")
        num = n * F.col(f"m{i}{j}") - F.col(f"s{i}") * F.col(f"s{j}")
        di = n * F.col(f"m{i}{i}") - F.col(f"s{i}") * F.col(f"s{i}")
        dj = n * F.col(f"m{j}{j}") - F.col(f"s{j}") * F.col(f"s{j}")
        corr = F.when(di * dj <= 0, F.lit(None).cast("double")).otherwise(
            num / (F.sqrt(di) * F.sqrt(dj))
        )
        return F.struct(
            F.lit(cols[i]).alias("col_a"),
            F.lit(cols[j]).alias("col_b"),
            F.round(corr, 6).alias("corr_r"),
        )

    pairs = [
        pair(i, j)
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    return stats.select(
        F.col("n").cast("long").alias("n"), F.explode(F.array(*pairs)).alias("p")
    ).select("p.col_a", "p.col_b", "n", "p.corr_r")


@query(
    "r_k_anonymity",
    oracle="""
WITH qi AS (
  SELECT c_nationkey AS nat, c_mktsegment AS seg,
         (c_acctbal < 0) AS neg
  FROM customer),
grp AS (
  SELECT CASE WHEN GROUPING(neg) = 1 THEN 'generalized' ELSE 'full' END
           AS qi_level,
         count(*) AS k
  FROM qi
  GROUP BY GROUPING SETS ((nat, seg, neg), (nat, seg))),
bucketed AS (
  SELECT qi_level,
         CASE WHEN k = 1 THEN '1'
              WHEN k < 5 THEN '2-4'
              WHEN k < 10 THEN '5-9'
              ELSE '10+' END AS k_bucket,
         k
  FROM grp)
SELECT qi_level, k_bucket,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(k) AS BIGINT) AS n_rows,
       CAST(min(k) AS BIGINT) AS min_k
FROM bucketed GROUP BY 1, 2
""",
)
def r_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of a quasi-identifier set — the re-identification
    risk report a privacy reviewer runs before any release (the batch
    sibling of the repo's cohort/federated privacy surface): group sizes
    k over the full QI tuple (nation, segment, balance-sign) AND over the
    generalized tuple with the most identifying attribute dropped, so
    one table shows how much coarsening buys.

    Both levels come from ONE GROUPING SETS aggregate (one exchange,
    partial aggs absorb the scan); the k histogram is a second tiny
    group-sized aggregate. Equivalence-class sizes are exact integers —
    no float discipline needed anywhere."""
    from ..sources.tables import load_table

    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "vss_customer_ka"
    )
    return spark.sql(
        """
        WITH qi AS (
          SELECT c_nationkey AS nat, c_mktsegment AS seg,
                 (c_acctbal < 0) AS neg
          FROM vss_customer_ka),
        grp AS (
          SELECT CASE WHEN GROUPING(neg) = 1 THEN 'generalized'
                      ELSE 'full' END AS qi_level,
                 count(*) AS k
          FROM qi
          GROUP BY GROUPING SETS ((nat, seg, neg), (nat, seg))),
        bucketed AS (
          SELECT qi_level,
                 CASE WHEN k = 1 THEN '1'
                      WHEN k < 5 THEN '2-4'
                      WHEN k < 10 THEN '5-9'
                      ELSE '10+' END AS k_bucket,
                 k
          FROM grp)
        SELECT qi_level, k_bucket,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(sum(k) AS BIGINT) AS n_rows,
               CAST(min(k) AS BIGINT) AS min_k
        FROM bucketed GROUP BY 1, 2
        """
    )


# Shared Laplace-release formula (inverse CDF over a content-keyed md5
# uniform). The two engines differ ONLY in hex→integer parsing (Spark
# conv(); DuckDB 0x-cast) — the 13 hex digits are 52 bits, exact in
# double, so u and the noise expression match bit-for-bit.
_DP_NOISE = (
    "-1.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))"
)


@query(
    "r_dp_counts",
    oracle=f"""
WITH cnt AS (
  SELECT n.n_name, count(*) AS n
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name),
keyed AS (
  SELECT n_name, n,
         (CAST(CAST(concat('0x', substr(md5(concat('dp1:', n_name)), 1, 13))
                    AS UBIGINT) AS DOUBLE) + 0.5) / 4503599627370496.0 AS u
  FROM cnt)
SELECT n_name, CAST(n AS BIGINT) AS n,
       (round({_DP_NOISE}, 6) + 0) AS noise,
       (round(CAST(n AS DOUBLE) + ({_DP_NOISE}), 6) + 0) AS noisy_n
FROM keyed
""",
)
def r_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (Laplace mechanism, eps=1,
    count sensitivity 1 -> scale b=1) over customers per nation — the
    privacy-preserving publication form next to r_k_anonymity's audit
    (and the aggregate-release counterpart of the repo's federated
    training surface).

    Determinism at scale: the Laplace draw is NOT rand(seed) — whose
    stream is partition-keyed and therefore layout-dependent — but the
    inverse CDF applied to a content-keyed uniform u derived from
    md5('dp1:' || group key): reproducible across sessions, layouts and
    cluster sizes (the hash_sample discipline), replayable bit-for-bit
    by the oracle. The true count rides along for fixture-scale
    auditability; a production release would project it away. One
    broadcast join (25-row nation) + one partial-agg groupBy; noise is a
    stateless projection over 25 rows."""
    from ..sources.tables import load_table

    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "vss_customer_dp"
    )
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "vss_nation_dp"
    )
    return spark.sql(
        f"""
        WITH cnt AS (
          SELECT n.n_name, count(*) AS n
          FROM vss_customer_dp c
          JOIN vss_nation_dp n ON c.c_nationkey = n.n_nationkey
          GROUP BY n.n_name),
        keyed AS (
          SELECT n_name, n,
                 (CAST(conv(substr(md5(concat('dp1:', n_name)), 1, 13), 16, 10)
                       AS DOUBLE) + 0.5) / 4503599627370496.0 AS u
          FROM cnt)
        SELECT n_name, CAST(n AS BIGINT) AS n,
               round({_DP_NOISE}, 6) AS noise,
               round(CAST(n AS DOUBLE) + ({_DP_NOISE}), 6) AS noisy_n
        FROM keyed
        """
    )


@query(
    "r_triangle_count",
    oracle="""
WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
deg AS (
  SELECT n, count(*) AS d
  FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY n),
tri AS (
  SELECT count(*) AS n_triangles
  FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3
    ON e3.u = e1.u AND e3.v = e2.v),
ds AS (
  SELECT count(*) AS n_nodes,
         sum((d * (d - 1)) // 2) AS n_wedges,
         max(d) AS max_degree
  FROM deg)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
       CAST(n_triangles AS BIGINT) AS n_triangles,
       CAST(coalesce(n_wedges, 0) AS BIGINT) AS n_wedges,
       CAST(max_degree AS BIGINT) AS max_degree,
       (CASE WHEN n_wedges > 0
             THEN round(3 * CAST(n_triangles AS DOUBLE)
                        / CAST(n_wedges AS DOUBLE), 6) + 0
        END) AS clustering_coeff
FROM ds, tri
""",
)
def r_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph (parts are adjacent
    when some order contains both): exact triangle count, wedge count and
    global clustering coefficient — the standard graph-analytics summary
    (community density / recommendation-graph health probe).

    The Spark side runs the degree-ordered orientation algorithm
    (operators/graph.triangle_stats — Suri & Vassilvitskii WWW'11), whose
    wedge exchange is O(m^1.5)-bounded no matter how hot the hottest part
    is; the oracle is the brute-force three-way self-join, feasible at
    oracle scale and an INDEPENDENT algorithm, so the match is evidence of
    correctness rather than replay. Edge building self-joins lineitem on
    l_orderkey (orders are small groups, so the join fans out per-order
    item pairs, not corpus pairs) and canonicalizes pairs by key order."""
    from ..operators.graph import triangle_stats

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "k")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    return triangle_stats(edges)


@query(
    "r_theil_index",
    oracle="""
WITH rev AS (
  SELECT o_custkey AS ck,
         sum(CAST(round(o_totalprice * 1000000, 0) AS BIGINT)) AS x
  FROM orders GROUP BY o_custkey),
seg AS (
  SELECT c_mktsegment AS segment, x
  FROM rev JOIN customer ON c_custkey = ck),
perc AS (
  SELECT segment, x,
         CAST(round(ln(CAST(x AS DOUBLE)) * 1000000, 0) AS BIGINT) AS lx
  FROM seg),
g AS (
  SELECT segment, count(*) AS n,
         sum(CAST(x AS DECIMAL(38, 0))) AS s,
         sum(CAST(x AS DECIMAL(19, 0)) * CAST(lx AS DECIMAL(19, 0))) AS l
  FROM perc GROUP BY segment),
tot AS (
  SELECT segment, n, s, l,
         CAST(sum(n) OVER () AS DOUBLE) AS tn,
         CAST(sum(s) OVER () AS DOUBLE) AS ts
  FROM g),
calc AS (
  SELECT segment, n, tn, ts,
         CAST(n AS DOUBLE) AS nd, CAST(s AS DOUBLE) AS sd,
         CAST(l AS DOUBLE) AS ld
  FROM tot)
SELECT segment, CAST(n AS BIGINT) AS n_customers,
       (round(sd / 1000000.0, 2) + 0) AS total_revenue,
       (round(sd / ts, 6) + 0) AS revenue_share,
       (round(ld / 1000000.0 / sd - ln(sd / nd), 6) + 0) AS theil_within,
       (round((sd / ts) * (ld / 1000000.0 / sd - ln(sd / nd)), 6) + 0)
         AS within_contrib,
       (round((sd / ts) * ln((sd / nd) / (ts / tn)), 6) + 0)
         AS between_contrib
FROM calc ORDER BY segment
""",
)
def r_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality of per-customer revenue, DECOMPOSED by market
    segment — the property Gini (e_gini_users) lacks: T = sum_g share_g *
    T_g(within) + sum_g share_g * ln(mean_g / mean)(between), so the
    report says how much revenue concentration lives inside segments vs
    between them.  Per segment: customer count, revenue, share, the
    within-segment Theil T_g = (sum x*ln(x))/S_g - ln(mean_g) and both
    decomposition contributions (the reader sums the two contrib columns
    for total T).  Theil is scale-invariant, so the micro-unit ln offsets
    cancel exactly.

    Exactness: revenue is micro-quantized per order; the only cross-row
    float sum, sum x*ln(x), quantizes each customer's ln(x) to integer
    millionths first (t_token_entropy discipline) and accumulates
    x*ln_ppm in DECIMAL(38,0) — order-independent; the final segment-row
    arithmetic is five identical-shape double ops per engine, round-6.
    Customers with no orders have no revenue to rank and are absent
    (inner join); o_totalprice > 0 keeps every ln defined.

    Scale shape: one customer-keyed partial-agg exchange, a broadcastable
    customer-dimension join, a 5-row segment aggregate, totals as window
    sums over the segment frame."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"), F.col("c_mktsegment").alias("segment")
    )
    rev = (
        o.groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 1000000, 0).cast("long")
            ).alias("x")
        )
    )
    perc = rev.join(F.broadcast(c), "ck").select(
        "segment",
        "x",
        F.round(F.log(F.col("x").cast("double")) * 1000000, 0)
        .cast("long")
        .alias("lx"),
    )
    g = perc.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("s"),
        F.sum(
            F.col("x").cast("decimal(19,0)") * F.col("lx").cast("decimal(19,0)")
        ).alias("l"),
    )
    every = Window.partitionBy()
    calc = g.select(
        "segment",
        "n",
        F.col("n").cast("double").alias("nd"),
        F.col("s").cast("double").alias("sd"),
        F.col("l").cast("double").alias("ld"),
        F.sum("n").over(every).cast("double").alias("tn"),
        F.sum("s").over(every).cast("double").alias("ts"),
    )
    nd, sd, ld, tn, ts = (
        F.col("nd"),
        F.col("sd"),
        F.col("ld"),
        F.col("tn"),
        F.col("ts"),
    )
    t_within = ld / 1000000.0 / sd - F.log(sd / nd)
    return calc.select(
        "segment",
        F.col("n").cast("long").alias("n_customers"),
        F.round(sd / 1000000.0, 2).alias("total_revenue"),
        F.round(sd / ts, 6).alias("revenue_share"),
        F.round(t_within, 6).alias("theil_within"),
        F.round((sd / ts) * t_within, 6).alias("within_contrib"),
        F.round((sd / ts) * F.log((sd / nd) / (ts / tn)), 6).alias(
            "between_contrib"
        ),
    ).orderBy("segment")


@query(
    "r_skyline",
    oracle="""
WITH pc AS (
  SELECT o_custkey,
         sum(CAST(round(o_totalprice * 1000000, 0) AS BIGINT)) AS spend,
         CAST(floor(epoch(max(o_orderdate)) / 86400) AS BIGINT) AS last_day
  FROM orders GROUP BY o_custkey)
SELECT p.o_custkey AS custkey,
       (round(CAST(p.spend AS DOUBLE) / 1000000.0, 2) + 0) AS total_spend,
       p.last_day AS last_order_day
FROM pc p
WHERE NOT EXISTS (
  SELECT 1 FROM pc q
  WHERE q.spend >= p.spend AND q.last_day >= p.last_day
    AND (q.spend > p.spend OR q.last_day > p.last_day))
ORDER BY p.spend DESC, p.o_custkey
""",
)
def r_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline of customers over (total spend MAX, last-order
    recency MAX) — the classic dominance query ('no other customer is at
    least as good on both axes and better on one'; Börzsönyi et al.
    ICDE'01).  The Spark plan is the 2-D skyline's closed form: sort by
    spend desc, a point survives iff its recency strictly beats the max
    recency of every STRICTLY-higher-spend point (RANGE frame excludes
    spend ties) and is the max within its own spend group — ONE sort
    exchange, no pairwise comparison, scale-exact for any N.  The oracle
    is the INDEPENDENT O(N^2) NOT EXISTS dominance definition, so
    agreement is evidence, not replay.

    Exactness: spend in micro-int, recency as epoch-days int, all
    dominance tests integer; the display spend is the identical double on
    both sides (int ratio).  Duplicate points (equal on both axes)
    neither dominate each other and are BOTH kept — the window form's
    >= best_eq reproduces that.

    Global-window bound (audit): strict_better/eq_spend range the
    per-customer AGGREGATE (dimension-sized, the house-accepted frame
    class); output order pins the EXACT integer spend desc with custkey
    as tie-break — the display double rounds to half-cents, so ordering
    by it was nondeterministic across engines (round-4 ADVICE)."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    pc = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.round(F.col("o_totalprice") * 1000000, 0).cast("long")).alias(
            "spend"
        ),
        F.floor(F.unix_timestamp(F.max("o_orderdate")) / 86400)
        .cast("long")
        .alias("last_day"),
    )
    strict_better = (
        Window.orderBy(F.col("spend").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    eq_spend = Window.partitionBy("spend")
    sk = pc.select(
        "custkey",
        "spend",
        "last_day",
        F.max("last_day").over(strict_better).alias("best_gt"),
        F.max("last_day").over(eq_spend).alias("best_eq"),
    )
    return (
        sk.filter(
            (F.col("best_gt").isNull() | (F.col("best_gt") < F.col("last_day")))
            & (F.col("last_day") >= F.col("best_eq"))
        )
        .orderBy(F.col("spend").desc(), F.col("custkey").asc())
        .select(
            "custkey",
            F.round(F.col("spend").cast("double") / 1000000.0, 2).alias(
                "total_spend"
            ),
            F.col("last_day").alias("last_order_day"),
        )
    )


@query(
    "r_equidepth_histogram",
    oracle="""
WITH b AS (
  SELECT ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
           AS bucket,
         l_extendedprice AS p
  FROM lineitem)
SELECT CAST(bucket AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n_items,
       min(p) AS min_price,
       max(p) AS max_price,
       CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM b GROUP BY bucket ORDER BY bucket
""",
)
def r_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equi-height) 10-bucket histogram of lineitem extended
    price — the optimizer/profiler statistics primitive: equal ROW mass
    per bucket, boundaries wherever the data puts them (the skew-robust
    dual of a fixed-width histogram).

    The showcase for operators/ranking.global_ntile on a FACT table:
    unlike the catalog's other ntile users (per-customer / per-doc
    aggregates), this ranks the raw lineitem rows themselves — the frame
    that is billions of rows at 100 TB, where a single-window ntile is
    not merely slow but impossible. global_ntile buckets by approximate
    price quantiles, ranks per bucket in parallel, and the tile is pure
    arithmetic on (rank, total) — no SinglePartition exchange anywhere
    (plan-pinned in tests/test_plans.py). Planning cost: one quantile
    pass + one count pass over a 3-column projection (documented
    global_row_number contract); memo_key makes rebuilds zero-job.

    Ordering discipline: ntile needs a total order; (price, orderkey,
    linenumber) still holds duplicate triples in this fixture (the
    round-4 learning: lineitem keys repeat) — but duplicate rows are
    IDENTICAL on every projected column, so whichever side of a bucket
    boundary each copy lands on, every per-bucket aggregate (count, min,
    max, DECIMAL sum) is invariant. Money through DECIMAL, double at the
    edge (house float discipline)."""
    from ..operators.ranking import global_ntile

    li = t(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    b = global_ntile(
        li,
        10,
        ["l_extendedprice", "l_orderkey", "l_linenumber"],
        col_name="bucket",
        memo_key=(sf_dir, "r_equidepth_histogram"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("bucket")
    )


@query(
    "r_mutual_info",
    oracle="""
WITH cells AS (
  SELECT c_mktsegment AS seg, n_name AS nat, CAST(count(*) AS BIGINT) AS c
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2),
tot AS (
  SELECT seg, nat, c,
         sum(c) OVER () AS n,
         sum(c) OVER (PARTITION BY seg) AS rs,
         sum(c) OVER (PARTITION BY nat) AS cs
  FROM cells),
ag AS (
  SELECT max(n) AS n,
         sum(c * CAST(round(ln(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
                 / (CAST(rs AS DOUBLE) * CAST(cs AS DOUBLE))) * 1000000, 0)
               AS BIGINT)) AS smi,
         sum(c * CAST(round(ln(CAST(rs AS DOUBLE)) * 1000000, 0) AS BIGINT))
           AS srs,
         sum(c * CAST(round(ln(CAST(cs AS DOUBLE)) * 1000000, 0) AS BIGINT))
           AS scs
  FROM tot)
SELECT CAST(n AS BIGINT) AS n_customers,
       (round(CAST(smi AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE), 6) + 0)
         AS mi_nats,
       (round(ln(CAST(n AS DOUBLE))
              - CAST(srs AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE), 6)
        + 0) AS h_segment,
       (round(ln(CAST(n AS DOUBLE))
              - CAST(scs AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE), 6)
        + 0) AS h_nation,
       (round((CAST(smi AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE))
              / least(ln(CAST(n AS DOUBLE))
                        - CAST(srs AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE),
                      ln(CAST(n AS DOUBLE))
                        - CAST(scs AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)),
              6) + 0) AS nmi
FROM ag
""",
)
def r_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between market segment and nation — the
    feature-selection staple beside t_chisq_lang_source (chi-square asks
    'dependent at all?', MI measures HOW MANY nats of one variable the
    other carries, and NMI = MI/min(H) normalizes it to [0,1]).

    Exactness (t_token_entropy discipline): every per-cell ln — whose
    argument is a ratio of exact-integer products, so both engines ln
    the identical double — quantizes to integer millionths BEFORE the
    cross-row sum; MI and both marginal entropies are then exact integer
    arithmetic over BIGINT cell counts, divided once at the end
    (round 6). The global/marginal totals are window sums over the cell
    frame (<= |segments|x|nations| = 125 rows — the bounded-frame class
    this repo documents per site). ONE aggregate serves MI and both
    entropies: sum_cells c*lnppm(rs) == sum_segs rs*lnppm(rs) because
    the cells of a segment sum to rs — no second pass, no distinct."""
    from pyspark.sql import Window

    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    cells = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"), F.col("n_name").alias("nat")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # window sums over the <=125-row cell aggregate (bounded frame)
    tot = cells.select(
        "seg",
        "nat",
        "c",
        F.sum("c").over(Window.partitionBy()).alias("n"),
        F.sum("c").over(Window.partitionBy("seg")).alias("rs"),
        F.sum("c").over(Window.partitionBy("nat")).alias("cs"),
    )

    def _lnppm(x) -> F.Column:
        return F.round(F.log(x) * 1000000, 0).cast("long")

    mi_arg = (
        F.col("c").cast("double") * F.col("n").cast("double")
        / (F.col("rs").cast("double") * F.col("cs").cast("double"))
    )
    j = tot.agg(
        F.max("n").alias("n"),
        F.sum(F.col("c") * _lnppm(mi_arg)).alias("smi"),
        F.sum(F.col("c") * _lnppm(F.col("rs").cast("double"))).alias("srs"),
        F.sum(F.col("c") * _lnppm(F.col("cs").cast("double"))).alias("scs"),
    )
    n_d = F.col("n").cast("double")
    mi = F.col("smi").cast("double") / 1000000.0 / n_d
    h_seg = F.log(n_d) - F.col("srs").cast("double") / 1000000.0 / n_d
    h_nat = F.log(n_d) - F.col("scs").cast("double") / 1000000.0 / n_d
    return j.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(mi, 6).alias("mi_nats"),
        F.round(h_seg, 6).alias("h_segment"),
        F.round(h_nat, 6).alias("h_nation"),
        F.round(mi / F.least(h_seg, h_nat), 6).alias("nmi"),
    )


@query(
    "r_hhi_concentration",
    oracle="""
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2),
tot AS (SELECT region, sum(revenue) AS total FROM rev GROUP BY 1)
SELECT rev.region,
       CAST(count(*) AS BIGINT) AS n_nations,
       (round(sum((CAST(rev.revenue AS DOUBLE) / CAST(t.total AS DOUBLE))
                  * (CAST(rev.revenue AS DOUBLE) / CAST(t.total AS DOUBLE)))
              * 10000, 4) + 0) AS hhi
FROM rev JOIN tot t ON rev.region = t.region
GROUP BY rev.region
""",
)
def r_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of order revenue across
    nations within each region (sum of squared market shares x 10000 —
    the antitrust-style "is this market dominated by few players" readout
    next to r_pareto_revenue's top-k shares and e_gini_users'
    coefficient).

    Scale shape: ONE shuffle (orders ⋈ customer on custkey); nation and
    region ride as broadcast joins, per-(region, nation) revenue is an
    exact DECIMAL aggregate on a 25-row frame, and the total joins back
    as a broadcast — shares square and sum region-side in doubles over
    exact operands (5-term sums; round(4) absorbs association order)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "revenue"
            )
        )
    )
    tot = rev.groupBy("region").agg(F.sum("revenue").alias("total"))
    share = F.col("revenue").cast("double") / F.col("total").cast("double")
    return (
        rev.join(F.broadcast(tot), "region")
        .groupBy("region")
        .agg(
            F.count("*").cast("long").alias("n_nations"),
            F.round(F.sum(share * share) * 10000, 4).alias("hhi"),
        )
    )


@query(
    "r_survival_km",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         min(date_diff('day', DATE '1970-01-01', o_orderdate)) AS first_day,
         max(date_diff('day', DATE '1970-01-01', o_orderdate)) AS last_day
  FROM orders GROUP BY o_custkey),
pairs AS (
  SELECT first_day, last_day, CAST(count(*) AS BIGINT) AS n_cust
  FROM per_cust GROUP BY 1, 2),
spans AS (
  SELECT CASE WHEN max(last_day) OVER () - last_day >= 365
              THEN last_day - first_day
              ELSE max(last_day) OVER () - first_day END AS t,
         CASE WHEN max(last_day) OVER () - last_day >= 365 THEN 1 ELSE 0
              END AS churned,
         n_cust
  FROM pairs),
dur AS (
  SELECT t,
         CAST(sum(CASE WHEN churned = 1 THEN n_cust ELSE 0 END) AS BIGINT)
           AS d,
         CAST(sum(n_cust) AS BIGINT) AS leaving
  FROM spans GROUP BY t),
risk AS (
  SELECT t, d,
         sum(leaving) OVER () -
           coalesce(sum(leaving) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
  FROM dur),
km AS (
  SELECT t, d, n,
         sum(CASE WHEN d > 0 AND n > d THEN
               CAST(round(ln(CAST(n - d AS DOUBLE)) * 1000000, 0) AS BIGINT)
             - CAST(round(ln(CAST(n AS DOUBLE)) * 1000000, 0) AS BIGINT)
             ELSE 0 END) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS slog,
         max(CASE WHEN d = n THEN 1 ELSE 0 END) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS extinct
  FROM risk)
SELECT CAST(t AS BIGINT) AS duration_days,
       CAST(n AS BIGINT) AS n_at_risk,
       CAST(d AS BIGINT) AS n_churned,
       (CASE WHEN extinct = 1 THEN 0.0
             ELSE round(exp(CAST(slog AS DOUBLE) / 1000000.0), 6) + 0
        END) AS survival
FROM km WHERE d > 0 ORDER BY duration_days
""",
)
def r_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of customer lifetime (product-limit
    estimator, the standard right-censored churn readout): a customer is
    CHURNED once order-inactive for >= 365 days before the observation
    end (corpus max order day), with lifetime last-first order days;
    still-active customers are CENSORED at end-first days — they leave
    the at-risk set without counting as churn, which is exactly the bias
    a naive "avg customer lifetime" metric gets wrong. S(t) = prod over
    churn times u <= t of (n_u - d_u)/n_u; one row per churn time with
    the at-risk count.

    Exactness: the survival product is a cumulative sum of per-time
    ln-millionths differences (integer arithmetic; t_token_entropy
    discipline) with a single engine-exp at the end, round-6 (boundary
    margins measured at both fixture sfs before committing); at-risk
    counts are pure BIGINT window cumsums. Extinction (d = n) pins
    survival to exactly 0 from that time on — ln(0) never evaluates
    (the CASE guards it in both engines). Dates rank through the
    datediff-from-epoch integer surrogate (round-5 learning #3).

    Scale shape: one customer-grouped exchange (the only fact-sized
    move), then a (first_day, last_day) pair aggregate — bounded by
    distinct day pairs regardless of customer count, so the e_gini
    per-entity window boundary does NOT apply — and windows over the
    <= span-days duration frame."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    per_cust = o.groupBy("o_custkey").agg(
        F.min(day).alias("first_day"), F.max(day).alias("last_day")
    )
    pairs = per_cust.groupBy("first_day", "last_day").agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    end = F.max("last_day").over(Window.partitionBy())
    churned = (end - F.col("last_day")) >= 365
    spans = pairs.select(
        F.when(churned, F.col("last_day") - F.col("first_day"))
        .otherwise(end - F.col("first_day"))
        .alias("t"),
        F.when(churned, F.lit(1)).otherwise(F.lit(0)).alias("churned"),
        "n_cust",
    )
    dur = spans.groupBy("t").agg(
        F.sum(F.when(F.col("churned") == 1, F.col("n_cust")).otherwise(0))
        .cast("long")
        .alias("d"),
        F.sum("n_cust").cast("long").alias("leaving"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = dur.select(
        "t",
        "d",
        (
            F.sum("leaving").over(Window.partitionBy())
            - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0))
        ).alias("n"),
    )
    lnppm = lambda col: (  # noqa: E731 - local expression shorthand
        F.round(F.log(col.cast("double")) * 1000000, 0).cast("long")
    )
    term = F.when(
        (F.col("d") > 0) & (F.col("n") > F.col("d")),
        lnppm(F.col("n") - F.col("d")) - lnppm(F.col("n")),
    ).otherwise(F.lit(0))
    km = risk.select(
        "t",
        "d",
        "n",
        F.sum(term).over(w_cum).alias("slog"),
        F.max(F.when(F.col("d") == F.col("n"), 1).otherwise(0))
        .over(w_cum)
        .alias("extinct"),
    )
    return (
        km.filter(F.col("d") > 0)
        .select(
            F.col("t").cast("long").alias("duration_days"),
            F.col("n").cast("long").alias("n_at_risk"),
            F.col("d").cast("long").alias("n_churned"),
            F.when(F.col("extinct") == 1, F.lit(0.0))
            .otherwise(
                F.round(F.exp(F.col("slog").cast("double") / 1000000.0), 6)
            )
            .alias("survival"),
        )
        .orderBy("duration_days")
    )


# Cumulative Poisson(1) CDF, the inverse-CDF thresholds of the Poisson
# bootstrap weight (shared double literals — both engines compare the
# same u against the same constants, so weights are bit-deterministic).
_POIS1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
    0.9999897508033253,
)


def _sql_pois_weight(u: str) -> str:
    branches = "\n         ".join(
        f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_POIS1_CDF)
    )
    return f"CASE {branches} ELSE 8 END"


@query(
    "r_bootstrap_ci",
    oracle=f"""
WITH reps AS (
  SELECT o_orderpriority, o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         unnest(generate_series(1, 100)) AS b
  FROM orders),
w AS (
  SELECT o_orderpriority, b, cents,
         {_sql_pois_weight("(CAST(concat('0x', substr(md5(concat(CAST(o_orderkey AS VARCHAR), ':', CAST(b AS VARCHAR))), 1, 8)) AS UBIGINT) / 4294967296.0)")}
           AS wt
  FROM reps),
rep_means AS (
  SELECT o_orderpriority, b,
         round(CAST(sum(wt * cents) AS DOUBLE)
               / CAST(sum(wt) AS DOUBLE) / 100.0, 4) AS m
  FROM w GROUP BY 1, 2 HAVING sum(wt) > 0),
ranked AS (
  SELECT o_orderpriority, m,
         CAST(row_number() OVER (PARTITION BY o_orderpriority
                                 ORDER BY m, b) AS INTEGER) AS r,
         CAST(count(*) OVER (PARTITION BY o_orderpriority) AS INTEGER) AS nb
  FROM rep_means),
point AS (
  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
         (round(CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE)
                / count(*) / 100.0, 6) + 0) AS mean_price
  FROM orders GROUP BY 1)
SELECT p.o_orderpriority, p.n_orders, p.mean_price,
       (round(sum(CASE WHEN r = 3 THEN m END), 6) + 0) AS ci_lo,
       (round(sum(CASE WHEN r = nb - 2 THEN m END), 6) + 0) AS ci_hi
FROM ranked JOIN point p USING (o_orderpriority)
GROUP BY 1, 2, 3 ORDER BY 1
""",
)
def r_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% confidence interval for mean order price per
    priority class — THE distributed bootstrap (Chamandy et al., public
    Google methodology): instead of drawing B resamples of n rows
    (impossible to coordinate across executors), every row contributes an
    independent Poisson(1) count to each replicate, equivalent to the
    multinomial bootstrap as n grows. One scan, map-side 100x replicate
    expansion, partial aggregation absorbs the blowup before the shuffle
    — the exchange carries (group, replicate) partials, never fact rows.

    Determinism: the replicate weight is the Poisson inverse-CDF of a
    content-keyed uniform (md5 of orderkey:replicate — the
    hash_sample/e_ab_test keying family) against shared double literals;
    replicate means divide exact BIGINT cent sums (identical doubles both
    engines, quantized round-4); the CI bounds are NEAREST-RANK order
    statistics (3rd / 98th of 100), not interpolated percentiles —
    engines formulate linear interpolation differently in float, rank
    selection is integer-exact. Ties in replicate means break by
    replicate id for a total order.

    Scale shape: the 100x expansion is map-side compute (no 100x
    shuffle); the rank window runs per-priority over <= 100-row groups;
    the point-estimate join is a 5-row broadcast."""
    from pyspark.sql import Window

    from ..util import widen

    o = t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    # widen BEFORE the 100x explode: the single-row-group fixture scans as
    # one task, and the per-row hash work below is exactly the
    # "per-row-heavy narrow pass" util.widen exists for (no-op at scale)
    reps = (
        widen(
            o.select("o_orderpriority", "o_orderkey", cents.alias("cents"))
        )
        .select(
            "o_orderpriority",
            "o_orderkey",
            "cents",
            F.explode(F.sequence(F.lit(1), F.lit(100))).alias("b"),
        )
        .select(
            "o_orderpriority",
            "cents",
            "b",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("o_orderkey").cast("string"),
                                F.lit(":"),
                                F.col("b").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                / 4294967296.0
            ).alias("u"),
        )
    )
    # the CASE chain references the u COLUMN, not the hash expression:
    # inlining the md5 into all 9 branches would evaluate it 9x per row
    # (CollapseProject keeps non-cheap multi-referenced aliases separate)
    wt = F.lit(8)
    for k in range(len(_POIS1_CDF) - 1, -1, -1):
        wt = F.when(F.col("u") < _POIS1_CDF[k], F.lit(k)).otherwise(wt)
    w = reps.select("o_orderpriority", "b", "cents", wt.alias("wt"))
    rep_means = (
        w.groupBy("o_orderpriority", "b")
        .agg(
            F.sum(F.col("wt") * F.col("cents")).alias("swc"),
            F.sum("wt").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "o_orderpriority",
            "b",
            F.round(
                F.col("swc").cast("double")
                / F.col("sw").cast("double")
                / 100.0,
                4,
            ).alias("m"),
        )
    )
    wrank = Window.partitionBy("o_orderpriority").orderBy("m", "b")
    wall = Window.partitionBy("o_orderpriority")
    ranked = rep_means.select(
        "o_orderpriority",
        "m",
        F.row_number().over(wrank).cast("int").alias("r"),
        F.count(F.lit(1)).over(wall).cast("int").alias("nb"),
    )
    point = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(
            F.sum(cents).cast("double") / F.count(F.lit(1)) / 100.0, 6
        ).alias("mean_price"),
    )
    ci = ranked.groupBy("o_orderpriority").agg(
        F.round(F.sum(F.when(F.col("r") == 3, F.col("m"))), 6).alias("ci_lo"),
        F.round(
            F.sum(F.when(F.col("r") == F.col("nb") - 2, F.col("m"))), 6
        ).alias("ci_hi"),
    )
    return (
        ci.join(F.broadcast(point), "o_orderpriority")
        .select(
            "o_orderpriority", "n_orders", "mean_price", "ci_lo", "ci_hi"
        )
        .orderBy("o_orderpriority")
    )


@query(
    "r_lorenz_curve",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
  FROM orders GROUP BY 1),
tiled AS (
  SELECT spend,
         CAST(ntile(10) OVER (ORDER BY spend, o_custkey) AS INTEGER)
           AS decile
  FROM per_cust),
per_decile AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
         sum(spend) AS decile_spend
  FROM tiled GROUP BY decile)
SELECT decile, n_customers,
       (round(CAST(decile_spend AS DOUBLE), 2) + 0) AS decile_revenue,
       (round(CAST(sum(decile_spend)
                   OVER (ORDER BY decile
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE)
              / CAST(sum(decile_spend) OVER () AS DOUBLE), 6) + 0)
         AS cum_revenue_share
FROM per_decile ORDER BY decile
""",
)
def r_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer revenue: customers tiled into spend
    deciles (ascending), each decile's revenue and the CUMULATIVE revenue
    share — the curve form of the inequality readouts (e_gini_users is
    its single coefficient, r_pareto_revenue its top-tier summary; the
    Lorenz deciles are what the chart plots).

    Deciles come from operators/ranking.global_ntile — SQL-exact ntile
    without the SinglePartition sort exchange (the r_rfm_segments /
    r_equidepth_histogram machinery), so the tiling holds when the
    customer dimension itself is huge. Cumulative shares divide exact
    DECIMAL sums over the 10-row decile frame; the per-customer aggregate
    is the only fact-sized move."""
    from ..operators import ranking

    o = t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend")
    )
    tiled = ranking.global_ntile(
        per,
        10,
        ["spend", "o_custkey"],
        col_name="decile",
        # persist + memoize (the r_rfm_segments discipline): the tile's
        # planning passes reuse the cached aggregate, and a REBUILD of
        # the same plan runs zero driver jobs (the lazy-build contract)
        persist=True,
        memo_key=(sf_dir, "r_lorenz_curve"),
    )
    per_decile = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("spend").alias("decile_spend"),
    )
    from pyspark.sql import Window

    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    return per_decile.select(
        F.col("decile").cast("int").alias("decile"),
        "n_customers",
        F.round(F.col("decile_spend").cast("double"), 2).alias(
            "decile_revenue"
        ),
        F.round(
            F.sum("decile_spend").over(wcum).cast("double")
            / F.sum("decile_spend").over(wall).cast("double"),
            6,
        ).alias("cum_revenue_share"),
    ).orderBy("decile")


@query(
    "r_ab_srm",
    oracle="""
WITH assigned AS (
  SELECT CASE WHEN (strpos('0123456789abcdef',
                           substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1)) - 1)
                   % 2 = 0 THEN 'control' ELSE 'treatment' END AS variant
  FROM orders),
counts AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS n FROM assigned GROUP BY 1),
tot AS (
  SELECT variant, n, CAST(sum(n) OVER () AS BIGINT) AS total FROM counts)
SELECT variant, n, total,
       (round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) + 0)
         AS observed_share,
       (round((CAST(2 * n - total AS DOUBLE)
               * CAST(2 * n - total AS DOUBLE))
              / CAST(total AS DOUBLE), 6) + 0) AS chi2,
       CASE WHEN (CAST(2 * n - total AS DOUBLE)
                  * CAST(2 * n - total AS DOUBLE))
                 / CAST(total AS DOUBLE) > 3.841 THEN 'SRM SUSPECTED'
            ELSE 'ok' END AS verdict
FROM tot ORDER BY variant
""",
)
def r_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guard for a 50/50 experiment split — the
    first check every experimentation platform runs BEFORE reading the
    metric (a split whose traffic ratio deviates from its design means
    broken assignment/logging, and any downstream readout is invalid):
    observed share per variant and the 1-df chi-square against the
    expected half, with the 0.05 critical value (3.841) as the verdict
    line. On this content-keyed md5 split the verdict must be 'ok' — a
    hash split cannot SRM, which is exactly why e_ab_test keys on it.

    Exactness: for a 50/50 design the chi-square collapses to
    (2n − total)²/total — pure BIGINT arithmetic inside, one double
    division, round-6; the verdict compares that same tree to a shared
    literal. One grouped count; the total rides a window over the 2-row
    frame."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    variant = F.when(
        F.expr(
            "(instr('0123456789abcdef', "
            "substr(md5(cast(o_custkey as string)), 1, 1)) - 1) % 2"
        )
        == 0,
        F.lit("control"),
    ).otherwise(F.lit("treatment"))
    counts = o.groupBy(variant.alias("variant")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = counts.select(
        "variant",
        "n",
        F.sum("n").over(Window.partitionBy()).cast("long").alias("total"),
    )
    dev = (2 * F.col("n") - F.col("total")).cast("double")
    chi2 = dev * dev / F.col("total").cast("double")
    return tot.select(
        "variant",
        "n",
        "total",
        F.round(
            F.col("n").cast("double") / F.col("total").cast("double"), 6
        ).alias("observed_share"),
        F.round(chi2, 6).alias("chi2"),
        F.when(chi2 > 3.841, F.lit("SRM SUSPECTED"))
        .otherwise(F.lit("ok"))
        .alias("verdict"),
    ).orderBy("variant")


@query(
    "r_mann_whitney",
    oracle="""
WITH assigned AS (
  SELECT o_orderpriority AS grp, o_totalprice AS v,
         CASE WHEN (strpos('0123456789abcdef',
                           substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1)
                   % 2 = 0 THEN 'A' ELSE 'B' END AS seg
  FROM orders),
ranked AS (
  SELECT grp, seg,
         -- doubled midrank: 2*rank + ties - 1 stays a BIGINT even when
         -- the midrank itself is a .5 (tie-group average)
         CAST(2 * rank() OVER (PARTITION BY grp ORDER BY v)
              + count(*) OVER (PARTITION BY grp, v) - 1 AS BIGINT) AS r2
  FROM assigned),
stats AS (
  SELECT grp,
         CAST(sum(CASE WHEN seg = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN seg = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN seg = 'A' THEN r2 ELSE 0 END) AS BIGINT)
           AS r2_a
  FROM ranked GROUP BY grp)
SELECT grp, n_a, n_b,
       (round((CAST(r2_a AS DOUBLE) / 2
               - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1) / 2
               ) , 6) + 0) AS u_a,
       (round((CAST(r2_a AS DOUBLE) / 2
               - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1) / 2
               - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2)
              / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                     * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1)
                     / 12), 6) + 0) AS z,
       CASE WHEN abs((CAST(r2_a AS DOUBLE) / 2
               - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1) / 2
               - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2)
              / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                     * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1)
                     / 12)) > 1.96 THEN 'shifted' ELSE 'ok' END AS verdict
FROM stats ORDER BY grp
""",
)
def r_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) per order priority: the
    nonparametric A/B metric test an experimentation platform reaches
    for when revenue-like metrics are too heavy-tailed for the t-test —
    segments from the same content-keyed md5 hash split as r_ab_srm,
    compared on o_totalprice by RANKS.

    Exactness discipline: the tie-averaged midrank is carried DOUBLED
    (2·rank + ties − 1 — a pure BIGINT even when the midrank is a .5),
    so the per-group rank sums are exact integer aggregates in both
    engines; U, the normal-approximation z, and the |z|>1.96 verdict
    are derived from those integers in rounded doubles (one sqrt each —
    the exact-int-inside / double-at-the-edge house rule).

    Scale shape (round-8, closing the round-7 perf-weak finding): rank
    sums never need per-row ranks — only per-VALUE cumulative counts.
    One (grp, value) aggregate produces the tie-distinct counts frame
    (high-cardinality shuffle keys, distributes like any groupBy); the
    within-group cumulative count comes from
    operators/ranking.auto_grouped_cumsum — a plain per-group window
    while that DISTINCT frame is small, and past the size threshold the
    bucketed form (window on (grp, value-quantile-bucket) + broadcast
    exclusive-prefix offsets), so a near-continuous value column over
    ~5 priority groups never funnels the table through 5 reducers. The
    doubled midrank of value v is then 2*cum - c + 1 (cum the inclusive
    cumulative count, c the tie count) and the A-side rank sum is
    sum(c_a * r2v) — bit-identical to the per-row form (parity pinned
    both branches in tests/test_ranking.py)."""
    from ..operators.ranking import auto_grouped_cumsum

    o = t(spark, sf_dir, "orders")
    seg = F.when(
        (
            F.instr(
                F.lit("0123456789abcdef"),
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1),
            )
            - 1
        )
        % 2
        == 0,
        F.lit("A"),
    ).otherwise(F.lit("B"))
    assigned = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("v"),
        seg.alias("seg"),
    )
    counts = assigned.groupBy("grp", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum(F.when(F.col("seg") == "A", 1).otherwise(0))
        .cast("long")
        .alias("c_a"),
    )
    cum = auto_grouped_cumsum(counts, "c", ["grp"], "v", col_name="cum")
    per_val = cum.select(
        "grp",
        "c",
        "c_a",
        # doubled midrank of this value: min-rank = cum-c+1, ties = c ->
        # 2*(cum-c+1) + c - 1 = 2*cum - c + 1 (all BIGINT arithmetic)
        (2 * F.col("cum") - F.col("c") + 1).alias("r2v"),
    )
    stats = per_val.groupBy("grp").agg(
        F.sum("c_a").cast("long").alias("n_a"),
        F.sum(F.col("c") - F.col("c_a")).cast("long").alias("n_b"),
        F.sum(F.col("c_a") * F.col("r2v")).cast("long").alias("r2_a"),
    )
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    u_a = F.col("r2_a").cast("double") / 2 - n_a * (n_a + 1) / 2
    z = (u_a - n_a * n_b / 2) / F.sqrt(n_a * n_b * (n_a + n_b + 1) / 12)
    return stats.select(
        "grp",
        "n_a",
        "n_b",
        (F.round(u_a, 6) + 0).alias("u_a"),
        (F.round(z, 6) + 0).alias("z"),
        F.when(F.abs(z) > 1.96, F.lit("shifted"))
        .otherwise(F.lit("ok"))
        .alias("verdict"),
    ).orderBy("grp")
