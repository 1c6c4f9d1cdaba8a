"""Relational operator inventory (SURVEY §2b) as oracle-checked queries.

The reference (onaio/duva) implements no relational operators itself — the
SELECT-side capability it ships is delegated to the Tableau Hyper SQL
engine inside the extracts it builds (SURVEY §2a-iii; the only SQL duva
emits is CREATE/COPY, app/core/importer.py:242-256). This module is the
native Spark ownership of that delegated query surface: projections,
filters, every join shape (equi/outer/semi/anti/cross/range/as-of),
aggregation (multi-agg, distinct, rollup/cube/grouping sets, exact
percentiles, approx-distinct), window functions, sort/limit/top-k, set
operations, scalar function families (string/date/math/array/map/JSON),
and subqueries.

Scale notes (100 TB posture):
- Filters/projections are plain Catalyst expressions → parquet pushdown +
  column pruning for free (verified in tests/test_plans.py).
- region/nation are broadcast explicitly (constant-size dims); all other
  join sides are left to AQE's dynamic broadcast/skew handling.
- No collect()-driven logic anywhere: scalar subqueries are computed as
  1-row DataFrames cross-joined (broadcast) into the plan.
- Top-k per group is window + filter (no global sort); global top-n is
  orderBy().limit() which Spark executes as TakeOrderedAndProject (no full
  sort materialization).

Float discipline for the DuckDB oracle: every float aggregate is rounded
on BOTH sides (summation order differs across engines; rounding absorbs
the ~1e-12 relative drift). Timestamps are emitted as epoch seconds or
ISO strings (Spark session TZ is pinned UTC to match DuckDB's naive UTC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from duva_spark.catalog import load_table
from duva_spark.operators.asof import asof_join
from duva_spark.operators.quantile import quantile_cont_row
from duva_spark.operators.topk import top_k_per_group
from duva_spark.queries import exact_avg, exact_sum_round, exact_sum_round_sql, money_cents, register

# ---------------------------------------------------------------------------
# Aggregation spine
# ---------------------------------------------------------------------------


@register(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
           ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0, 2)    AS sum_base_price,
           ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0, 2) AS sum_disc_price,
           ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT)) / 1000000.0, 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4)                                   AS avg_price,
           ROUND(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) / 100.0 / COUNT(*), 4)      AS avg_disc,
           COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    headline=True,
    description=(
        "TPC-H Q1-shaped pricing summary: filter → hash agg (8 "
        "aggregates) over lineitem. Currency sums use scaled-integer "
        "(cents) LONG arithmetic: the 2/4/6-dp money values scale to "
        "exact integers, so the sum is associative (identical under any "
        "partial-agg order — double sums drift at sf0.1) at long-sum "
        "speed, faster than decimal aggregation on this agg-dominated "
        "scan. The conversion is money_cents (floor, codegen), where "
        "F.round on a double allocates a BigDecimal per row."
    ),
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    c_ep = money_cents(F.col("l_extendedprice"))
    c_dp = money_cents(disc_price, 10000)
    c_ch = money_cents(disc_price * (1 + F.col("l_tax")), 1000000)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(c_ep) / 100.0, 2).alias("sum_base_price"),
            F.round(F.sum(c_dp) / 10000.0, 2).alias("sum_disc_price"),
            F.round(F.sum(c_ch) / 1000000.0, 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.sum(c_ep) / 100.0 / F.count("*"), 4).alias("avg_price"),
            F.round(F.sum(money_cents(F.col("l_discount"))) / 100.0 / F.count("*"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q02_filter_project",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS p_name_upper,
           p_size,
           ROUND(p_retailprice * 1.1, 2) AS marked_up
    FROM part
    WHERE p_size BETWEEN 10 AND 30
      AND p_type IN ('ECONOMY', 'PROMO')
      AND p_name LIKE '%bolt%'
    """,
    description="Projection + predicate filter (BETWEEN / IN / LIKE) with parquet pushdown.",
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(
            F.col("p_size").between(10, 30)
            & F.col("p_type").isin("ECONOMY", "PROMO")
            & F.col("p_name").like("%bolt%")
        )
        .select(
            "p_partkey",
            F.upper("p_name").alias("p_name_upper"),
            "p_size",
            F.round(F.col("p_retailprice") * 1.1, 2).alias("marked_up"),
        )
    )


@register(
    "q03_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {exact_sum_round_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    headline=True,
    description="TPC-H Q3-shaped: 3-way join → agg → global top-n (TakeOrderedAndProject).",
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(exact_sum_round(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q05_local_supplier_volume",
    oracle=f"""
    SELECT n_name, {exact_sum_round_sql("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    headline=True,
    description="TPC-H Q5-shaped: 6-way star join with broadcast dims (region/nation).",
)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(exact_sum_round(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           {exact_sum_round_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    headline=True,
    description="TPC-H Q10-shaped: returned-item revenue per customer, top 20.",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(exact_sum_round(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Join shapes
# ---------------------------------------------------------------------------


@register(
    "q_join_left_outer",
    oracle="""
    SELECT c_custkey,
           COUNT(o_orderkey)                              AS n_orders,
           ROUND(COALESCE(SUM(o_totalprice), 0), 2)       AS total_spent
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey AND o_totalprice > 300000
    GROUP BY c_custkey
    """,
    description="Left outer join with join-side predicate; preserved rows count 0.",
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@register(
    "q_join_right_outer",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name
    FROM (SELECT * FROM customer WHERE c_acctbal > 9900) c
    RIGHT JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) o
      ON c_custkey = o_custkey
    """,
    description="Right outer join: all qualifying orders, customer attrs nullable.",
)
def q_join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9900)
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "right").select(
        "o_orderkey", "o_totalprice", "c_name"
    )


@register(
    "q_join_full_outer",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust
                FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey),
         sn AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp
                FROM supplier WHERE s_acctbal > 7000 GROUP BY s_nationkey)
    SELECT COALESCE(cn.nk, sn.nk) AS nationkey, n_cust, n_supp
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    """,
    description="Full outer join of two aggregates; nulls on both non-matching sides.",
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cn = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    sn = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 7000)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_supp"))
    )
    return cn.join(sn, cn.nk == sn.nk, "full").select(
        F.coalesce(cn.nk, sn.nk).alias("nationkey"), "n_cust", "n_supp"
    )


@register(
    "q_join_semi",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_suppkey = s_suppkey
                    AND l_shipdate >= TIMESTAMP '2001-01-01'
                    AND l_quantity >= 45)
    """,
    description="Left semi join (EXISTS): suppliers with a large recent shipment.",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("2001-01-01").cast("timestamp")) & (F.col("l_quantity") >= 45)
    )
    return supp.join(li, supp.s_suppkey == li.l_suppkey, "left_semi").select("s_suppkey", "s_name")


@register(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
    description="Left anti join (NOT EXISTS): customers with no very large order.",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "q_join_cross",
    oracle="""
    SELECT r_name, os AS orderstatus
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus AS os FROM orders)
    """,
    description="Cross join of two tiny relations (5 regions × 3 statuses).",
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").select("r_name")
    st = load_table(spark, sf_dir, "orders").select(F.col("o_orderstatus").alias("orderstatus")).distinct()
    return region.crossJoin(st)


@register(
    "q_join_range",
    oracle="""
    SELECT band, COUNT(*) AS n_parts, ROUND(SUM(CAST(ROUND(p_retailprice * 100) AS BIGINT)) / 100.0 / COUNT(*), 4) AS avg_price
    FROM part
    JOIN (VALUES ('low', 900.0, 940.0), ('mid', 940.0, 970.0), ('high', 970.0, 1000.0))
         bands(band, lo, hi)
      ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band
    """,
    description="Range (theta) join against a broadcast band table; non-equi condition.",
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [("low", 900.0, 940.0), ("mid", 940.0, 970.0), ("high", 970.0, 1000.0)],
        "band string, lo double, hi double",
    )
    # Non-equi join: broadcast the tiny band table so this is a
    # BroadcastNestedLoopJoin over 3 rows, never a cartesian shuffle.
    return (
        part.join(F.broadcast(bands), (part.p_retailprice >= bands.lo) & (part.p_retailprice < bands.hi))
        .groupBy("band")
        .agg(F.count("*").alias("n_parts"), F.round(F.sum(money_cents(F.col("p_retailprice"))) / 100.0 / F.count("*"), 4).alias("avg_price"))
    )


@register(
    "q_join_asof",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           v.event_id AS last_view_id,
           ROUND(p.value, 4) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
    headline=True,
    description=(
        "As-of join (Spark has no native one): for each purchase, the most recent "
        "prior view by the same user. Implemented distributedly as union → single "
        "per-key sort → last(ignoreNulls) window; no pairwise join blowup."
    ),
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases, views = _purchases_and_views(spark, sf_dir)
    return asof_join(purchases, views, "user_id", "ts").select(
        "purchase_id",
        "user_id",
        F.col("asof_view_id").alias("last_view_id"),
        F.round("purchase_value", 4).alias("purchase_value"),
    )


def _purchases_and_views(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The two as-of join sides over events: purchases ``(user_id, ts,
    purchase_id, purchase_value)`` and views ``(user_id, ts, view_id)``."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    return purchases, views


# ---------------------------------------------------------------------------
# Aggregation variants
# ---------------------------------------------------------------------------


@register(
    "q_agg_stats",
    oracle="""
    SELECT l_returnflag,
           COUNT(*)                              AS n,
           ROUND(MIN(l_extendedprice), 2)        AS min_price,
           ROUND(MAX(l_extendedprice), 2)        AS max_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4)        AS avg_price,
           ROUND(STDDEV_SAMP(l_extendedprice), 4) AS sd_price,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    description="Multi-aggregate hash agg: count/min/max/avg/stddev + integer sum.",
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double") / F.count("*"), 4).alias("avg_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
    )


@register(
    "q_agg_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey)  AS n_supp,
           COUNT(DISTINCT l_partkey)  AS n_part,
           ROUND(SUM(DISTINCT l_quantity), 2) AS sum_distinct_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    description="Distinct aggregates (expand-based multi-distinct plan).",
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.round(F.sum_distinct(F.col("l_quantity")), 2).alias("sum_distinct_qty"),
    )


@register(
    "q_agg_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT)   AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
    description="ROLLUP hierarchy with GROUPING() disambiguation of null group keys.",
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count("*").alias("n"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2).cast("double").alias("total"),
    )


@register(
    "q_agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    description="CUBE over two dimensions (all 4 grouping sets).",
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.count("*").alias("n"),
    )


@register(
    "q_agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
    description="Explicit GROUPING SETS (two independent groupings in one pass).",
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@register(
    "q_agg_percentiles",
    oracle="""
    SELECT o_orderpriority,
           ROUND(MEDIAN(o_totalprice), 4)                       AS med,
           ROUND(quantile_cont(o_totalprice, 0.25), 4)          AS p25,
           ROUND(quantile_cont(o_totalprice, 0.95), 4)          AS p95
    FROM orders
    GROUP BY o_orderpriority
    """,
    description=(
        "Exact median + interpolated quantiles per group via "
        "operators/quantile.grouped_quantile_cont (per-group value "
        "counts + windowed running count, spill-safe) — no reducer "
        "buffers a group's raw values as F.percentile would."
    ),
)
def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.operators.quantile import grouped_quantile_cont

    orders = load_table(spark, sf_dir, "orders")
    qs = grouped_quantile_cont(
        orders,
        ["o_orderpriority"],
        "o_totalprice",
        {"med": 0.5, "p25": 0.25, "p95": 0.95},
    )
    return qs.select(
        "o_orderpriority",
        F.round("med", 4).alias("med"),
        F.round("p25", 4).alias("p25"),
        F.round("p95", 4).alias("p95"),
    )


@register(
    "q_agg_moments",
    oracle="""
    WITH s AS (SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS x FROM lineitem),
    m AS (SELECT l_returnflag, AVG(x) AS mu FROM s GROUP BY 1),
    mom AS (
      SELECT s.l_returnflag,
             ROUND(AVG(POWER(x-mu,3)) / POWER(AVG(POWER(x-mu,2)), 1.5), 6) AS skew,
             ROUND(AVG(POWER(x-mu,4)) / POWER(AVG(POWER(x-mu,2)), 2) - 3, 6) AS kurt_excess
      FROM s JOIN m USING (l_returnflag)
      GROUP BY s.l_returnflag
    ),
    md AS (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS mode_qty
      FROM (SELECT l_returnflag, l_quantity, COUNT(*) AS n
            FROM lineitem GROUP BY 1, 2)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                 ORDER BY n DESC, l_quantity) = 1
    )
    SELECT mom.l_returnflag, mom.skew, mom.kurt_excess, md.mode_qty
    FROM mom JOIN md USING (l_returnflag)
    """,
    description=(
        "Higher statistical moments + mode per group: Spark's "
        "skewness/kurtosis builtins (one-pass streaming central "
        "moments, population semantics — the oracle recomputes them "
        "two-pass as AVG((x-mu)^k) ratios, verified equal to 6 dp, "
        "which pins down the population-vs-sample formula ambiguity "
        "between engines), and a DETERMINISTIC mode (smallest value "
        "among the max-frequency ties via count + rank window — the "
        "bare mode() builtin breaks ties arbitrarily in both engines "
        "and cannot be value-gated). Mode's per-group count frame is "
        "|group × distinct values|, not data."
    ),
)
def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("double")
    mom = li.groupBy("l_returnflag").agg(
        F.round(F.skewness(x), 6).alias("skew"),
        F.round(F.kurtosis(x), 6).alias("kurt_excess"),
    )
    counts = li.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("n"))
    w = W.partitionBy("l_returnflag").orderBy(F.desc("n"), F.asc("l_quantity"))
    md = (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("l_returnflag", F.col("l_quantity").cast("long").alias("mode_qty"))
    )
    return mom.join(md, "l_returnflag")


@register(
    "q_winsorized_stats",
    oracle="""
    WITH b AS (
      SELECT quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
      FROM events
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(FLOOR((value) * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE) / (COUNT(value) * 1e6), 6) AS mean_raw,
           ROUND(CAST(SUM(CAST(FLOOR((LEAST(GREATEST(value, lo), hi)) * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE) / (COUNT(LEAST(GREATEST(value, lo), hi)) * 1e6), 6) AS mean_winsor,
           CAST(SUM(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
           CAST(SUM(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
           ROUND(MAX(hi), 6) AS p95
    FROM events, b
    """,
    description=(
        "Winsorized mean: clamp the value column at its own p05/p95 "
        "before averaging — the outlier-robust aggregate feature "
        "pipelines use where raw means are dragged by heavy tails. The "
        "thresholds come from operators/quantile.quantile_cont_row "
        "(distributed exact, no single-reducer buffering) and come back "
        "as a broadcast 1-row frame; the clamp itself is codegen "
        "LEAST/GREATEST on the scan. Interpolation arithmetic is "
        "bit-identical to DuckDB quantile_cont (same IEEE expression), "
        "so the clamped compare agrees on both engines."
    ),
)
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.operators.quantile import quantile_cont_row

    ev = load_table(spark, sf_dir, "events")
    b = quantile_cont_row(ev, "value", {"lo": 0.05, "hi": 0.95})
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        ev.crossJoin(F.broadcast(b))
        .agg(
            F.count("*").alias("n"),
            exact_avg(F.col("value"), 6).alias("mean_raw"),
            exact_avg(clamped, 6).alias("mean_winsor"),
            F.sum(F.when(F.col("value") < F.col("lo"), 1).otherwise(0))
            .cast("long")
            .alias("n_clip_lo"),
            F.sum(F.when(F.col("value") > F.col("hi"), 1).otherwise(0))
            .cast("long")
            .alias("n_clip_hi"),
            F.round(F.max("hi"), 6).alias("p95"),
        )
    )


@register(
    "q_quantile_sketch_error",
    oracle="""
    SELECT ROUND(quantile_cont(value, 0.5), 6) AS p50_exact,
           ROUND(quantile_cont(value, 0.9), 6) AS p90_exact,
           1 AS p50_within_tol,
           1 AS p90_within_tol
    FROM events
    """,
    description=(
        "Checkable contract for the quantile sketch (the true 100 TB "
        "path): percentile_approx (KLL-style, mergeable, constant "
        "memory) must land within 2% relative + 1e-6 absolute of the "
        "exact distributed quantile. Like the HLL companion "
        "(q_agg_approx_distinct_error), the sketch value itself is "
        "engine-specific so the query emits the exact quantiles plus "
        "the tolerance booleans — a red row here means the sketch "
        "accuracy degraded."
    ),
)
def q_quantile_sketch_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.operators.quantile import quantile_cont_row

    ev = load_table(spark, sf_dir, "events")
    exact = quantile_cont_row(ev, "value", {"p50e": 0.5, "p90e": 0.9})
    approx = ev.agg(
        F.percentile_approx("value", 0.5, 10000).alias("p50a"),
        F.percentile_approx("value", 0.9, 10000).alias("p90a"),
    )
    within = lambda a, e: (  # noqa: E731
        F.abs(F.col(a) - F.col(e)) <= 0.02 * F.abs(F.col(e)) + 1e-6
    ).cast("int")
    return exact.crossJoin(approx).select(
        F.round("p50e", 6).alias("p50_exact"),
        F.round("p90e", 6).alias("p90_exact"),
        within("p50a", "p50e").alias("p50_within_tol"),
        within("p90a", "p90e").alias("p90_within_tol"),
    )


@register(
    "q_agg_approx_distinct",
    oracle=None,  # HLL++ sketch values are engine-specific; driver does rows-only
    description="approx_count_distinct (HLL++) — sketch output, no exact oracle by design.",
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
    )


@register(
    "q_agg_approx_distinct_error",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT)  AS exact_parts,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           1 AS parts_within_5pct,
           1 AS orders_within_5pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
    description=(
        "Checkable contract for the HLL++ sketch: per group, the exact "
        "distinct counts plus a boolean asserting the approx_count_"
        "distinct(rsd=0.01) estimate lands within 5% of exact. The "
        "sketch value itself is engine-specific (q_agg_approx_distinct "
        "stays rows-only by design); this companion turns its accuracy "
        "guarantee into a value row the driver can hash — if HLL error "
        "ever exceeded 5% the booleans would flip and the row would go "
        "red."
    ),
)
def q_agg_approx_distinct_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Exact and approx distinct counts are computed in SEPARATE
    # aggregations and joined on the 3-row group key (r11 sweep find):
    # mixing countDistinct with approx_count_distinct(rsd=0.01) in ONE
    # agg plans the HLL++ partial buffers onto the EXPAND's
    # per-distinct-value grouping — one ~12 KB 2^14-register sketch per
    # (group, distinct value, column) instead of per group, ~14 GB of
    # aggregation state at sf0.1 (measured 38-373 s; split form ~1 s).
    # Split, the exact side runs the standard expand-distinct plan with
    # count-only state and the approx side keeps one sketch per group.
    ex = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    ap = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("_ap"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("_ao"),
    )
    return (
        ex.join(F.broadcast(ap), "l_returnflag")
        .select(
            "l_returnflag",
            "exact_parts",
            "exact_orders",
            (
                F.abs(F.col("_ap") - F.col("exact_parts"))
                / F.col("exact_parts")
                < 0.05
            )
            .cast("int")
            .alias("parts_within_5pct"),
            (
                F.abs(F.col("_ao") - F.col("exact_orders"))
                / F.col("exact_orders")
                < 0.05
            )
            .cast("int")
            .alias("orders_within_5pct"),
        )
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@register(
    "q_window_rank",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           ROW_NUMBER() OVER w AS rn,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER w AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    QUALIFY rn <= 50
    """,
    description="Ranking window family (row_number/rank/dense_rank/ntile) per segment.",
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        cust.select(
            "c_custkey",
            "c_mktsegment",
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
        )
        .filter(F.col("rn") <= 50)
    )


@register(
    "q_window_analytic",
    oracle="""
    SELECT o_orderkey, o_custkey,
           ROUND(LAG(o_totalprice) OVER w, 2)  AS prev_price,
           ROUND(LEAD(o_totalprice) OVER w, 2) AS next_price,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0, 2) AS running_total,
           ROUND(FIRST_VALUE(o_totalprice) OVER w, 2) AS first_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    description="Analytic window family: lag/lead/first_value + running-sum frame.",
)
def q_window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wr = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        F.round(F.sum(money_cents(F.col("o_totalprice"))).over(wr) / 100.0, 2).alias("running_total"),
        F.round(F.first("o_totalprice").over(w), 2).alias("first_price"),
    )


@register(
    "q_topk_per_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
    WHERE rn <= 3
    """,
    description="Top-k per group: window + filter, no global sort (scales per-partition).",
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return top_k_per_group(
        orders, ["o_orderpriority"], [F.desc("o_totalprice"), F.asc("o_orderkey")], 3
    ).select("o_orderpriority", "o_orderkey", "o_totalprice")


@register(
    "q_sort_limit",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 25
    """,
    description="Global top-n: Spark plans TakeOrderedAndProject (no full sort).",
)
def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.orderBy(F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@register(
    "q_set_union",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9500
    UNION
    SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000
    """,
    description="UNION (distinct) of two key sets.",
)
def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9500)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.union(s).distinct()


@register(
    "q_set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9500
    INTERSECT
    SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000
    """,
    description="INTERSECT (distinct).",
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9500)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.intersect(s)


@register(
    "q_set_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9500
    EXCEPT
    SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000
    """,
    description="EXCEPT (distinct).",
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9500)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.subtract(s)  # EXCEPT (set semantics): values of c absent from s


@register(
    "q_set_union_by_name",
    oracle="""
    SELECT c_name AS name, ROUND(c_acctbal, 2) AS balance, 'customer' AS kind
    FROM customer WHERE c_acctbal > 9950
    UNION ALL
    SELECT s_name AS name, ROUND(s_acctbal, 2) AS balance, 'supplier' AS kind
    FROM supplier WHERE s_acctbal > 9500
    """,
    description="unionByName across differently-ordered projections (UNION ALL).",
)
def q_set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9950)
        .select(
            F.col("c_name").alias("name"),
            F.round("c_acctbal", 2).alias("balance"),
            F.lit("customer").alias("kind"),
        )
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9500)
        .select(
            F.lit("supplier").alias("kind"),
            F.col("s_name").alias("name"),
            F.round("s_acctbal", 2).alias("balance"),
        )
    )
    return c.unionByName(s)


@register(
    "q_distinct_projection",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    description="DISTINCT over a projection (dropDuplicates on full row).",
)
def q_distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


# ---------------------------------------------------------------------------
# Scalar function families
# ---------------------------------------------------------------------------


@register(
    "q_fn_string",
    oracle="""
    SELECT p_partkey,
           LOWER(p_name)                                   AS lname,
           UPPER(p_type)                                   AS utype,
           LENGTH(p_name)                                  AS name_len,
           split_part(p_name, ' ', 1)                      AS first_word,
           CONCAT(p_brand, ':', p_type)                    AS brand_type,
           regexp_extract(p_brand, '([0-9]+)', 1)          AS brand_num,
           REPLACE(p_name, ' ', '_')                       AS snake_name,
           SUBSTRING(p_name, 1, 3)                         AS prefix3,
           LPAD(CAST(p_size AS VARCHAR), 3, '0')           AS padded_size,
           TRIM('  ' || p_type || ' ')                     AS trimmed,
           CASE WHEN p_name LIKE 'b%' THEN 1 ELSE 0 END    AS starts_b
    FROM part
    WHERE p_partkey <= 500
    """,
    description="String function family: case, length, split, concat, regexp, pad, trim.",
)
def q_fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    return part.select(
        "p_partkey",
        F.lower("p_name").alias("lname"),
        F.upper("p_type").alias("utype"),
        F.length("p_name").cast("long").alias("name_len"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("first_word"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).alias("brand_num"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("snake_name"),
        F.substring("p_name", 1, 3).alias("prefix3"),
        F.lpad(F.col("p_size").cast("string"), 3, "0").alias("padded_size"),
        F.trim(F.concat(F.lit("  "), F.col("p_type"), F.lit(" "))).alias("trimmed"),
        F.when(F.col("p_name").like("b%"), 1).otherwise(0).alias("starts_b"),
    )


@register(
    "q_fn_date",
    oracle="""
    SELECT o_orderkey,
           EXTRACT(YEAR FROM o_orderdate)                          AS yr,
           EXTRACT(MONTH FROM o_orderdate)                         AS mo,
           EXTRACT(QUARTER FROM o_orderdate)                       AS qtr,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')  AS month_start,
           datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch0,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end
    FROM orders
    WHERE o_orderkey <= 1000
    """,
    description="Date/time function family: extract, trunc, diff, add, last_day.",
)
def q_fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("long").alias("days_since_epoch0"),
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("due_date"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
    )


@register(
    "q_fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ABS(l_extendedprice - 30000)                   AS abs_dev,
           CAST(CEIL(l_quantity / 7.0) AS BIGINT)         AS qty_ceil,
           CAST(FLOOR(l_quantity / 7.0) AS BIGINT)        AS qty_floor,
           ROUND(SQRT(l_extendedprice), 4)                AS sqrt_price,
           ROUND(LN(l_extendedprice + 1), 4)              AS ln_price,
           ROUND(POW(1 + l_discount, 3), 6)               AS disc_cubed,
           CAST(l_quantity AS BIGINT) % 5                 AS qty_mod
    FROM lineitem
    WHERE l_orderkey <= 500
    """,
    description="Math function family: abs/ceil/floor/sqrt/ln/pow/mod.",
)
def q_fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - 30000).alias("abs_dev"),
        F.ceil(F.col("l_quantity") / 7.0).alias("qty_ceil"),
        F.floor(F.col("l_quantity") / 7.0).alias("qty_floor"),
        F.round(F.sqrt("l_extendedprice"), 4).alias("sqrt_price"),
        F.round(F.log(F.col("l_extendedprice") + 1), 4).alias("ln_price"),
        F.round(F.pow(1 + F.col("l_discount"), 3), 6).alias("disc_cubed"),
        (F.col("l_quantity").cast("long") % 5).alias("qty_mod"),
    )


@register(
    "q_fn_array",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' '))                         AS n_words,
           len(list_distinct(string_split(text, ' ')))          AS n_distinct_words,
           array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3], ',') AS first3_sorted,
           CAST(list_contains(string_split(text, ' '), 'spark') AS INT) AS has_spark
    FROM documents
    WHERE doc_id <= 100
    """,
    description="Array function family: split, size, distinct, sort, slice, contains.",
)
def q_fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 100)
    words = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct_words"),
        F.concat_ws(",", F.slice(F.array_sort(F.array_distinct(words)), 1, 3)).alias("first3_sorted"),
        F.array_contains(words, "spark").cast("int").alias("has_spark"),
    )


@register(
    "q_fn_json",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4)       AS avg_k
    FROM events
    GROUP BY event_type
    """,
    description="JSON extraction over the events.props payload column + aggregation.",
)
def q_fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k.cast("long")).alias("sum_k"),
        F.round(F.avg(k.cast("double")), 4).alias("avg_k"),
    )


@register(
    "q_fn_map",
    oracle="""
    SELECT event_type,
           ROUND(SUM(CAST(ROUND(value * CASE event_type
                 WHEN 'purchase' THEN 5.0 WHEN 'signup' THEN 3.0
                 WHEN 'click' THEN 1.0 WHEN 'view' THEN 0.5
                 ELSE 0.0 END * 1000) AS BIGINT)) / 1000.0, 4) AS weighted_value
    FROM events
    GROUP BY event_type
    """,
    description="Map functions: literal map lookup (element_at) feeding an aggregate.",
)
def q_fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    weights = F.create_map(
        F.lit("purchase"), F.lit(5.0),
        F.lit("signup"), F.lit(3.0),
        F.lit("click"), F.lit(1.0),
        F.lit("view"), F.lit(0.5),
    )
    w = F.coalesce(F.element_at(weights, F.col("event_type")), F.lit(0.0))
    return ev.groupBy("event_type").agg(
        F.round(F.sum(money_cents(F.col("value") * w, 1000)) / 1000.0, 4).alias("weighted_value")
    )


@register(
    "q_fn_conditional",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'low'
                WHEN c_acctbal < 9000 THEN 'mid'
                ELSE 'high' END                        AS tier,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
           CASE WHEN c_nationkey % 2 = 0 THEN NULL ELSE c_nationkey END AS odd_nation
    FROM customer
    """,
    description="Conditional family: CASE WHEN tiers, NULLIF/COALESCE null funneling.",
)
def q_fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .when(F.col("c_acctbal") < 9000, "mid")
        .otherwise("high")
        .alias("tier"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_or_other"
        ),
        F.when(F.col("c_nationkey") % 2 == 0, F.lit(None)).otherwise(F.col("c_nationkey")).alias(
            "odd_nation"
        ),
    )


@register(
    "q_null_safe_eq",
    oracle="""
    WITH a AS (SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
               FROM customer WHERE c_custkey <= 150),
         b AS (SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
               FROM customer WHERE c_custkey <= 150)
    SELECT COUNT(*) AS n_pairs
    FROM a JOIN b ON a.seg IS NOT DISTINCT FROM b.seg AND a.c_custkey < b.c_custkey
    """,
    description="Null-safe equality join (<=> / IS NOT DISTINCT FROM) with null keys.",
)
def q_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 150)
    a = cust.select("c_custkey", F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"))
    b = a.select(F.col("c_custkey").alias("b_custkey"), F.col("seg").alias("b_seg"))
    return (
        a.join(b, a.seg.eqNullSafe(b.b_seg) & (a.c_custkey < b.b_custkey))
        .agg(F.count("*").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# Pivot + subqueries
# ---------------------------------------------------------------------------


@register(
    "q_pivot_status",
    oracle="""
    SELECT c_mktsegment,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
    description="Pivot: order counts per segment × status (static value list).",
)
def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0, ["F", "O", "P"])
        .withColumnsRenamed({"F": "n_f", "O": "n_o", "P": "n_p"})
    )


@register(
    "q_scalar_subquery",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n_above
    FROM lineitem
    WHERE l_extendedprice > (SELECT AVG(l_extendedprice) * 1.9 FROM lineitem)
    GROUP BY l_returnflag
    """,
    description="Scalar subquery: global average computed once, broadcast into the filter.",
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    threshold = li.agg((F.avg("l_extendedprice") * 1.9).alias("thr"))
    # Broadcast cross-join of a 1-row aggregate — the distributed version of
    # a scalar subquery; never a driver-side collect().
    return (
        li.crossJoin(F.broadcast(threshold))
        .filter(F.col("l_extendedprice") > F.col("thr"))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_above"))
    )


@register(
    "q_exists_subquery",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > CAST(o_orderdate AS DATE) + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    """,
    description="Correlated EXISTS subquery (TPC-H Q4-shaped, late-shipment predicate).",
)
def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_ex_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_ex_lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM _ex_orders
        WHERE EXISTS (SELECT 1 FROM _ex_lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > CAST(o_orderdate AS DATE) + INTERVAL 90 DAY)
        GROUP BY o_orderpriority
        """
    )


@register(
    "q_in_subquery",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_nationkey IN (SELECT n_nationkey FROM nation
                          WHERE n_regionkey IN (SELECT r_regionkey FROM region WHERE r_name = 'ASIA'))
      AND c_acctbal > 9000
    """,
    description="Nested IN subqueries (planned as semi joins against broadcast dims).",
)
def q_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("customer", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"_in_{t}")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM _in_customer
        WHERE c_nationkey IN (SELECT n_nationkey FROM _in_nation
                              WHERE n_regionkey IN (SELECT r_regionkey FROM _in_region WHERE r_name = 'ASIA'))
          AND c_acctbal > 9000
        """
    )


# ---------------------------------------------------------------------------
# Round-1 additions: scan-bound aggregate, unpivot, range frames, from_json
# ---------------------------------------------------------------------------


@register(
    "q06_forecast_revenue",
    oracle=f"""
    SELECT {exact_sum_round_sql("l_extendedprice * l_discount")} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    headline=True,
    description="TPC-H Q6-shaped: pure scan+filter+agg — the parquet-pushdown showcase (all four predicates reach the scan).",
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            exact_sum_round(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q_unpivot",
    oracle="""
    SELECT c_custkey, metric, ROUND(val, 2) AS val
    FROM (SELECT c_custkey, c_acctbal AS balance, CAST(c_nationkey AS DOUBLE) AS nation
          FROM customer WHERE c_custkey <= 300)
    UNPIVOT (val FOR metric IN (balance, nation))
    """,
    description="Unpivot (wide→long): Spark unpivot/melt ≙ SQL UNPIVOT.",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 300)
        .select(
            "c_custkey",
            F.col("c_acctbal").alias("balance"),
            F.col("c_nationkey").cast("double").alias("nation"),
        )
    )
    return cust.unpivot("c_custkey", ["balance", "nation"], "metric", "_v").select(
        "c_custkey", "metric", F.round("_v", 2).alias("val")
    )


@register(
    "q_window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                          RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING) AS n_similar
    FROM orders
    WHERE o_custkey <= 100
    """,
    description="RANGE window frame (value-based bounds): orders within ±10k of each order's price.",
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    w = W.partitionBy("o_custkey").orderBy("o_totalprice").rangeBetween(-10000, 10000)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.count("*").over(w).alias("n_similar"),
    )


@register(
    "q_from_json_struct",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket
    FROM events
    WHERE event_id <= 1000
    """,
    description="from_json with an explicit schema → typed struct field access (vs. per-path get_json_object).",
)
def q_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") <= 1000)
    parsed = ev.withColumn("p", F.from_json("props", "struct<k:bigint>"))
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        (F.col("p.k") % 10).alias("k_bucket"),
    )


# ---------------------------------------------------------------------------
# Deeper TPC-H-shaped analogs (correlated subqueries, HAVING, histograms)
# ---------------------------------------------------------------------------


@register(
    "q02_min_cost_supplier",
    oracle="""
    WITH min_price AS (
      SELECT p_type, MIN(p_retailprice) AS min_rp FROM part GROUP BY p_type
    )
    SELECT p.p_type, p.p_partkey, p.p_name, ROUND(p.p_retailprice, 2) AS price
    FROM part p JOIN min_price m
      ON p.p_type = m.p_type AND p.p_retailprice = m.min_rp
    """,
    description="TPC-H Q2-shaped: per-group minimum via aggregate + join-back (correlated-min pattern).",
)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    min_price = part.groupBy(F.col("p_type").alias("mp_type")).agg(
        F.min("p_retailprice").alias("min_rp")
    )
    return (
        part.join(
            min_price,
            (part.p_type == min_price.mp_type) & (part.p_retailprice == min_price.min_rp),
        )
        .select("p_type", "p_partkey", "p_name", F.round("p_retailprice", 2).alias("price"))
    )


@register(
    "q11_important_stock",
    oracle="""
    SELECT s_nationkey, CAST(ROUND(SUM(CAST(s_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS nation_bal
    FROM supplier
    GROUP BY s_nationkey
    HAVING CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) > (SELECT CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) * 0.04 FROM supplier)
    """,
    description="TPC-H Q11-shaped: HAVING against a global-total scalar subquery (broadcast, no collect).",
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    bal = F.col("s_acctbal").cast("decimal(18,6)")
    total = supp.agg((F.sum(bal).cast("double") * 0.04).alias("thr"))
    return (
        supp.groupBy("s_nationkey")
        .agg(F.sum(bal).alias("_bal"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("_bal").cast("double") > F.col("thr"))
        .select("s_nationkey", F.round("_bal", 2).cast("double").alias("nation_bal"))
    )


@register(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey)
    GROUP BY c_count
    """,
    description="TPC-H Q13-shaped: two-level aggregation — per-customer order counts, then the histogram of counts.",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "q18_large_quantity_orders",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS totalprice,
           ROUND(SUM(l_quantity), 2) AS total_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
    GROUP BY o_orderkey, o_totalprice
    """,
    description="TPC-H Q18-shaped: IN over a grouped-HAVING subquery (semi join against an aggregate).",
)
def q18_large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 150)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "total_qty",
        )
    )


@register(
    "q22_global_sales_opportunity",
    oracle="""
    WITH avg_bal AS (SELECT AVG(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0)
    SELECT c_nationkey, COUNT(*) AS n_cust, CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_bal
    FROM customer, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_totalprice > 300000)
    GROUP BY c_nationkey
    """,
    description="TPC-H Q22-shaped: above-average balance filter (scalar subquery) + NOT EXISTS anti join + aggregate.",
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_cust"), F.round(F.sum(F.col("c_acctbal").cast("decimal(18,6)")), 2).cast("double").alias("total_bal"))
    )


@register(
    "q_fn_string_distance",
    oracle="""
    SELECT p_partkey,
           levenshtein(p_name, 'blue bolt')             AS lev_dist,
           CAST(jaccard(p_name, 'blue bolt') >= 0.99 AS INT) AS char_match
    FROM part
    WHERE p_partkey <= 300
    """,
    description="String-distance functions: levenshtein edit distance (+ a char-set similarity flag).",
)
def q_fn_string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    chars = lambda c: F.array_distinct(F.split(c, ""))  # noqa: E731
    a, b = chars(F.col("p_name")), chars(F.lit("blue bolt"))
    jac = F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))
    return part.select(
        "p_partkey",
        F.levenshtein("p_name", F.lit("blue bolt")).cast("long").alias("lev_dist"),
        (jac >= 0.99).cast("int").alias("char_match"),
    )


@register(
    "q14_promo_revenue_ratio",
    oracle="""
    SELECT ROUND(100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                        THEN l_extendedprice * (1 - l_discount) ELSE 0 END
                        AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,6))) AS DOUBLE), 4) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-07-01'
    """,
    description="TPC-H Q14-shaped: conditional-aggregation ratio (promo revenue share).",
)
def q14_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-07-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0).cast("decimal(18,6)")).cast("double")
                / F.sum(rev.cast("decimal(18,6)")).cast("double"),
                4,
            ).alias("promo_pct")
        )
    )


@register(
    "q19_discounted_revenue",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue, COUNT(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40)
    """,
    description="TPC-H Q19-shaped: OR-of-ANDs join predicate (disjunctive pushdown exercise).",
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 40))
    )
    return joined.filter(cond).agg(
        F.round(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")), 2).cast("double").alias("revenue"),
        F.count("*").alias("n"),
    )


@register(
    "q_funnel_conversion",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(ts) FILTER (event_type = 'view')     AS first_view,
             MIN(ts) FILTER (event_type = 'click')    AS first_click,
             MIN(ts) FILTER (event_type = 'purchase') AS first_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           COUNT(CASE WHEN first_view IS NOT NULL THEN 1 END) AS n_viewed,
           COUNT(CASE WHEN first_click > first_view THEN 1 END) AS n_clicked_after_view,
           COUNT(CASE WHEN first_purchase > first_click AND first_click > first_view THEN 1 END)
             AS n_full_funnel
    FROM firsts
    """,
    description="Funnel analysis: ordered view→click→purchase conversion counts per user.",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.count(F.when(F.col("first_view").isNotNull(), 1)).alias("n_viewed"),
        F.count(F.when(F.col("first_click") > F.col("first_view"), 1)).alias("n_clicked_after_view"),
        F.count(
            F.when(
                (F.col("first_purchase") > F.col("first_click"))
                & (F.col("first_click") > F.col("first_view")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@register(
    "q_retention_cohorts",
    oracle="""
    WITH first_day AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
      FROM events e JOIN first_day f ON e.user_id = f.user_id
    )
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
           day_offset,
           COUNT(*) AS n_active
    FROM activity
    WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    """,
    description="Retention cohorts: users active N days after their first-seen day (classic two-join cohort table).",
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn("d", F.col("ts").cast("date"))
    first_day = ev.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    activity = (
        ev.join(first_day, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff("d", F.col("cohort_day")).cast("long").alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_active"))
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            "day_offset",
            "n_active",
        )
    )


@register(
    "q_explode_word_count",
    oracle="""
    SELECT word, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 20
    """,
    description="The canonical word count: explode (UNNEST) → groupBy → top-20.",
)
def q_explode_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


@register(
    "q_heavy_hitter_words",
    oracle="""
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    t AS (SELECT COUNT(*) AS n FROM w)
    SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM w, t
    GROUP BY word
    HAVING COUNT(*) > MAX(n) / 32.0
    """,
    headline=True,
    description=(
        "Exact heavy hitters (words with > n/32 share of the token "
        "stream) via operators/heavy_hitters: a per-partition "
        "Misra-Gries candidate pass (mapInPandas, ≤cap rows out per "
        "partition) followed by an exact recount of ONLY the candidate "
        "set behind a broadcast semi-join. The plain "
        "groupBy-all-values formulation shuffles every distinct value "
        "— at 100 TB the near-unique long tail dominates the exchange "
        "to produce a ≤31-row answer; the two-pass plan's exchange "
        "carries O(partitions × candidates) instead. Result is exact "
        "(candidates are a guaranteed superset; recount is exact), so "
        "the ordinary SQL oracle matches value-for-value."
    ),
)
def q_heavy_hitter_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.operators.heavy_hitters import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
    return heavy_hitters(words, "word", k=32)


@register(
    "q_agg_collect",
    oracle="""
    SELECT c_mktsegment,
           array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nations,
           len(list(DISTINCT c_nationkey)) AS n_nations
    FROM customer
    GROUP BY c_mktsegment
    """,
    description=(
        "Collection aggregates: collect_set (sorted for determinism) + "
        "cardinality. The set is emitted CSV-joined to a string — the "
        "driver's pandas canonicalizer cannot hash raw array cells; the "
        "array-native form is one concat_ws away."
    ),
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("c_nationkey"))).alias("nations"),
        F.size(F.collect_set("c_nationkey")).cast("long").alias("n_nations"),
    )


@register(
    "q_date_spine_gapfill",
    oracle="""
    WITH spine AS (
      SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1995-03-31', INTERVAL 1 DAY)) AS DATE) AS d
    ),
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue, COUNT(*) AS n
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-04-01'
      GROUP BY 1
    )
    SELECT strftime(spine.d, '%Y-%m-%d') AS day,
           COALESCE(daily.revenue, 0.0) AS revenue,
           COALESCE(daily.n, 0) AS n_orders
    FROM spine LEFT JOIN daily ON spine.d = daily.d
    """,
    description="Gap-filled time series: generated date spine (sequence+explode) left-joined to daily aggregates, zeros filled.",
)
def q_date_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
    )
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("1995-03-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d")
    )
    daily = (
        orders.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2).cast("double").alias("revenue"), F.count("*").alias("n"))
    )
    return (
        spine.join(daily, "d", "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.coalesce("n", F.lit(0)).alias("n_orders"),
        )
    )


@register(
    "q07_nation_volume",
    oracle="""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           EXTRACT(YEAR FROM l_shipdate) AS ship_year,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS volume
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE cn.n_name IN ('NATION_1', 'NATION_2')
      AND sn.n_name IN ('NATION_1', 'NATION_2')
      AND cn.n_name <> sn.n_name
    GROUP BY cn.n_name, sn.n_name, EXTRACT(YEAR FROM l_shipdate)
    """,
    description="TPC-H Q7-shaped: cross-nation trade volume (self-joined dimension, both directions).",
)
def q07_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    cn = F.broadcast(
        nation.filter(F.col("n_name").isin("NATION_1", "NATION_2")).select(
            F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
        )
    )
    sn = F.broadcast(
        nation.filter(F.col("n_name").isin("NATION_1", "NATION_2")).select(
            F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
        )
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cn, cust.c_nationkey == F.col("c_nk"))
        .join(sn, supp.s_nationkey == F.col("s_nk"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation", F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(F.round(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")), 2).cast("double").alias("volume"))
    )


@register(
    "q08_market_share",
    oracle="""
    WITH all_orders AS (
      SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS volume,
             s_nationkey
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region  ON cn.n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
    )
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN s_nationkey = 3 THEN volume ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6)
             AS mkt_share
    FROM all_orders
    GROUP BY o_year
    """,
    description="TPC-H Q8-shaped: one nation's market share of regional volume per year (conditional-agg ratio over a star join).",
)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select(F.year("o_orderdate").cast("long").alias("o_year"), vol.cast("decimal(18,6)").alias("volume"), "s_nationkey")
    )
    return base.groupBy("o_year").agg(
        F.round(
            F.sum(
                F.when(F.col("s_nationkey") == 3, F.col("volume")).otherwise(
                    F.lit(0).cast("decimal(18,6)")
                )
            ).cast("double")
            / F.sum("volume").cast("double"),
            6,
        ).alias("mkt_share")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0, 2) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#5'
      AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = lineitem.l_partkey)
    """,
    description="TPC-H Q17-shaped: correlated scalar subquery per part (planned as an aggregate join, no per-row subquery execution).",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#5")
    # decorrelate by hand: per-part avg once, joined back (what Catalyst
    # does internally for the SQL form)
    avg_q = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        (F.avg("l_quantity") * 0.2).alias("thr")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(avg_q, li.l_partkey == F.col("ap_key"))
        .filter(F.col("l_quantity") < F.col("thr"))
        .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "q21_waiting_orders",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > TIMESTAMP '1999-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    """,
    description="TPC-H Q21-shaped: EXISTS + NOT EXISTS correlated on the same table (the last-supplier-to-ship pattern).",
)
def q21_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("supplier", "lineitem", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"_q21_{t}")
    return spark.sql(
        """
        SELECT s_name, COUNT(*) AS numwait
        FROM _q21_supplier
        JOIN _q21_lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN _q21_orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > TIMESTAMP '1999-01-01'
          AND EXISTS (SELECT 1 FROM _q21_lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM _q21_lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > l1.l_shipdate)
        GROUP BY s_name
        """
    )


@register(
    "q_window_distribution",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_mktsegment, c_acctbal,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cb
      FROM customer
    )
    SELECT c_custkey,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume,
           (CASE WHEN a2 = 0 THEN 0
                 ELSE SIGN(a2) * ((2 * ABS(a2) + n) // (2 * n)) END) / 10000.0
             AS dev_from_avg
    FROM (
      SELECT c_custkey, c_mktsegment, c_acctbal,
             100 * (cb * COUNT(*) OVER p - CAST(SUM(cb) OVER p AS BIGINT)) AS a2,
             COUNT(*) OVER p AS n
      FROM c
      WINDOW p AS (PARTITION BY c_mktsegment)
    )
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
    description=(
        "Distribution window functions: percent_rank, cume_dist, "
        "deviation from partition mean rounded to 4 dp. The deviation "
        "is exact integer cents, and the half-up rounding itself is "
        "done in INTEGER arithmetic (sign * (2|a|+n) div 2n) before the "
        "single float division: `ROUND(double, 4)` diverges between "
        "engines whenever the true value ties at the 5th decimal "
        "(Spark half-ups the shortest-decimal repr, DuckDB rounds the "
        "binary value — both observed at sf0.001), so no double ever "
        "reaches a ROUND on either side."
    ),
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "cb", money_cents(F.col("c_acctbal"))
    )
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wp = W.partitionBy("c_mktsegment")
    n = F.count("*").over(wp)
    a2 = (F.lit(100) * (F.col("cb") * n - F.sum("cb").over(wp))).alias("a2")
    base = cust.select("c_custkey", "c_mktsegment", "c_acctbal", a2, n.alias("n"))
    dev = F.when(F.col("a2") == 0, F.lit(0)).otherwise(
        F.signum("a2")
        * F.expr("(2 * abs(a2) + n) div (2 * n)")
    ) / F.lit(10000.0)
    return base.select(
        "c_custkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        dev.alias("dev_from_avg"),
    )


@register(
    "q_agg_boolean",
    oracle="""
    SELECT o_orderpriority,
           CAST(bool_and(o_totalprice > 1000)   AS INT) AS all_over_1k,
           CAST(bool_or(o_totalprice > 400000)  AS INT) AS any_over_400k,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished
    FROM orders
    GROUP BY o_orderpriority
    """,
    description="Boolean aggregates (bool_and/bool_or) and filtered counts.",
)
def q_agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000).cast("int").alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000).cast("int").alias("any_over_400k"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
    )


@register(
    "q_fn_bitwise",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255                        AS low_byte,
           o_orderkey | 4096                       AS with_flag,
           xor(o_orderkey, 21845)                  AS xored,
           o_orderkey << 2                         AS shifted_l,
           o_orderkey >> 3                         AS shifted_r,
           CAST(bit_count(o_orderkey) AS INT)      AS popcount
    FROM orders
    WHERE o_orderkey <= 2000
    """,
    description="Bitwise function family: and/or/xor/shifts/popcount.",
)
def q_fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    k = F.col("o_orderkey")
    return orders.select(
        "o_orderkey",
        k.bitwiseAND(255).alias("low_byte"),
        k.bitwiseOR(4096).alias("with_flag"),
        k.bitwiseXOR(21845).alias("xored"),
        F.shiftleft(k, 2).alias("shifted_l"),
        F.shiftright(k, 3).alias("shifted_r"),
        F.bit_count(k).alias("popcount"),
    )


@register(
    "q_events_anomaly",
    oracle="""
    WITH stats AS (
      SELECT event_id, event_type, value,
             AVG(value)         OVER (PARTITION BY event_type) AS mu,
             STDDEV_SAMP(value) OVER (PARTITION BY event_type) AS sigma
      FROM events
    )
    SELECT event_id, event_type, ROUND((value - mu) / sigma, 4) AS zscore
    FROM stats
    WHERE (value - mu) / sigma > 3
    """,
    description="Anomaly detection: per-type z-score outliers via window mean/stddev (one shuffle).",
)
def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type")
    z = (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)
    return (
        ev.withColumn("zscore", z)
        .filter(F.col("zscore") > 3)
        .select("event_id", "event_type", F.round("zscore", 4).alias("zscore"))
    )


@register(
    "q_window_moving_avg",
    oracle="""
    SELECT o_orderkey, o_custkey,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                 / (COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) * 100.0), 4) AS ma5
    FROM orders
    WHERE o_custkey <= 200
    """,
    description="Trailing 5-row moving average per customer (bounded ROWS frame).",
)
def q_window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 200)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey").rowsBetween(-4, 0)
    return orders.select(
        "o_orderkey", "o_custkey", F.round(F.sum(money_cents(F.col("o_totalprice"))).over(w) / (F.count("*").over(w) * 100.0), 4).alias("ma5")
    )


@register(
    "q_agg_string",
    oracle="""
    SELECT c_mktsegment,
           string_agg(DISTINCT CAST(c_nationkey AS VARCHAR), ',' ORDER BY CAST(c_nationkey AS VARCHAR)) AS nations_csv
    FROM customer
    GROUP BY c_mktsegment
    """,
    description="String aggregation (listagg/string_agg) with deterministic ordering.",
)
def q_agg_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.concat_ws(",", F.array_sort(F.collect_set(F.col("c_nationkey").cast("string")))).alias(
            "nations_csv"
        )
    )


@register(
    "q_weekly_rollup",
    oracle="""
    SELECT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week_start,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
    GROUP BY 1
    """,
    description="Weekly time rollup (date_trunc to ISO week start, Monday).",
)
def q_weekly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    return (
        orders.groupBy(F.date_format(F.date_trunc("week", "o_orderdate"), "yyyy-MM-dd").alias("week_start"))
        .agg(F.count("*").alias("n_orders"), F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2).cast("double").alias("revenue"))
    )


@register(
    "q_bucketed_fact_join",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    description=(
        "Fact-fact join on pre-bucketed tables: lineitem and orders are "
        "materialized bucketed+sorted on the join key, so the sort-merge "
        "join reads co-located buckets with NO exchange on either side — "
        "the layout that makes a repeated 100 TB fact-fact join viable "
        "(duva_spark.layout.write_bucketed; plan asserted in tests)."
    ),
)
def q_bucketed_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.layout import write_bucketed

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    write_bucketed(li, "bq_lineitem", "l_orderkey", 8, sort_col="l_orderkey")
    write_bucketed(orders, "bq_orders", "l_orderkey", 8, sort_col="l_orderkey")
    l, o = spark.table("bq_lineitem"), spark.table("bq_orders")
    # merge hint: keep the sort-merge path even where AQE would broadcast
    # at toy SF — the bucketed-SMJ plan is the thing being demonstrated.
    joined = l.hint("merge").join(o, "l_orderkey")
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")), 2).cast("double").alias("revenue"),
    )


@register(
    "q04_late_shipment_orders",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    description=(
        "TPC-H Q4 analog: orders with at least one line shipped >60 days "
        "after ordering — correlated EXISTS planned as a left-semi join "
        "(equi key + residual date predicate), date filter pushed to the scan."
    ),
)
def q04_late_shipment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q09_profit_by_nation_year",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(date_part('year', o.o_orderdate) AS BIGINT) AS o_year,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                                AS DECIMAL(18, 6))), 2) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_type LIKE '%PROMO%'
    GROUP BY 1, 2
    """,
    description=(
        "TPC-H Q9 analog: profit by supplier nation and order year over a "
        "5-way star join — part filter pushed before the join, constant dims "
        "broadcast, one fact shuffle. Currency sums aggregate as "
        "DECIMAL(18,6): exact and associative, so the result is identical "
        "under ANY partial-agg order (double sums drift ~1e-8 at sf0.1 and "
        "can flip a half-cent rounding boundary — caught by the sf0.1 "
        "sweep)."
    ),
)
def q09_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type").like("%PROMO%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(part.select("p_partkey"), li.l_partkey == F.col("p_partkey"))
        .join(supp.select("s_suppkey", "s_nationkey"), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, li.l_orderkey == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")),
                2,
            )
            .cast("double")
            .alias("profit")
        )
    )


@register(
    "q12_shipping_delay_priority",
    oracle="""
    SELECT CAST(FLOOR(date_diff('day', o_orderdate, l_shipdate) / 30.0) AS BIGINT) AS delay_bucket,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= o_orderdate
    GROUP BY 1
    """,
    description=(
        "TPC-H Q12 analog: shipping-delay buckets (30-day) split by order "
        "priority class — conditional aggregation after one fact-fact join."
    ),
)
def q12_shipping_delay_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate") >= F.col("o_orderdate")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    bucket = F.floor(F.datediff("l_shipdate", "o_orderdate") / 30.0).cast("long")
    return j.groupBy(bucket.alias("delay_bucket")).agg(
        F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
        F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
    )


@register(
    "q_salted_join_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(SUM(l_quantity), 2) AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    description=(
        "Skew-resistant fact join: the salted join (probe side salted into "
        "8 sub-keys, build side replicated once per salt) produces results "
        "identical to the plain equi-join — the manual tool for power-law "
        "keys that overwhelm even AQE's skew-split blocks."
    ),
)
def q_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.operators import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    return (
        salted_join(li, orders, "l_orderkey", n_salts=8)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    description=(
        "TPC-H Q15-shaped: quarterly revenue per supplier, then the "
        "supplier(s) matching the scalar-max subquery (broadcast 1-row "
        "threshold, no collect; cf. reference query surface SURVEY §2b)."
    ),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")), 2
            ).cast("double").alias("total_revenue")
        )
    )
    top = revenue.agg(F.max("total_revenue").alias("_max_rev"))
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("_max_rev"))
        .join(F.broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_type <> 'PROMO'
      AND p_size IN (1, 9, 14, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    """,
    description=(
        "TPC-H Q16-shaped: distinct-supplier counts per (brand, size) with "
        "an IN-list predicate and a NOT IN exclusion subquery (anti join "
        "against the 'complaints' supplier set)."
    ),
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") != "PROMO") & F.col("p_size").isin(1, 9, 14, 23, 36, 45)
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    excluded = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(F.broadcast(excluded), "l_suppkey", "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q20_majority_part_suppliers",
    oracle="""
    WITH shipped AS (
        SELECT l_suppkey, l_partkey, SUM(l_quantity) AS qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        GROUP BY l_suppkey, l_partkey),
    part_total AS (
        SELECT l_partkey AS tp_partkey, SUM(qty) * 0.5 AS half_qty
        FROM shipped GROUP BY l_partkey)
    SELECT s_suppkey, s_name, ROUND(s_acctbal, 2) AS acctbal
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM shipped JOIN part_total ON l_partkey = tp_partkey
        WHERE qty > half_qty)
    """,
    description=(
        "TPC-H Q20-shaped: nested IN subqueries — suppliers shipping the "
        "majority (> half of the yearly total) of any 'red' part. "
        "Integer-valued quantities keep the 0.5x threshold float-exact on "
        "both engines; the part-key filter broadcasts as a semi join."
    ),
)
def q20_majority_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    green = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
        )
        .join(F.broadcast(green), "l_partkey", "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    part_total = shipped.groupBy(F.col("l_partkey").alias("tp_partkey")).agg(
        (F.sum("qty") * 0.5).alias("half_qty")
    )
    majority = (
        shipped.join(part_total, shipped.l_partkey == part_total.tp_partkey)
        .filter(F.col("qty") > F.col("half_qty"))
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    return supp.join(majority, "s_suppkey", "left_semi").select(
        "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal")
    )


@register(
    "q_event_transitions",
    oracle="""
    WITH t AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_type
        FROM events),
    c AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
        FROM t WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type)
    SELECT prev_type, next_type, n_transitions,
           ROUND(n_transitions / CAST(SUM(n_transitions) OVER (PARTITION BY prev_type)
                                      AS DOUBLE), 6) AS p_next
    FROM c
    """,
    description=(
        "Event-transition (Markov) matrix: per-user LAG pairs adjacent "
        "events, then counts and per-row conditional probabilities. One "
        "shuffle for the user-partitioned window, one for the tiny pair "
        "aggregate; the probability window runs over the |types|^2 result, "
        "not the event stream."
    ),
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n_transitions"))
    )
    total = W.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(F.col("n_transitions") / F.sum("n_transitions").over(total), 6).alias("p_next"),
    )


@register(
    "q_set_intersect_all",
    oracle="""
    SELECT o_orderpriority AS pri FROM orders WHERE o_totalprice > 200000
    INTERSECT ALL
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    """,
    description="INTERSECT ALL (bag semantics: min multiplicity per value).",
)
def q_set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_totalprice") > 200000).select(F.col("o_orderpriority").alias("pri"))
    b = orders.filter(F.col("o_orderstatus") == "F").select(F.col("o_orderpriority").alias("pri"))
    return a.intersectAll(b)


@register(
    "q_set_except_all",
    oracle="""
    SELECT o_orderpriority AS pri FROM orders WHERE o_totalprice > 200000
    EXCEPT ALL
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    """,
    description="EXCEPT ALL (bag semantics: multiplicity subtraction).",
)
def q_set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_totalprice") > 200000).select(F.col("o_orderpriority").alias("pri"))
    b = orders.filter(F.col("o_orderstatus") == "F").select(F.col("o_orderpriority").alias("pri"))
    return a.exceptAll(b)


def _zorder_oracle() -> str:
    from duva_spark.operators.zorder import zorder_key_sql

    zk = zorder_key_sql(["ck", "dy"], 16)
    return f"""
    WITH dims AS (
        SELECT o_orderkey,
               o_custkey & 65535 AS ck,
               CAST(date_diff('day', TIMESTAMP '1970-01-01 00:00:00', o_orderdate)
                    AS BIGINT) & 65535 AS dy
        FROM orders),
    keyed AS (SELECT o_orderkey, ck, dy, {zk} AS zkey FROM dims)
    SELECT zkey >> 16 AS z_bucket,
           COUNT(*) AS n_rows,
           MIN(ck) AS ck_min, MAX(ck) AS ck_max,
           MIN(dy) AS dy_min, MAX(dy) AS dy_max
    FROM keyed
    GROUP BY 1
    """


@register(
    "q_zorder_layout",
    oracle=_zorder_oracle(),
    description=(
        "Z-order (Morton) clustering key over (custkey, order-day): bit "
        "interleave as a pure codegen expression, then per-z-bucket "
        "min/max extents showing every bucket covers a tight rectangle in "
        "BOTH dimensions — the multi-column data-skipping layout "
        "(OPTIMIZE ZORDER) that single-column sorting cannot give. Oracle "
        "SQL is generated from the same bit-placement constants."
    ),
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.operators.zorder import zorder_key

    orders = load_table(spark, sf_dir, "orders")
    ck = F.col("o_custkey").bitwiseAND(F.lit(65535))
    dy = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).cast(
        "long"
    ).bitwiseAND(F.lit(65535))
    keyed = orders.select(
        "o_orderkey", ck.alias("ck"), dy.alias("dy")
    ).withColumn("zkey", zorder_key([F.col("ck"), F.col("dy")], 16))
    return (
        keyed.groupBy(F.shiftright("zkey", 16).alias("z_bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("ck").alias("ck_min"),
            F.max("ck").alias("ck_max"),
            F.min("dy").alias("dy_min"),
            F.max("dy").alias("dy_max"),
        )
    )


_PROFILE_COLS = (
    "l_orderkey",
    "l_partkey",
    "l_quantity",
    "l_extendedprice",
    "l_returnflag",
    "l_shipdate",
)


@register(
    "q_table_profile",
    oracle="\n    UNION ALL\n".join(
        f"""
    SELECT '{c}' AS column_name,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
    FROM lineitem"""
        for c in _PROFILE_COLS
    ),
    description=(
        "Table profiler (ANALYZE-style column statistics): per-column "
        "null and distinct counts for six lineitem columns computed in "
        "ONE multi-distinct aggregate pass (Catalyst's expand operator), "
        "then unpivoted with stack — never six scans. The oracle pays "
        "six scans instead; results match."
    ),
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"nd_{c}"))
    one = li.agg(*aggs)
    stack_args = ", ".join(f"'{c}', nn_{c}, nd_{c}" for c in _PROFILE_COLS)
    return one.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS (column_name, n_null, n_distinct)"
    )


@register(
    "q_key_skew_profile",
    oracle="""
    WITH k AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM lineitem GROUP BY l_partkey)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(MAX(cnt) AS BIGINT) AS max_cnt,
           ROUND(quantile_cont(cnt, 0.5), 4) AS p50_cnt,
           ROUND(quantile_cont(cnt, 0.99), 4) AS p99_cnt,
           ROUND(MAX(cnt) / AVG(cnt), 4) AS max_over_avg,
           ROUND(MAX(cnt) * 1.0 / SUM(cnt), 6) AS top1_share
    FROM k
    """,
    description=(
        "Join-key skew diagnostics: the pre-flight check before choosing "
        "a shuffle strategy (AQE skew split vs operators/skew.salted_join "
        "vs broadcast). Per-key counts, then distribution stats over the "
        "count frame; the second pass sees |keys| rows, not data. The "
        "p50/p99 come from operators/quantile.quantile_cont_row "
        "(prefix-sum rank lookup) rather than a single-group exact "
        "percentile, so no reducer buffers the O(keys) count vector (at "
        "100 TB |l_partkey| is billions)."
    ),
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy("l_partkey").agg(F.count("*").alias("cnt")).localCheckpoint()
    stats = k.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.max("cnt") / F.avg("cnt"), 4).alias("max_over_avg"),
        F.round(F.max("cnt") * 1.0 / F.sum("cnt"), 6).alias("top1_share"),
    )
    quants = quantile_cont_row(k, "cnt", {"p50": 0.5, "p99": 0.99})
    return stats.crossJoin(quants).select(
        "n_keys",
        "n_rows",
        "max_cnt",
        F.round("p50", 4).alias("p50_cnt"),
        F.round("p99", 4).alias("p99_cnt"),
        "max_over_avg",
        "top1_share",
    )


# One SQL text, two engines: this string is BOTH the Spark query (run
# via spark.sql over temp views) and the DuckDB oracle, character for
# character — SQL-entry-point parity in the strictest possible form.
_PORTABLE_SQL = """
    SELECT n_name,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name, EXTRACT(YEAR FROM o_orderdate)
"""


@register(
    "q_sql_unchanged",
    oracle=_PORTABLE_SQL,
    description=(
        "SQL-text entry point: the identical ANSI string executes on "
        "Spark SQL (over temp views) and on DuckDB as its own oracle — "
        "zero translation. Proves the engine's SQL surface, not just the "
        "DataFrame API; Catalyst still owns the physical plan (broadcast "
        "dims, partial aggs)."
    ),
)
def q_sql_unchanged(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("lineitem", "orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_PORTABLE_SQL)


@register(
    "q_partition_pruned_scan",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
    FROM orders
    WHERE EXTRACT(YEAR FROM o_orderdate) = 1996
    GROUP BY o_orderpriority
    """,
    description=(
        "Partition pruning end-to-end: orders is materialized "
        "hive-partitioned by order year, then the year-filtered read "
        "touches ONE partition directory (PartitionFilters in the scan, "
        "asserted) — at 100 TB the difference between listing one "
        "directory and scanning seven years of files."
    ),
)
def q_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from duva_spark.sinks import full_refresh, read_dataset

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    # repo-anchored (not cwd-relative) so any harness cwd reads/writes the
    # same layout; the overwrite-per-run keeps the query self-contained
    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    path = os.path.join(
        repo_root, "spark-warehouse", f"pq_orders_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    full_refresh(orders, path, partition_by=["o_year"])
    pruned = read_dataset(spark, path).filter(F.col("o_year") == 1996)
    return pruned.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("total"),
    )


@register(
    "q_agg_correlation",
    oracle="""
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 6)            AS qty_price_corr,
           ROUND(covar_samp(l_quantity, l_extendedprice), 4)      AS qty_price_covar,
           ROUND(covar_pop(l_quantity, l_extendedprice), 4)       AS qty_price_covar_pop,
           ROUND(regr_slope(l_extendedprice, l_quantity), 6)      AS price_per_qty,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4)  AS price_intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6)         AS fit_r2
    FROM lineitem
    GROUP BY l_returnflag
    """,
    description=(
        "Statistical co-moment aggregates: correlation, sample/population "
        "covariance, and the regr_* least-squares family per group — "
        "single-pass distributed co-moment accumulation (Welford-style "
        "partial merge), one partial-agg shuffle. Complements "
        "q_pandas_group_regression, which re-derives regr_slope through "
        "the Arrow UDF surface."
    ),
)
def q_agg_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr(q, p), 6).alias("qty_price_corr"),
        F.round(F.covar_samp(q, p), 4).alias("qty_price_covar"),
        F.round(F.covar_pop(q, p), 4).alias("qty_price_covar_pop"),
        F.round(F.regr_slope(p, q), 6).alias("price_per_qty"),
        F.round(F.regr_intercept(p, q), 4).alias("price_intercept"),
        F.round(F.regr_r2(p, q), 6).alias("fit_r2"),
    )


@register(
    "q_sessionize_batch",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR CAST(floor(epoch(ts)) AS BIGINT)
                          - CAST(floor(epoch(LAG(ts) OVER w)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM o
    ),
    per_session AS (
      SELECT user_id, session_seq,
             COUNT(*) AS n_events,
             CAST(floor(epoch(MAX(ts))) AS BIGINT)
               - CAST(floor(epoch(MIN(ts))) AS BIGINT) AS duration_s,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS sess_cents
      FROM s GROUP BY user_id, session_seq
    )
    SELECT user_id,
           COUNT(*) AS n_sessions,
           ROUND(AVG(n_events), 4) AS avg_events,
           CAST(MAX(duration_s) AS BIGINT) AS max_duration_s,
           ROUND(SUM(sess_cents) / 100.0, 4) AS total_value
    FROM per_session
    GROUP BY user_id
    """,
    description=(
        "Batch gap-based sessionization: a 30-minute inactivity gap opens a "
        "new session (lag + conditional running count within the user "
        "partition — the classic sessionize idiom), then per-user session "
        "stats. One shuffle on user_id serves the lag window, the running "
        "sum, and both aggregations; the batch twin of q_stream_sessions' "
        "session_window. Scales as keys, not as a global sort: every stage "
        "is partitioned by user_id."
    ),
)
def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("long")
    prev = F.lag(F.col("ts")).over(wo).cast("long")
    new_sess = F.when(prev.isNull() | ((sec - prev) > 1800), 1).otherwise(0)
    # Two steps: a window expression can't nest inside another window
    # aggregate, so materialize new_sess, then running-count it.
    sess = ev.withColumn("new_sess", new_sess).withColumn(
        "session_seq",
        F.sum("new_sess").over(wo.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    per_session = sess.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        (F.max(sec) - F.min(sec)).alias("duration_s"),
        F.sum(money_cents(F.col("value"))).alias("sess_cents"),
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.round(F.avg("n_events"), 4).alias("avg_events"),
        F.max("duration_s").alias("max_duration_s"),
        F.round(F.sum("sess_cents") / 100.0, 4).alias("total_value"),
    )


@register(
    "q_peak_concurrency",
    oracle="""
    WITH deltas AS (
      SELECT event_type, ts AS t, 1 AS d FROM events
      UNION ALL
      SELECT event_type, ts + INTERVAL '30 minutes', -1 FROM events
    ),
    sweep AS (
      SELECT event_type, t, d,
             SUM(d) OVER (PARTITION BY event_type ORDER BY t, d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS concurrent
      FROM deltas
    )
    SELECT event_type,
           CAST(MAX(concurrent) AS BIGINT) AS peak_concurrent,
           CAST(floor(epoch(MIN(t) FILTER (WHERE concurrent =
                (SELECT MAX(s2.concurrent) FROM sweep s2
                 WHERE s2.event_type = sweep.event_type)))) AS BIGINT)
             AS first_peak_s
    FROM sweep
    GROUP BY event_type
    """,
    description=(
        "Interval-overlap / sweep-line analytics: each event opens a "
        "30-minute presence interval; +1/-1 deltas at interval ends, a "
        "running sum partitioned by event_type gives the concurrency "
        "curve, then max + first time the peak is reached. The classic "
        "'peak concurrent sessions' op, expressed without a self-join "
        "(the naive interval-overlap pairing is quadratic). Scales as "
        "keys: every stage is partitioned by event_type; for a single "
        "global key the distributed prefix sum (operators/prefix_sum) "
        "is the drop-in replacement for the window."
    ),
)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    opens = ev.select("event_type", F.col("ts").alias("t"), F.lit(1).alias("d"))
    closes = ev.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("t"),
        F.lit(-1).alias("d"),
    )
    deltas = opens.unionAll(closes)
    w = W.partitionBy("event_type").orderBy("t", "d").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    sweep = deltas.withColumn("concurrent", F.sum("d").over(w))
    wmax = W.partitionBy("event_type")
    peak = sweep.withColumn("_peak", F.max("concurrent").over(wmax))
    return (
        peak.filter(F.col("concurrent") == F.col("_peak"))
        .groupBy("event_type")
        .agg(
            F.max("concurrent").cast("long").alias("peak_concurrent"),
            F.min("t").cast("long").alias("first_peak_s"),
        )
    )


@register(
    "q_orc_roundtrip",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity * 100 AS BIGINT)) AS BIGINT) AS qty_cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
    description=(
        "Source-format coverage beyond parquet/CSV/JSON: the lineitem "
        "projection is written out as ORC (into the session warehouse), "
        "read back through the ORC reader with the ship-date predicate "
        "pushed into the ORC scan, and aggregated — value-hash-equal to "
        "the same aggregation over the original parquet. Quantities sum "
        "as scaled integers (order-independent exact arithmetic, same "
        "policy as the currency aggregates)."
    ),
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from urllib.parse import urlparse

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_shipdate"
    )
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
    path = f"{warehouse.rstrip('/')}/orc_lineitem"
    li.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.filter(F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("l_quantity") * 100).cast("long")).cast("long").alias("qty_cents"),
        )
    )


_LATERAL_SQL = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n, LATERAL (
  SELECT c_name, ROUND(c_acctbal, 2) AS c_acctbal
  FROM customer WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 2
) t
"""


@register(
    "q_sql_lateral",
    oracle=_LATERAL_SQL,
    description=(
        "Second SQL-text parity proof, exercising LATERAL correlated "
        "subqueries (per-nation top-2 customers): the identical string "
        "runs on Spark SQL and DuckDB. Catalyst decorrelates the lateral "
        "into a ranked join rather than re-executing the subquery per "
        "outer row — the plan a 100 TB per-key top-k needs."
    ),
)
def q_sql_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("nation", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_SQL)


@register(
    "q_udtf_chunks",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents WHERE doc_id <= 50),
    c AS (SELECT doc_id, ws,
                 unnest(range(0, CAST(ceil(len(ws) / 20.0) AS BIGINT))) AS ci
          FROM w)
    SELECT doc_id,
           CAST(ci AS INT) AS chunk_idx,
           CAST(LEAST(20, len(ws) - ci * 20) AS INT) AS n_words,
           md5(array_to_string(
             list_transform(range(CAST(ci * 20 + 1 AS BIGINT),
                                  CAST(ci * 20 + LEAST(20, len(ws) - ci * 20) + 1 AS BIGINT)),
                            i -> ws[CAST(i AS INT)]), ' ')) AS chunk_fp
    FROM c
    """,
    description=(
        "Python UDTF surface (Spark 4's table-function API): a lateral "
        "chunking UDTF emits one row per 20-word window, value-hash-equal "
        "to the SQL oracle. This completes the Python-execution surface "
        "(scalar pandas UDF, grouped-map, grouped-agg, mapInPandas, "
        "applyInPandasWithState, UDTF); the production chunking path is "
        "the codegen q_doc_chunking — this demonstrates the API, bounded "
        "to 51 docs because per-row Python is the slow path by design."
    ),
)
def q_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: bigint, chunk_idx: int, n_words: int, chunk_fp: string")
    class ChunkDoc:
        def eval(self, doc_id, text):  # noqa: ANN001 — UDTF signature
            ws = text.split(" ")
            for i in range(0, len(ws), 20):
                chunk = ws[i : i + 20]
                yield (
                    doc_id,
                    i // 20,
                    len(chunk),
                    hashlib.md5(" ".join(chunk).encode()).hexdigest(),
                )

    spark.udtf.register("duva_chunk_doc", ChunkDoc)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        "SELECT c.* FROM documents d, LATERAL duva_chunk_doc(d.doc_id, d.text) c "
        "WHERE d.doc_id <= 50"
    )


@register(
    "q_udtf_polymorphic",
    oracle="""
    SELECT doc_id,
           string_split(text, ' ')[1] AS w1,
           string_split(text, ' ')[2] AS w2,
           string_split(text, ' ')[3] AS w3
    FROM documents WHERE doc_id <= 50
    """,
    description=(
        "POLYMORPHIC Python UDTF (Spark 4 analyze-time schema): the "
        "output columns w1..wN are derived at query-planning time from "
        "the literal N argument by the UDTF's analyze() hook — the "
        "table function's schema is a function of its arguments, which "
        "a fixed returnType cannot express. Same bounded-rows "
        "discipline as q_udtf_chunks (the API demo is the point; "
        "per-row Python stays off the hot path)."
    ),
)
def q_udtf_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import LongType, StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class FirstWords:
        @staticmethod
        def analyze(
            doc_id: AnalyzeArgument, text: AnalyzeArgument, n: AnalyzeArgument
        ) -> AnalyzeResult:
            if n.value is None:
                raise ValueError("n must be a literal (it shapes the schema)")
            return AnalyzeResult(
                StructType(
                    [StructField("doc_id", LongType())]
                    + [
                        StructField(f"w{i + 1}", StringType())
                        for i in range(int(n.value))
                    ]
                )
            )

        def eval(self, doc_id, text, n):  # noqa: ANN001 — UDTF signature
            ws = text.split(" ")
            yield (doc_id, *[ws[i] if i < len(ws) else None for i in range(int(n))])

    spark.udtf.register("duva_first_words", udtf(FirstWords))
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        "SELECT f.* FROM documents d, LATERAL duva_first_words(d.doc_id, d.text, 3) f "
        "WHERE d.doc_id <= 50"
    )


@register(
    "q_variant_json",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    """,
    description=(
        "Semi-structured VARIANT path (Spark 4): props parses once into "
        "the binary Variant encoding and fields extract with "
        "try_variant_get — the schema-on-read shape for heterogeneous "
        "event payloads. Unlike get_json_object, Variant parses the "
        "JSON text ONCE per row into a binary form made for repeated "
        "cheap field access — at 100 TB the difference between one "
        "parse and one parse per extracted field. Aggregates hash-match "
        "DuckDB's json_extract."
    ),
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "q_try_functions",
    oracle="""
    SELECT event_type,
           CAST(COUNT(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS n_numeric,
           CAST(COUNT(*) FILTER (WHERE TRY_CAST(event_id AS INTEGER) IS NOT NULL)
                AS BIGINT) AS n_int_ids,
           ROUND(CAST(SUM(CAST(FLOOR((CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) % 97 = 0 THEN NULL
                          ELSE value / (CAST(floor(epoch(ts)) AS BIGINT) % 97) END)
                               * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE) / 1e6, 4)
             AS safe_ratio_sum
    FROM events
    GROUP BY event_type
    """,
    description=(
        "ANSI-safe error-free arithmetic surface: try_cast for lossy "
        "casts (string JSON field -> bigint, bigint -> int), try_divide "
        "turning division-by-zero into NULL instead of a job-killing "
        "exception — at 100 TB one malformed row must not fail a "
        "9-hour job. All codegen; the oracle mirrors NULL-on-error "
        "semantics with TRY_CAST and a guarded CASE."
    ),
)
def q_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k_num = F.get_json_object("props", "$.k").try_cast("bigint")
    id_int = F.col("event_id").cast("string").try_cast("int")
    denom = F.col("ts").cast("long") % 97
    return ev.groupBy("event_type").agg(
        F.count(k_num).alias("n_numeric"),
        F.count(F.when(id_int.isNotNull(), 1)).alias("n_int_ids"),
        F.round(
            F.sum(
                F.floor(F.try_divide(F.col("value"), denom) * 1e6 + F.lit(0.5)).cast(
                    "decimal(38,0)"
                )
            ).cast("double")
            / 1e6,
            4,
        ).alias("safe_ratio_sum"),
    )


@register(
    "q_reconciliation",
    oracle="""
    WITH li AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS li_cents
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (WHERE li.l_orderkey IS NULL) AS BIGINT) AS n_no_items,
           CAST(COUNT(*) FILTER (
             WHERE li.li_cents IS NOT NULL
               AND li.li_cents <> CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS n_total_mismatch
    FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
    GROUP BY o_orderstatus
    """,
    description=(
        "Cross-table aggregate reconciliation — the audit every warehouse "
        "runs after load: per-order lineitem totals (exact integer cents) "
        "left-joined back to the order header, counting orders with no "
        "items and orders whose header total disagrees with the item sum. "
        "One partial-agg shuffle on orderkey feeds the join on the same "
        "key (no second exchange of lineitem), then a 3-key rollup. "
        "Complements the row-level q_data_quality_report with "
        "aggregate-level consistency."
    ),
)
def q_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ROUND-then-cast on BOTH sides: a bare double->long cast truncates on
    # Spark but rounds on DuckDB, silently skewing per-order cents (~5% of
    # rows at sf0.01) — same exact-cents policy as q01.
    cents = money_cents
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(cents(F.col("l_extendedprice"))).cast("long").alias("li_cents"))
    )
    o = load_table(spark, sf_dir, "orders")
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left")
    return j.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.count(F.when(F.col("l_orderkey").isNull(), 1)).alias("n_no_items"),
        F.count(
            F.when(
                F.col("li_cents").isNotNull()
                & (F.col("li_cents") != cents(F.col("o_totalprice"))),
                1,
            )
        ).alias("n_total_mismatch"),
    )


@register(
    "q_week_over_week",
    oracle="""
    WITH wk AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 604800 * 604800 AS week_start,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, week_start,
           CAST(n AS BIGINT) AS n_events,
           ROUND(CAST(n - LAG(n) OVER w AS DOUBLE)
                 / NULLIF(LAG(n) OVER w, 0) * 100, 4) AS pct_change
    FROM wk
    WINDOW w AS (PARTITION BY event_type ORDER BY week_start)
    """,
    description=(
        "Week-over-week growth: weekly event counts per type, then lag "
        "percent change — the standard trend-report shape. The window "
        "runs over the tiny aggregated series (types × weeks), never the "
        "event stream; NULLIF guards the zero-denominator week. Weeks "
        "bucket by explicit epoch integer arithmetic because engines "
        "disagree on week origins (DuckDB time_bucket aligns 7-day "
        "buckets to Monday 2000-01-03, Spark window() to the epoch)."
    ),
)
def q_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    week = (F.col("ts").cast("long") - (F.col("ts").cast("long") % 604800)).alias(
        "week_start"
    )
    wk = ev.groupBy("event_type", week).agg(F.count("*").alias("n"))
    win = W.partitionBy("event_type").orderBy("week_start")
    prev = F.lag("n").over(win)
    return wk.select(
        "event_type",
        "week_start",
        F.col("n").cast("long").alias("n_events"),
        F.round((F.col("n") - prev).cast("double") / F.nullif(prev, F.lit(0)) * 100, 4).alias(
            "pct_change"
        ),
    )


@register(
    "q_join_asof_forward",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           nv.next_view_id,
           ROUND(p.value, 4) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN LATERAL (
      SELECT v.event_id AS next_view_id
      FROM events v
      WHERE v.event_type = 'view' AND v.user_id = p.user_id AND v.ts >= p.ts
      ORDER BY v.ts, v.event_id LIMIT 1
    ) nv ON true
    """,
    description=(
        "FORWARD as-of join: for each purchase, the next view at-or-after "
        "it by the same user — the direction DuckDB's ASOF JOIN doesn't "
        "speak (oracle uses LEFT JOIN LATERAL instead). Same union-sort "
        "pattern as the backward q_join_asof, mirrored: one hash "
        "partition on the key, first(ignoreNulls) over the FOLLOWING "
        "frame, ties pinned by (ts, side, view_id) so equal-timestamp "
        "views are eligible and deterministic. Still one shuffle, linear "
        "in |L|+|R|."
    ),
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases, views = _purchases_and_views(spark, sf_dir)
    return asof_join(purchases, views, "user_id", "ts", direction="forward").select(
        "purchase_id",
        "user_id",
        F.col("asof_view_id").alias("next_view_id"),
        F.round("purchase_value", 4).alias("purchase_value"),
    )


@register(
    "q_latest_per_key",
    oracle="""
    SELECT user_id,
           event_id AS last_event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS last_seen_s,
           event_type AS last_event_type,
           ROUND(value, 4) AS last_value
    FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
    description=(
        "Latest record per entity — the most common warehouse op there "
        "is (CDC snapshot compaction, 'current state' views): one window "
        "shuffle on the entity key, ties pinned by event_id. At scale "
        "this is the dedup-to-latest pass every mutable-source ingest "
        "runs; the window formulation beats a groupBy + self-join "
        "(one shuffle instead of two)."
    ),
)
def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").cast("long").alias("last_seen_s"),
            F.col("event_type").alias("last_event_type"),
            F.round("value", 4).alias("last_value"),
        )
    )


@register(
    "q_event_pattern",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             LEAD(event_type, 1) OVER w AS t1,
             LEAD(event_type, 2) OVER w AS t2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM o
    WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
    """,
    description=(
        "Strict CONSECUTIVE sequence detection (MATCH_RECOGNIZE-style "
        "view->click->purchase with NO intervening event, unlike the "
        "gap-tolerant q_funnel_conversion): lead(1)/lead(2) over the "
        "per-user time order turns pattern matching into a row-local "
        "predicate — one window shuffle on user_id, state bounded by "
        "the pattern length, no self-joins. The standard trick for "
        "fixed-length patterns on engines without MATCH_RECOGNIZE."
    ),
)
def q_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    )
    m = o.filter(
        (F.col("event_type") == "view") & (F.col("t1") == "click") & (F.col("t2") == "purchase")
    )
    return m.agg(
        F.count("*").alias("n_matches"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "q_events_anomaly_robust",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, ABS(e.value - m.med) AS dev, m.med
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(dev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           ROUND(MAX(d.med), 4) AS med,
           ROUND(MAX(m.mad), 4) AS mad,
           CAST(SUM(CASE WHEN d.dev > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
    description=(
        "Robust anomaly detection: median/MAD outlier census per event "
        "type — immune to the outliers themselves, unlike the z-score "
        "variant (q_events_anomaly) whose mean/std the anomalies drag. "
        "Two aggregation passes on the same 5-key partitioning (median, "
        "then MAD of deviations) with slim broadcast joins back. The "
        "medians come from operators/quantile.grouped_quantile_cont — "
        "per-(type,value) counts + windowed running count — so no "
        "reducer buffers a type's raw value vector (F.percentile holds "
        "the whole group in its agg buffer; a hot event type at 100 TB "
        "is billions of rows on one reducer). Exact interpolated "
        "medians keep oracle parity."
    ),
)
def q_events_anomaly_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.operators.quantile import grouped_quantile_cont

    ev = load_table(spark, sf_dir, "events")
    med = grouped_quantile_cont(ev, ["event_type"], "value", {"med": 0.5})
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("dev")
    )
    mad = grouped_quantile_cont(dev, ["event_type"], "dev", {"mad": 0.5})
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.max("med"), 4).alias("med"),
            F.round(F.max("mad"), 4).alias("mad"),
            F.sum(
                F.when(F.col("dev") > 3 * 1.4826 * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


@register(
    "q_equidepth_histogram",
    oracle="""
    WITH b AS (
      SELECT quantile_cont(o_totalprice,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bnds
      FROM orders
    ),
    assigned AS (
      SELECT CAST(len(list_filter(bnds, x -> x <= o_totalprice)) AS BIGINT) AS bucket,
             o_totalprice
      FROM orders, b
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(MIN(o_totalprice), 4) AS lo,
           ROUND(MAX(o_totalprice), 4) AS hi
    FROM assigned
    GROUP BY bucket
    """,
    description=(
        "Equi-depth (decile) histogram WITHOUT a global sort: the 9 "
        "boundary quantiles collapse to one broadcast array row, bucket "
        "assignment is a codegen array filter-count against it, and the "
        "per-bucket census is an ordinary 10-key aggregation. The "
        "NTILE formulation needs a single-partition total order — this "
        "shape replaces it with scan + broadcast + partial agg, which "
        "is how histogram statistics are actually collected at 100 TB. "
        "The 9 boundaries come from operators/quantile.quantile_cont "
        "(per-value counts + prefix-sum rank lookup), so computing them "
        "never buffers the value vector on one reducer the way "
        "F.percentile(array) would."
    ),
)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.operators.quantile import quantile_cont

    orders = load_table(spark, sf_dir, "orders")
    deciles = quantile_cont(orders, "o_totalprice", [i / 10.0 for i in range(1, 10)])
    b = deciles.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("q", "quantile"))),
            lambda s: s.quantile,
        ).alias("bnds")
    )
    assigned = orders.crossJoin(F.broadcast(b)).select(
        F.size(F.filter("bnds", lambda x: x <= F.col("o_totalprice")))
        .cast("long")
        .alias("bucket"),
        "o_totalprice",
    )
    return assigned.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.round(F.min("o_totalprice"), 4).alias("lo"),
        F.round(F.max("o_totalprice"), 4).alias("hi"),
    )


@register(
    "q_interval_coverage",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
      FROM events
    ),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN s > MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
             THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e) AS island_id
      FROM flagged
    ),
    merged AS (
      SELECT user_id, island_id, MIN(s) AS island_s, MAX(e) AS island_e
      FROM islands
      GROUP BY user_id, island_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(island_e - island_s) AS BIGINT) AS covered_us
    FROM merged
    GROUP BY user_id
    """,
    headline=True,
    description=(
        "Gaps-and-islands interval union: each event claims a 5-minute "
        "activity interval; overlapping intervals merge (start > running "
        "max of prior ends starts a new island) and the per-user union "
        "length comes out exact in integer microseconds — double-counted "
        "overlap is the classic wrong answer this operator exists to "
        "avoid. Both windows and both aggregations share ONE hash "
        "partitioning on user_id (Catalyst reuses the exchange); state "
        "per key is a running max. The interval-analytics sibling of "
        "sweep-line peak concurrency (q_peak_concurrency)."
    ),
)
def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + 300_000_000).alias("e"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev_end = F.max("e").over(w)
    flagged = iv.withColumn(
        "new_island",
        F.when(prev_end.isNull() | (F.col("s") > prev_end), 1).otherwise(0),
    )
    w2 = W.partitionBy("user_id").orderBy("s", "e")
    islands = flagged.withColumn("island_id", F.sum("new_island").over(w2))
    merged = islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("island_s"), F.max("e").alias("island_e")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.sum(F.col("island_e") - F.col("island_s")).cast("long").alias("covered_us"),
    )


@register(
    "q_abc_classification",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
                  AS BIGINT) AS rev_e4
      FROM lineitem
      GROUP BY l_partkey
    ),
    c AS (
      SELECT l_partkey, rev_e4,
             SUM(rev_e4) OVER (ORDER BY rev_e4 DESC, l_partkey
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_e4,
             SUM(rev_e4) OVER () AS tot_e4
      FROM rev
    ),
    cls AS (
      SELECT CASE WHEN CAST(cum_e4 AS DOUBLE) / tot_e4 <= 0.7 THEN 'A'
                  WHEN CAST(cum_e4 AS DOUBLE) / tot_e4 <= 0.9 THEN 'B'
                  ELSE 'C' END AS abc_class,
             rev_e4
      FROM c
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(CAST(SUM(rev_e4) AS DOUBLE) / 10000.0, 2) AS revenue
    FROM cls
    GROUP BY abc_class
    """,
    description=(
        "Pareto / ABC inventory classification: parts ranked by revenue "
        "contribution, cumulative share cut at 70/90%. The cumulative "
        "sum over the ranked part frame uses the DISTRIBUTED two-pass "
        "prefix sum (operators/prefix_sum.py) with a composite "
        "(-revenue, partkey) order key — the part dimension scales with "
        "the corpus, so the usual global-window formulation would "
        "funnel it through one task. Revenue accumulates in exact "
        "scaled-integer units (order-independent), the classification "
        "boundary divides once at the end."
    ),
)
def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.operators.prefix_sum import running_sum

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(money_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000))
        .cast("long")
        .alias("rev_e4")
    )
    ranked = rev.withColumn("neg_rev", -F.col("rev_e4"))
    cum = running_sum(ranked, ["neg_rev", "l_partkey"], "rev_e4", out_col="cum_e4")
    tot = rev.agg(F.sum("rev_e4").cast("long").alias("tot_e4"))
    share = F.col("cum_e4").cast("double") / F.col("tot_e4")
    cls = cum.crossJoin(F.broadcast(tot)).select(
        F.when(share <= 0.7, "A").when(share <= 0.9, "B").otherwise("C").alias("abc_class"),
        "rev_e4",
    )
    return cls.groupBy("abc_class").agg(
        F.count("*").alias("n_parts"),
        F.round(F.sum("rev_e4").cast("double") / 10000.0, 2).alias("revenue"),
    )


@register(
    "q_lag_features",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(floor(epoch(time_bucket(INTERVAL '1 day', ts))) AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events
      GROUP BY 1, 2
    )
    SELECT event_type, day, n,
           LAG(n, 1) OVER w AS lag1,
           LAG(n, 7) OVER w AS lag7,
           ROUND(AVG(CAST(n AS DOUBLE)) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7,
           ROUND(stddev_samp(CAST(n AS DOUBLE)) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS sd7
    FROM d
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
    description=(
        "Time-series feature frame: per (type, day) counts decorated "
        "with lag-1/lag-7 and 7-day rolling mean/std — the standard "
        "forecasting feature set, built in one pass. All four window "
        "features share ONE hash partitioning on event_type over the "
        "day-granular aggregate (365 rows per key per year regardless "
        "of corpus size — the aggregate-then-window order is what makes "
        "this 100 TB-safe)."
    ),
)
def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("day", F.col("ts"))).alias("day"),
    ).agg(F.count("*").alias("n"))
    w = W.partitionBy("event_type").orderBy("day")
    w7 = w.rowsBetween(-6, 0)
    return d.select(
        "event_type",
        "day",
        "n",
        F.lag("n", 1).over(w).alias("lag1"),
        F.lag("n", 7).over(w).alias("lag7"),
        F.round(F.avg(F.col("n").cast("double")).over(w7), 4).alias("ma7"),
        F.round(F.stddev_samp(F.col("n").cast("double")).over(w7), 4).alias("sd7"),
    )


@register(
    "q_chi2_independence",
    oracle="""
    WITH c AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY lang, source
    ),
    m AS (
      SELECT lang, source, n,
             SUM(n) OVER (PARTITION BY lang) AS n_lang,
             SUM(n) OVER (PARTITION BY source) AS n_source,
             SUM(n) OVER () AS total
      FROM c
    )
    SELECT lang, source, n,
           ROUND(CAST(n_lang AS DOUBLE) * n_source / total, 4) AS expected,
           ROUND(POWER(n - CAST(n_lang AS DOUBLE) * n_source / total, 2)
                 / (CAST(n_lang AS DOUBLE) * n_source / total), 6) AS chi2_term
    FROM m
    """,
    description=(
        "Chi-square independence screen for the (lang, source) "
        "contingency table: observed vs margin-product expected counts "
        "with per-cell chi-square contributions — the 'is my language "
        "mix uniform across sources' check run before setting mixture "
        "weights. One count shuffle to |langs x sources| cells; every "
        "margin window runs on that tiny contingency frame."
    ),
)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(F.count("*").alias("n"))
    m = c.select(
        "lang",
        "source",
        "n",
        F.sum("n").over(W.partitionBy("lang")).alias("n_lang"),
        F.sum("n").over(W.partitionBy("source")).alias("n_source"),
        F.sum("n").over(W.partitionBy()).alias("total"),
    )
    exp = F.col("n_lang").cast("double") * F.col("n_source") / F.col("total")
    return m.select(
        "lang",
        "source",
        "n",
        F.round(exp, 4).alias("expected"),
        F.round(F.pow(F.col("n") - exp, 2) / exp, 6).alias("chi2_term"),
    )


@register(
    "q_autocorrelation",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(floor(epoch(time_bucket(INTERVAL '1 day', ts))) AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT event_type, CAST(n AS DOUBLE) AS n,
             CAST(LAG(n) OVER (PARTITION BY event_type ORDER BY day) AS DOUBLE) AS prev
      FROM d
    )
    SELECT event_type,
           ROUND(corr(n, prev), 6) AS acf1,
           CAST(COUNT(prev) AS BIGINT) AS n_pairs
    FROM p
    GROUP BY event_type
    """,
    description=(
        "Lag-1 autocorrelation of the daily series per event type — the "
        "seasonality/momentum diagnostic deciding whether yesterday "
        "predicts today. LAG and the correlation aggregate share the "
        "event_type partitioning over the day-granular frame; corr's "
        "co-moment accumulates distributively, so the shape is "
        "corpus-size-independent."
    ),
)
def q_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("day", F.col("ts"))).alias("day"),
    ).agg(F.count("*").alias("n"))
    w = W.partitionBy("event_type").orderBy("day")
    p = d.select(
        "event_type",
        F.col("n").cast("double").alias("n"),
        F.lag("n").over(w).cast("double").alias("prev"),
    )
    return p.groupBy("event_type").agg(
        F.round(F.corr("n", "prev"), 6).alias("acf1"),
        F.count("prev").alias("n_pairs"),
    )


@register(
    "q_ab_effect_size",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             value
      FROM events
    ),
    s AS (
      SELECT event_type, arm,
             CAST(COUNT(*) AS BIGINT) AS n,
             AVG(value) AS mean,
             stddev_samp(value) AS sd
      FROM g GROUP BY event_type, arm
    ),
    w AS (
      SELECT a.event_type,
             a.n AS n_a, b.n AS n_b,
             a.mean AS mean_a, b.mean AS mean_b,
             a.sd AS sd_a, b.sd AS sd_b
      FROM s a JOIN s b ON a.event_type = b.event_type
      WHERE a.arm = 'A' AND b.arm = 'B'
    )
    SELECT event_type, n_a, n_b,
           ROUND(mean_a, 6) AS mean_a,
           ROUND(mean_b, 6) AS mean_b,
           ROUND((mean_a - mean_b)
                 / sqrt((sd_a * sd_a + sd_b * sd_b) / 2), 6) AS cohens_d,
           ROUND((mean_a - mean_b)
                 / sqrt(sd_a * sd_a / n_a + sd_b * sd_b / n_b), 6) AS welch_t
    FROM w
    """,
    description=(
        "A/B comparison per event type: the user-id parity split plays "
        "treatment/control, reporting Cohen's d effect size and the "
        "Welch t statistic — the experimentation-platform readout. Both "
        "arms aggregate in ONE pass (count/mean/std are distributive "
        "co-moments); the arm-vs-arm join runs on the |event_types|-row "
        "stats frame, so corpus size only ever touches the first "
        "aggregation."
    ),
)
def q_ab_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = ev.select(
        "event_type",
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("arm"),
        "value",
    )
    s = g.groupBy("event_type", "arm").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("mean"),
        F.stddev_samp("value").alias("sd"),
    )
    a = s.filter(F.col("arm") == "A").select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("mean").alias("mean_a"),
        F.col("sd").alias("sd_a"),
    )
    b = s.filter(F.col("arm") == "B").select(
        "event_type",
        F.col("n").alias("n_b"),
        F.col("mean").alias("mean_b"),
        F.col("sd").alias("sd_b"),
    )
    j = a.join(b, "event_type")
    d = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(
        (F.col("sd_a") * F.col("sd_a") + F.col("sd_b") * F.col("sd_b")) / 2
    )
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(
        F.col("sd_a") * F.col("sd_a") / F.col("n_a")
        + F.col("sd_b") * F.col("sd_b") / F.col("n_b")
    )
    return j.select(
        "event_type",
        "n_a",
        "n_b",
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round(d, 6).alias("cohens_d"),
        F.round(t, 6).alias("welch_t"),
    )


@register(
    "q_decayed_engagement",
    oracle="""
    WITH e AS (SELECT event_type, value,
                      CAST(floor(epoch(ts)) AS BIGINT) AS s
               FROM events),
    mx AS (SELECT MAX(s) AS smax FROM e)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(FLOOR(value * exp(-ln(2) * (smax - s) / 86400.0)
                               * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE) / 1e6, 4)
             AS decayed_value
    FROM e CROSS JOIN mx
    GROUP BY event_type
    """,
    description=(
        "Exponential time-decay engagement (half-life = 1 day, the "
        "feature-store recency aggregate): weight = 2^(-age_days), "
        "anchored at the corpus max timestamp (a 1-row broadcast — on "
        "the cartesian-ban plan test). Timestamps floor to integer "
        "epoch seconds on both engines so the exponent is bit-identical "
        "before libm; one scan, one codegen aggregate shuffle, rounded "
        "to 4 dp to absorb summation-order drift. At 100 TB this is "
        "the same plan — decay folds into the scan projection."
    ),
)
def q_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", F.unix_timestamp("ts").alias("s")
    )
    mx = ev.agg(F.max("s").alias("smax"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(
                F.sum(
                    F.floor(
                        F.col("value")
                        * F.exp(
                            -F.lit(float(__import__("math").log(2.0)))
                            * (F.col("smax") - F.col("s"))
                            / F.lit(86400.0)
                        )
                        * 1e6
                        + F.lit(0.5)
                    ).cast("decimal(38,0)")
                ).cast("double")
                / 1e6,
                4,
            ).alias("decayed_value"),
        )
    )


@register(
    "q_rolling_active_users",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    days AS (SELECT DISTINCT d FROM ud),
    daily AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY d),
    roll AS (
      SELECT days.d, CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS wau
      FROM days JOIN ud
        ON ud.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
      GROUP BY days.d
    )
    SELECT strftime(daily.d, '%Y-%m-%d') AS day, daily.dau, roll.wau AS rolling_7d_users
    FROM daily JOIN roll ON daily.d = roll.d
    """,
    description=(
        "Daily + 7-day rolling distinct active users (DAU/WAU): rolling "
        "COUNT(DISTINCT) cannot be a window aggregate (distinct range "
        "frames are unsupported in every engine), so the distributed "
        "shape is: dedupe to the (user, day) frame FIRST (one shuffle — "
        "at 100 TB this is the big reduction, events to user-days), "
        "then a bounded ×7 fan-out range join against the broadcast "
        "day spine and a distinct count per day. The fan-out constant "
        "is the window length, never the data; the day spine is "
        "|days| rows."
    ),
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct().localCheckpoint()
    daily = ud.groupBy("d").agg(F.count("*").alias("dau"))
    spine = ud.select("d").distinct().select(F.col("d").alias("sd"))
    roll = (
        ud.join(
            F.broadcast(spine),
            (F.col("d") <= F.col("sd")) & (F.col("d") >= F.date_sub(F.col("sd"), 6)),
        )
        .groupBy("sd")
        .agg(F.countDistinct("user_id").alias("rolling_7d_users"))
    )
    return daily.join(roll, daily["d"] == roll["sd"]).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "dau",
        "rolling_7d_users",
    )


@register(
    "q_rate_limit_breaches",
    oracle="""
    WITH hourly AS (
      SELECT user_id,
             CAST(floor(epoch(time_bucket(INTERVAL '1 hour', ts))) AS BIGINT) AS hour,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events
      GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(MAX(n) AS BIGINT) AS peak_hourly,
           CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_breach_hours
    FROM hourly
    GROUP BY user_id
    HAVING MAX(n) > 1
    """,
    description=(
        "Rate-limit / abuse census: per-user hourly event counts, "
        "reporting peak rate and how many hours exceeded the hourly "
        "quota. The quota (1/hour) is deliberately low relative to the "
        "synthetic corpus's event rate so the HAVING/breach path returns "
        "rows — and is value-checked — at EVERY test SF (at 10/hour "
        "nothing breaches below sf1). Two aggregations, both keyed by "
        "user_id — Catalyst collapses them onto one exchange; the hourly "
        "frame is users x active-hours regardless of corpus size. The "
        "batch audit twin of a streaming quota enforcer (tumbling window "
        "+ filter on the same keys)."
    ),
)
def q_rate_limit_breaches(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour"),
    ).agg(F.count("*").alias("n"))
    return (
        hourly.groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("peak_hourly"),
            F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).cast("long").alias("n_breach_hours"),
        )
        .filter(F.col("peak_hourly") > 1)
    )


@register(
    "q_conversion_latency",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      FROM events
      GROUP BY user_id
    ),
    lat AS (
      SELECT epoch_us(first_purchase) - epoch_us(first_view) AS lat_us
      FROM firsts
      WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
        AND first_purchase >= first_view
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(FLOOR(quantile_cont(lat_us, 0.5)) AS BIGINT) AS p50_us,
           CAST(FLOOR(quantile_cont(lat_us, 0.9)) AS BIGINT) AS p90_us
    FROM lat
    """,
    description=(
        "Time-to-convert: per-user first view -> first purchase latency "
        "in exact integer microseconds, summarized as p50/p90 across "
        "converting users. The firsts come from ONE conditional-MIN pass "
        "keyed by user (no join between event types, no window over raw "
        "events). Both engines FLOOR the interpolated quantile before the "
        "integer cast — floor is the one rounding op with identical "
        "semantics in Spark and DuckDB (Spark's cast to long truncates "
        "where DuckDB's CAST rounds). The quantiles come from "
        "operators/quantile.quantile_cont_row — per-value counts + "
        "distributed prefix sum + broadcast rank lookup — so no single "
        "reducer ever buffers the O(users) latency vector."
    ),
)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    lat = firsts.filter(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select(
        (F.unix_micros("first_purchase") - F.unix_micros("first_view")).alias("lat_us")
    ).localCheckpoint()
    quants = quantile_cont_row(lat, "lat_us", {"p50": 0.5, "p90": 0.9})
    return lat.agg(F.count("*").alias("n_converted")).crossJoin(quants).select(
        "n_converted",
        F.floor("p50").cast("long").alias("p50_us"),
        F.floor("p90").cast("long").alias("p90_us"),
    )


# ---------------------------------------------------------------------------
# Hour-of-day periodicity (chi-square uniformity — bot/batch traffic audit)
# ---------------------------------------------------------------------------


@register(
    "q_hourly_periodicity",
    oracle="""
    WITH h AS (SELECT event_type, EXTRACT(hour FROM ts) AS hr FROM events),
    cnt AS (SELECT event_type, hr, CAST(COUNT(*) AS BIGINT) AS o
            FROM h GROUP BY event_type, hr),
    tot AS (SELECT event_type, CAST(SUM(o) AS DOUBLE) AS n,
                   COUNT(*) AS na, MAX(o) AS mo
            FROM cnt GROUP BY event_type)
    SELECT c.event_type,
           CAST(t.n AS BIGINT) AS n_events,
           CAST(t.na AS BIGINT) AS n_active_hours,
           ROUND(CAST(SUM(CAST(FLOOR((c.o - t.n / 24) * (c.o - t.n / 24) / (t.n / 24)
                               * 1e9 + 0.5) AS HUGEINT)) AS DOUBLE) / 1e9
                 + (24 - t.na) * (t.n / 24), 6) AS chi2,
           CAST(MIN(CASE WHEN c.o = t.mo THEN c.hr END) AS BIGINT)
             AS peak_hour
    FROM cnt c JOIN tot t USING (event_type)
    GROUP BY c.event_type, t.n, t.na, t.mo
    """,
    description=(
        "Hour-of-day periodicity per event type: the chi-square statistic "
        "against a uniform 24-hour profile (df=23; empty hours contribute "
        "their expected mass without materializing zero rows), active-hour "
        "count and the peak hour (deterministic: smallest hour attaining "
        "the max). High chi2 separates cron/bot/batch traffic from organic "
        "diurnal activity — the events-side analogue of the text "
        "repetition signals. Two partial-aggregated count shuffles over "
        "at most 24 rows per event type; the per-type totals re-attach "
        "by broadcast — scan-bounded at any event volume."
    ),
)
def q_hourly_periodicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cnt = (
        ev.select("event_type", F.hour("ts").alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count("*").alias("o"))
    )
    tot = cnt.groupBy("event_type").agg(
        F.sum("o").cast("double").alias("n"),
        F.count("*").alias("na"),
        F.max("o").alias("mo"),
    )
    e = F.col("n") / 24
    joined = cnt.join(F.broadcast(tot), "event_type")
    return (
        joined.groupBy("event_type", "n", "na", "mo")
        .agg(
            (
                F.sum(
                    F.floor(
                        (F.col("o") - e) * (F.col("o") - e) / e * 1e9 + F.lit(0.5)
                    ).cast("decimal(38,0)")
                ).cast("double")
                / 1e9
            ).alias("_chi_active"),
            F.min(F.when(F.col("o") == F.col("mo"), F.col("hr"))).alias("_peak"),
        )
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_events"),
            F.col("na").cast("long").alias("n_active_hours"),
            F.round(F.col("_chi_active") + (24 - F.col("na")) * e, 6).alias("chi2"),
            F.col("_peak").cast("long").alias("peak_hour"),
        )
    )


# ---------------------------------------------------------------------------
# User-activity Gini coefficient (skew/abuse audit, distributed ranks)
# ---------------------------------------------------------------------------


@register(
    "q_user_activity_gini",
    oracle="""
    WITH x AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
               FROM events GROUP BY user_id),
    r AS (SELECT x, user_id,
                 ROW_NUMBER() OVER (ORDER BY x, user_id) AS i
          FROM x),
    s AS (SELECT CAST(SUM(CAST(i AS HUGEINT) * x) AS DOUBLE) AS sxd,
                 CAST(SUM(x) AS BIGINT) AS t,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM r)
    SELECT n AS n_users,
           t AS n_events,
           ROUND(2.0 * sxd / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE))
                 - (n + 1.0) / n, 6) AS gini
    FROM s
    """,
    description=(
        "Gini coefficient of per-user event volume — the inequality/"
        "abuse audit (a handful of users generating most traffic reads "
        "near 1; organic audiences sit well below). Uses the exact "
        "rank formula G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n with ranks "
        "assigned by the DISTRIBUTED prefix-sum operator over (count, "
        "user) order — no ROW_NUMBER over a global ORDER BY window, so "
        "full event data never funnels through one task (the final "
        "1-row aggregate's SinglePartition exchange carries only one "
        "partial-agg row per partition, the same caveat test_plans "
        "documents for every global aggregate; the oracle uses the "
        "window because DuckDB is single-node anyway). sum(i*x) "
        "accumulates in 128-bit (decimal(38,0) / HUGEINT — i*x can "
        "pass int64 around ~3e9 users x 3e9 events) and every quantity "
        "is exact until the final double conversion, so the statistic "
        "is bit-stable across engines."
    ),
)
def q_user_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.operators.prefix_sum import running_sum

    ev = load_table(spark, sf_dir, "events")
    x = ev.groupBy("user_id").agg(F.count("*").alias("x")).withColumn(
        "one", F.lit(1)
    )
    r = running_sum(x, ["x", "user_id"], "one", out_col="i")
    s = r.agg(
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("x"))
        .cast("double")
        .alias("sxd"),
        F.sum("x").alias("t"),
        F.count("*").alias("n"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_users"),
        F.col("t").cast("long").alias("n_events"),
        F.round(
            2.0 * F.col("sxd")
            / (F.col("n").cast("double") * F.col("t").cast("double"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Robust outlier census (median absolute deviation)
# ---------------------------------------------------------------------------


@register(
    "q_mad_outliers",
    oracle="""
    WITH m AS (SELECT quantile_cont(value, 0.5) AS med FROM events),
    d AS (SELECT ABS(value - med) AS dev, med FROM events CROSS JOIN m),
    s AS (SELECT quantile_cont(dev, 0.5) AS mad FROM d)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(MAX(d.med), 6) AS med,
           ROUND(MAX(s.mad), 6) AS mad,
           CAST(COUNT(*) FILTER (WHERE dev > 3 * 1.4826 * s.mad) AS BIGINT)
             AS n_outliers,
           ROUND(COUNT(*) FILTER (WHERE dev > 3 * 1.4826 * s.mad) * 1.0
                 / COUNT(*), 6) AS outlier_rate
    FROM d CROSS JOIN s
    """,
    description=(
        "Robust outlier census via median absolute deviation: events "
        "more than 3 scaled MADs (x1.4826, the normal-consistency "
        "constant) from the median — the metric-monitoring outlier rule "
        "that, unlike z-scores, a few extreme values cannot poison "
        "(breakdown point 50% vs 0%). Composes the distributed exact-"
        "quantile operator twice (median of values, then median of "
        "absolute deviations) — each pass is counts -> range-partitioned "
        "prefix sums -> broadcast boundary pick, never an O(N) buffer in "
        "one task — with both 1-row results re-attached by broadcast. "
        "Interpolation arithmetic is bit-identical to DuckDB "
        "quantile_cont, so the threshold compare agrees exactly."
    ),
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.operators.quantile import quantile_cont_row

    ev = load_table(spark, sf_dir, "events")
    m = quantile_cont_row(ev, "value", {"med": 0.5})
    d = ev.crossJoin(F.broadcast(m)).select(
        F.abs(F.col("value") - F.col("med")).alias("dev"), "med"
    )
    s = quantile_cont_row(d, "dev", {"mad": 0.5})
    is_out = F.col("dev") > 3 * 1.4826 * F.col("mad")
    return d.crossJoin(F.broadcast(s)).agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.max("med"), 6).alias("med"),
        F.round(F.max("mad"), 6).alias("mad"),
        F.sum(F.when(is_out, 1).otherwise(0)).cast("long").alias("n_outliers"),
        F.round(
            F.sum(F.when(is_out, 1).otherwise(0)) * 1.0 / F.count("*"), 6
        ).alias("outlier_rate"),
    )


@register(
    "q_cusum_changepoint",
    oracle="""
    WITH cnt AS (
      SELECT event_type, date_trunc('hour', ts) AS hb,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    st AS (
      SELECT event_type, AVG(x) AS mu, STDDEV_SAMP(x) AS sigma
      FROM cnt GROUP BY event_type
    ),
    y AS (
      SELECT c.event_type, c.hb, (c.x - s.mu) / s.sigma - 0.5 AS yv
      FROM cnt c JOIN st s USING (event_type)
      WHERE s.sigma > 0
    ),
    r AS (
      SELECT event_type, hb,
             SUM(yv) OVER (PARTITION BY event_type ORDER BY hb
                           ROWS UNBOUNDED PRECEDING) AS ct
      FROM y
    ),
    s2 AS (
      SELECT event_type, hb,
             ROUND(ct - LEAST(0, MIN(ct) OVER (PARTITION BY event_type
                   ORDER BY hb ROWS UNBOUNDED PRECEDING)), 6) AS cusum
      FROM r
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           ROUND(MAX(cusum), 6) AS max_cusum,
           CAST(SUM(CASE WHEN cusum > 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alarms,
           MIN(CASE WHEN cusum > 5
                    THEN strftime(hb, '%Y-%m-%d %H:%M:%S') END) AS first_alarm
    FROM s2 GROUP BY event_type
    """,
    description=(
        "One-sided CUSUM changepoint detection (Page 1954) over hourly "
        "event-rate buckets: the max(0, S+y) recurrence is NOT a window "
        "function, but its closed form S_t = c_t - min(0, min_j<=t c_j) "
        "IS - a running sum and a running min of it - so the classic "
        "sequential detector becomes two stacked per-type window passes "
        "with no recursion and no driver loop. Per-type standardization "
        "joins back from a broadcast-sized stats table; the cusum is "
        "rounded before thresholding so alarm counts are deterministic "
        "cross-engine. Partitioned per event type, the state never "
        "exceeds one type's hourly spine - the same bounded-window "
        "contract as the span interval-merge."
    ),
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cnt = (
        ev.select("event_type", F.date_trunc("hour", "ts").alias("hb"))
        .groupBy("event_type", "hb")
        .agg(F.count("*").alias("x"))
    )
    st = cnt.groupBy("event_type").agg(
        F.avg("x").alias("mu"), F.stddev_samp("x").alias("sigma")
    )
    y = (
        cnt.join(F.broadcast(st), "event_type")
        .filter(F.col("sigma") > 0)
        .select(
            "event_type",
            "hb",
            ((F.col("x") - F.col("mu")) / F.col("sigma") - F.lit(0.5)).alias("yv"),
        )
    )
    wrun = (
        W.partitionBy("event_type")
        .orderBy("hb")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    r = y.select("event_type", "hb", F.sum("yv").over(wrun).alias("ct"))
    s2 = r.select(
        "event_type",
        "hb",
        F.round(
            F.col("ct") - F.least(F.lit(0.0), F.min("ct").over(wrun)), 6
        ).alias("cusum"),
    )
    alarm = F.col("cusum") > 5
    return s2.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.round(F.max("cusum"), 6).alias("max_cusum"),
        F.sum(F.when(alarm, 1).otherwise(0)).cast("long").alias("n_alarms"),
        F.min(
            F.when(alarm, F.date_format("hb", "yyyy-MM-dd HH:mm:ss"))
        ).alias("first_alarm"),
    )
