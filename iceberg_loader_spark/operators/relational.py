"""Relational query surface (SURVEY.md §2 B1–B19).

Every query here is a plain declarative DataFrame program — Catalyst gets
the whole plan (pushdown, pruning, join selection, AQE). Each has a DuckDB
oracle twin with IDENTICAL output column names.

Determinism rules (so value-hashes match the oracle bit-for-bit):

* Monetary doubles in the testdata are 2-decimal values → cast to
  ``decimal(18,2)`` before arithmetic/summing, cast the exact result back to
  double at the end. Decimal aggregation is order-independent and exact in
  both engines; the final decimal→double conversion is IEEE-deterministic.
* Arbitrary doubles (``events.value``) are fixed-pointed via
  ``floor(value * 1e6)`` into bigints before summing.
* Averages are spelled ``cast(exact_sum as double) / count`` — one IEEE
  division of identical operands.
* Every ranking window/top-k carries a unique-key tie-break.

Scale notes are inline per query; the short version: all joins are
equi-joins Catalyst can broadcast or shuffle-hash, dimension sides are
explicitly ``broadcast()``-hinted, and no query materializes anything on
the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from iceberg_loader_spark.sources.tables import load_table
from iceberg_loader_spark.tables.materialize import materialize

QUERIES = {}
ORACLES = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _dec(c, scale: int = 2):
    """Exact fixed-point view of a 2-decimal monetary double."""
    return F.col(c).cast(f"decimal(18,{scale})")


# --------------------------------------------------------------------------
# B7/B2/B3 — scan → filter → hash aggregate (TPC-H Q1 shape).
# Scale: single shuffle on the 2-value group key; partial aggregation
# (map-side combine) happens automatically for all these aggregates, so the
# shuffle carries ~|groups|×|partitions| rows, not the table.
# --------------------------------------------------------------------------
@_register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    charge = disc_price * (F.lit(1) + _dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / F.count("*")).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# B4/B13 — 3-way join + agg + top-k (TPC-H Q3 shape).
# Scale: customer is the small side → broadcast; orders⋈lineitem shuffles
# on orderkey (the natural co-partition key). Top-10 is TakeOrderedAndProject
# — no global sort materialization.
# --------------------------------------------------------------------------
@_register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1999-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1999-03-15 00:00:00'
    GROUP BY l_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d'), o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-03-15 00:00:00").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-03-15 00:00:00").cast("timestamp_ntz")
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(
            F.broadcast(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)),
            li.l_orderkey == orders.o_orderkey,
        )
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# B4 — 6-way star join (TPC-H Q5 shape).
# Scale: region/nation/supplier/customer are dimensions → broadcast chain;
# the only big shuffle is orders⋈lineitem on orderkey.
# --------------------------------------------------------------------------
@_register(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer JOIN orders   ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                  JOIN nation   ON s_nationkey = n_nationkey
                  JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# --------------------------------------------------------------------------
# B5 — left-semi join (EXISTS).
# Scale: semi join shuffles only the distinct keys of the probe side.
# --------------------------------------------------------------------------
@_register(
    "semi_join_priority_counts",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def semi_join_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# B5 — left-anti join (NOT EXISTS).
# --------------------------------------------------------------------------
@_register(
    "anti_join_idle_customers",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp_ntz")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# B8 — rollup (grouping sets). GROUPING() disambiguates real NULL group keys.
# --------------------------------------------------------------------------
@_register(
    "rollup_lineitem_status",
    """
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY g_flag, g_status, l_returnflag, l_linestatus
    """,
)
def rollup_lineitem_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").alias("g_flag"),
            F.grouping("l_linestatus").alias("g_status"),
            F.count("*").alias("n_rows"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_flag", "g_status", "n_rows", "sum_qty"
        )
        .orderBy("g_flag", "g_status", "l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# B8 — cube.
# --------------------------------------------------------------------------
@_register(
    "cube_orders_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) AS g_status, GROUPING(o_orderpriority) AS g_prio,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority
    """,
)
def cube_orders_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").alias("g_status"),
            F.grouping("o_orderpriority").alias("g_prio"),
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "g_status", "g_prio", "n_orders", "sum_price"
        )
        .orderBy("g_status", "g_prio", "o_orderstatus", "o_orderpriority")
    )


# --------------------------------------------------------------------------
# B11 — ranking window: top-3 orders per customer.
# Scale: one shuffle on o_custkey; rank filter is applied before any
# downstream join, and Spark 4 pushes the rn<=k limit into the sort
# (WindowGroupLimit).
# --------------------------------------------------------------------------
@_register(
    "window_top_orders_per_customer",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
)
def window_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.select(
            "o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    )


# --------------------------------------------------------------------------
# B12 — analytic window: running event-value sum + lag delta per user.
# events.value is an arbitrary double → fixed-point via floor(v*1e6).
# --------------------------------------------------------------------------
@_register(
    "window_running_user_value",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_fp,
           LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
    ORDER BY user_id, event_id
    """,
)
def window_running_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    fp = F.floor(F.col("value") * 1000000).cast("bigint")
    return (
        ev.select(
            "event_id",
            "user_id",
            F.sum(fp).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("running_fp"),
            F.lag("event_type", 1).over(w).alias("prev_type"),
        )
        .orderBy("user_id", "event_id")
    )


# --------------------------------------------------------------------------
# B13 — global top-k with total-order tie-break (TakeOrderedAndProject).
# --------------------------------------------------------------------------
@_register(
    "topk_orders_by_price",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def topk_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# B14 — set operations: nations that have customers vs suppliers.
# --------------------------------------------------------------------------
@_register(
    "set_ops_nation_presence",
    """
    SELECT nationkey, 'both' AS tag FROM
      (SELECT DISTINCT c_nationkey AS nationkey FROM customer
       INTERSECT
       SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
    UNION ALL
    SELECT nationkey, 'customer_only' AS tag FROM
      (SELECT DISTINCT c_nationkey AS nationkey FROM customer
       EXCEPT
       SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
    ORDER BY tag, nationkey
    """,
)
def set_ops_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust_nations = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("nationkey"))
        .distinct()
    )
    supp_nations = (
        load_table(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").alias("nationkey"))
        .distinct()
    )
    both = cust_nations.intersect(supp_nations).withColumn("tag", F.lit("both"))
    cust_only = cust_nations.exceptAll(supp_nations).withColumn("tag", F.lit("customer_only"))
    return both.unionByName(cust_only).orderBy("tag", "nationkey")


# --------------------------------------------------------------------------
# B15 — string function battery on part.
# --------------------------------------------------------------------------
@_register(
    "string_funcs_part",
    """
    SELECT p_partkey,
           UPPER(p_name) AS name_upper,
           SUBSTRING(p_type, 1, 3) AS type_prefix,
           LENGTH(p_name) AS name_len,
           CONCAT_WS('-', p_brand, p_type) AS brand_type,
           CAST(REGEXP_EXTRACT(p_brand, '([0-9]+)', 1) AS BIGINT) AS brand_num,
           CASE WHEN p_name LIKE '%a%' THEN 1 ELSE 0 END AS has_a,
           LEN(STRING_SPLIT(p_name, ' ')) AS n_words,
           TRIM(LOWER(p_type)) AS type_lower
    FROM part
    ORDER BY p_partkey
    """,
)
def string_funcs_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            F.upper("p_name").alias("name_upper"),
            F.substring("p_type", 1, 3).alias("type_prefix"),
            F.length("p_name").alias("name_len"),
            F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
            F.regexp_extract("p_brand", "([0-9]+)", 1).cast("bigint").alias("brand_num"),
            F.when(F.col("p_name").like("%a%"), F.lit(1)).otherwise(F.lit(0)).alias("has_a"),
            F.size(F.split("p_name", " ")).alias("n_words"),
            F.trim(F.lower("p_type")).alias("type_lower"),
        )
        .orderBy("p_partkey")
    )


# --------------------------------------------------------------------------
# B16 — date/time battery: hourly event profile.
# --------------------------------------------------------------------------
@_register(
    "date_funcs_hourly_events",
    """
    SELECT STRFTIME(ts, '%Y-%m-%d') AS day,
           EXTRACT(hour FROM ts) AS hour,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_value_fp
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def date_funcs_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.hour("ts").cast("bigint").alias("hour"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.floor(F.col("value") * 1000000).cast("bigint")).alias("sum_value_fp"),
        )
        .orderBy("day", "hour")
    )


# --------------------------------------------------------------------------
# B19 — JSON extraction over the messy-JSON props column (mirror of the
# reference's JSON-string normalization, SURVEY A4).
# --------------------------------------------------------------------------
@_register(
    "json_funcs_events_props",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
           COUNT(*) AS n,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def json_funcs_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.groupBy((k % 10).alias("k_mod"))
        .agg(
            F.count("*").alias("n"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("k_mod")
    )


# --------------------------------------------------------------------------
# B6 — range (theta) join: events joined to the order-date window of a
# customer's orders.  Kept small via pre-aggregation on both sides.
# Scale note: a raw theta join is BNLJ; the scale path bucketizes the range
# key first (see operators/similarity.py for the banding pattern).
# --------------------------------------------------------------------------
@_register(
    "range_join_value_bands",
    """
    SELECT b.band_lo, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS band_price
    FROM orders o
    JOIN (SELECT 100000.0 * i AS band_lo, 100000.0 * (i + 1) AS band_hi
          FROM (SELECT UNNEST(RANGE(0, 6)) AS i)) b
      ON o.o_totalprice >= b.band_lo AND o.o_totalprice < b.band_hi
    GROUP BY b.band_lo
    ORDER BY b.band_lo
    """,
)
def range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bands = spark.range(0, 6).select(
        (F.col("id") * 100000.0).alias("band_lo"),
        ((F.col("id") + 1) * 100000.0).alias("band_hi"),
    )
    return (
        orders.join(
            F.broadcast(bands),
            (orders.o_totalprice >= bands.band_lo) & (orders.o_totalprice < bands.band_hi),
        )
        .groupBy("band_lo")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("band_price"),
        )
        .orderBy("band_lo")
    )


# --------------------------------------------------------------------------
# B17 — math scalar battery.
# --------------------------------------------------------------------------
@_register(
    "math_funcs_supplier",
    """
    SELECT s_suppkey,
           ROUND(ABS(s_acctbal), 1) AS abs_bal,
           CAST(FLOOR(s_acctbal) AS BIGINT) AS floor_bal,
           CAST(CEIL(s_acctbal) AS BIGINT) AS ceil_bal,
           ROUND(SQRT(ABS(s_acctbal)), 6) AS sqrt_bal,
           ROUND(LN(ABS(s_acctbal) + 1), 6) AS ln_bal,
           MOD(s_suppkey, 7) AS key_mod
    FROM supplier
    ORDER BY s_suppkey
    """,
)
def math_funcs_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.select(
            "s_suppkey",
            F.round(F.abs("s_acctbal"), 1).alias("abs_bal"),
            F.floor("s_acctbal").cast("bigint").alias("floor_bal"),
            F.ceil("s_acctbal").cast("bigint").alias("ceil_bal"),
            F.round(F.sqrt(F.abs("s_acctbal")), 6).alias("sqrt_bal"),
            F.round(F.log(F.abs(F.col("s_acctbal")) + 1), 6).alias("ln_bal"),
            (F.col("s_suppkey") % 7).alias("key_mod"),
        )
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# B8/B15 — pivot: daily event-type matrix (conditional-aggregation twin).
# --------------------------------------------------------------------------
@_register(
    "pivot_daily_event_types",
    """
    SELECT STRFTIME(ts, '%Y-%m-%d') AS day,
           COUNT(*) FILTER (event_type = 'click')    AS click,
           COUNT(*) FILTER (event_type = 'error')    AS error,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'signup')   AS signup,
           COUNT(*) FILTER (event_type = 'view')     AS view
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def pivot_daily_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .orderBy("day")
    )
    # pivot leaves NULL for absent combos; the FILTER oracle yields 0
    return out.select(
        "day",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ["click", "error", "purchase", "signup", "view"]],
    )


# --------------------------------------------------------------------------
# B14/B2 — unpivot (melt) of a small aggregate.
# --------------------------------------------------------------------------
@_register(
    "unpivot_flag_metrics",
    """
    WITH agg AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM lineitem GROUP BY 1)
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS metric_value FROM agg
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS metric, sum_price AS metric_value FROM agg
    ORDER BY l_returnflag, metric
    """,
)
def unpivot_flag_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
    )
    return (
        agg.unpivot(
            ["l_returnflag"], ["sum_qty", "sum_price"], "metric", "metric_value"
        )
        .orderBy("l_returnflag", "metric")
    )


# --------------------------------------------------------------------------
# B11 — ranking-function battery with a total order.
#
# SCALE NOTE (deliberate single-partition window): NTILE / PERCENT_RANK /
# CUME_DIST over a TOTAL order require every row's global position, so the
# empty `W.orderBy(...)` funnels the whole input through one task — Spark
# warns `WindowExec: No Partition Defined`. That is acceptable ONLY because
# supplier is a bounded dimension table (O(10k-100k) rows at any SF, ~1% of
# lineitem). If this battery were ever pointed at a fact table, respell:
#   dense_rank/percent_rank/cume_dist -> join against an aggregated
#     (value -> count, running count) frame (two shuffles, fully parallel);
#   ntile(k) -> rank via the same join, then bucket = (rank-1)*k/n.
# The partitioned analytic windows (B12, window_top_orders_per_customer)
# are the fact-table-safe patterns and stay parallel.
# --------------------------------------------------------------------------
@_register(
    "window_rank_battery",
    """
    SELECT s_suppkey,
           DENSE_RANK()   OVER w AS drnk,
           NTILE(4)       OVER w AS quartile,
           PERCENT_RANK() OVER w AS prnk,
           CUME_DIST()    OVER w AS cdist
    FROM supplier
    WINDOW w AS (ORDER BY s_acctbal, s_suppkey)
    ORDER BY s_suppkey
    """,
)
def window_rank_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    w = W.orderBy("s_acctbal", "s_suppkey")
    return (
        s.select(
            "s_suppkey",
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
            F.percent_rank().over(w).alias("prnk"),
            F.cume_dist().over(w).alias("cdist"),
        )
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# B12 — RANGE frame: 30-day trailing spend per customer (fixed-point cents).
# --------------------------------------------------------------------------
@_register(
    "window_range_trailing_spend",
    """
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
             OVER (PARTITION BY o_custkey ORDER BY DATEDIFF('day', TIMESTAMP '1995-01-01', o_orderdate)
                   RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing_cents
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_range_trailing_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    day_ord = F.datediff(
        F.col("o_orderdate").cast("date"),
        F.lit("1995-01-01").cast("date"),
    )
    cents = (_dec("o_totalprice") * 100).cast("bigint")
    w = W.partitionBy("o_custkey").orderBy(day_ord).rangeBetween(-30, 0)
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            F.sum(cents).over(w).alias("trailing_cents"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# --------------------------------------------------------------------------
# B3/B5 — correlated NOT EXISTS through the SQL API (exercises Catalyst's
# subquery decorrelation; the DataFrame spelling would be an anti join).
# --------------------------------------------------------------------------
_SQL_CORRELATED = """
    SELECT p_partkey, p_brand
    FROM part
    WHERE p_size >= 40
      AND NOT EXISTS (SELECT 1 FROM lineitem
                      WHERE l_partkey = p_partkey AND l_quantity >= 45)
    ORDER BY p_partkey
"""


@_register("sql_correlated_not_exists", _SQL_CORRELATED)
def sql_correlated_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_loader_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_CORRELATED)


# --------------------------------------------------------------------------
# As-of join (Spark has no native one): most recent purchase at-or-before
# each click, per user — the union + last_value(ignore nulls) pattern.
# Scale: ONE shuffle on user_id and a single ordered pass; the naive
# per-row range join this replaces is O(n·m) inside each user.
# --------------------------------------------------------------------------
@_register(
    "asof_join_last_purchase",
    """
    WITH u AS (
      SELECT user_id, ts, event_id, NULL::TIMESTAMP AS p_ts, 1 AS kind
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, ts, NULL, ts, 0 FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT user_id, ts, event_id, kind,
             LAST_VALUE(p_ts IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, kind
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_ts
      FROM u)
    SELECT event_id, user_id,
           STRFTIME(ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
           STRFTIME(asof_ts, '%Y-%m-%d %H:%M:%S.%f') AS last_purchase_ts
    FROM j WHERE kind = 1
    ORDER BY user_id, event_id
    """,
)
def asof_join_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.lit(None).cast("timestamp_ntz").alias("p_ts"), F.lit(1).alias("kind")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(None).cast("bigint").alias("event_id"), F.col("ts").alias("p_ts"), F.lit(0).alias("kind")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (
        clicks.unionByName(purchases)
        .withColumn("asof_ts", F.last("p_ts", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", fmt).alias("click_ts"),
            F.date_format("asof_ts", fmt).alias("last_purchase_ts"),
        )
        .orderBy("user_id", "event_id")
    )


# --------------------------------------------------------------------------
# B7/B10 — exact order statistics + explicit-formula variance (both engines
# compute the identical rational expression over exact sums).
# --------------------------------------------------------------------------
@_register(
    "stats_battery_lineitem",
    """
    WITH base AS (
      SELECT l_returnflag,
             CAST(l_quantity AS DOUBLE) AS q,
             CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS q_fp
      FROM lineitem)
    SELECT l_returnflag,
           COUNT(*) AS n,
           MEDIAN(q) AS med_qty,
           QUANTILE_CONT(q, 0.25) AS q25,
           QUANTILE_CONT(q, 0.75) AS q75,
           (CAST(SUM(q_fp * q_fp) AS DOUBLE) - CAST(SUM(q_fp) AS DOUBLE) * SUM(q_fp) / COUNT(*))
             / (COUNT(*) - 1) / 10000.0 AS var_qty
    FROM base
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def stats_battery_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("double")
    q_fp = (_dec("l_quantity") * 100).cast("bigint")
    base = li.select("l_returnflag", q.alias("q"), q_fp.alias("q_fp"))
    n = F.count("*")
    return (
        base.groupBy("l_returnflag")
        .agg(
            n.alias("n"),
            F.median("q").alias("med_qty"),
            F.percentile("q", 0.25).alias("q25"),
            F.percentile("q", 0.75).alias("q75"),
            (
                (
                    F.sum(F.col("q_fp") * F.col("q_fp")).cast("double")
                    - F.sum("q_fp").cast("double") * F.sum("q_fp") / n
                )
                / (n - F.lit(1))
                / F.lit(10000.0)
            ).alias("var_qty"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# B10 — approximate distinct (HLL), made self-verifying: the query computes
# BOTH the HLL estimate and the exact distinct count, and emits the exact
# count plus a deterministic within-5%-bound verdict. The oracle recomputes
# the exact side and asserts the verdict — so a sketch drifting out of its
# error bound turns the driver row red instead of being unverifiable.
# (The raw estimate itself is engine-specific and deliberately not output.)
# --------------------------------------------------------------------------
@_register(
    "approx_distinct_users",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS hll_within_5pct
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # rsd=0.01: the default 0.05 is a 1σ RELATIVE STD DEV, so a 5% bound
    # breaks ~1/3 of the time at real cardinalities (observed 6.7% error
    # at sf0.1); 1% rsd keeps the sketch ~5σ inside the asserted bound.
    approx = F.approx_count_distinct("user_id", 0.01)
    exact = F.countDistinct("user_id")
    return (
        ev.groupBy("event_type")
        .agg(
            exact.alias("exact_users"),
            (
                F.abs(approx.cast("double") - exact)
                / F.greatest(exact, F.lit(1))
                <= F.lit(0.05)
            ).alias("hll_within_5pct"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# B8 — explicit GROUPING SETS (rollup/cube's general form) via the SQL API,
# with GROUPING() flags disambiguating the per-set NULLs.
# Scale: Spark expands grouping sets into a single Expand + one hash
# aggregate — still one shuffle, rows multiplied only by the set count.
# --------------------------------------------------------------------------
_SQL_GROUPING_SETS = """
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag,
           GROUPING(l_linestatus) AS g_status,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    ORDER BY g_flag, g_status, l_returnflag, l_linestatus
"""


@_register("sql_grouping_sets", _SQL_GROUPING_SETS)
def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_loader_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_GROUPING_SETS)


# --------------------------------------------------------------------------
# B7 at scale — salted two-phase aggregation. When a group key is skewed
# (one hot user dominating a partition), the standard fix is to aggregate
# in two phases: partial by (key, salt) spreads the hot key over N
# reducers, final by (key) combines the partials. The result is provably
# identical to the direct groupBy — which is exactly what the oracle
# checks. Exact integer cents make the two-phase sum bit-equal.
# --------------------------------------------------------------------------
@_register(
    "salted_agg_user_value",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100
             AS sum_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def salted_agg_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_loader_spark.sources.tables import load_table as _lt

    ev = _lt(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    partial = (
        ev.withColumn("_salt", F.pmod(F.col("event_id"), F.lit(8)))
        .groupBy("user_id", "_salt")
        .agg(F.count("*").alias("pc"), F.sum(cents).alias("ps"))
    )
    return (
        partial.groupBy("user_id")
        .agg(
            F.sum("pc").alias("n_events"),
            (F.sum("ps").cast("double") / 100).alias("sum_value"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# B7/B10 — percentiles. The exact interpolated percentile over integer
# cents is oracle-checked (both engines evaluate lower + frac*(higher -
# lower) on exactly-representable ints → bit-identical doubles); the
# approx_percentile sketch is rows-only with an error-bound test, like
# approx_distinct_users. Scale: exact percentile needs a per-group sort —
# fine for bounded groups; the sketch is the 100 TB path (mergeable,
# single pass, fixed memory).
# --------------------------------------------------------------------------
@_register(
    "value_percentiles_by_type",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           quantile_cont(CAST(ROUND(value * 100, 0) AS BIGINT), 0.5) AS p50_cents,
           quantile_cont(CAST(ROUND(value * 100, 0) AS BIGINT), 0.9) AS p90_cents,
           quantile_cont(CAST(ROUND(value * 100, 0) AS BIGINT), 0.99) AS p99_cents
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def value_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    grp = ev.select("event_type", cents.alias("cents")).groupBy("event_type")
    return grp.agg(
        F.count("*").alias("n_events"),
        F.percentile("cents", 0.5).alias("p50_cents"),
        F.percentile("cents", 0.9).alias("p90_cents"),
        F.percentile("cents", 0.99).alias("p99_cents"),
    ).orderBy("event_type")


@_register(
    "approx_percentile_value",
    """
    SELECT event_type,
           quantile_cont(CAST(ROUND(value * 100, 0) AS BIGINT), 0.5)
             AS exact_p50_cents,
           TRUE AS sketch_within_5pct
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def approx_percentile_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable percentile sketch made self-verifying: computes the
    sketch estimate AND the exact interpolated percentile, emits the exact
    value plus a within-5%-bound verdict the oracle asserts (sketch
    internals differ across engines, so the estimate itself stays
    internal)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    grp = ev.select("event_type", cents.alias("cents")).groupBy("event_type")
    approx = F.approx_percentile("cents", 0.5, 10000).cast("double")
    exact = F.percentile("cents", 0.5)
    return grp.agg(
        exact.alias("exact_p50_cents"),
        (
            F.abs(approx - exact) / F.greatest(F.abs(exact), F.lit(1.0))
            <= F.lit(0.05)
        ).alias("sketch_within_5pct"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Data-quality audit: referential integrity + key invariants as one
# result set (the dbt-test / Deequ-style constraint sweep). Each check is
# an independent aggregate; Spark unions them into one Expand-free plan
# of four tiny jobs. Scale: anti-joins broadcast the PK side's keys only;
# duplicate/null checks are single partial-aggregated scans.
# --------------------------------------------------------------------------
@_register(
    "integrity_audit",
    """
    SELECT 'lineitem_orphan_orderkey' AS check_name,
           (SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS n_violations
    UNION ALL
    SELECT 'orders_orphan_custkey',
           (SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'orders_duplicate_orderkey',
           (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
                                  GROUP BY o_orderkey HAVING COUNT(*) > 1))
    UNION ALL
    SELECT 'lineitem_null_orderkey',
           (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL)
    ORDER BY check_name
    """,
)
def integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").cast("long").alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )

    checks = [
        one(
            "lineitem_orphan_orderkey",
            li.select("l_orderkey").join(
                od.select(F.col("o_orderkey").alias("l_orderkey")),
                "l_orderkey",
                "left_anti",
            ),
        ),
        one(
            "orders_orphan_custkey",
            od.select("o_custkey").join(
                cu.select(F.col("c_custkey").alias("o_custkey")),
                "o_custkey",
                "left_anti",
            ),
        ),
        one(
            "orders_duplicate_orderkey",
            od.groupBy("o_orderkey").count().filter(F.col("count") > 1),
        ),
        one("lineitem_null_orderkey", li.filter(F.col("l_orderkey").isNull())),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("check_name")


# --------------------------------------------------------------------------
# B4 at scale — SALTED equi-join. When one join key is hot (a celebrity
# user), the plain hash join puts that key's entire fact volume on one
# reducer. The standard fix: replicate the (small) dimension side across
# N salts and join on (key, salt), so the hot key's rows spread over N
# reducers; the result is provably identical to the plain join — which is
# exactly what the oracle checks with the UNSALTED spelling.
# --------------------------------------------------------------------------
@_register(
    "salted_join_event_nations",
    """
    SELECT n.n_name,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(e.value * 100, 0) AS BIGINT)) AS DOUBLE) / 100
             AS sum_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def salted_join_event_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    n_salts = 8
    salts = spark.range(n_salts).select(F.col("id").alias("_salt"))
    cust_salted = cust.crossJoin(F.broadcast(salts))
    fact = ev.withColumn("_salt", F.pmod(F.col("event_id"), F.lit(n_salts)))
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    return (
        fact.join(
            cust_salted,
            (F.col("c_custkey") == F.col("user_id"))
            & (cust_salted["_salt"] == fact["_salt"]),
        )
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(cents).cast("double") / 100).alias("sum_value"),
        )
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# B5 — NOT IN null semantics (the classic ANSI trap): a NULL anywhere in
# the NOT IN subquery makes the predicate UNKNOWN for every row, so the
# count drops to zero. Catalyst plans this as a null-aware anti join;
# both engines must agree exactly. Spelled through the SQL API so the
# subquery reaches Catalyst's decorrelation untouched.
# --------------------------------------------------------------------------
_SQL_NOT_IN_NULLS = """
    SELECT
      (SELECT COUNT(*) FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))
        AS n_customers_no_orders,
      (SELECT COUNT(*) FROM customer
        WHERE c_custkey NOT IN
          (SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END
           FROM orders))
        AS n_with_null_in_list
"""


@_register("sql_not_in_null_semantics", _SQL_NOT_IN_NULLS)
def sql_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_loader_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_NOT_IN_NULLS)


# --------------------------------------------------------------------------
# Map-typed column battery: construct, probe, merge, and enumerate map
# columns (the remaining collection-function family after arrays/JSON).
# Map-typed values stay internal; outputs are scalars and sorted joined
# strings so the result canonicalizes across engines. Map-only, no
# shuffle except the final ORDER BY.
# --------------------------------------------------------------------------
@_register(
    "map_funcs_battery",
    """
    WITH m AS (
      SELECT o_orderkey,
             MAP {'status': o_orderstatus, 'prio': o_orderpriority} AS props
      FROM orders WHERE o_orderkey < 200
    ),
    merged AS (
      SELECT o_orderkey, props,
             map_concat(props, MAP {'src': 'orders'}) AS allp
      FROM m
    )
    SELECT o_orderkey,
           CAST(cardinality(props) AS INTEGER) AS n_keys,
           props['status'][1] AS status_val,
           array_to_string(list_sort(map_keys(allp)), ',') AS all_keys,
           array_to_string(list_sort(map_values(allp)), ',') AS all_vals,
           list_contains(map_keys(props), 'prio') AS has_prio,
           list_contains(map_keys(props), 'absent') AS has_absent
    FROM merged
    ORDER BY o_orderkey
    """,
)
def map_funcs_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 200
    )
    props = F.create_map(
        F.lit("status"),
        F.col("o_orderstatus"),
        F.lit("prio"),
        F.col("o_orderpriority"),
    )
    m = orders.select("o_orderkey", props.alias("props"))
    allp = F.map_concat(
        F.col("props"), F.create_map(F.lit("src"), F.lit("orders"))
    )
    merged = m.withColumn("allp", allp)
    return merged.select(
        "o_orderkey",
        F.size("props").alias("n_keys"),
        F.element_at("props", "status").alias("status_val"),
        F.array_join(F.sort_array(F.map_keys("allp")), ",").alias("all_keys"),
        F.array_join(F.sort_array(F.map_values("allp")), ",").alias(
            "all_vals"
        ),
        F.map_contains_key("props", "prio").alias("has_prio"),
        F.map_contains_key("props", "absent").alias("has_absent"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# B10 — heavy hitters, self-verifying like the other sketch queries.
# DataFrame.freqItems (Karp-Shenker-Papadimitriou streaming counter)
# guarantees NO FALSE NEGATIVES: every token with share > support is in
# the sketch output. The query computes the EXACT >=2% heavy hitters and
# flags each as found-in-sketch; the oracle recomputes the exact side and
# asserts the flag — a sketch dropping a true heavy hitter turns the row
# red. (False positives in the sketch are partitioning-dependent and
# deliberately not output.)
# Scale: exact side is one token aggregate; the sketch is a single-pass
# map-side counter whose result is O(1/support) — driver-safe.
# --------------------------------------------------------------------------
@_register(
    "heavy_hitter_tokens",
    """
    WITH toks AS (
      SELECT unnest(list_filter(string_split(lower(text), ' '),
                                t -> t <> '')) AS tok
      FROM documents
    ),
    counts AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM counts)
    SELECT tok,
           CAST(cnt AS BIGINT) AS cnt,
           CAST(cnt * 10000 // t AS BIGINT) AS share_bps,
           TRUE AS in_sketch
    FROM counts, tot
    WHERE cnt * 50 >= t
    ORDER BY tok
    """,
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_loader_spark.sources.tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")

    # counts feeds the total AND the share join — materialize so the
    # token explode+aggregate runs once
    counts = materialize(
        toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    )
    tot = counts.agg(F.sum("cnt").alias("t"))
    # the sketch: single-pass streaming counter, O(1/support) output
    sketch_items = set(
        toks.freqItems(["tok"], support=0.02).collect()[0][0]
    )
    return (
        counts.join(F.broadcast(tot))
        .filter(F.col("cnt") * 50 >= F.col("t"))
        .select(
            "tok",
            "cnt",
            ((F.col("cnt") * 10000) / F.col("t"))
            .cast("bigint")
            .alias("share_bps"),
            F.col("tok").isin(sketch_items).alias("in_sketch"),
        )
        .orderBy("tok")
    )


# --------------------------------------------------------------------------
# Recursive CTE (Spark 4's WITH RECURSIVE): bounded-depth reachability
# over the event-transition graph — the BFS/transitive-closure query
# shape (org charts, lineage graphs, category trees). Both engines run
# the SAME standard SQL; recursion is bounded (hops < 3) and the result
# is the min-hop closure, so iteration order cannot leak into values.
# Scale: each recursion step is one join of the frontier against the
# edge set — the same per-iteration cost profile as the PageRank loop,
# with Spark materializing each step's frontier.
# --------------------------------------------------------------------------
_SQL_RECURSIVE = """
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    edges AS (
      SELECT prev_type AS src, event_type AS dst, COUNT(*) AS w
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    reach(src, dst, hops) AS (
      SELECT src, dst, 1 FROM edges
      UNION ALL
      SELECT r.src, e.dst, r.hops + 1
      FROM reach r JOIN edges e ON e.src = r.dst
      WHERE r.hops < 3
    )
    SELECT src, dst, CAST(MIN(hops) AS INTEGER) AS min_hops,
           COUNT(*) AS n_paths
    FROM reach
    GROUP BY src, dst
    ORDER BY src, dst
"""


@_register("sql_recursive_reachability", _SQL_RECURSIVE)
def sql_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_loader_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_RECURSIVE)


# --------------------------------------------------------------------------
# Declarative data-quality checks (iceberg_loader_spark.quality.Check —
# the Deequ/dbt-test shape) under the oracle: the one-pass row-rule
# aggregation, the uniqueness aggregate, and the FK anti-join must
# produce the exact violation counts DuckDB recomputes constraint by
# constraint. Scale: row rules share ONE partial-aggregated scan; FK
# broadcasts the PK side's distinct keys.
# --------------------------------------------------------------------------
@_register(
    "quality_report_lineitem",
    """
    SELECT 'not_null' AS constraint_name, 'l_orderkey' AS col_name,
           CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violations,
           SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed
    FROM lineitem
    UNION ALL
    SELECT 'in_range', 'l_quantity',
           CAST(SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1
                         OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1
                    OR l_quantity > 50 THEN 1 ELSE 0 END) = 0
    FROM lineitem
    UNION ALL
    SELECT 'accepted_values', 'l_returnflag',
           CAST(SUM(CASE WHEN l_returnflag IS NULL
                         OR l_returnflag NOT IN ('A','N','R')
                    THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN l_returnflag IS NULL
                    OR l_returnflag NOT IN ('A','N','R')
               THEN 1 ELSE 0 END) = 0
    FROM lineitem
    UNION ALL
    SELECT 'unique', 'o_orderkey',
           CAST((SELECT COUNT(*) FROM (
               SELECT o_orderkey FROM orders
               GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS BIGINT),
           (SELECT COUNT(*) FROM (
               SELECT o_orderkey FROM orders
               GROUP BY o_orderkey HAVING COUNT(*) > 1)) = 0
    UNION ALL
    SELECT 'foreign_key(o_orderkey)', 'l_orderkey',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (
                     SELECT 1 FROM orders o
                     WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
           (SELECT COUNT(*) FROM lineitem l
            WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_orderkey = l.l_orderkey)) = 0
    ORDER BY constraint_name, col_name
    """,
)
def quality_report_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_loader_spark.quality import Check

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    report = (
        Check()
        .not_null("l_orderkey")
        .in_range("l_quantity", 1, 50)
        .accepted_values("l_returnflag", ["A", "N", "R"])
        .foreign_key("l_orderkey", orders, "o_orderkey")
        .run(li)
        .unionByName(Check().unique("o_orderkey").run(orders))
    )
    return report.select(
        F.col("constraint").alias("constraint_name"),
        F.col("column").alias("col_name"),
        "n_violations",
        "passed",
    ).orderBy("constraint_name", "col_name")


# --------------------------------------------------------------------------
# Robust outlier detection: median absolute deviation (MAD) per event
# type, flagging values beyond 3×MAD from the median — the
# heavy-tail-safe alternative to z-scores (mean/stddev are themselves
# dragged by the outliers they're meant to find).
#
# Determinism: values ride as exact integer cents; the median of a
# BIGINT column interpolates to an exact multiple of 0.5, deviations are
# exact multiples of 0.5, and their median is an exact multiple of 0.25
# — every intermediate is exactly representable in a double, so both
# engines' lo + frac*(hi-lo) interpolation agrees bit-for-bit (the
# value_percentiles_by_type recipe).
#
# Scale: the classic two-pass robust aggregate — pass 1 computes
# per-type medians (per-group sort, bounded groups), which broadcast
# back (one row per event type) for the deviation pass. A single-pass
# 100 TB variant swaps both percentiles for mergeable KLL/t-digest
# sketches at a quantified accuracy cost (approx_percentile_value shows
# the sketch-vs-exact discipline).
# --------------------------------------------------------------------------
@_register(
    "mad_outliers_by_type",
    """
    WITH cents AS (
      SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS c
      FROM events
    ),
    med AS (
      SELECT event_type, quantile_cont(c, 0.5) AS med_cents
      FROM cents GROUP BY event_type
    ),
    dev AS (
      SELECT c.event_type, ABS(c.c - m.med_cents) AS d
      FROM cents c JOIN med m ON m.event_type = c.event_type
    ),
    mad AS (
      SELECT dev.event_type,
             COUNT(*) AS n_events,
             ANY_VALUE(med.med_cents) AS med_cents,
             quantile_cont(d, 0.5) AS mad_cents
      FROM dev JOIN med ON med.event_type = dev.event_type
      GROUP BY dev.event_type
    )
    SELECT d.event_type, ANY_VALUE(m.n_events) AS n_events,
           ANY_VALUE(m.med_cents) AS med_cents,
           ANY_VALUE(m.mad_cents) AS mad_cents,
           CAST(SUM(CASE WHEN d.d > 3 * m.mad_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m ON m.event_type = d.event_type
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
)
def mad_outliers_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = ev.select(
        "event_type", F.round(F.col("value") * 100, 0).cast("bigint").alias("c")
    )
    med = cents.groupBy("event_type").agg(
        F.percentile("c", 0.5).alias("med_cents")
    )
    dev = (
        cents.join(F.broadcast(med), "event_type")
        .withColumn("d", F.abs(F.col("c") - F.col("med_cents")))
        .select("event_type", "d")
    )
    mad = (
        dev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.percentile("d", 0.5).alias("mad_cents"),
        )
        .join(F.broadcast(med), "event_type")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("n_events").alias("n_events"),
            F.first("med_cents").alias("med_cents"),
            F.first("mad_cents").alias("mad_cents"),
            F.sum(
                F.when(F.col("d") > 3 * F.col("mad_cents"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# B4 at scale — storage-bucketed co-located join (Spark bucketing).
#
# The one join strategy the rest of the surface doesn't demonstrate:
# when BOTH sides are written bucketed on the join key (same bucket
# count), Spark's scan exposes the hash-partitioning to the planner and
# the sort-merge join runs with NO shuffle on either side — the classic
# answer to "this fact-to-fact join shuffles 100 TB every night". The
# query writes orders and customer as 8-bucket tables (one-time,
# content-addressed by sf_dir), then joins them with a merge hint;
# the plan-fingerprint gate pins the shape: 1 SortMergeJoin, exactly
# 1 Exchange (the final group-by) — zero exchanges below the join.
#
# Scale: the write is the amortized cost (done once at ingest); every
# subsequent join/aggregate on the bucket key is shuffle-free. Bucket
# count on a real cluster = cores × small-factor (8 here only to keep
# local file counts sane); both tables MUST use the same count or Spark
# falls back to shuffling the smaller side.
# --------------------------------------------------------------------------
_BUCKETS = 8


def _write_bucketed(
    spark: SparkSession, df: DataFrame, name: str, key: str
) -> None:
    """One-time bucketed managed-table write, idempotent per process.

    The table name is process-unique (see caller): a shared name raced
    when two processes used one warehouse dir — one process's
    clear-stale-dir step could delete files the other was mid-writing,
    silently dropping rows. A table the in-memory catalog doesn't know
    about may still have a directory from a dead process with the same
    pid — managed-table creation refuses to reuse the location, so
    clear it first; the dir is removed again at process exit."""
    import atexit
    import shutil
    from urllib.parse import urlparse

    if spark.catalog.tableExists(name):
        return
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/{name}", ignore_errors=True)
    (
        df.write.bucketBy(_BUCKETS, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(name)
    )
    atexit.register(shutil.rmtree, f"{wh}/{name}", ignore_errors=True)



@_register(
    "bucketed_join_mktsegment",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders JOIN customer ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def bucketed_join_mktsegment(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os

    tag = f"{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}_{os.getpid()}"
    t_orders = f"ils_bucketed_orders_{tag}"
    t_cust = f"ils_bucketed_customer_{tag}"
    _write_bucketed(
        spark,
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ),
        t_orders,
        "o_custkey",
    )
    _write_bucketed(
        spark,
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        ),
        t_cust,
        "c_custkey",
    )
    o = spark.table(t_orders)
    c = spark.table(t_cust)
    return (
        o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# B4 — FULL OUTER equi-join: per-nation customer presence vs supplier
# presence, with nations appearing on only one side surviving as NULLs
# (spelled through COALESCE so the output is deterministic and typed).
# The join-type the rest of the surface doesn't exercise — inner/left/
# semi/anti/range/as-of are all covered elsewhere.
#
# Scale: both inputs are already per-nation aggregates (≤|nation| rows)
# when they meet the full-outer join, so the join is on two tiny frames —
# the aggregate-then-join shape, never a fact-to-fact outer join. A
# full-outer between facts would shuffle both sides on the key; spelling
# the aggregates first keeps the shuffled payload at group granularity.
# --------------------------------------------------------------------------
@_register(
    "full_outer_nation_coverage",
    """
    WITH c AS (
      SELECT c_nationkey AS nk, COUNT(*) AS n_customers
      FROM customer GROUP BY c_nationkey
    ),
    s AS (
      SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers
      FROM supplier GROUP BY s_nationkey
    )
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           COALESCE(n_customers, 0) AS n_customers,
           COALESCE(n_suppliers, 0) AS n_suppliers,
           (c.nk IS NULL) AS suppliers_only,
           (s.nk IS NULL) AS customers_only
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    ORDER BY nationkey
    """,
)
def full_outer_nation_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count("*").alias("n_customers"))
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return (
        cust.join(sup, cust.c_nk == sup.s_nk, "full_outer")
        .select(
            F.coalesce("c_nk", "s_nk").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
            F.col("c_nk").isNull().alias("suppliers_only"),
            F.col("s_nk").isNull().alias("customers_only"),
        )
        .orderBy("nationkey")
    )


# --------------------------------------------------------------------------
# B17+ — correlation / simple-regression battery: Pearson r and the OLS
# slope/intercept of value against hour-of-day, per event type. Spelled
# from EXACT integer sums (n, Σx, Σy, Σxy, Σx², Σy² over cents and
# hours) with ONE IEEE division/sqrt chain at the end — both engines
# compute identical BIGINT sums, and +,-,*,/,sqrt on exactly-held
# operands are correctly-rounded IEEE ops, so the doubles hash-match
# where a built-in corr()/regr_slope() (engine-internal accumulation
# order) would not.
#
# Scale: one partial-aggregated scan — six sums per group ride the
# shuffle, never rows. This IS the textbook one-pass parallel moment
# recipe (the same shape a 1000-executor reduce uses).
# --------------------------------------------------------------------------
@_register(
    "corr_value_hour_by_type",
    """
    WITH m AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(hour(ts) AS BIGINT)) AS sx,
             SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS sy,
             SUM(CAST(hour(ts) AS BIGINT)
                 * CAST(ROUND(value * 100, 0) AS BIGINT)) AS sxy,
             SUM(CAST(hour(ts) AS BIGINT) * CAST(hour(ts) AS BIGINT)) AS sxx,
             SUM(CAST(ROUND(value * 100, 0) AS BIGINT)
                 * CAST(ROUND(value * 100, 0) AS BIGINT)) AS syy
      FROM events
      GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             / sqrt(CAST(n * syy - sy * sy AS DOUBLE)) AS pearson_r,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents_per_hour,
           (CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) AS intercept_cents
    FROM m
    ORDER BY event_type
    """,
)
def corr_value_hour_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    x = F.hour("ts").cast("bigint")
    y = F.round(F.col("value") * 100, 0).cast("bigint")
    m = ev.select("event_type", x.alias("x"), y.alias("y")).groupBy(
        "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    cov_n = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    var_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    var_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    slope = cov_n / var_x
    return m.select(
        "event_type",
        "n",
        (cov_n / F.sqrt(var_x) / F.sqrt(var_y)).alias("pearson_r"),
        slope.alias("slope_cents_per_hour"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        ).alias("intercept_cents"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# B12+ — IGNORE NULLS window battery: per-user running "last known
# purchase amount" over a sparse column (amount is NULL except on
# purchase events) — the gap-tolerant carry-forward every sessionized
# feature pipeline needs (LOCF over sparse signals). Covers
# last_value/first_value/nth_value with IGNORE NULLS; the tie-broken
# total order makes every value deterministic.
#
# Scale: one window partitioned by user_id — parallel across users,
# running frames are O(events per user).
# --------------------------------------------------------------------------
@_register(
    "window_ignorenulls_locf",
    """
    WITH base AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100, 0) AS BIGINT) END AS amt
      FROM events
    )
    SELECT user_id, event_id,
           amt,
           last_value(amt IGNORE NULLS) OVER w AS last_purchase_cents,
           first_value(amt IGNORE NULLS) OVER w AS first_purchase_cents,
           nth_value(amt, 2 IGNORE NULLS) OVER w AS second_purchase_cents
    FROM base
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
)
def window_ignorenulls_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    amt = F.when(
        F.col("event_type") == "purchase",
        F.round(F.col("value") * 100, 0).cast("bigint"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        ev.select("user_id", "event_id", "ts", amt.alias("amt"))
        .select(
            "user_id",
            "event_id",
            "amt",
            F.last("amt", ignorenulls=True).over(w).alias(
                "last_purchase_cents"
            ),
            F.first("amt", ignorenulls=True).over(w).alias(
                "first_purchase_cents"
            ),
            F.nth_value("amt", 2, ignoreNulls=True).over(w).alias(
                "second_purchase_cents"
            ),
        )
        .orderBy("user_id", "event_id")
    )


# --------------------------------------------------------------------------
# B19 at the type level — the VARIANT column type (Spark 4's
# semi-structured native type; the get_json_object path above re-parses
# the JSON text per extraction, while ``parse_json`` parses ONCE into a
# binary-encoded variant that typed ``variant_get`` calls then navigate
# without re-tokenizing — the Iceberg v3 / modern-lakehouse shape for
# JSON-heavy event tables). Extracts a typed field, checks type
# introspection (``schema_of_variant``), and aggregates — the oracle
# replays the same extraction with DuckDB's JSON operators.
#
# Scale: parse-once amortizes across N extractions per row (here 2 +
# a typeof); variant values are binary and never round-trip through
# strings between expressions, and the aggregate itself is an ordinary
# partial-aggregated hash agg. 100 TB guidance: parse at ingest, store
# VARIANT, extract at query time.
# --------------------------------------------------------------------------
@_register(
    "variant_props_battery",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k,
           COUNT(CASE WHEN json_extract(props, '$.k') IS NOT NULL
                      THEN 1 END) AS n_with_k,
           COUNT(CASE WHEN json_extract(props, '$.missing') IS NOT NULL
                      THEN 1 END) AS n_with_missing
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def variant_props_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "bigint")
    missing = F.try_variant_get(v, "$.missing", "bigint")
    return (
        ev.select("event_type", k.alias("k"), missing.alias("m"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
            F.count("k").alias("n_with_k"),
            F.count("m").alias("n_with_missing"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# A36 at the query layer — the Observation API (``df.observe`` →
# CollectMetrics): pipeline metrics computed ON THE SAME PASS as the
# scan, not by a second job. The reference logs per-load row counts and
# timings (services/logging.py); the Spark-native form attaches named
# aggregate metrics to the plan, the action populates them, and here the
# observed values themselves are the query result the oracle recomputes
# — so the metrics channel is hash-verified end-to-end.
#
# Scale: CollectMetrics is a zero-shuffle piggyback — partial aggregates
# ride the existing scan tasks and merge on the driver; the pattern is
# free row-count/invariant auditing on 100 TB ingest scans (vs a second
# full scan for a separate audit query).
# --------------------------------------------------------------------------
@_register(
    "observed_scan_metrics",
    """
    SELECT 'lineitem' AS table_name,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(CAST(l_quantity AS DECIMAL(18,2)) * 100, 0)
                    AS BIGINT)) AS BIGINT) AS sum_qty_cents,
           COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_returned,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_orderkey
    FROM lineitem
    """,
)
def observed_scan_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("scan_metrics")
    qty_cents = F.round(_dec("l_quantity") * 100, 0).cast("bigint")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(qty_cents).alias("sum_qty_cents"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returned"),
        # DISTINCT aggregates are rejected in CollectMetrics
        # (INVALID_OBSERVED_METRICS) — observed metrics must be
        # single-pass mergeable; max() is, count(distinct) is not.
        F.max("l_orderkey").alias("max_orderkey"),
    )
    observed.count()  # any row-processing action populates the metrics
    vals = obs.get
    return spark.createDataFrame(
        [
            (
                "lineitem",
                vals["n_rows"],
                vals["sum_qty_cents"],
                vals["n_returned"],
                vals["max_orderkey"],
            )
        ],
        "table_name string, n_rows long, sum_qty_cents long, "
        "n_returned long, max_orderkey long",
    )


# --------------------------------------------------------------------------
# B12 — exact percentile as a WINDOW aggregate: trailing-16-event median
# spend per user (the robust rolling baseline an anomaly detector
# subtracts before thresholding — median shrugs off the spikes a rolling
# mean chases). Exact interpolated percentile over integer cents: both
# engines evaluate lower + frac*(higher-lower) on exactly-representable
# ints, so the doubles are bit-identical.
#
# Scale: partitioned by user — parallel across keys; the ROWS frame
# bounds the per-row sort buffer at 16 values, so memory is O(frame),
# not O(partition). The global aggregate twin is value_percentiles_by_
# type; this is the windowed form.
# --------------------------------------------------------------------------
@_register(
    "window_median_trailing",
    """
    SELECT user_id, event_id,
           quantile_cont(CAST(ROUND(value * 100, 0) AS BIGINT), 0.5)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
             AS trailing_median_cents
    FROM events
    WHERE user_id < 20
    ORDER BY user_id, event_id
    """,
)
def window_median_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-15, W.currentRow)
    )
    return (
        ev.select("user_id", "event_id", "ts", cents.alias("cents"))
        .select(
            "user_id",
            "event_id",
            F.percentile("cents", 0.5).over(w).alias("trailing_median_cents"),
        )
        .orderBy("user_id", "event_id")
    )


# --------------------------------------------------------------------------
# B7+ — ordered string aggregation (LISTAGG / string_agg, the reporting
# op): nation names per region, comma-joined in name order. Spark has
# no ordered listagg aggregate; the deterministic spelling is
# sort-the-collected-array-then-join — array_sort is a full ordering,
# so the result is identical at any shuffle parallelism (a bare
# collect_list would be nondeterministic).
# Scale: group payloads must be bounded (they are: nations per region);
# for unbounded groups, cap with slice() after the sort.
# --------------------------------------------------------------------------
@_register(
    "listagg_nations_by_region",
    """
    SELECT r.r_name,
           COUNT(*) AS n_nations,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
)
def listagg_nations_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return (
        n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_nations"),
            F.array_join(
                F.array_sort(F.collect_list("n_name")), ","
            ).alias("nations"),
        )
        .orderBy("r_name")
    )


# --------------------------------------------------------------------------
# B18+ — OUTER lateral fan-out (posexplode_outer): rows whose array is
# EMPTY survive as one (NULL pos, NULL tok) row instead of vanishing —
# the semantics corner that silently loses documents in a plain explode
# (a tokenizer emitting zero long tokens must not drop the doc from a
# per-doc join downstream). The oracle replays with a LEFT JOIN LATERAL
# unnest. Position is 0-based on both sides.
# Scale: Generate is a narrow map-side op; output volume is the array
# payload itself, no shuffle.
# --------------------------------------------------------------------------
@_register(
    "posexplode_outer_long_tokens",
    """
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '),
                         t -> length(t) > 6) AS long_toks
      FROM documents WHERE doc_id < 300
    )
    SELECT d.doc_id,
           u.pos - 1 AS pos,
           u.tok
    FROM d LEFT JOIN LATERAL (
      SELECT unnest(long_toks) AS tok,
             generate_subscripts(long_toks, 1) AS pos
    ) u ON TRUE
    ORDER BY d.doc_id, pos
    """,
)
def posexplode_outer_long_tokens(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 300
    )
    long_toks = F.filter(
        F.split(F.lower(F.col("text")), " "), lambda t: F.length(t) > 6
    )
    return (
        docs.select("doc_id", long_toks.alias("long_toks"))
        .select(
            "doc_id", F.posexplode_outer("long_toks").alias("pos", "tok")
        )
        .orderBy("doc_id", "pos")
    )


# --------------------------------------------------------------------------
# B17+ — error-safe arithmetic under ANSI mode (the try_* family):
# Spark 4 defaults to ANSI SQL, where division by zero and overflowing
# casts THROW mid-job instead of yielding NULL — on a 100 TB run, one
# dirty row kills hour-long stages. try_divide / try_cast are the
# per-expression opt-outs that keep the job alive and auditable (NULL
# count = dirty-row count). The oracle replays with NULLIF-guarded
# division and TRY_CAST.
# --------------------------------------------------------------------------
@_register(
    "try_funcs_battery",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(CASE WHEN user_id % 7 = 0 THEN 1 END) AS n_divzero,
           CAST(SUM(CAST(COALESCE(FLOOR(
                 (CAST(ROUND(value * 100, 0) AS BIGINT) * 10000)
                 / NULLIF(user_id % 7, 0)), 0) AS BIGINT))
               AS BIGINT) AS sum_ratio_fp,
           COUNT(TRY_CAST('x' || CAST(user_id AS VARCHAR) AS BIGINT))
             AS n_castable
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def try_funcs_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    # exact across engines: scale to fixed-point BEFORE the division
    # (the scaled numerator stays < 2^53, the IEEE quotient is then
    # bit-identical in both engines, and floor() of the same double is
    # the same integer — no decimal rounding ties)
    ratio = F.try_divide(cents * 10000, F.col("user_id") % 7)
    ratio_fp = F.coalesce(F.floor(ratio), F.lit(0)).cast("bigint")
    uncastable = F.try_to_number(
        F.concat(F.lit("x"), F.col("user_id").cast("string")),
        F.lit("999999"),
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(F.col("user_id") % 7 == 0, 1)).alias("n_divzero"),
            F.sum(ratio_fp).cast("bigint").alias("sum_ratio_fp"),
            F.count(uncastable).alias("n_castable"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# B17++ — map HIGHER-ORDER functions (map_funcs_battery above covers
# construction/lookup; this covers the transform pipeline): per-user
# event-type counts built as a map (map_from_entries over a grouped
# collect), values transformed (x2 — transform_values), low-count
# entries dropped (map_filter), then exploded back to rows via
# map_entries for the row-based oracle. The map stays inside one
# task between the aggregate and the explode — HOFs are expression-
# level, no extra shuffle.
# --------------------------------------------------------------------------
@_register(
    "map_hof_battery",
    """
    SELECT user_id, event_type,
           COUNT(*) * 2 AS doubled_n
    FROM events
    GROUP BY user_id, event_type
    HAVING COUNT(*) >= 2
    ORDER BY user_id, event_type
    """,
)
def map_hof_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n")
    )
    as_map = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m")
    )
    piped = as_map.select(
        "user_id",
        F.map_filter(
            F.transform_values(F.col("m"), lambda k, v: v * 2),
            lambda k, v: v >= 4,
        ).alias("m"),
    )
    return (
        piped.select(
            "user_id", F.explode(F.map_entries("m")).alias("entry")
        )
        .select(
            "user_id",
            F.col("entry.key").alias("event_type"),
            F.col("entry.value").alias("doubled_n"),
        )
        .orderBy("user_id", "event_type")
    )


# --------------------------------------------------------------------------
# B15+ — regex + structured-string battery: regexp_extract (group
# capture), split_part (delimiter field access), regexp_replace
# (global — DuckDB needs the explicit 'g' flag to match Spark's
# replace-all default), and rlike anchoring, all over the part
# dimension. Map-only + one hash aggregate.
# --------------------------------------------------------------------------
@_register(
    "regex_string_battery",
    """
    SELECT p_brand,
           COUNT(*) AS n_parts,
           CAST(MIN(CAST(regexp_extract(p_brand, '(\\d+)', 1) AS BIGINT))
                AS BIGINT) AS brand_num_re,
           CAST(MIN(CAST(split_part(p_brand, '#', 2) AS BIGINT))
                AS BIGINT) AS brand_num_sp,
           COUNT(CASE WHEN regexp_matches(p_name, 'widget$') THEN 1 END)
             AS n_widget,
           MIN(regexp_replace(p_name, '[aeiou]', '', 'g')) AS min_devoweled
    FROM part
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def regex_string_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return (
        p.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.min(
                F.regexp_extract("p_brand", r"(\d+)", 1).cast("bigint")
            ).alias("brand_num_re"),
            F.min(
                F.split_part(F.col("p_brand"), F.lit("#"), F.lit(2)).cast(
                    "bigint"
                )
            ).alias("brand_num_sp"),
            F.count(
                F.when(F.col("p_name").rlike("widget$"), 1)
            ).alias("n_widget"),
            F.min(F.regexp_replace("p_name", "[aeiou]", "")).alias(
                "min_devoweled"
            ),
        )
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
# B14+ — schema-drift union (unionByName allowMissingColumns): the
# append-two-generations-of-a-feed shape — an old extract without the
# priority column unioned with a new extract that has it; missing
# columns NULL-fill by NAME, never by position (a positional union
# would silently misalign). Oracle = DuckDB's UNION ALL BY NAME.
# Scale: union is plan-level concatenation — no shuffle; the NULL fill
# is a projection.
# --------------------------------------------------------------------------
@_register(
    "union_by_name_drift",
    """
    WITH unioned AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL BY NAME
      SELECT o_orderkey, o_orderpriority, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(o_orderpriority) AS n_with_priority,
           CAST(SUM(price) AS DOUBLE) AS sum_price
    FROM unioned
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def union_by_name_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)").alias("price")
    old_feed = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", price
    )
    new_feed = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderpriority", "o_orderstatus", price
    )
    return (
        old_feed.unionByName(new_feed, allowMissingColumns=True)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.count("o_orderpriority").alias("n_with_priority"),
            F.sum("price").cast("double").alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# B16+ — calendar battery: last_day / add_months (month-end clamping),
# ISO week number, day-of-week (Spark is 1=Sunday; DuckDB is 0=Sunday —
# the oracle adds 1), quarter, day-of-year. Dates leave the engine as
# formatted strings (DATE objects hash differently across drivers).
# Map-only.
# --------------------------------------------------------------------------
@_register(
    "calendar_funcs_battery",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS d,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
             AS month_end,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH,
                    '%Y-%m-%d') AS next_month,
           CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
           CAST(quarter(o_orderdate) AS INTEGER) AS q,
           CAST(dayofyear(o_orderdate) AS INTEGER) AS doy
    FROM orders
    WHERE o_orderkey < 500
    ORDER BY o_orderkey
    """,
)
def calendar_funcs_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    d = F.col("o_orderdate")
    return (
        o.select(
            "o_orderkey",
            F.date_format(d, "yyyy-MM-dd").alias("d"),
            F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
            F.date_format(F.add_months(d, 1), "yyyy-MM-dd").alias(
                "next_month"
            ),
            F.weekofyear(d).alias("iso_week"),
            F.dayofweek(d).alias("dow"),
            F.quarter(d).alias("q"),
            F.dayofyear(d).alias("doy"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# B15++ — fuzzy entity matching by edit distance (levenshtein), the
# record-linkage primitive: nation-name pairs within distance 1 (the
# synthetic names are NATION_<k>, so distance 1 means the suffixes
# differ by one digit edit — a selective match set), lowest-id-first.
# Scale: here the dimension is tiny so the cross join is trivial; for
# fact-scale linkage the recipe is block-then-match — group candidates
# by a cheap key (first char, length band, phonetic code) and run the
# O(mn) edit distance only within blocks, exactly like the LSH families
# bound their pair spaces.
# --------------------------------------------------------------------------
@_register(
    "fuzzy_match_nations",
    """
    SELECT a.n_name AS name_a, b.n_name AS name_b,
           CAST(levenshtein(a.n_name, b.n_name) AS INTEGER) AS dist
    FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
    WHERE levenshtein(a.n_name, b.n_name) <= 1
    ORDER BY name_a, name_b
    """,
)
def fuzzy_match_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    a = n.select(
        F.col("n_nationkey").alias("ka"), F.col("n_name").alias("name_a")
    )
    b = n.select(
        F.col("n_nationkey").alias("kb"), F.col("n_name").alias("name_b")
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        a.join(F.broadcast(b), F.col("ka") < F.col("kb"))
        .filter(dist <= 1)
        .select("name_a", "name_b", dist.alias("dist"))
        .orderBy("name_a", "name_b")
    )


# --------------------------------------------------------------------------
# B6 at scale — BINNED interval join: range_join_value_bands above is a
# broadcast nested-loop (correct, and fine while the interval side is
# tiny); this is the form that survives when it is not. Each non-
# uniform interval EXPLODES into the fixed-width bins it overlaps, the
# fact row computes its bin by arithmetic, and the join becomes an
# EQUI-join on bin id refined by the exact predicate — hash joins (and
# thus AQE, broadcast-vs-shuffle choice, skew splitting) replace the
# O(rows x intervals) nested loop. The oracle replays the plain theta
# join: binning is a physical strategy, the result set is identical.
# --------------------------------------------------------------------------
_BIN_W = 10_000  # bin width in price units


@_register(
    "range_join_binned",
    """
    SELECT b.band_id, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS band_price
    FROM orders o
    JOIN (VALUES (0, 0.0, 10000.0), (1, 10000.0, 30000.0),
                 (2, 30000.0, 70000.0), (3, 70000.0, 150000.0),
                 (4, 150000.0, 310000.0), (5, 310000.0, 630000.0))
         b(band_id, lo, hi)
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band_id
    ORDER BY b.band_id
    """,
)
def range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [
            (0, 0.0, 10_000.0),
            (1, 10_000.0, 30_000.0),
            (2, 30_000.0, 70_000.0),
            (3, 70_000.0, 150_000.0),
            (4, 150_000.0, 310_000.0),
            (5, 310_000.0, 630_000.0),
        ],
        "band_id int, lo double, hi double",
    )
    binned_bands = bands.select(
        "band_id",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                (F.col("lo") / _BIN_W).cast("bigint"),
                ((F.col("hi") - 1) / _BIN_W).cast("bigint"),
            )
        ).alias("bin"),
    )
    fact = orders.withColumn(
        "bin", (F.col("o_totalprice") / _BIN_W).cast("bigint")
    )
    return (
        fact.join(F.broadcast(binned_bands), "bin")
        .filter(
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi"))
        )
        .groupBy("band_id")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("band_price"),
        )
        .orderBy("band_id")
    )


# --------------------------------------------------------------------------
# Skew diagnostics — the planning query you run BEFORE picking a join
# strategy at 100 TB: per candidate join key, the distinct-key count,
# the hottest key's row count, and the hot key's corpus share in ppm
# (exact integer arithmetic). A share in the percents range says
# "salt this key or let AQE split it"; distinct counts say whether the
# build side can broadcast. One hash aggregate + a tiny argmax each.
# --------------------------------------------------------------------------
@_register(
    "skew_diagnostics",
    """
    WITH ks AS (
      SELECT 'orders.o_custkey' AS key_name, o_custkey AS k FROM orders
      UNION ALL
      SELECT 'lineitem.l_orderkey', l_orderkey FROM lineitem
      UNION ALL
      SELECT 'events.user_id', user_id FROM events
    ),
    per_key AS (
      SELECT key_name, k, COUNT(*) AS n FROM ks GROUP BY key_name, k
    )
    SELECT key_name,
           COUNT(*) AS n_distinct,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(MAX(n) AS BIGINT) AS hot_key_rows,
           CAST(MAX(n) * 1000000 // SUM(n) AS BIGINT) AS hot_share_ppm
    FROM per_key
    GROUP BY key_name
    ORDER BY key_name
    """,
)
def skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = [
        load_table(spark, sf_dir, "orders").select(
            F.lit("orders.o_custkey").alias("key_name"),
            F.col("o_custkey").alias("k"),
        ),
        load_table(spark, sf_dir, "lineitem").select(
            F.lit("lineitem.l_orderkey").alias("key_name"),
            F.col("l_orderkey").alias("k"),
        ),
        load_table(spark, sf_dir, "events").select(
            F.lit("events.user_id").alias("key_name"),
            F.col("user_id").alias("k"),
        ),
    ]
    ks = frames[0].unionByName(frames[1]).unionByName(frames[2])
    per_key = ks.groupBy("key_name", "k").agg(F.count("*").alias("n"))
    return (
        per_key.groupBy("key_name")
        .agg(
            F.count("*").alias("n_distinct"),
            F.sum("n").cast("bigint").alias("n_rows"),
            F.max("n").cast("bigint").alias("hot_key_rows"),
        )
        .withColumn(
            "hot_share_ppm",
            F.expr("hot_key_rows * 1000000 DIV n_rows").cast("bigint"),
        )
        .orderBy("key_name")
    )


# --------------------------------------------------------------------------
# Null-safe equality join battery — `<=>` / IS NOT DISTINCT FROM vs
# plain `=` on a nullable key. ETL merges on nullable business keys hit
# this constantly: standard equality silently drops NULL-keyed rows,
# null-safe equality pairs them. The battery outputs both match counts
# plus the NULL-key row counts per side so the delta is attributable.
#
# Key: c_nationkey with every 5th nation NULLed (NULLIF(k % 5, 4) —
# deterministic), joined against the nation dimension under both
# semantics. Scale: the dimension side broadcasts; null-safe equality
# hashes NULL as an ordinary key value (one bucket — bounded here by the
# dimension, and at fact-fact scale NULL keys are exactly the skew bucket
# the diagnostics query flags).
# --------------------------------------------------------------------------
@_register(
    "null_safe_join_battery",
    """
    WITH c AS (
      SELECT c_custkey,
             CASE WHEN c_nationkey % 5 = 4 THEN NULL
                  ELSE c_nationkey END AS k
      FROM customer
    ),
    n AS (
      SELECT CASE WHEN n_nationkey % 5 = 4 THEN NULL
                  ELSE n_nationkey END AS k,
             n_name
      FROM nation
    )
    SELECT 'customers_total' AS metric, COUNT(*) AS n FROM c
    UNION ALL
    SELECT 'customers_null_key', COUNT(*) FROM c WHERE k IS NULL
    UNION ALL
    SELECT 'nations_null_key', COUNT(*) FROM n WHERE k IS NULL
    UNION ALL
    SELECT 'eq_matches', COUNT(*) FROM c JOIN n ON c.k = n.k
    UNION ALL
    SELECT 'null_safe_matches', COUNT(*)
    FROM c JOIN n ON c.k IS NOT DISTINCT FROM n.k
    ORDER BY metric
    """,
)
def null_safe_join_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Match counts under `=` vs null-safe `<=>` on a nullable key, plus
    the per-side NULL-key counts that explain the difference. Oracle uses
    IS NOT DISTINCT FROM."""
    null_key = lambda col: F.when(  # noqa: E731
        col % 5 == 4, F.lit(None).cast("bigint")
    ).otherwise(col.cast("bigint"))
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", null_key(F.col("c_nationkey")).alias("k")
    )
    nat = load_table(spark, sf_dir, "nation").select(
        null_key(F.col("n_nationkey")).alias("k"), "n_name"
    )

    def _metric(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").alias("n")).select(
            F.lit(name).alias("metric"), "n"
        )

    return (
        _metric("customers_total", cust)
        .unionByName(_metric("customers_null_key", cust.filter(F.col("k").isNull())))
        .unionByName(_metric("nations_null_key", nat.filter(F.col("k").isNull())))
        .unionByName(
            _metric("eq_matches", cust.join(F.broadcast(nat), cust["k"] == nat["k"]))
        )
        .unionByName(
            _metric(
                "null_safe_matches",
                cust.join(F.broadcast(nat), cust["k"].eqNullSafe(nat["k"])),
            )
        )
        .orderBy("metric")
    )


# --------------------------------------------------------------------------
# Exact weighted median — per return flag, the l_extendedprice value at
# which cumulative l_quantity crosses half the total: the
# quantity-weighted "typical price" robust to both price and volume
# outliers. Ties in price cannot change the answer (the crossing lands
# inside a tie group, whose value is fixed regardless of intra-group
# order), so the row-frame cumulative sum is deterministic.
#
# Scale: one cumulative-sum window per group + a broadcast of the
# per-group totals. Grouping is low-cardinality (3 flags), so each
# window partition is a per-key sort — at 100 TB the two-pass
# histogram-bin respelling (coarse value bins, then an exact pass over
# the crossing bin only) replaces the full per-key sort; the declared
# semantics are unchanged.
# --------------------------------------------------------------------------
@_register(
    "weighted_median_price_by_flag",
    """
    WITH x AS (
      SELECT l_returnflag AS flag,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
    ),
    tot AS (SELECT flag, SUM(w) AS tw, COUNT(*) AS n FROM x GROUP BY flag),
    ranked AS (
      SELECT flag, cents, w,
             SUM(w) OVER (PARTITION BY flag ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cw
      FROM x
    )
    SELECT r.flag,
           MIN(r.cents) AS wmedian_cents,
           CAST(t.tw AS BIGINT) AS total_weight,
           CAST(t.n AS BIGINT) AS n_rows
    FROM ranked r JOIN tot t USING (flag)
    WHERE 2 * r.cw >= t.tw
    GROUP BY r.flag, t.tw, t.n
    ORDER BY r.flag
    """,
)
def weighted_median_price_by_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantity-weighted exact median price per return flag via the
    cumulative-weight crossing point — deterministic under price ties.
    Oracle replays the identical window + threshold."""
    li = load_table(spark, sf_dir, "lineitem")
    x = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("bigint")
        .alias("cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )

    x = materialize(x)  # read by totals and the ranking window
    tot = x.groupBy("flag").agg(
        F.sum("w").alias("tw"), F.count("*").alias("n")
    )
    w_cum = (
        W.partitionBy("flag")
        .orderBy("cents")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ranked = x.select(
        "flag", "cents", F.sum("w").over(w_cum).alias("cw")
    )
    return (
        ranked.join(F.broadcast(tot), "flag")
        .filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("flag", "tw", "n")
        .agg(F.min("cents").alias("wmedian_cents"))
        .select(
            "flag",
            "wmedian_cents",
            F.col("tw").cast("bigint").alias("total_weight"),
            F.col("n").cast("bigint").alias("n_rows"),
        )
        .orderBy("flag")
    )


# --------------------------------------------------------------------------
# Column profiling report — per column of lineitem: row/null/distinct
# counts and min/max rendered through type-pinned formatting (bigints as
# decimal strings, doubles as integer cents, dates as yyyy-MM-dd), the
# data-profiling pass every ingestion pipeline runs before trusting a
# new feed. ONE aggregate pass computes all 11 columns' stats (44
# aggregate expressions share the scan); the 11-row report is projected
# from the single result row — no per-column scans.
#
# Scale: exact COUNT(DISTINCT) per column is the honest spelling here;
# at 100 TB you swap the distinct counts to approx_count_distinct (the
# approx battery shows the self-verifying pattern) and keep the rest.
# --------------------------------------------------------------------------
_PROFILE_COLS = [
    ("l_orderkey", "int"),
    ("l_partkey", "int"),
    ("l_suppkey", "int"),
    ("l_linenumber", "int"),
    ("l_quantity", "dbl"),
    ("l_extendedprice", "dbl"),
    ("l_discount", "dbl"),
    ("l_tax", "dbl"),
    ("l_returnflag", "str"),
    ("l_linestatus", "str"),
    ("l_shipdate", "date"),
]


def _duck_profile_minmax(c: str, kind: str, agg: str) -> str:
    if kind == "int":
        return f"CAST({agg}({c}) AS VARCHAR)"
    if kind == "dbl":
        return f"CAST(CAST(ROUND({agg}({c}) * 100, 0) AS BIGINT) AS VARCHAR)"
    if kind == "date":
        return f"STRFTIME({agg}({c}), '%Y-%m-%d')"
    return f"{agg}({c})"


@_register(
    "profile_columns_lineitem",
    "\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           COUNT(DISTINCT {c}) AS n_distinct,
           {_duck_profile_minmax(c, k, 'MIN')} AS min_repr,
           {_duck_profile_minmax(c, k, 'MAX')} AS max_repr
    FROM lineitem"""
        for c, k in _PROFILE_COLS
    )
    + "\nORDER BY col_name",
)
def profile_columns_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of lineitem (rows, nulls, exact distincts,
    type-pinned min/max strings) computed in ONE aggregate pass over the
    scan. Oracle recomputes each column's stats independently."""
    li = load_table(spark, sf_dir, "lineitem")

    def _minmax(c: str, kind: str, agg) -> F.Column:
        col = agg(F.col(c))
        if kind == "int":
            return col.cast("bigint").cast("string")
        if kind == "dbl":
            return (
                F.round(col * 100, 0).cast("bigint").cast("string")
            )
        if kind == "date":
            return F.date_format(col, "yyyy-MM-dd")
        return col

    # One pass for everything EXCEPT the distinct counts: putting 11
    # COUNT(DISTINCT) into one aggregate triggers Spark's Expand rewrite
    # (every row replicated once per distinct column, grouped on a
    # 12-wide key) — measured 30-44 s at sf0.1 vs ~2 s for this split.
    # Each distinct count instead runs as its own column-pruned
    # two-stage aggregate (partial distinct per partition, tiny final).
    aggs = [F.count("*").alias("n_rows")]
    for c, k in _PROFILE_COLS:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"{c}__nulls"),
            _minmax(c, k, F.min).alias(f"{c}__min"),
            _minmax(c, k, F.max).alias(f"{c}__max"),
        ]

    row = materialize(li.agg(*aggs))  # one pass; 11 projections read it
    dists = [
        li.select(c)
        .agg(F.countDistinct(c).alias("n_distinct"))
        .select(F.lit(c).alias("col_name"), "n_distinct")
        for c, _k in _PROFILE_COLS
    ]
    dist = dists[0]
    for d in dists[1:]:
        dist = dist.unionByName(d)
    parts = [
        row.select(
            F.lit(c).alias("col_name"),
            F.col("n_rows"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__min").alias("min_repr"),
            F.col(f"{c}__max").alias("max_repr"),
        )
        for c, _k in _PROFILE_COLS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (
        out.join(F.broadcast(dist), "col_name")
        .select(
            "col_name",
            "n_rows",
            "n_nulls",
            "n_distinct",
            "min_repr",
            "max_repr",
        )
        .orderBy("col_name")
    )


# --------------------------------------------------------------------------
# Forward as-of join with tolerance — for each purchase, the user's
# FIRST error at-or-after it, kept only within a 1 h tolerance (did the
# purchase precede a failure?). Same union + ordered-window pattern as
# the backward as-of (no native as-of in Spark): ONE shuffle on user_id,
# one ordered pass, first_value(ignore nulls) over the FOLLOWING frame —
# the per-row range join it replaces is O(n·m) per user.
# --------------------------------------------------------------------------
@_register(
    "asof_join_next_error",
    """
    WITH u AS (
      SELECT user_id, ts, event_id, NULL::TIMESTAMP AS e_ts, 0 AS kind
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, NULL, ts, 1 FROM events WHERE event_type = 'error'
    ),
    j AS (
      SELECT user_id, ts, event_id, kind,
             FIRST_VALUE(e_ts IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, kind
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_e
      FROM u)
    SELECT event_id, user_id,
           STRFTIME(ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           STRFTIME(CASE WHEN next_e <= ts + INTERVAL 1 HOUR THEN next_e END,
                    '%Y-%m-%d %H:%M:%S.%f') AS next_error_ts,
           CASE WHEN next_e <= ts + INTERVAL 1 HOUR THEN 1 ELSE 0 END
             AS error_within_1h
    FROM j WHERE kind = 0
    ORDER BY user_id, event_id
    """,
)
def asof_join_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase paired with the user's first error at-or-after it,
    NULL beyond the 1 h tolerance — the forward as-of twin of
    asof_join_last_purchase, same single-shuffle union+window shape."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None).cast("timestamp_ntz").alias("e_ts"),
        F.lit(0).alias("kind"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.lit(None).cast("bigint").alias("event_id"),
        F.col("ts").alias("e_ts"),
        F.lit(1).alias("kind"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    in_tol = F.col("next_e") <= F.col("ts") + F.expr("INTERVAL 1 HOUR")
    return (
        purchases.unionByName(errors)
        .withColumn("next_e", F.first("e_ts", ignorenulls=True).over(w))
        .filter(F.col("kind") == 0)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", fmt).alias("purchase_ts"),
            F.date_format(F.when(in_tol, F.col("next_e")), fmt).alias(
                "next_error_ts"
            ),
            F.when(in_tol, 1).otherwise(0).alias("error_within_1h"),
        )
        .orderBy("user_id", "event_id")
    )


# --------------------------------------------------------------------------
# SQL pipe syntax (Spark 4's |> operator chain, SPARK-49555): the same
# daily rollup a dashboard runs, spelled as a linear FROM → EXTEND →
# AGGREGATE → ORDER BY pipeline. Semantically identical to the nested
# GROUP BY the oracle runs — pipe syntax is pure surface, Catalyst plans
# it as the ordinary aggregate (hash agg with map-side partials).
# --------------------------------------------------------------------------
_SQL_PIPE = """
    FROM events
    |> EXTEND date_format(ts, 'yyyy-MM-dd') AS day,
              CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
    |> AGGREGATE COUNT(*) AS n_events, SUM(cents) AS sum_cents
       GROUP BY event_type, day
    |> ORDER BY event_type, day
"""


@_register(
    "sql_pipe_daily_rollup",
    """
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events
    GROUP BY 1, 2
    ORDER BY event_type, day
    """,
)
def sql_pipe_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_loader_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_PIPE)


# --------------------------------------------------------------------------
# B4-adjacent — Bloom-filter join prefilter, audited. Builds a 2048-bit /
# 3-hash Bloom filter over the BUILDING-segment customer keys, probes
# every order against it, and reports the filter's quality: true members
# passed, false positives admitted, and the zero-false-negative guarantee
# — the runtime-filter pattern (Spark's own bloom-filter join hint, Leis
# et al.) spelled explicitly so the oracle can audit it.
#
# Scale: the filter is a ≤2048-row (bit) frame built by a map-side-
# combined distinct over the dimension side, then BROADCAST to the fact
# probe — three broadcast-hash lookups per order, no shuffle of orders;
# the final report is a partial-aggregated scalar row.
# --------------------------------------------------------------------------
_BF_M = 2048  # bits
_BF_K = 3  # hash functions

_DUCK_BF_BIT = (
    "CAST(('0x' || substring(md5('bf{i}:' || CAST({key} AS VARCHAR)), 1, 8)) "
    f"AS BIGINT) % {_BF_M}"
)


@_register(
    "bloom_prefilter_orders",
    f"""
    WITH build AS (
      SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    bits AS (
      SELECT DISTINCT b FROM (
        {' UNION ALL '.join(
            f"SELECT {_DUCK_BF_BIT.format(i=i, key='c_custkey')} AS b FROM build"
            for i in range(_BF_K)
        )})
    ),
    probe AS (
      SELECT o.o_orderkey, o.o_custkey,
             {' AND '.join(
                f"EXISTS (SELECT 1 FROM bits WHERE b = "
                f"{_DUCK_BF_BIT.format(i=i, key='o.o_custkey')})"
                for i in range(_BF_K)
             )} AS bloom_hit,
             EXISTS (SELECT 1 FROM build WHERE c_custkey = o.o_custkey)
               AS is_member
      FROM orders o
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bloom_hits,
           CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_members,
           CAST(SUM(CASE WHEN bloom_hit AND NOT is_member THEN 1 ELSE 0 END)
             AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN is_member AND NOT bloom_hit THEN 1 ELSE 0 END)
             AS BIGINT) AS n_false_neg,
           CAST(10000 * SUM(CASE WHEN bloom_hit AND NOT is_member THEN 1 ELSE 0 END)
             // GREATEST(COUNT(*) - SUM(CASE WHEN is_member THEN 1 ELSE 0 END), 1)
             AS BIGINT) AS fp_rate_bps
    FROM probe
    """,
)
def bloom_prefilter_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit a 2048-bit/3-hash Bloom prefilter of orders by customer segment."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    build = (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .distinct()
    )

    def _bit(i: int, key) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"bf{i}:"), key.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % _BF_M
        )

    # build feeds 4 consumers (3 bit projections + members) and bits
    # feeds 3 — materialize each once so customer is scanned once, not 4x
    build = materialize(build)
    bits = materialize(
        build.select(
            F.explode(
                F.array(*[_bit(i, F.col("c_custkey")) for i in range(_BF_K)])
            ).alias("b")
        ).distinct()
    )
    members = build.select(F.col("c_custkey").alias("o_custkey")).withColumn(
        "m", F.lit(1)
    )
    probe = orders.select("o_orderkey", "o_custkey")
    for i in range(_BF_K):
        bi = bits.select(F.col("b").alias(f"b{i}")).withColumn(f"h{i}", F.lit(1))
        probe = probe.withColumn(f"b{i}", _bit(i, F.col("o_custkey"))).join(
            F.broadcast(bi), f"b{i}", "left"
        )
    probe = probe.join(F.broadcast(members), "o_custkey", "left")
    bloom_hit = (
        (F.col("h0") == 1) & (F.col("h1") == 1) & (F.col("h2") == 1)
    )
    is_member = F.col("m") == 1
    hit_i = F.when(bloom_hit, 1).otherwise(0)
    mem_i = F.when(is_member, 1).otherwise(0)
    fp_i = F.when(bloom_hit & ~is_member.eqNullSafe(True), 1).otherwise(0)
    fn_i = F.when(is_member & ~bloom_hit.eqNullSafe(True), 1).otherwise(0)
    totals = probe.agg(
        F.count("*").cast("bigint").alias("n_probes"),
        F.sum(hit_i).cast("bigint").alias("n_bloom_hits"),
        F.sum(mem_i).cast("bigint").alias("n_members"),
        F.sum(fp_i).cast("bigint").alias("n_false_pos"),
        F.sum(fn_i).cast("bigint").alias("n_false_neg"),
    )
    # integer div over the already-aggregated columns — one spelling of
    # the FP/membership predicates (fp_i/mem_i above), reused here
    return totals.withColumn(
        "fp_rate_bps",
        F.expr(
            "CAST(10000 * n_false_pos div "
            "GREATEST(n_probes - n_members, CAST(1 AS BIGINT)) AS BIGINT)"
        ),
    )


# --------------------------------------------------------------------------
# Planner-support sketch — bucketed join-cardinality estimation: the
# output size of orders ⋈ lineitem (on orderkey) is estimated from two
# 256-bucket key histograms as Σ_b N1(b)·N2(b), which upper-bounds the
# exact Σ_k n1(k)·n2(k) (keys collapsed into a bucket can only add
# cross-terms). The audit emits both numbers and the bound verdict —
# what a cost-based planner consults before picking a join strategy,
# spelled as a query so the oracle can check the math.
#
# Scale: the histograms are FIXED 256-row aggregates (map-side
# combined); the estimate is a 256-row join. The exact side needs the
# per-key count join — still cheaper than the join itself (carries
# (key, count) pairs, not rows) and exactly what ANALYZE TABLE would
# sample at 100 TB.
# --------------------------------------------------------------------------
_JCE_B = 256


@_register(
    "join_cardinality_estimate",
    f"""
    WITH h1 AS (
      SELECT hash_b, COUNT(*) AS c FROM (
        SELECT CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
               AS BIGINT) % {_JCE_B} AS hash_b FROM orders)
      GROUP BY hash_b
    ),
    h2 AS (
      SELECT hash_b, COUNT(*) AS c FROM (
        SELECT CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))
               AS BIGINT) % {_JCE_B} AS hash_b FROM lineitem)
      GROUP BY hash_b
    ),
    est AS (
      SELECT CAST(SUM(h1.c * h2.c) AS BIGINT) AS est_rows
      FROM h1 JOIN h2 ON h1.hash_b = h2.hash_b
    ),
    k1 AS (SELECT o_orderkey AS k, COUNT(*) AS c FROM orders GROUP BY 1),
    k2 AS (SELECT l_orderkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1),
    exact AS (
      SELECT CAST(SUM(k1.c * k2.c) AS BIGINT) AS exact_rows
      FROM k1 JOIN k2 ON k1.k = k2.k
    )
    SELECT e.est_rows, x.exact_rows,
           e.est_rows >= x.exact_rows AS upper_bound_ok,
           CAST(10000 * (e.est_rows - x.exact_rows)
                // GREATEST(x.exact_rows, 1) AS BIGINT) AS overest_bps
    FROM est e CROSS JOIN exact x
    """,
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """256-bucket histogram estimate of |orders ⋈ lineitem| vs exact."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    def _hist(df: DataFrame, key: str) -> DataFrame:
        b = (
            F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % _JCE_B
        )
        return df.groupBy(b.alias("hash_b")).agg(F.count("*").alias("c"))

    h1 = _hist(orders, "o_orderkey").withColumnRenamed("c", "c1")
    h2 = _hist(lineitem, "l_orderkey").withColumnRenamed("c", "c2")
    est = (
        h1.join(F.broadcast(h2), "hash_b")
        .agg(F.sum(F.col("c1") * F.col("c2")).cast("bigint").alias("est_rows"))
    )
    k1 = orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count("*").alias("kc1")
    )
    k2 = lineitem.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count("*").alias("kc2")
    )
    exact = k1.join(k2, "k").agg(
        F.sum(F.col("kc1") * F.col("kc2")).cast("bigint").alias("exact_rows")
    )
    return est.crossJoin(exact).select(
        "est_rows",
        "exact_rows",
        (F.col("est_rows") >= F.col("exact_rows")).alias("upper_bound_ok"),
        F.expr(
            "CAST(10000 * (est_rows - exact_rows)"
            " div GREATEST(exact_rows, CAST(1 AS BIGINT)) AS BIGINT)"
        ).alias("overest_bps"),
    )


# --------------------------------------------------------------------------
# B10 extension — mergeable-sketch rollup (Apache DataSketches HLL,
# built into Spark 4): per-(type, day) HLL sketches are built first,
# then UNIONED per type — the "persist daily sketches, merge into
# monthly distinct counts" pattern that replaces count-distinct
# reprocessing at warehouse scale. Self-verifying like
# approx_distinct_users: the oracle checks the exact side and asserts
# the two verdict columns — the merged estimate lands within 5% of
# exact (lgK=14 ≈ 0.8%·1σ, so 5% ≈ 6σ), and the merged estimate
# agrees with sketching the month directly to within 2%. The second
# verdict was first spelled as exact equality ("union is lossless"),
# which is TRUE only while the sketch stays in sparse/exact mode
# (n_distinct ≲ 2^lgK): in estimation mode a directly-built
# DataSketches HLL answers from its HIP (historical inverse
# probability) estimator, while a union result must fall back to the
# composite estimator — HIP does not survive merging, so the two
# estimates differ by design (Dataworks/DataSketches documented
# semantics, ~1σ apart). The sf1 synthetic decade caught the equality
# spelling (15000 distinct/type > 16384-bucket sparse bound → 6 bps
# divergence); 2% ≈ 2.5σ at lgK=14 stays a real assertion — a broken
# union diverges by orders of magnitude, not basis points.
#
# Scale: daily sketches are fixed-size binaries (≤ ~10 KB at lgK=14);
# the per-type merge shuffles |types|×|days| sketch rows, never user
# ids. The exact audit side is the same count-distinct the query
# replaces — at 100 TB you run it once to certify, then trust sketches.
# --------------------------------------------------------------------------
@_register(
    "hll_sketch_rollup",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS BIGINT) AS n_days,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS merged_within_5pct,
           TRUE AS merge_agrees_within_2pct
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily HLL sketches unioned per type, audited against exact counts."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "user_id",
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est"),
    )
    direct = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(14))
        ).alias("direct_est"),
    )
    return (
        merged.join(direct, "event_type")
        .select(
            "event_type",
            "n_days",
            "exact_users",
            (
                F.abs(F.col("merged_est").cast("double") - F.col("exact_users"))
                / F.greatest(F.col("exact_users"), F.lit(1))
                <= F.lit(0.05)
            ).alias("merged_within_5pct"),
            (
                F.abs(
                    F.col("merged_est").cast("double")
                    - F.col("direct_est").cast("double")
                )
                / F.greatest(F.col("direct_est").cast("double"), F.lit(1.0))
                <= F.lit(0.02)
            ).alias("merge_agrees_within_2pct"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Profiling — functional-dependency audit: does A → B hold? Checked the
# metric way (Huhtala et al., TANE): A → B holds iff the number of
# distinct A values equals the number of distinct (A, B) pairs. Audits
# a declared candidate list spanning true keys, true FDs, and
# violations, emitting the witness counts — the schema-inference signal
# a profiler feeds to constraint discovery.
#
# Scale: each candidate is two count-distinct aggregates over (A) and
# (A, B) — partial-aggregated shuffles of key tuples only; candidates
# are independent and union cheaply (Spark runs them as one job).
# --------------------------------------------------------------------------
_FD_CANDIDATES = (
    # (table, lhs, rhs) — mix of holding and violated dependencies
    ("customer", "c_custkey", "c_nationkey"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("nation", "n_nationkey", "n_regionkey"),
    ("orders", "o_orderkey", "o_orderstatus"),
    ("orders", "o_custkey", "o_orderpriority"),
)


@_register(
    "functional_dependency_audit",
    "\nUNION ALL\n".join(
        f"""
    SELECT '{t}' AS tbl, '{a} -> {b}' AS fd,
           CAST(COUNT(DISTINCT {a}) AS BIGINT) AS n_lhs,
           CAST(COUNT(DISTINCT ({a}, {b})) AS BIGINT) AS n_pairs,
           COUNT(DISTINCT {a}) = COUNT(DISTINCT ({a}, {b})) AS holds
    FROM {t}"""
        for t, a, b in _FD_CANDIDATES
    )
    + "\nORDER BY tbl, fd",
)
def functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TANE-style A→B check: distinct(A) == distinct(A,B) per candidate."""
    parts = []
    for t, a, b in _FD_CANDIDATES:
        df = load_table(spark, sf_dir, t)
        parts.append(
            df.agg(
                F.countDistinct(a).cast("bigint").alias("n_lhs"),
                F.countDistinct(a, b).cast("bigint").alias("n_pairs"),
            ).select(
                F.lit(t).alias("tbl"),
                F.lit(f"{a} -> {b}").alias("fd"),
                "n_lhs",
                "n_pairs",
                (F.col("n_lhs") == F.col("n_pairs")).alias("holds"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("tbl", "fd")


# --------------------------------------------------------------------------
# LATERAL correlated subquery join (Spark 4 SQL): top-2 customers by
# account balance per nation, spelled as a lateral subquery with a
# correlated predicate + ORDER BY/LIMIT — the SQL-standard form of
# "top-k per group". Catalyst rewrites the lateral into a window-ranked
# join (DomainJoin elimination), so the physical plan is the same
# shuffle-once rank the DataFrame spelling produces; the identical SQL
# string runs on DuckDB as the oracle.
#
# Scale: one shuffle of customer on c_nationkey + a per-key rank — no
# per-nation re-scan despite the correlated spelling; nation is a
# dimension and rides broadcast.
# --------------------------------------------------------------------------
_SQL_LATERAL_TOPK = """
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_name, c_acctbal FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 2
    ) t
    ORDER BY n.n_name, c_acctbal DESC, c_name
"""


@_register("sql_lateral_topk_customers", _SQL_LATERAL_TOPK)
def sql_lateral_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_loader_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_LATERAL_TOPK)


# --------------------------------------------------------------------------
# B19+ — XML function battery: construct an XML document per event with
# to_xml(struct(...)), parse it back with from_xml, and extract fields a
# second, independent way with xpath_long/xpath_string/xpath_int; the
# aggregate asserts the struct-parse and the xpath-parse agree row-for-row
# and that the round-tripped values sum to what the raw columns sum to
# (which is exactly what the oracle recomputes from the raw columns —
# any construct/parse/extract infidelity breaks the hash).
#
# Scale: map-only string codec work per row (whole-stage codegen for the
# construction; xpath compiles once per task) + one partial-aggregated
# shuffle on the 5-value event_type key. The event_id < 2000 gate is
# pushed to the parquet scan.
# --------------------------------------------------------------------------
@_register(
    "xml_funcs_events_props",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_id,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
             AS sum_k,
           CAST(COUNT(*) AS BIGINT) AS n_roundtrip,
           CAST(COUNT(*) AS BIGINT) AS n_xpath_agree
    FROM events
    WHERE event_id < 2000
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def xml_funcs_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    doc = ev.select(
        "event_type",
        F.to_xml(
            F.struct(
                F.col("event_id").alias("id"),
                F.col("event_type").alias("etype"),
                F.get_json_object("props", "$.k").cast("int").alias("k"),
            ),
            {"rowTag": "ev"},
        ).alias("xml"),
    )
    parsed = doc.select(
        "event_type",
        F.from_xml("xml", "id bigint, etype string, k int", {"rowTag": "ev"}).alias(
            "p"
        ),
        F.xpath_long("xml", F.lit("/ev/id")).alias("xp_id"),
        F.xpath_string("xml", F.lit("/ev/etype")).alias("xp_etype"),
        F.xpath_int("xml", F.lit("/ev/k")).alias("xp_k"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("p.id").alias("sum_id"),
            F.sum("xp_k").cast("bigint").alias("sum_k"),
            F.sum(
                (
                    (F.col("p.etype") == F.col("event_type"))
                    & (F.col("xp_etype") == F.col("event_type"))
                ).cast("int")
            ).alias("n_roundtrip"),
            F.sum(
                ((F.col("xp_id") == F.col("p.id")) & (F.col("xp_k") == F.col("p.k")))
                .cast("int")
            ).alias("n_xpath_agree"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# B15+ — URL function battery: construct a canonical URL per document
# (host from source, path from doc_id, query carrying the language and
# a url_encoded text prefix), then take it apart again with
# parse_url(HOST/PATH/QUERY-key) and url_decode — the
# canonicalize/extract surface a web-scrape curation pipeline leans on
# (per-domain mixing, URL dedup, query-param stripping). The aggregate
# counts rows where each extracted component matches what the raw columns
# say it must be; the oracle recomputes those expectations directly
# from the columns, so any construct/parse/encode/decode infidelity
# breaks the hash.
#
# Scale: map-only string work per row (JVM-side, whole-stage codegen) +
# one partial-aggregated shuffle on the 20-value source key.
# --------------------------------------------------------------------------
@_register(
    "url_funcs_battery",
    """
    SELECT source,
           source || '.example.com' AS host,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN lang IN ('en','de','fr','es','zh')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_ok,
           CAST(COUNT(*) AS BIGINT) AS n_path_ok,
           CAST(COUNT(*) AS BIGINT) AS n_q_roundtrip
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def url_funcs_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&q="),
        F.url_encode(F.substring("text", 1, 10)),
    )
    parsed = docs.select(
        "source",
        "lang",
        "doc_id",
        F.substring("text", 1, 10).alias("q_expect"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("q_lang"),
        F.url_decode(F.parse_url(url, F.lit("QUERY"), F.lit("q"))).alias(
            "q_text"
        ),
    )
    return (
        parsed.groupBy("source", "host")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("q_lang") == F.col("lang")).cast("int"))
            .cast("bigint")
            .alias("n_lang_ok"),
            F.sum(
                (
                    F.col("path")
                    == F.concat(F.lit("/docs/"), F.col("doc_id").cast("string"))
                ).cast("int")
            )
            .cast("bigint")
            .alias("n_path_ok"),
            F.sum((F.col("q_text") == F.col("q_expect")).cast("int"))
            .cast("bigint")
            .alias("n_q_roundtrip"),
        )
        .orderBy("source")
    )
