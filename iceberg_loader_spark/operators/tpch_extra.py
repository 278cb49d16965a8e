"""Extended TPC-H-shaped query battery (SURVEY.md §2 B2–B13).

Adaptations of TPC-H Q4/Q6/Q7/Q8/Q9/Q10/Q12/Q13/Q14/Q15/Q16/Q17/Q18/Q19/Q22
to the driver testdata's schema (no partsupp table, no
commitdate/receiptdate/shipmode/phone columns — predicates on those are
re-expressed over the columns that exist; see TESTDATA.md). Determinism
follows the rules at the top of ``relational.py``: decimal(18,2) exact
sums, one final IEEE division, explicit tie-broken ordering.

Scale notes inline; the common shape: fact-fact joins shuffle on orderkey
(the natural co-partition key — bucketing both tables on orderkey at write
time makes these joins shuffle-free), dimensions broadcast, aggregates are
partially aggregated map-side.
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
    return F.col(c).cast(f"decimal(18,{scale})")


def _ts(s: str):
    return F.lit(s).cast("timestamp_ntz")


# --------------------------------------------------------------------------
# Q4 shape — order-priority checking via EXISTS (left-semi join).
# Late = any lineitem shipped > 60 days after the order date.
# Scale: semi-join on orderkey; the EXISTS side is pre-filtered before the
# shuffle so only late orderkeys move.
# --------------------------------------------------------------------------
@_register(
    "q4_priority_late_ship",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1997-01-01 00:00:00"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Q6 shape — forecasting revenue change: tight scan-filter-aggregate.
# Scale: no join, no wide shuffle; predicate pushes to the parquet scan.
# --------------------------------------------------------------------------
@_register(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
        & (F.col("l_discount") >= 0.04)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(_dec("l_extendedprice") * _dec("l_discount"))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


# --------------------------------------------------------------------------
# Q7 shape — volume shipping between two nations, by year.
# Supplier nation from lineitem→supplier, customer nation from
# lineitem→orders→customer. Scale: nation/supplier/customer broadcast;
# the one big shuffle is lineitem⋈orders on orderkey.
# --------------------------------------------------------------------------
@_register(
    "q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(year FROM l_shipdate) AS l_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c_nationkey
      WHERE ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
          OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nkey") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("c_nkey") == F.col("c_nationkey"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_18")
                & (F.col("cust_nation") == "NATION_19")
            )
            | (
                (F.col("supp_nation") == "NATION_19")
                & (F.col("cust_nation") == "NATION_18")
            )
        )
    )
    volume = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
            volume.alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("volume").cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# Q8 shape — market share of one supplier-nation among a region's
# customers for one part type, by year. Share = exact-decimal nation
# volume / total volume, divided once as doubles.
# --------------------------------------------------------------------------
@_register(
    "q8_market_share",
    """
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
           COUNT(*) AS n_items
    FROM (
      SELECT EXTRACT(year FROM o_orderdate) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c_nationkey
      JOIN region ON r_regionkey = n2.n_regionkey
      WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
    )
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    volume = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    joined = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nkey") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("c_nkey") == F.col("c_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("c_rkey"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    nation_vol = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(
            F.lit(0).cast("decimal(18,2)")
        )
    )
    return (
        joined.groupBy("o_year")
        .agg(
            (nation_vol.cast("double") / F.sum("volume").cast("double")).alias(
                "mkt_share"
            ),
            F.count("*").alias("n_items"),
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# Q9 shape — product-line revenue by supplier nation and year (profit
# without ps_supplycost, which the testdata lacks).
# --------------------------------------------------------------------------
@_register(
    "q9_product_revenue",
    """
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_revenue
    FROM (
      SELECT n_name AS nation,
             EXTRACT(year FROM o_orderdate) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS amount
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN part ON p_partkey = l_partkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE p_name LIKE '%ring%'
    )
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%ring%"))
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    amount = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("amount").cast("double").alias("sum_revenue"))
        .orderBy("nation", F.desc("o_year"))
    )


# --------------------------------------------------------------------------
# Q10 shape — returned-item reporting: top 20 customers by lost revenue.
# Scale: orders is date-filtered before the orderkey shuffle; customer and
# nation broadcast; top-20 via TakeOrderedAndProject.
# --------------------------------------------------------------------------
@_register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal,
           n_name
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON n_nationkey = c_nationkey
    WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1998-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1998-07-01 00:00:00"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q12 shape — shipping-delay classes per order priority (shipmode column
# absent → classes keyed on priority urgency instead): late = shipped
# > 90 days after order date, in 1997.
# --------------------------------------------------------------------------
@_register(
    "q12_late_by_priority",
    """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                    THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
           CAST(SUM(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 90 DAY
                    THEN 1 ELSE 0 END) AS BIGINT) AS ontime_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q12_late_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
    return (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(late, 1).otherwise(0)).alias("late_count"),
            F.sum(F.when(~late, 1).otherwise(0)).alias("ontime_count"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Q13 shape — customer order-count distribution (left join + double agg).
# Scale: two shuffles (custkey, then count) — both carry tiny rows.
# --------------------------------------------------------------------------
@_register(
    "q13_order_count_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --------------------------------------------------------------------------
# Q14 shape — promotion revenue share in one month.
# --------------------------------------------------------------------------
@_register(
    "q14_promo_revenue",
    """
    SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                        THEN CAST(l_extendedprice AS DECIMAL(18,2))
                             * (1 - CAST(l_discount AS DECIMAL(18,2)))
                        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS promo_revenue_pct,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-09-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1997-10-01 00:00:00"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey")).agg(
        (F.lit(100.0) * F.sum(promo).cast("double") / F.sum(rev).cast("double")).alias(
            "promo_revenue_pct"
        ),
        F.count("*").alias("n_items"),
    )


# --------------------------------------------------------------------------
# Q15 shape — top supplier(s) by quarterly revenue. The scalar MAX is a
# separate one-row aggregate cross-joined (broadcast) against the
# per-supplier revenue frame — NOT a partition-less max-window, which
# would funnel every supplier's row through a single task; the revenue
# frame grows linearly with suppliers, so the window spelling dies at
# scale while the scalar-agg spelling stays fully parallel.
# --------------------------------------------------------------------------
@_register(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON supplier_no = s_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1998-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-04-01 00:00:00"))
    )
    per_supp = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
        .cast("double")
        .alias("total_revenue")
    )
    max_rev = per_supp.agg(F.max("total_revenue").alias("max_rev"))
    rev = (
        per_supp.join(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .drop("max_rev")
    )
    sup = load_table(spark, sf_dir, "supplier")
    return (
        sup.join(F.broadcast(rev), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q16 shape — supplier count per brand/type/size (partsupp absent →
# supplier-part relationships come from lineitem facts).
# --------------------------------------------------------------------------
@_register(
    "q16_parts_supplier_counts",
    """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 10, 15, 20, 25)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_size").isin(1, 5, 10, 15, 20, 25))
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# --------------------------------------------------------------------------
# Q17 shape — small-quantity-order revenue: lineitems under half the
# part's average quantity. The per-part average is an exact decimal sum
# divided once as doubles, so the comparison boundary is identical in both
# engines. Scale: the per-part aggregate is a broadcast-able side.
# --------------------------------------------------------------------------
@_register(
    "q17_small_qty_revenue",
    """
    WITH avg_qty AS (
      SELECT l_partkey AS a_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS part_avg
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN avg_qty ON a_partkey = l_partkey
    WHERE p_brand = 'Brand#2' AND l_quantity < 0.5 * part_avg
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    avg_qty = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.sum(_dec("l_quantity")).cast("double") / F.count("*")).alias("part_avg")
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(avg_qty, F.col("a_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("part_avg"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / 7.0).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Q18 shape — large-volume customers (group-filter on a fact aggregate,
# then enrich). Scale: the HAVING aggregate runs on (orderkey) before any
# dimension join; only qualifying orderkeys proceed.
# --------------------------------------------------------------------------
@_register(
    "q18_large_volume_customers",
    """
    WITH big AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
    )
    SELECT c_custkey, c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice, total_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty_dec"))
        .filter(F.col("qty_dec") > 300)
        .select("l_orderkey", F.col("qty_dec").cast("double").alias("total_qty"))
    )
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_s"),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
    )


# --------------------------------------------------------------------------
# Q19 shape — discounted revenue under OR'ed brand/size/quantity branches
# (the classic "pushdown-hostile" disjunction; Catalyst still prunes scans
# to the part join and evaluates the disjunction post-join).
# --------------------------------------------------------------------------
@_register(
    "q19_branded_discount_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def q19_branded_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Q22 shape — rich-but-idle customers: account balance above the positive
# average, no RECENT orders (anti-join against orders since 1999-01-01 —
# the driver testdata has no order-less customers at small SF, so "idle"
# is re-expressed as "inactive in the trailing window", which keeps the
# scalar-subquery + anti-join plan shape AND returns a real, value-tested
# result at every scale); "country code" re-expressed as nationkey bucket
# since the schema has no phone column.
# --------------------------------------------------------------------------
@_register(
    "q22_idle_rich_customers",
    """
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS positive_avg
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey % 5 AS cntry_bucket,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > positive_avg
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY c_nationkey % 5
    ORDER BY cntry_bucket
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    # pushed date filter: the anti-join build side is only the recent slice
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count("*")).alias("positive_avg")
    )
    bucket = (F.col("c_nationkey") % 5).alias("cntry_bucket")
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("positive_avg"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy(bucket)
        .agg(
            F.count("*").alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("cntry_bucket")
    )


# --------------------------------------------------------------------------
# Q21 shape — suppliers who kept multi-supplier orders waiting: their item
# shipped late (> 90 days after order date) on an order where some OTHER
# supplier also participated but NO other supplier shipped late.
# Scale: one orderkey-shuffled self-join feeding semi+anti joins — all
# equi-joins on the natural co-partition key.
# --------------------------------------------------------------------------
@_register(
    "q21_waiting_suppliers",
    """
    WITH l AS (
      SELECT l_orderkey, l_suppkey,
             CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                  THEN 1 ELSE 0 END AS late
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    )
    SELECT s_name, COUNT(DISTINCT l1.l_orderkey) AS numwait
    FROM l l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE l1.late = 1
      AND EXISTS (SELECT 1 FROM l l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM l l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey AND l3.late = 1)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    sup = load_table(spark, sf_dir, "supplier")

    # (l_orderkey, l_suppkey, late) feeds the semi, anti AND outer side of
    # the self-joins — materialize so the lineitem⋈orders join runs once,
    # not three times (Catalyst can't share the aliased subtrees pre-AQE)
    l = materialize(
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            F.when(
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("late"),
        )
    )
    l1 = l.filter(F.col("late") == 1).alias("l1")
    others = l.select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("o_supp")
    ).alias("l2")
    late_others = (
        l.filter(F.col("late") == 1)
        .select(F.col("l_orderkey").alias("lo_key"), F.col("l_suppkey").alias("lo_supp"))
        .alias("l3")
    )
    cand = l1.join(
        others,
        (F.col("o_key") == F.col("l1.l_orderkey"))
        & (F.col("o_supp") != F.col("l1.l_suppkey")),
        "left_semi",
    ).join(
        late_others,
        (F.col("lo_key") == F.col("l1.l_orderkey"))
        & (F.col("lo_supp") != F.col("l1.l_suppkey")),
        "left_anti",
    )
    return (
        cand.join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count_distinct("l_orderkey").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


# --------------------------------------------------------------------------
# Q2 shape — cheapest supplier per part in a region (partsupp absent →
# unit cost proxied by min(l_extendedprice / l_quantity) from lineitem
# facts). The per-part minimum joins back as a filter — the classic
# "argmin per group" via window rank on exact decimal unit cost.
# --------------------------------------------------------------------------
@_register(
    "q2_min_cost_supplier",
    """
    WITH costs AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(l_extendedprice AS DECIMAL(18,2)) / l_quantity) AS unit_cost
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      JOIN region ON r_regionkey = n_regionkey
      WHERE r_name = 'EUROPE'
      GROUP BY l_partkey, l_suppkey
    ),
    ranked AS (
      SELECT l_partkey, l_suppkey, unit_cost,
             ROW_NUMBER() OVER (PARTITION BY l_partkey
                                ORDER BY unit_cost, l_suppkey) AS rnk
      FROM costs
    )
    SELECT p_partkey, p_brand, s_name,
           CAST(unit_cost AS DOUBLE) AS unit_cost
    FROM ranked
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE rnk = 1 AND p_size <= 10
    ORDER BY p_partkey
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    unit_cost = _dec("l_extendedprice") / F.col("l_quantity")
    costs = (
        li.join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(unit_cost).alias("unit_cost"))
    )
    w = W.partitionBy("l_partkey").orderBy("unit_cost", "l_suppkey")
    ranked = costs.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") == 1)
    return (
        ranked.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            F.broadcast(sup.select("s_suppkey", "s_name")),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            F.col("unit_cost").cast("double").alias("unit_cost"),
        )
        .orderBy("p_partkey")
    )


# --------------------------------------------------------------------------
# Q11 shape — important stock by nation: value of each (nation, part)
# position from lineitem facts, kept when above 0.1% of the global total.
# Scalar-subquery threshold = exact decimal sum divided once as double.
# --------------------------------------------------------------------------
@_register(
    "q11_important_stock",
    """
    WITH pos AS (
      SELECT n_name, l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS value_dec
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      GROUP BY n_name, l_partkey
    )
    SELECT n_name, l_partkey, CAST(value_dec AS DOUBLE) AS part_value
    FROM pos
    WHERE CAST(value_dec AS DOUBLE)
          > 3.0 * (SELECT CAST(SUM(value_dec) AS DOUBLE) / COUNT(*) FROM pos)
    ORDER BY part_value DESC, n_name, l_partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    # pos feeds BOTH the scalar total and the threshold filter join —
    # materialize so the lineitem join+aggregate runs once, not twice
    pos = materialize(
        li.join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name", "l_partkey")
        .agg(F.sum(_dec("l_extendedprice")).alias("value_dec"))
    )
    # threshold = 3× the mean position value: scale-invariant (a fixed
    # global-share cutoff like TPC-H's 0.0001/SF goes vacuous as row count
    # grows), same scalar-subquery + broadcast-threshold plan shape
    total = pos.agg(
        (F.sum("value_dec").cast("double") / F.count("*")).alias("mean_v")
    )
    return (
        pos.join(F.broadcast(total))
        .filter(F.col("value_dec").cast("double") > 3.0 * F.col("mean_v"))
        .select(
            "n_name",
            "l_partkey",
            F.col("value_dec").cast("double").alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "n_name", "l_partkey")
    )


# --------------------------------------------------------------------------
# Q20 shape — suppliers holding excess share of a part's volume: suppliers
# whose shipped quantity of some PROMO part exceeds half that part's total
# shipped quantity in 1997.
# --------------------------------------------------------------------------
@_register(
    "q20_excess_share_suppliers",
    """
    WITH shipped AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS supp_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_partkey, l_suppkey
    ),
    totals AS (
      SELECT l_partkey AS t_partkey, SUM(supp_qty) AS part_qty FROM shipped
      GROUP BY l_partkey
    )
    SELECT DISTINCT s_suppkey, s_name
    FROM shipped
    JOIN totals ON t_partkey = l_partkey
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE p_type = 'PROMO'
      AND CAST(supp_qty AS DOUBLE) > 0.5 * CAST(part_qty AS DOUBLE)
    ORDER BY s_suppkey
    """,
)
def q20_excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    sup = load_table(spark, sf_dir, "supplier")

    # shipped feeds BOTH the per-part totals and the share join —
    # materialize so the lineitem aggregate runs once
    shipped = materialize(
        li.groupBy("l_partkey", "l_suppkey").agg(
            F.sum(_dec("l_quantity")).alias("supp_qty")
        )
    )
    totals = shipped.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("supp_qty").alias("part_qty")
    )
    return (
        shipped.join(totals, F.col("t_partkey") == F.col("l_partkey"))
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .filter(
            F.col("supp_qty").cast("double") > 0.5 * F.col("part_qty").cast("double")
        )
        .select("s_suppkey", "s_name")
        .distinct()
        .orderBy("s_suppkey")
    )
