"""Second wave of analytical queries — the operator classes the first
wave doesn't cover: semi/anti joins, correlated scalar subqueries
(decorrelated to join+agg), HAVING, disjunctive predicate pushdown,
distinct-count aggregation, and value-window functions (lag, rolling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_extractor_spark.sources.parquet import load_table


def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join, then count by priority."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    late = l.filter(F.col("l_shipdate") > F.lit("1996-07-01").cast("timestamp_ntz"))
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "leftsemi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o.o_orderkey AND l_shipdate > TIMESTAMP '1996-07-01'
  )
GROUP BY o_orderpriority
"""


def anti_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers that never placed an URGENT order, per
    segment (the unfiltered variant is empty at these SFs)."""
    c = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        c.join(urgent, c.c_custkey == urgent.o_custkey, "leftanti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
    )


ANTI_SQL = """
SELECT c_mktsegment, count(*) AS n_customers,
       round(avg(c_acctbal), 4) AS avg_acctbal
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c.c_custkey AND o_orderpriority = '1-URGENT'
)
GROUP BY c_mktsegment
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) decorrelated into an aggregate + broadcast join — Catalyst
    would do the same rewrite for the SQL form."""
    l = load_table(spark, sf_dir, "lineitem")
    avg_qty = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.avg("l_quantity") * 0.8).alias("qty_threshold")
    )
    return (
        l.join(avg_qty, l.l_partkey == avg_qty.pk)
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q17_SQL = """
SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly,
       count(*) AS n_lines
FROM lineitem l
WHERE l_quantity < (
  SELECT 0.8 * avg(l_quantity) FROM lineitem WHERE l_partkey = l.l_partkey
)
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a join-back — orders whose total
    quantity exceeds a threshold, with customer context."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_orderdate"),
            F.round("o_totalprice", 4).alias("o_totalprice"),
            F.round("total_qty", 4).alias("total_qty"),
        )
    )


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS o_orderdate,
       round(o_totalprice, 4) AS o_totalprice,
       round(total_qty, 4) AS total_qty
FROM (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
) big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate — exercises disjunctive
    filter pushdown and join-condition simplification."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    joined = l.join(p, l.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("l_quantity") <= 10) & (F.col("p_size") <= 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("l_quantity") > 10) & (F.col("p_size") > 10))
        | ((F.col("p_brand") == "Brand#3") & (F.col("l_quantity") > 25))
    )
    return joined.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


Q19_SQL = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity <= 10 AND p_size <= 20)
   OR (p_brand = 'Brand#2' AND l_quantity > 10 AND p_size > 10)
   OR (p_brand = 'Brand#3' AND l_quantity > 25)
"""


def distinct_suppliers_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: COUNT(DISTINCT) aggregation after a join."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_type")
        .agg(
            F.countDistinct("l_suppkey").alias("supplier_cnt"),
            F.countDistinct("l_partkey").alias("part_cnt"),
        )
    )


DISTINCT_SQL = """
SELECT p_type,
       count(DISTINCT l_suppkey) AS supplier_cnt,
       count(DISTINCT l_partkey) AS part_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_type
"""


def events_user_lag_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value windows over event time: per-user lag (seconds since the
    previous event) and a 5-row rolling mean of value."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wroll = w.rowsBetween(-4, 0)
    return e.select(
        "event_id",
        F.col("user_id").cast("long").alias("user_id"),
        # wall-clock diff on the NTZ column: instant-cast diffs cancel
        # the zone offset EXCEPT across a DST transition, where the gap
        # would gain/lose an hour under a DST session zone
        F.coalesce(
            F.timestamp_diff("MICROSECOND", F.lag("ts", 1).over(w), F.col("ts"))
            / 1_000_000.0,
            F.lit(-1.0),
        ).alias("gap_sec"),
        F.round(F.avg("value").over(wroll), 4).alias("rolling_avg_5"),
    )


LAG_ROLLING_SQL = """
SELECT event_id,
       CAST(user_id AS BIGINT) AS user_id,
       COALESCE(epoch_us(ts - lag(ts) OVER w) / 1000000.0, -1.0) AS gap_sec,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS rolling_avg_5
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


QUERIES = {
    "q4_priority_exists": q4_priority_exists,
    "anti_customers_no_orders": anti_customers_no_orders,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q18_large_orders": q18_large_orders,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "distinct_suppliers_per_type": distinct_suppliers_per_type,
    "events_user_lag_rolling": events_user_lag_rolling,
}

ORACLES = {
    "q4_priority_exists": Q4_SQL,
    "anti_customers_no_orders": ANTI_SQL,
    "q17_small_quantity_revenue": Q17_SQL,
    "q18_large_orders": Q18_SQL,
    "q19_disjunctive_revenue": Q19_SQL,
    "distinct_suppliers_per_type": DISTINCT_SQL,
    "events_user_lag_rolling": LAG_ROLLING_SQL,
}
