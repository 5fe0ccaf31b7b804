"""Third analytical wave — the remaining classic join-tree shapes:
nation-pair volume (Q7), market share with conditional aggregation
over a join tree (Q8), argmax-of-aggregate (Q15), and a multi-level
semi/anti self-join chain (Q21 shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_extractor_spark.sources.parquet import load_table


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two specific nations by
    year — double nation join with an OR-of-pairs condition."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("volume")
        )
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       round(sum(volume), 4) AS volume
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
)
GROUP BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3's share of AMERICA-region revenue per
    order year — conditional aggregation over a 6-table join tree.
    The share ratio is rounded from raw sums (no intermediate rounds)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n_c = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cnk"), F.col("n_regionkey").alias("crk")
    )
    n_s = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_c), c.c_nationkey == F.col("cnk"))
        .join(F.broadcast(n_s), s.s_nationkey == F.col("snk"))
        .join(F.broadcast(r), F.col("crk") == r.r_regionkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q8_SQL = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0 END)
             / sum(volume), 4) AS mkt_share,
       count(*) AS n_lines
FROM (
  SELECT o_orderdate, n2.n_name AS supp_nation,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  WHERE r_name = 'AMERICA'
)
GROUP BY 1
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: argmax of an aggregate — supplier(s) whose
    quarterly revenue equals the maximum. The 'view' is a revenue agg
    joined against its own scalar max.

    Revenue is summed in DECIMAL, not double: ``revenue = max(revenue)``
    is a float EQUALITY at the argmax, and when several suppliers
    genuinely tie (the sf1 key-shifted replicas create exact 10-way
    ties) double summation ORDER decides which near-equal totals
    compare equal — each engine picked a different tied subset. Exact
    decimal money sums are order-independent, so the tie set is
    identical everywhere (same rule as events_totals_salted)."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    s = load_table(spark, sf_dir, "supplier")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc)).alias("_rev")
    )
    max_rev = revenue.agg(F.max("_rev").alias("_mx"))
    return (
        revenue.join(F.broadcast(max_rev), revenue._rev == max_rev._mx)
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            F.round(F.col("_rev").cast("double"), 4).alias("total_revenue"),
        )
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
       round(CAST(total_revenue AS DOUBLE), 4) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: multi-level semi + anti self-join — suppliers
    with a late line in a multi-supplier order where NO other supplier
    was late. Late = shipped after the order date + 60 days."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    li = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias("late"),
    )
    l1 = li.filter(F.col("late")).select("l_orderkey", "l_suppkey").distinct()
    # semi: another supplier has a line in the same order
    others = li.select("l_orderkey", F.col("l_suppkey").alias("o_supp")).distinct()
    has_other = l1.join(
        others,
        (l1.l_orderkey == others.l_orderkey) & (l1.l_suppkey != others.o_supp),
        "leftsemi",
    )
    # anti: no OTHER supplier was late in that order
    other_late = l1.select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("late_supp")
    )
    only_late = has_other.join(
        other_late,
        (has_other.l_orderkey == other_late.ok)
        & (has_other.l_suppkey != other_late.late_supp),
        "leftanti",
    )
    return (
        only_late.join(s, only_late.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


Q21_SQL = """
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), l1 AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM li WHERE late
)
SELECT s_name, count(*) AS numwait
FROM l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (
  SELECT 1 FROM li o WHERE o.l_orderkey = l1.l_orderkey
    AND o.l_suppkey <> l1.l_suppkey
)
AND NOT EXISTS (
  SELECT 1 FROM l1 o2 WHERE o2.l_orderkey = l1.l_orderkey
    AND o2.l_suppkey <> l1.l_suppkey
)
GROUP BY s_name
"""


QUERIES = {
    "q7_nation_volume": q7_nation_volume,
    "q8_market_share": q8_market_share,
    "q15_top_supplier": q15_top_supplier,
    "q21_waiting_suppliers": q21_waiting_suppliers,
}

ORACLES = {
    "q7_nation_volume": Q7_SQL,
    "q8_market_share": Q8_SQL,
    "q15_top_supplier": Q15_SQL,
    "q21_waiting_suppliers": Q21_SQL,
}
