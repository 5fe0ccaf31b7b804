"""Fourth analytical wave — the remaining classic TPC-H plan shapes,
adapted to this dataset's columns (no partsupp / shipmode / phone):

- q9_profit_by_nation   : 5-way join tree + year extraction (Q9 shape)
- q11_important_parts   : HAVING against a global scalar subquery (Q11)
- q12_priority_class    : conditional CASE-sum over a join (Q12)
- q13_customer_distribution : outer join w/ ON-clause filter, then a
                          distribution-of-counts aggregation (Q13)
- q14_promo_revenue     : ratio of conditional sum to total (Q14)
- q16_supplier_part_counts : distinct-count with NOT IN exclusion,
                          lineitem as the part↔supplier bridge (Q16)
- q22_dormant_customers : scalar avg subquery + anti join (Q22)

Reference parity: these cover the remaining aggregate/join templates in
the reference's query layer (reference repo `src/queries/*` analytics
builders); semantics re-expressed declaratively so Catalyst picks the
physical strategy (broadcast for dims, partial aggregation map-side).

Scale notes: every dim-side join is broadcast; scalar subqueries are
computed once and broadcast as 1-row frames (no driver collect); the
Q13 outer join shuffles on o_custkey only — at 100 TB the orders side
is the large input, so the distribution agg remains two-phase partial.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_extractor_spark.sources.parquet import load_table


def q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: product-line profit by supplier nation and year.
    (No partsupp table: profit = discounted revenue.)"""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("profit")
        )
    )


Q9_SQL = """
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: per-part value HAVING sum > fraction of the GLOBAL
    total — the scalar subquery is a 1-row aggregate broadcast-joined
    against the grouped frame (never collected to the driver)."""
    l = load_table(spark, sf_dir, "lineitem")
    value = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = l.groupBy(F.col("l_partkey").cast("long").alias("p_key")).agg(
        F.sum(value).alias("val")
    )
    # scale-invariant threshold (TPC-H divides its fraction by SF for
    # the same reason): parts worth > 1.5x the mean per-part value
    total = per_part.agg((F.avg("val") * F.lit(1.5)).alias("threshold"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("val") > F.col("threshold"))
        .select("p_key", F.round("val", 4).alias("part_value"))
    )


Q11_SQL = """
SELECT CAST(l_partkey AS BIGINT) AS p_key,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS part_value
FROM lineitem
GROUP BY 1
HAVING sum(l_extendedprice * (1 - l_discount)) >
       (SELECT avg(v) * 1.5 FROM (SELECT sum(l_extendedprice * (1 - l_discount)) AS v
                                  FROM lineitem GROUP BY l_partkey))
"""


def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: per-class counts of high- vs low-priority orders via
    conditional CASE aggregation over the orders⋈lineitem join.
    (l_linestatus stands in for the missing l_shipmode.)"""
    l = load_table(spark, sf_dir, "lineitem").filter(F.year("l_shipdate") == 1997)
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE year(l_shipdate) = 1997
GROUP BY 1
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: distribution of customers by order count — LEFT
    OUTER join with the order-class filter in the ON clause (so
    zero-order customers survive), then count-of-counts."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .select(F.col("c_count").cast("long").alias("c_count"), "custdist")
    )


Q13_SQL = """
SELECT CAST(c_count AS BIGINT) AS c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY 1
)
GROUP BY 1
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: promo revenue share — 100 × conditional sum / total
    sum over the lineitem⋈part join in one month."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


Q14_SQL = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate < TIMESTAMP '1997-04-01'
"""


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct suppliers per part attribute combo, with a
    NOT-IN supplier exclusion. Lineitem bridges part↔supplier (no
    partsupp table). The excluded-supplier set is tiny → broadcast
    anti join, not a shuffled NOT IN."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("bad_key")
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(bad, l.l_suppkey == F.col("bad_key"), "left_anti")
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_SQL = """
SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: customers with above-average balance and no RECENT
    orders — scalar avg subquery (broadcast 1-row frame) + anti join.
    (c_mktsegment stands in for the missing phone country code; every
    customer has at least one lifetime order in this dataset, so the
    dormancy cutoff makes the anti join meaningful.)"""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "1999-01-01")
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
    )


Q22_SQL = """
SELECT c_mktsegment AS segment, count(*) AS numcust,
       round(sum(c_acctbal), 4) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY 1
"""


def q2_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: for each part (of a size class), the supplier offering
    the minimum unit price — a correlated-min subquery decorrelated
    into a grouped min + join-back on (part, min). Unit price comes
    from lineitem (no partsupp table). Ties on the min keep all
    achieving suppliers, exactly like TPC-H Q2."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 7)
    s = load_table(spark, sf_dir, "supplier")
    offers = (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("unit_price").alias("best_offer"))
    )
    mins = offers.groupBy("l_partkey").agg(
        F.min("best_offer").alias("min_price")
    ).select(F.col("l_partkey").alias("m_partkey"), "min_price")
    return (
        offers.join(
            mins,
            (F.col("l_partkey") == F.col("m_partkey"))
            & (F.col("best_offer") == F.col("min_price")),
        )
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select(
            F.col("l_partkey").cast("long").alias("p_key"),
            F.col("s_name"),
            # no rounded ratio column: Spark/DuckDB round() diverge by
            # 1 ulp on .xxxx5-shortest-repr doubles; the min VALUE is
            # still compared bit-exactly inside the join condition
        )
    )


Q2_SQL = """
WITH offers AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS best_offer
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size = 7
  GROUP BY 1, 2
)
SELECT CAST(o.l_partkey AS BIGINT) AS p_key, s_name
FROM offers o
JOIN supplier ON o.l_suppkey = s_suppkey
WHERE o.best_offer = (SELECT min(best_offer) FROM offers i
                      WHERE i.l_partkey = o.l_partkey)
"""


def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape ("potential part promotion"): suppliers who, for some
    'red' part, shipped MORE than half that part's total 1996 volume —
    TPC-H Q20's `ps_availqty > 0.5 * correlated sum(l_quantity)` with
    lineitem standing in for partsupp. The correlated scalar aggregate
    is decorrelated into a per-part total joined back on partkey, and
    the double-nested IN becomes a semi join into supplier⋈nation.

    Scale: the filtered lineitem aggregates partially map-side on
    (partkey, suppkey); the per-part total reuses the same grouped
    frame (one extra reduce over ~|parts| rows, no second scan); part
    and supplier joins broadcast."""
    l = load_table(spark, sf_dir, "lineitem").filter(F.year("l_shipdate") == 1996)
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    per_supp = (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("supp_qty"))
    )
    per_part = per_supp.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("supp_qty").alias("part_qty")
    )
    dominant = per_supp.join(
        per_part, per_supp.l_partkey == per_part.t_partkey
    ).filter(F.col("supp_qty") > 0.5 * F.col("part_qty"))
    return (
        s.join(dominant, s.s_suppkey == dominant.l_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_name", F.col("n_name").alias("nation"))
    )


Q20_SQL = """
WITH per_supp AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE year(l_shipdate) = 1996 AND p_name LIKE '%red%'
  GROUP BY 1, 2
)
SELECT s_name, n_name AS nation
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey FROM per_supp o
  WHERE o.supp_qty > 0.5 * (SELECT sum(supp_qty) FROM per_supp i
                            WHERE i.l_partkey = o.l_partkey))
"""


QUERIES = {
    "q2_cheapest_supplier": q2_cheapest_supplier,
    "q20_dominant_suppliers": q20_dominant_suppliers,
    "q9_profit_by_nation": q9_profit_by_nation,
    "q11_important_parts": q11_important_parts,
    "q12_priority_class": q12_priority_class,
    "q13_customer_distribution": q13_customer_distribution,
    "q14_promo_revenue": q14_promo_revenue,
    "q16_supplier_part_counts": q16_supplier_part_counts,
    "q22_dormant_customers": q22_dormant_customers,
}

ORACLES = {
    "q2_cheapest_supplier": Q2_SQL,
    "q20_dominant_suppliers": Q20_SQL,
    "q9_profit_by_nation": Q9_SQL,
    "q11_important_parts": Q11_SQL,
    "q12_priority_class": Q12_SQL,
    "q13_customer_distribution": Q13_SQL,
    "q14_promo_revenue": Q14_SQL,
    "q16_supplier_part_counts": Q16_SQL,
    "q22_dormant_customers": Q22_SQL,
}
