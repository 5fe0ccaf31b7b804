"""Analytics shapes, wave 3: multi-dimensional grouping (CUBE /
GROUPING SETS), rank-family window functions, array aggregation,
unpivot (melt), and INTERSECT — rounding out the SQL surface the
reference's star schema would serve from a real warehouse (the
reference itself delegates all analytics to SQL Server, reference
test.py:26-41; these are the shapes that engine provides for free and
ours must too).

Scale notes (100 TB):
- CUBE/GROUPING SETS expand each input row once per grouping set
  *after* partial aggregation (Spark's Expand runs on the map side,
  then one shuffle on the expanded keys) — cost is (#sets × groups),
  not (#sets × rows shuffled raw).
- The rank-family query windows over *pre-aggregated* per-customer
  totals (one row per customer), never over raw orders; the single
  global window is over |customers| rows, and would be range-
  partitioned at scale.
- collect_list runs as an unordered partial aggregate; ordering is
  imposed by array_sort AFTER collection (collect_list after orderBy
  does not preserve group order across partitions).
- unpivot is a map-side Expand — no shuffle at all.
- INTERSECT compiles to a left-semi join over distinct keys; both
  sides pre-aggregate to distinct custkeys before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_extractor_spark.session import query_session
from etl_extractor_spark.sources.parquet import load_table


def cube_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (lang, source): every facet combination plus margins
    in one pass. Null group keys (the rolled-up margins) are labelled
    'ALL' — the data has no null lang/source, so the sentinel is
    unambiguous."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.cube("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
            F.max(F.col("n_chars").cast("long")).alias("max_chars"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("ALL")).alias("lang"),
            F.coalesce(F.col("source"), F.lit("ALL")).alias("source"),
            "n_docs",
            "total_chars",
            "max_chars",
        )
    )


CUBE_DOCS_SQL = """
SELECT coalesce(lang, 'ALL') AS lang,
       coalesce(source, 'ALL') AS source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       max(CAST(n_chars AS BIGINT)) AS max_chars
FROM documents
GROUP BY CUBE (lang, source)
"""


def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS: (priority, year) detail, (year) subtotal,
    () grand total — the warehouse report shape. Money is aggregated in
    DECIMAL(18,2) (exact, addition-order-independent) and surfaced as a
    2-decimal double."""
    spark = query_session(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT coalesce(o_orderpriority, 'ALL') AS priority,
               coalesce(CAST(yr AS STRING), 'ALL') AS yr,
               count(*) AS n_orders,
               CAST(sum(price_d) AS DOUBLE) AS revenue
        FROM (
          SELECT o_orderpriority, year(o_orderdate) AS yr,
                 CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS price_d
          FROM orders_v
        )
        GROUP BY GROUPING SETS ((o_orderpriority, yr), (yr), ())
        """
    )


GROUPING_SETS_ORDERS_SQL = """
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(CAST(yr AS VARCHAR), 'ALL') AS yr,
       count(*) AS n_orders,
       CAST(sum(price_d) AS DOUBLE) AS revenue
FROM (
  SELECT o_orderpriority, year(o_orderdate) AS yr,
         CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS price_d
  FROM orders
)
GROUP BY GROUPING SETS ((o_orderpriority, yr), (yr), ())
"""


def customer_spend_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank family over per-customer lifetime spend: dense_rank,
    percent_rank, cume_dist. Spend is an exact DECIMAL(18,2) sum, so
    ties (and therefore every rank) are deterministic across engines;
    percent_rank/cume_dist are single integer divisions — bit-identical
    in any IEEE engine."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")).alias("spend_d")
    )
    w = Window.orderBy(F.desc("spend_d"), F.asc("o_custkey"))
    return spend.select(
        F.col("o_custkey").alias("custkey"),
        F.col("spend_d").cast("double").alias("spend"),
        F.dense_rank().over(w).alias("drank"),
        F.percent_rank().over(w).alias("prank"),
        F.cume_dist().over(w).alias("cdist"),
    )


CUSTOMER_SPEND_RANKS_SQL = """
WITH spend AS (
  SELECT o_custkey AS custkey,
         sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS spend_d
  FROM orders GROUP BY o_custkey
)
SELECT custkey,
       CAST(spend_d AS DOUBLE) AS spend,
       CAST(dense_rank()   OVER w AS INTEGER) AS drank,
       percent_rank() OVER w AS prank,
       cume_dist()    OVER w AS cdist
FROM spend
WINDOW w AS (ORDER BY spend_d DESC, custkey ASC)
"""


def order_qty_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: per multi-item order, the sorted list of line
    quantities as a string. collect_list is partial-aggregated and
    unordered; array_sort imposes the deterministic order afterwards
    (never rely on collect_list seeing sorted input)."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.array_join(
                F.array_sort(F.collect_list(F.col("l_quantity").cast("long"))), ","
            ).alias("qty_profile"),
        )
        .filter(F.col("n_items") >= 5)
        .select(F.col("l_orderkey").alias("orderkey"), "n_items", "qty_profile")
    )


ORDER_QTY_PROFILE_SQL = """
SELECT l_orderkey AS orderkey,
       count(*) AS n_items,
       array_to_string(list_sort(list(CAST(l_quantity AS BIGINT))), ',') AS qty_profile
FROM lineitem
GROUP BY l_orderkey
HAVING count(*) >= 5
"""


def lang_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): a wide per-language metrics row folded into long
    (lang, metric, value) form — pure map-side Expand, zero shuffles
    beyond the one aggregation."""
    d = load_table(spark, sf_dir, "documents")
    wide = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
        F.max(F.col("n_chars").cast("long")).alias("max_chars"),
    )
    return wide.unpivot(
        ["lang"], ["n_docs", "total_chars", "max_chars"], "metric", "value"
    )


LANG_METRICS_UNPIVOT_SQL = """
WITH wide AS (
  SELECT lang,
         count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         max(CAST(n_chars AS BIGINT)) AS max_chars
  FROM documents GROUP BY lang
)
SELECT lang, 'n_docs' AS metric, CAST(n_docs AS BIGINT) AS value FROM wide
UNION ALL
SELECT lang, 'total_chars' AS metric, CAST(total_chars AS BIGINT) AS value FROM wide
UNION ALL
SELECT lang, 'max_chars' AS metric, CAST(max_chars AS BIGINT) AS value FROM wide
"""


def customers_both_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set op (complements the EXCEPT in set_ops_customers):
    customers active in both 1995 and 1996. Compiles to distinct +
    left-semi join — each side reduces to distinct keys before the
    shuffle."""
    o = load_table(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select(
        F.col("o_custkey").alias("custkey")
    )
    y96 = o.filter(F.year("o_orderdate") == 1996).select(
        F.col("o_custkey").alias("custkey")
    )
    return y95.intersect(y96)


CUSTOMERS_BOTH_YEARS_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
"""


def customer_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per customer over order history (ROWS
    UNBOUNDED PRECEDING frame). The frame order is total — (date,
    orderkey) with orderkey unique — and the cumulative sum is
    DECIMAL, so every prefix is exact and deterministic. The window
    partitions by customer: at scale this is a per-key sort within the
    customer's partition, never a global sort."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_revenue"),
    )


CUSTOMER_RUNNING_REVENUE_SQL = """
SELECT o_custkey AS custkey,
       o_orderkey AS orderkey,
       CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS running_revenue
FROM orders
"""


def daily_revenue_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-point moving average over the daily revenue series (ROWS
    BETWEEN 6 PRECEDING): aggregate to day grain FIRST (one shuffle of
    |days| rows), then a single bounded-frame window over the tiny
    series. The average divides an exact DECIMAL sum by an exact
    count — one double division, identical in any IEEE engine."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")).alias("rev_d")
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "day",
        F.col("rev_d").cast("double").alias("day_revenue"),
        (F.sum("rev_d").over(w).cast("double") / F.count(F.lit(1)).over(w)).alias(
            "ma7"
        ),
    )


DAILY_REVENUE_MOVING_AVG_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS rev_d
  FROM orders GROUP BY 1
)
SELECT day,
       CAST(rev_d AS DOUBLE) AS day_revenue,
       CAST(sum(rev_d) OVER w AS DOUBLE)
         / count(*) OVER w AS ma7
FROM daily
WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


def priority_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over the full partition
    frame (UNBOUNDED on both sides — last_value with the default frame
    is a classic bug): per priority, the first, 100th and last order in
    (date, orderkey) order."""
    spark = query_session(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT DISTINCT o_orderpriority AS priority,
               first_value(o_orderkey) OVER w AS first_order,
               nth_value(o_orderkey, 100) OVER w AS hundredth_order,
               last_value(o_orderkey) OVER w AS last_order
        FROM orders_v
        WINDOW w AS (
          PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        )
        """
    )


PRIORITY_FIRST_LAST_SQL = """
SELECT DISTINCT o_orderpriority AS priority,
       first_value(o_orderkey) OVER w AS first_order,
       nth_value(o_orderkey, 100) OVER w AS hundredth_order,
       last_value(o_orderkey) OVER w AS last_order
FROM orders
WINDOW w AS (
  PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
)
"""


QUERIES = {
    "cube_docs": cube_docs,
    "customer_running_revenue": customer_running_revenue,
    "daily_revenue_moving_avg": daily_revenue_moving_avg,
    "priority_first_last": priority_first_last,
    "grouping_sets_orders": grouping_sets_orders,
    "customer_spend_ranks": customer_spend_ranks,
    "order_qty_profile": order_qty_profile,
    "lang_metrics_unpivot": lang_metrics_unpivot,
    "customers_both_years": customers_both_years,
}

ORACLES = {
    "cube_docs": CUBE_DOCS_SQL,
    "customer_running_revenue": CUSTOMER_RUNNING_REVENUE_SQL,
    "daily_revenue_moving_avg": DAILY_REVENUE_MOVING_AVG_SQL,
    "priority_first_last": PRIORITY_FIRST_LAST_SQL,
    "grouping_sets_orders": GROUPING_SETS_ORDERS_SQL,
    "customer_spend_ranks": CUSTOMER_SPEND_RANKS_SQL,
    "order_qty_profile": ORDER_QTY_PROFILE_SQL,
    "lang_metrics_unpivot": LANG_METRICS_UNPIVOT_SQL,
    "customers_both_years": CUSTOMERS_BOTH_YEARS_SQL,
}


# ---------------------------------------------------------------------------
# Market-basket association rules (support / confidence / lift)
# ---------------------------------------------------------------------------

AR_TOPN = 25


def part_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori-style association mining over co-purchased parts: for
    the 25 strongest pairs (by co-occurrence, deterministic key
    tie-break) report support in integer bps, confidence a→b, and
    lift. The pair space is bounded by within-basket expansion (same
    order), never a corpus cross join — the standard market-basket
    formulation at any scale: one self-join keyed on the basket id,
    distinct, then two tiny dimension joins against per-item counts.
    Counts and bps are exact integers; confidence/lift are rounded
    ratios of those integers (both engines compute them from identical
    counts)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.distinct()
    # basket total as a broadcast 1-row scalar — never a driver count()
    tot = baskets.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    item = baskets.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ia, ib = item.alias("ia"), item.alias("ib")
    top = (
        pairs.join(ia, F.col("part_a") == F.col("ia.l_partkey"))
        .join(ib, F.col("part_b") == F.col("ib.l_partkey"))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.col("ia.n_item").alias("n_a"),
            F.col("ib.n_item").alias("n_b"),
        )
        .orderBy(F.desc("n_ab"), F.asc("part_a"), F.asc("part_b"))
        .limit(AR_TOPN)
    )
    return top.crossJoin(F.broadcast(tot)).select(
        "part_a",
        "part_b",
        "n_ab",
        F.expr("n_ab * 10000 div n_orders").alias("support_bps"),
        F.round(F.col("n_ab") / F.col("n_a"), 4).alias("confidence_ab"),
        F.round(
            F.col("n_ab") * F.col("n_orders").cast("double")
            / (F.col("n_a") * F.col("n_b")),
            4,
        ).alias("lift"),
    )


ASSOCIATION_SQL = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), tot AS (
  SELECT count(DISTINCT l_orderkey) AS n_orders FROM baskets
), item AS (
  SELECT l_partkey, count(*) AS n_item FROM baskets GROUP BY 1
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_ab
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), top AS (
  SELECT part_a, part_b, n_ab, ia.n_item AS n_a, ib.n_item AS n_b
  FROM pairs
  JOIN item ia ON part_a = ia.l_partkey
  JOIN item ib ON part_b = ib.l_partkey
  ORDER BY n_ab DESC, part_a ASC, part_b ASC
  LIMIT {AR_TOPN}
)
SELECT part_a, part_b, n_ab,
       n_ab * 10000 // (SELECT n_orders FROM tot) AS support_bps,
       round(n_ab * 1.0 / n_a, 4) AS confidence_ab,
       round(n_ab * 1.0 * (SELECT n_orders FROM tot) / (n_a * n_b), 4) AS lift
FROM top
"""


def nation_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation OLS revenue trend: regr_slope / regr_intercept /
    regr_r2 of order value against the order's day index — grouped
    linear regression as a single aggregate pass (Spark and DuckDB
    both ship the regr_* family; no collect, no per-group loop, one
    shuffle on nationkey). The day index is an exact integer datediff
    from a pinned epoch, so x is identical in both engines."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_totalprice",
        F.datediff(F.to_date("o_orderdate"), F.lit("2024-01-01").cast("date")).alias(
            "x"
        ),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = o.join(c, o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.expr("regr_slope(o_totalprice, x)"), 4).alias("slope"),
            F.round(F.expr("regr_intercept(o_totalprice, x)"), 4).alias(
                "intercept"
            ),
        )
        .orderBy("n_name")
    )


NATION_TREND_SQL = """
SELECT n_name,
       count(*) AS n_orders,
       round(regr_slope(o_totalprice, datediff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE))), 4) AS slope,
       round(regr_intercept(o_totalprice, datediff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE))), 4) AS intercept
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""

QUERIES.update(
    {
        "part_association_rules": part_association_rules,
        "nation_revenue_trend": nation_revenue_trend,
    }
)
ORACLES.update(
    {
        "part_association_rules": ASSOCIATION_SQL,
        "nation_revenue_trend": NATION_TREND_SQL,
    }
)


# ---------------------------------------------------------------------------
# Nested (array<struct>) document modeling
# ---------------------------------------------------------------------------


def orders_nested_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-data round-trip: reconstruct each order as an
    array<struct> of its line items (the document shape a lakehouse
    stores for event payloads / API exports), then compute the order
    stats FROM THE NESTED FORM with array HOFs — proving the nested
    model carries full fidelity. collect_list is an unordered partial
    aggregate; determinism comes from sort_array AFTER collection
    (struct comparison leads with l_linenumber), the same discipline
    as the analytics2 array_agg query. One shuffle on the order key;
    the HOF stats are map-side over the built arrays."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.struct(
            F.col("l_linenumber").cast("long").alias("ln"),
            F.col("l_partkey").alias("pk"),
            F.col("l_quantity").cast("long").alias("qty"),
            F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        ).alias("item"),
    )
    nested = l.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("item")).alias("lines")
    )
    return nested.select(
        "l_orderkey",
        F.size("lines").cast("long").alias("n_lines"),
        F.aggregate(
            "lines", F.lit(0).cast("long"), lambda acc, x: acc + x["cents"]
        ).alias("total_cents"),
        F.array_max(F.transform("lines", lambda x: x["qty"])).alias("max_qty"),
        F.element_at("lines", 1)["pk"].alias("first_part"),
    )


NESTED_LINES_SQL = """
WITH nested AS (
  SELECT l_orderkey,
         list(struct_pack(
             ln := CAST(l_linenumber AS BIGINT),
             pk := l_partkey,
             qty := CAST(l_quantity AS BIGINT),
             cents := CAST(round(l_extendedprice * 100, 0) AS BIGINT))
           ORDER BY l_linenumber, l_partkey,
                    CAST(l_quantity AS BIGINT),
                    CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS lines
  FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(list_sum(list_transform(lines, x -> x.cents)) AS BIGINT) AS total_cents,
       CAST(list_max(list_transform(lines, x -> x.qty)) AS BIGINT) AS max_qty,
       lines[1].pk AS first_part
FROM nested
"""


def customer_order_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest strictly-increasing spend streak per customer — the
    gaps-and-islands shape behind engagement streaks and monotone-run
    monitoring. Islands via the classic running-sum-of-breaks trick:
    both windows (lag, running sum) share ONE o_custkey partitioning,
    so the whole query is a single shuffle; integer cents comparisons
    only."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("d"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    flagged = o.withColumn(
        "brk",
        F.when(
            F.col("cents") > F.lag("cents").over(w), F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn(
        "grp",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    streaks = flagged.groupBy("o_custkey", "grp").agg(
        F.count(F.lit(1)).alias("len")
    )
    return streaks.groupBy("o_custkey").agg(
        F.sum("len").alias("n_orders"),
        F.max("len").alias("max_streak"),
    )


ORDER_STREAKS_SQL = """
WITH o AS (
  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
), flagged AS (
  SELECT o_custkey, d, o_orderkey,
         CASE WHEN cents > lag(cents) OVER w THEN 0 ELSE 1 END AS brk
  FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey)
), grouped AS (
  SELECT o_custkey,
         sum(brk) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey
                        ROWS UNBOUNDED PRECEDING) AS grp
  FROM flagged
), streaks AS (
  SELECT o_custkey, grp, count(*) AS len FROM grouped GROUP BY 1, 2
)
SELECT o_custkey, CAST(sum(len) AS BIGINT) AS n_orders,
       CAST(max(len) AS BIGINT) AS max_streak
FROM streaks GROUP BY o_custkey
"""

QUERIES.update(
    {
        "orders_nested_lines": orders_nested_lines,
        "customer_order_streaks": customer_order_streaks,
    }
)
ORACLES.update(
    {
        "orders_nested_lines": NESTED_LINES_SQL,
        "customer_order_streaks": ORDER_STREAKS_SQL,
    }
)
