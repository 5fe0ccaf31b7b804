"""Round-6 wave: sketch error-contract certification rows (the two
rows-only sketches gain driver-checkable twins) and exact-arithmetic
stats/splits utilities (MAD outliers, Wilson CIs, Spearman rank
correlation, winsorized means, stratified k-fold audit).

Reference provenance: the reference pipeline (nilfredb/ETL-Extractor,
extract/*.py + main.py) has no analytics layer; these are the
standard operators a 100 TB curation/experimentation stack adds on
top of its ETL surface, built Spark-first with the repo's exact
cross-engine arithmetic conventions (integer sufficient statistics,
floor(x*10^k + 0.5) half-up quantization, multiply-before-divide,
IEEE-exact sqrt/+-*/ only after identical integer inputs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_extractor_spark.functions.quantize import cents
from etl_extractor_spark.sources.parquet import load_table

QUERIES: dict = {}
ORACLES: dict = {}


# --- 1. KLL quantile sketch: driver-certifiable error contract ---------------
#
# kll_value_quantiles stays rows-only by design (sketch bytes are
# engine-specific), but its ERROR CONTRACT is oracle-expressible: the
# sketch's estimated quantile q_p must sit at a normalized rank within
# eps of p. Rank is exact integer arithmetic (count of values <= est),
# so the contract bit |100*rank - 100*p*n| <= eps*100*n is a pure
# BIGINT comparison — the oracle emits the same group keys, the exact
# n, and literal 1s; a driver hash match therefore CERTIFIES the
# sketch satisfied its bound on this data. eps = 0.05 is ~3x the
# k=200 KLL single-sided rank error (~1.65%), so the bit is stable
# under the sketch's internal randomization.
_KLL_EPS_PCT = 5  # integer percent: |rank/n - p| <= 5%


def kll_quantile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-certifiable KLL contract row (VERDICT r5 task 8): per
    event_type, the KLL(k=200) sketch estimates for p50/p95/p99 are
    rank-audited against the raw data — ok_pXX = 1 iff the estimate's
    exact normalized rank is within 5% of the target rank. The audit
    is one broadcast join of the O(types) estimate frame back onto
    events plus an integer aggregation; at 100 TB the same audit runs
    as a map-side-combined count per type, no sort, no collect.

    The integer form avoids any float in the certified comparison:
    |100*rank(est_p) - p_pct*n| <= 5*n, all BIGINT."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    sk = e.groupBy("event_type").agg(
        F.kll_sketch_agg_double("value").alias("sk"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    est = sk.select(
        "event_type",
        "n",
        *[
            F.kll_sketch_get_quantile_double("sk", F.lit(p / 100.0)).alias(f"e{p}")
            for p in (50, 95, 99)
        ],
    )
    j = e.join(F.broadcast(est), "event_type")

    def ok(p: int):
        rank = F.sum((F.col("value") <= F.col(f"e{p}")).cast("long"))
        return (
            (
                F.abs(rank * 100 - F.lit(p) * F.max("n"))
                <= F.lit(_KLL_EPS_PCT) * F.max("n")
            )
            .cast("long")
            .alias(f"ok_p{p}")
        )

    return j.groupBy("event_type").agg(
        F.max("n").alias("n_events"), ok(50), ok(95), ok(99)
    )


QUERIES["kll_quantile_contract"] = kll_quantile_contract
ORACLES["kll_quantile_contract"] = """
    SELECT event_type,
           COUNT(*)::BIGINT AS n_events,
           1::BIGINT AS ok_p50, 1::BIGINT AS ok_p95, 1::BIGINT AS ok_p99
    FROM events GROUP BY event_type
"""


# --- 2. Theta sketch set ops: driver-certifiable error contract ---------------
def theta_sketch_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-certifiable Theta contract row (VERDICT r5 task 8,
    theta_funnel_overlap's twin): the sketch estimates for
    click∩purchase and click∖purchase user cardinalities must land
    within max(5, 5% of exact) of the exact flag-pass answer —
    ok_* = 1 certifies it under a driver hash. Theta's lgK=12 default
    gives ~1.6% RSE, and below ~4k distinct users the sketch is in
    exact mode, so the 5% bit is stable at every SF. The exact side
    is one groupBy(user) flag pass; the sketch side is mergeable
    per-partition state — at 100 TB the contract is the audit query
    you run before trusting persisted sketch state for a funnel."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    flags = e.groupBy("user_id").agg(
        F.max(F.col("event_type") == "click").alias("c"),
        F.max(F.col("event_type") == "purchase").alias("p"),
    )
    exact = flags.agg(
        F.sum((F.col("c") & F.col("p")).cast("long")).alias("users_click_and_purchase"),
        F.sum((F.col("c") & ~F.col("p")).cast("long")).alias("users_click_no_purchase"),
    )
    sk = e.groupBy("event_type").agg(F.theta_sketch_agg("user_id").alias("sk"))
    c = sk.filter(F.col("event_type") == "click").select(F.col("sk").alias("ck"))
    p = sk.filter(F.col("event_type") == "purchase").select(F.col("sk").alias("pk"))
    ests = c.crossJoin(p).select(
        F.theta_sketch_estimate(F.theta_intersection("ck", "pk")).alias("est_and"),
        F.theta_sketch_estimate(F.theta_difference("ck", "pk")).alias("est_no"),
    )

    def ok(est: str, exact_col: str, alias: str):
        bound = F.greatest(F.lit(5.0), F.col(exact_col) * 0.05)
        return (
            (F.abs(F.col(est) - F.col(exact_col)) <= bound).cast("long").alias(alias)
        )

    return exact.crossJoin(F.broadcast(ests)).select(
        "users_click_and_purchase",
        "users_click_no_purchase",
        ok("est_and", "users_click_and_purchase", "ok_intersection"),
        ok("est_no", "users_click_no_purchase", "ok_difference"),
    )


QUERIES["theta_sketch_contract"] = theta_sketch_contract
ORACLES["theta_sketch_contract"] = """
    WITH flags AS (
        SELECT user_id,
               max(event_type = 'click') AS c,
               max(event_type = 'purchase') AS p
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY user_id
    )
    SELECT CAST(sum(CASE WHEN c AND p THEN 1 ELSE 0 END) AS BIGINT)
               AS users_click_and_purchase,
           CAST(sum(CASE WHEN c AND NOT p THEN 1 ELSE 0 END) AS BIGINT)
               AS users_click_no_purchase,
           1::BIGINT AS ok_intersection,
           1::BIGINT AS ok_difference
    FROM flags
"""


# --- 4. MAD robust outliers ---------------------------------------------------
_MAD_MULT = 5  # |x - median| > 5 * MAD flags an outlier


def mad_outlier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier counts per order priority —
    the robust twin of z-score outlier detection (rolling_zscore_*):
    median and MAD are breakdown-point-0.5 estimators, so a heavy tail
    cannot mask itself the way it inflates a stddev. ENTIRELY integer:
    prices are exact cents, both medians are the ACTUAL value at rank
    ceil(n/2) (the repo's exact-order-statistic convention — no
    interpolation, engine-identical), and the outlier test
    |x - med| > 5*MAD is BIGINT arithmetic.

    100 TB: two (priority)-partitioned rank windows (bounded key
    domain, each partition one shuffle) + a 5-row broadcast back-join;
    no global sort, no collect."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        cents("o_totalprice").alias("cents"),
    )
    wv = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    wn = Window.partitionBy("o_orderpriority")
    ranked = o.withColumn("rn", F.row_number().over(wv)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    med = (
        ranked.filter(F.col("rn") == F.ceil(F.col("n") / 2).cast("long"))
        .select("o_orderpriority", F.col("cents").alias("med"))
    )
    dev = o.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        "o_orderkey",
        "cents",
        F.abs(F.col("cents") - F.col("med")).alias("dev"),
        "med",
    )
    wd = Window.partitionBy("o_orderpriority").orderBy("dev", "o_orderkey")
    mad = (
        dev.withColumn("rn", F.row_number().over(wd))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.ceil(F.col("n") / 2).cast("long"))
        .select("o_orderpriority", F.col("dev").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.max("med").alias("median_cents"),
            F.max("mad").alias("mad_cents"),
            F.sum(
                (F.col("dev") > F.lit(_MAD_MULT) * F.col("mad")).cast("long")
            ).alias("n_outliers"),
        )
    )


QUERIES["mad_outlier_orders"] = mad_outlier_orders
ORACLES["mad_outlier_orders"] = f"""
    WITH o AS (
        SELECT o_orderpriority, o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM orders
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY cents, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM o
    ),
    med AS (
        SELECT o_orderpriority, cents AS med FROM ranked
        WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
    ),
    dev AS (
        SELECT o.o_orderpriority, o.o_orderkey, abs(o.cents - m.med) AS dev, m.med
        FROM o JOIN med m USING (o_orderpriority)
    ),
    devranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY dev, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM dev
    ),
    mad AS (
        SELECT o_orderpriority, dev AS mad FROM devranked
        WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
    )
    SELECT d.o_orderpriority,
           count(*)::BIGINT AS n_orders,
           max(d.med) AS median_cents,
           max(m.mad) AS mad_cents,
           CAST(sum(CASE WHEN d.dev > {_MAD_MULT} * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (o_orderpriority)
    GROUP BY 1
"""


# --- 5. Wilson score intervals ------------------------------------------------
def wilson_ci_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% interval for the per-nation customer→order
    conversion rate (share of customers with >= 1 order). Wilson, not
    Wald: it never leaves [0,1] and stays calibrated at small n or
    extreme p — the interval every experimentation dashboard should
    draw. Cross-engine exact: p̂ = k/n is one IEEE division over
    identical BIGINTs, and the interval uses only +,-,*,/ and sqrt
    (all correctly-rounded IEEE ops — no transcendentals), written in
    ONE shared op order, then q6-quantized.

    100 TB: one semi-join flag pass + a 25-key aggregation; the scalar
    interval math is O(nations)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey").distinct()
    flagged = c.join(
        o.withColumnRenamed("o_custkey", "c_custkey").withColumn(
            "has", F.lit(1)
        ),
        "c_custkey",
        "left",
    )
    agg = flagged.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.coalesce(F.col("has"), F.lit(0))).cast("long").alias("k_converted"),
    )
    nd = F.col("n_customers").cast("double")
    phat = F.col("k_converted").cast("double") / nd
    denom = 1 + F.lit(3.8416) / nd
    center = phat + F.lit(3.8416) / (2 * nd)
    half = F.lit(1.96) * F.sqrt(
        phat * (1 - phat) / nd + F.lit(3.8416) / (4 * nd * nd)
    )

    def q6(x):
        return F.floor(x * 1000000 + F.lit(0.5)) / 1000000

    return agg.select(
        "c_nationkey",
        "n_customers",
        "k_converted",
        q6((center - half) / denom).alias("wilson_lo"),
        q6((center + half) / denom).alias("wilson_hi"),
    )


QUERIES["wilson_ci_conversion"] = wilson_ci_conversion
ORACLES["wilson_ci_conversion"] = """
    WITH agg AS (
        SELECT c.c_nationkey,
               count(*)::BIGINT AS n_customers,
               CAST(sum(CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS k_converted
        FROM customer c
        LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
          ON c.c_custkey = o.o_custkey
        GROUP BY 1
    ),
    x AS (
        SELECT c_nationkey, n_customers, k_converted,
               CAST(n_customers AS DOUBLE) AS nd,
               CAST(k_converted AS DOUBLE) / CAST(n_customers AS DOUBLE) AS phat
        FROM agg
    )
    SELECT c_nationkey, n_customers, k_converted,
           floor((phat + 3.8416 / (2 * nd)
                  - 1.96 * sqrt(phat * (1 - phat) / nd + 3.8416 / (4 * nd * nd)))
                 / (1 + 3.8416 / nd) * 1000000 + 0.5) / 1000000 AS wilson_lo,
           floor((phat + 3.8416 / (2 * nd)
                  + 1.96 * sqrt(phat * (1 - phat) / nd + 3.8416 / (4 * nd * nd)))
                 / (1 + 3.8416 / nd) * 1000000 + 0.5) / 1000000 AS wilson_hi
    FROM x
"""


# --- 6. Spearman rank correlation ----------------------------------------------
def spearman_daily_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily revenue and daily order
    count — the robust (monotone-invariant) dependence measure next to
    the Pearson feature_correlation_matrix. Deterministic-tie variant:
    ranks are row_number over (value, day), so ranks are exact
    distinct integers and the Pearson-on-ranks sufficient statistics
    are exact BIGINTs (n <= calendar days, so n*sum(r²) ~ n⁴/3 stays
    far under 2⁶³); only the final normalization touches doubles, in
    one shared op order.

    100 TB: the day grain is a BOUNDED domain (O(10³) rows after the
    first aggregation), so the two global rank windows sort a tiny
    frame — the raw scan aggregates map-side first."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderdate").alias("day"),
        cents("o_totalprice").alias("cents"),
    )
    daily = o.groupBy("day").agg(
        F.sum("cents").alias("rev"), F.count(F.lit(1)).cast("long").alias("cnt")
    )
    rx = F.row_number().over(Window.orderBy("rev", "day")).cast("long")
    ry = F.row_number().over(Window.orderBy("cnt", "day")).cast("long")
    ranked = daily.select(rx.alias("rx"), ry.alias("ry"))
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    d1 = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    d2 = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    rho = F.floor(num * 1000000 / (F.sqrt(d1) * F.sqrt(d2)) + F.lit(0.5)) / 1000000
    return s.select(F.col("n").alias("n_days"), rho.alias("spearman_rho"))


QUERIES["spearman_daily_corr"] = spearman_daily_corr
ORACLES["spearman_daily_corr"] = """
    WITH daily AS (
        SELECT o_orderdate AS day,
               SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                   ::BIGINT AS rev,
               count(*)::BIGINT AS cnt
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT CAST(row_number() OVER (ORDER BY rev, day) AS BIGINT) AS rx,
               CAST(row_number() OVER (ORDER BY cnt, day) AS BIGINT) AS ry
        FROM daily
    ),
    s AS (
        SELECT count(*)::BIGINT AS n,
               sum(rx * ry)::BIGINT AS sxy,
               sum(rx)::BIGINT AS sx, sum(ry)::BIGINT AS sy,
               sum(rx * rx)::BIGINT AS sxx, sum(ry * ry)::BIGINT AS syy
        FROM ranked
    )
    SELECT n AS n_days,
           floor(CAST(n * sxy - sx * sy AS DOUBLE) * 1000000
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) + 0.5) / 1000000
               AS spearman_rho
    FROM s
"""


# --- 7. winsorized means -------------------------------------------------------
def winsorized_revenue_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean order value per market segment: values below
    the exact p05 order statistic are CLAMPED up to it and values
    above p95 down to it (contrast trimmed_mean_orders, which DROPS
    the tails — winsorizing keeps n constant, the estimator AB
    dashboards prefer when tail mass is real revenue). Entirely
    integer: exact-rank bounds (value at rank ceil(p*n)), BIGINT
    clamp-sum, floor-division mean (all-positive, so truncation ==
    floor on both engines).

    100 TB: one (segment)-partitioned rank window + a 5-row broadcast
    bound join; same cost class as every order-statistic query here."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        cents("o_totalprice").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "c_mktsegment", "o_orderkey", "cents"
    )
    wv = Window.partitionBy("c_mktsegment").orderBy("cents", "o_orderkey")
    wn = Window.partitionBy("c_mktsegment")
    ranked = seg.withColumn("rn", F.row_number().over(wv)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    bounds = (
        ranked.filter(
            (F.col("rn") == F.ceil(F.col("n") * 0.05).cast("long"))
            | (F.col("rn") == F.ceil(F.col("n") * 0.95).cast("long"))
        )
        .groupBy("c_mktsegment")
        .agg(F.min("cents").alias("p05"), F.max("cents").alias("p95"))
    )
    clamped = seg.join(F.broadcast(bounds), "c_mktsegment").select(
        "c_mktsegment",
        "p05",
        "p95",
        F.least(F.greatest(F.col("cents"), F.col("p05")), F.col("p95")).alias("w"),
    )
    return clamped.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.max("p05").alias("p05_cents"),
        F.max("p95").alias("p95_cents"),
        F.expr("sum(w) div count(*)").alias("winsorized_mean_cents"),
    )


QUERIES["winsorized_revenue_segments"] = winsorized_revenue_segments
ORACLES["winsorized_revenue_segments"] = """
    WITH seg AS (
        SELECT c.c_mktsegment, o.o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY cents, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM seg
    ),
    bounds AS (
        SELECT c_mktsegment,
               min(cents) AS p05, max(cents) AS p95
        FROM ranked
        WHERE rn = CAST(ceil(n * 0.05) AS BIGINT)
           OR rn = CAST(ceil(n * 0.95) AS BIGINT)
        GROUP BY 1
    )
    SELECT s.c_mktsegment,
           count(*)::BIGINT AS n_orders,
           max(b.p05) AS p05_cents,
           max(b.p95) AS p95_cents,
           CAST(CAST(sum(least(greatest(s.cents, b.p05), b.p95)) AS BIGINT)
                // count(*) AS BIGINT) AS winsorized_mean_cents
    FROM seg s JOIN bounds b USING (c_mktsegment)
    GROUP BY 1
"""


# --- 8. stratified k-fold assignment audit --------------------------------------
_KFOLDS = 5


def stratified_kfold_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified k-fold assignment (fold = md5-hash of
    the key mod 5 WITHIN each market-segment stratum — the repo's
    engine-identical hex→BIGINT idiom) plus the balance audit a
    train/eval split job must publish: per (stratum, fold) counts, a
    key-range fingerprint, and each fold's share of its stratum in
    exact millionths (multiply-before-divide). Completes the splits
    family (shuffle_deterministic, cluster_aware_split,
    split_leakage_audit) with the cross-validation shape.

    100 TB: map-only fold tagging + one 25-row aggregation; folds are
    reproducible from the key alone (no stored state, no RNG)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    fold = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("kf-"), F.col("c_custkey").cast("string"))), 1, 12),
            16,
            10,
        ).cast("long")
        % _KFOLDS
    )
    tagged = c.withColumn("fold", fold)
    per = tagged.groupBy("c_mktsegment", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    )
    tot = tagged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_stratum")
    )
    return per.join(F.broadcast(tot), "c_mktsegment").select(
        "c_mktsegment",
        "fold",
        "n",
        "min_key",
        "max_key",
        F.expr("n * 1000000 div n_stratum").alias("share_micro"),
    )


QUERIES["stratified_kfold_audit"] = stratified_kfold_audit
ORACLES["stratified_kfold_audit"] = f"""
    WITH tagged AS (
        SELECT c_custkey, c_mktsegment,
               CAST(('0x' || substr(md5('kf-' || CAST(c_custkey AS VARCHAR)), 1, 12))
                    AS BIGINT) % {_KFOLDS} AS fold
        FROM customer
    ),
    per AS (
        SELECT c_mktsegment, fold,
               count(*)::BIGINT AS n,
               min(c_custkey) AS min_key,
               max(c_custkey) AS max_key
        FROM tagged GROUP BY 1, 2
    ),
    tot AS (
        SELECT c_mktsegment, count(*)::BIGINT AS n_stratum
        FROM tagged GROUP BY 1
    )
    SELECT p.c_mktsegment, p.fold, p.n, p.min_key, p.max_key,
           p.n * 1000000 // t.n_stratum AS share_micro
    FROM per p JOIN tot t USING (c_mktsegment)
"""


# --- 9. t-closeness audit -------------------------------------------------------
_TCLOSE_T_MICRO = 200_000  # t = 0.2


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness (Li, Li & Venkatasubramanian, ICDE'07) — the third
    rung of the anonymity ladder after k_anonymity_audit and
    l_diversity_audit: an equivalence class can be k-anonymous and
    l-diverse yet still leak if its SENSITIVE-attribute distribution
    skews far from the table's. For categorical attributes the EMD
    reduces to total variation distance; here QI group = nation,
    sensitive = market segment, and tvd(g) = ½ Σ_s |p_g(s) − p(s)| is
    computed ENTIRELY in integers — |n_gs·n − n_s·n_g| summed over the
    FULL nation × segment grid (a segment ABSENT from a group is
    maximal skew and must contribute its n_s·n_g term — an inner join
    on observed (nation, segment) pairs would silently drop it and
    under-report the distance; review catch), then ONE final-scalar
    IEEE step shared verbatim by both engines:
    floor(num/(2·n_g·n) · 1e6) over doubles. Integer ×1e6 would wrap
    int64 once num > 9.2e12 (≈ sf100 — second review catch), and
    Spark's DIV on DECIMAL operands silently casts to long and wraps
    (measured), so the double form — two correctly-rounded IEEE ops on
    identical exact integers, identical on both engines — is the
    repo's standard no-ceiling final-scalar recipe. meets_t flags
    groups within t = 0.2.

    100 TB: two hash aggregations on bounded key domains + broadcast
    joins of the O(nations × segments) grid; no sort."""
    c = load_table(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment")
    gs = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_gs")
    )
    # grp/seg/tot are O(nations)/O(segments)/1-row aggregates — fixed
    # cardinality at any SF, so the broadcast hints are safe (the
    # plan-guard test bans hints on SF-scaled aliases only)
    grp = c.groupBy("c_nationkey").agg(F.count(F.lit(1)).cast("long").alias("n_g"))
    seg = c.groupBy("c_mktsegment").agg(F.count(F.lit(1)).cast("long").alias("n_s"))
    tot = c.agg(F.count(F.lit(1)).cast("long").alias("n"))
    grid = grp.crossJoin(F.broadcast(seg)).crossJoin(F.broadcast(tot))
    num = (
        grid.join(F.broadcast(gs), ["c_nationkey", "c_mktsegment"], "left")
        .withColumn("n_gs", F.coalesce(F.col("n_gs"), F.lit(0)))
        .groupBy("c_nationkey")
        .agg(
            F.max("n_g").alias("n_g"),
            F.max("n").alias("n"),
            F.sum(
                F.abs(F.col("n_gs") * F.col("n") - F.col("n_s") * F.col("n_g"))
            ).alias("num"),
        )
    )
    # denominator multiplies AFTER the double casts: 2*n_g*n in int64
    # would itself wrap around sf~70k, and Spark wraps silently where
    # DuckDB raises (review catch) — the double product never wraps
    tvd = F.expr(
        "CAST(FLOOR(CAST(num AS DOUBLE)"
        " / (2 * CAST(n_g AS DOUBLE) * CAST(n AS DOUBLE))"
        " * 1000000) AS BIGINT)"
    )
    return num.select(
        "c_nationkey",
        F.col("n_g").alias("n_group"),
        tvd.alias("tvd_micro"),
        (tvd <= F.lit(_TCLOSE_T_MICRO)).cast("long").alias("meets_t"),
    )


QUERIES["t_closeness_audit"] = t_closeness_audit
ORACLES["t_closeness_audit"] = f"""
    WITH gs AS (
        SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS n_gs
        FROM customer GROUP BY 1, 2
    ),
    g AS (SELECT c_nationkey, count(*)::BIGINT AS n_g FROM customer GROUP BY 1),
    s AS (SELECT c_mktsegment, count(*)::BIGINT AS n_s FROM customer GROUP BY 1),
    tot AS (SELECT count(*)::BIGINT AS n FROM customer),
    agg AS (
        SELECT g.c_nationkey,
               max(g.n_g) AS n_g, max(tot.n) AS n,
               sum(abs(COALESCE(gs.n_gs, 0) * tot.n - s.n_s * g.n_g))::BIGINT
                   AS num
        FROM g
        CROSS JOIN s
        CROSS JOIN tot
        LEFT JOIN gs ON gs.c_nationkey = g.c_nationkey
                    AND gs.c_mktsegment = s.c_mktsegment
        GROUP BY 1
    )
    SELECT c_nationkey,
           n_g AS n_group,
           CAST(FLOOR(CAST(num AS DOUBLE) / (2 * CAST(n_g AS DOUBLE) * CAST(n AS DOUBLE))
                      * 1000000) AS BIGINT) AS tvd_micro,
           CAST(CASE WHEN FLOOR(CAST(num AS DOUBLE) / (2 * CAST(n_g AS DOUBLE) * CAST(n AS DOUBLE))
                               * 1000000) <= {_TCLOSE_T_MICRO}
                     THEN 1 ELSE 0 END AS BIGINT) AS meets_t
    FROM agg
"""


# --- 10. two-sample Kolmogorov-Smirnov statistic --------------------------------
_KS_SEG_A, _KS_SEG_B = "BUILDING", "MACHINERY"
_KS_BUCKET = 100_000  # cents per CDF bucket (price bands for phase 1)


def ks_two_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the
    BUILDING and MACHINERY segments' order-value distributions:
    D = sup_x |F_a(x) − F_b(x)|, the sup-of-CDF-difference test that
    detects ANY distributional shift (location, scale, shape) where
    the rank-sum (mann_whitney) sees only location. Evaluated at the
    distinct value grid (CDFs jump jointly at ties — the correct
    tie handling); the sup numerator is exact integers: max |cum_a·n_b
    − cum_b·n_a| (int64-safe through ~sf3000: every term is ≤
    n_a·n_b), then ONE shared final-scalar IEEE step —
    floor(dnum/(n_a·n_b) · 1e6) over doubles, identical op sequence on
    both engines (an integer ×1e6 would wrap int64 by ~sf100, and
    Spark DIV on DECIMAL wraps — review catch).

    100 TB: the running CDF is TWO-PHASE — per-value counts roll up
    into bounded price-band buckets (value div 1e5 cents), a tiny
    window ranks the O(bands) bucket prefix, and the within-bucket
    cumsum is a (bucket)-PARTITIONED window — no data-scaled global
    sort anywhere (the quantile_normalize_sources discipline). The
    statistic is reported without a p-value by repo convention
    (no erf/K-S CDF on either engine); n_a·n_b-scaled D_micro is the
    decision quantity."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        cents("o_totalprice").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    x = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .filter(F.col("c_mktsegment").isin(_KS_SEG_A, _KS_SEG_B))
        .select(
            "cents",
            (F.col("c_mktsegment") == _KS_SEG_A).cast("long").alias("ia"),
            (F.col("c_mktsegment") == _KS_SEG_B).cast("long").alias("ib"),
        )
    )
    per_val = x.groupBy("cents").agg(
        F.sum("ia").alias("a"), F.sum("ib").alias("b")
    )
    per_val = per_val.withColumn("bkt", F.expr(f"cents div {_KS_BUCKET}"))
    # phase 1: bucket totals (bounded domain: price bands). Every
    # downstream branch (bucket prefix, within-bucket cumsum, totals)
    # derives from the SAME per_val aggregate, so the orders⋈customer
    # join executes once under exchange reuse (review catch: a
    # separate totals branch over the raw join re-executed it).
    bkt = per_val.groupBy("bkt").agg(
        F.sum("a").alias("ba"), F.sum("b").alias("bb")
    )
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    prefix = bkt.select(
        "bkt",
        F.coalesce(F.sum("ba").over(wb), F.lit(0)).alias("pa"),
        F.coalesce(F.sum("bb").over(wb), F.lit(0)).alias("pb"),
    )
    # phase 2: within-bucket running sums + the broadcast bucket prefix
    wv = Window.partitionBy("bkt").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per_val.join(F.broadcast(prefix), "bkt").select(
        (F.sum("a").over(wv) + F.col("pa")).alias("ca"),
        (F.sum("b").over(wv) + F.col("pb")).alias("cb"),
    )
    tot = per_val.agg(
        F.sum("a").cast("long").alias("n_a"), F.sum("b").cast("long").alias("n_b")
    )
    d = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.max(
                F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a"))
            ).alias("dnum"),
        )
    )
    return d.select(
        "n_a",
        "n_b",
        F.expr(
            "CAST(FLOOR(CAST(dnum AS DOUBLE)"
            " / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))"
            " * 1000000) AS BIGINT)"
        ).alias("d_micro"),
    )


QUERIES["ks_two_sample_orders"] = ks_two_sample_orders
ORACLES["ks_two_sample_orders"] = f"""
    WITH x AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
               CASE WHEN c_mktsegment = '{_KS_SEG_A}' THEN 1 ELSE 0 END AS ia,
               CASE WHEN c_mktsegment = '{_KS_SEG_B}' THEN 1 ELSE 0 END AS ib
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment IN ('{_KS_SEG_A}', '{_KS_SEG_B}')
    ),
    per_val AS (
        SELECT cents, sum(ia)::BIGINT AS a, sum(ib)::BIGINT AS b
        FROM x GROUP BY 1
    ),
    cum AS (
        SELECT sum(a) OVER (ORDER BY cents)::BIGINT AS ca,
               sum(b) OVER (ORDER BY cents)::BIGINT AS cb
        FROM per_val
    ),
    tot AS (
        SELECT sum(a)::BIGINT AS n_a, sum(b)::BIGINT AS n_b FROM per_val
    )
    SELECT n_a, n_b,
           CAST(FLOOR(CAST(max(abs(ca * n_b - cb * n_a)) AS DOUBLE)
                      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) * 1000000) AS BIGINT)
               AS d_micro
    FROM cum CROSS JOIN tot
    GROUP BY n_a, n_b
"""


# --- 11. streaming stream-static join replay -------------------------------------
def streaming_enrich_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10th driver-certified streaming query, covering the STREAM-
    STATIC JOIN class (the one Structured Streaming join family not
    yet under the driver — stream-stream interval joins are; this is
    the per-micro-batch dimension-enrichment shape every production
    stream uses): the event stream inner-joins a static customer-tier
    dim, then a watermarked tumbling aggregation per tier
    (``streaming/events_stream.streaming_enriched_totals``, complete
    mode, availableNow). The oracle re-derives the same join +
    hour-bucket rollup in batch SQL, so a hash match certifies the
    micro-batch join + windowed state converge to the batch answer.
    At 100 TB the static side re-broadcasts per micro-batch (which is
    also how slowly-changing dims get picked up mid-stream)."""
    from etl_extractor_spark.streaming import events_stream as SE

    return SE.run_to_memory(
        SE.streaming_enriched_totals(spark, sf_dir),
        output_mode="complete",
        state_partitions=SE.state_partitions_for(spark, sf_dir),
    )


QUERIES["streaming_enrich_replay"] = streaming_enrich_replay
ORACLES["streaming_enrich_replay"] = """
    WITH tiers AS (
        SELECT c_custkey AS user_id,
               CASE WHEN c_acctbal >= 5000 THEN 'high'
                    WHEN c_acctbal >= 0 THEN 'mid'
                    ELSE 'low' END AS tier
        FROM customer
    )
    SELECT strftime(make_timestamp(CAST(floor(epoch_us(e.ts) / 3600000000) AS BIGINT)
                                   * 3600000000),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           t.tier,
           count(*) AS n_events,
           round(sum(e.value), 4) AS sum_value
    FROM events e JOIN tiers t ON e.user_id = t.user_id
    GROUP BY 1, 2
"""


# --- 12. HLL reach: driver-certifiable error contract ----------------------------
def hll_reach_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-certifiable HLL contract row (completes the sketch-
    certification set with kll_quantile_contract /
    theta_sketch_contract): the merged per-day HLL sketches'
    distinct-user estimate per event_type (the exact merge pipeline of
    the rows-only ``hll_user_reach``) must land within max(5, 5% of
    exact) of the true COUNT(DISTINCT) — lgK=12 HLL has ~1.6% RSE and
    is exact below its dense threshold, so the 5% bit is stable at
    every SF. At 100 TB the exact side is the one-off audit; the
    sketch side is the persisted per-partition state a reach dashboard
    actually serves from."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    daily = e.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    est = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )
    ok = (
        F.abs(F.col("est") - F.col("n_users"))
        <= F.greatest(F.lit(5.0), F.col("n_users") * 0.05)
    ).cast("long")
    return exact.join(F.broadcast(est), "event_type").select(
        "event_type", "n_users", ok.alias("ok_reach")
    )


QUERIES["hll_reach_contract"] = hll_reach_contract
ORACLES["hll_reach_contract"] = """
    SELECT event_type,
           count(DISTINCT user_id)::BIGINT AS n_users,
           1::BIGINT AS ok_reach
    FROM events GROUP BY event_type
"""


# --- 13. seeded stratified sampling: rate contract --------------------------------
_SSC_FRACS = {"F": 0.2, "O": 0.1, "P": 0.5}


def stratified_sample_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-certifiable contract for the engine-specific Bernoulli
    draw (``orders_stratified_sample`` stays rows-only; its
    deterministic md5 twin pins exact behavior — THIS row certifies
    the native sampleBy draw's statistics): per stratum, the sampled
    count must sit within 4σ + 5 of p·n (binomial σ = √(np(1−p));
    miss probability < 1e-4 per stratum per draw, and the slack
    absorbs partitioning-dependent draws across sessions). The oracle
    pins the exact stratum totals and the bit as literal 1 — a hash
    match certifies the sampler's rates on this data."""
    o = load_table(spark, sf_dir, "orders").select("o_orderstatus")
    totals = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    sampled = (
        o.sampleBy("o_orderstatus", _SSC_FRACS, seed=42)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    # ONE source of truth for the rates: build the p expression from
    # the same dict sampleBy draws from (review catch — a hardcoded
    # when-chain could silently desync from a tuned _SSC_FRACS).
    # sampleBy semantics for a stratum NOT in the dict is fraction 0.0
    # — the default must be 0.0, not any listed fraction, or dropping a
    # stratum from _SSC_FRACS would flag a false sampler failure
    # (review catch); every listed stratum gets its own when() arm.
    p = F.lit(0.0)
    for st, frac in _SSC_FRACS.items():
        p = F.when(F.col("o_orderstatus") == st, F.lit(frac)).otherwise(p)
    nd = F.col("n_total").cast("double")
    bound = 4.0 * F.sqrt(nd * p * (1 - p)) + 5.0
    ok = (
        F.abs(F.coalesce(F.col("k"), F.lit(0)).cast("double") - p * nd) <= bound
    ).cast("long")
    return (
        totals.join(F.broadcast(sampled), "o_orderstatus", "left")
        .select("o_orderstatus", "n_total", ok.alias("ok_rate"))
    )


QUERIES["stratified_sample_contract"] = stratified_sample_contract
ORACLES["stratified_sample_contract"] = """
    SELECT o_orderstatus,
           count(*)::BIGINT AS n_total,
           1::BIGINT AS ok_rate
    FROM orders GROUP BY o_orderstatus
"""


# --- 14. empirical-Bayes shrunk segment means -------------------------------------
_EB_K = 100  # pseudo-count prior strength


def eb_shrunk_segment_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (James-Stein-style) shrinkage of per-segment
    mean order value toward the global mean with weight
    w = n_g / (n_g + K), K = 100 pseudo-counts — the smoothing every
    small-cell dashboard applies so a 10-order segment doesn't swing
    the report (distinct from target_encoding_loo: shrinkage blends
    toward the prior, LOO excludes self). Sufficient statistics are
    exact BIGINT cents; the blend is ONE shared IEEE double sequence
    (±·/ only, no transcendentals) floored to integer cents on both
    engines — the repo's no-ceiling final-scalar recipe.

    100 TB: one map-side-combined aggregation + a 1-row broadcast;
    O(segments) scalar math."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        cents("o_totalprice").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("s"),
        )
    )
    tot = seg.agg(
        F.sum("n").cast("long").alias("nt"), F.sum("s").cast("long").alias("st")
    )
    nd, sd = F.col("n").cast("double"), F.col("s").cast("double")
    ntd, std = F.col("nt").cast("double"), F.col("st").cast("double")
    shrunk = (nd / (nd + _EB_K)) * (sd / nd) + (_EB_K / (nd + _EB_K)) * (std / ntd)
    return seg.crossJoin(F.broadcast(tot)).select(
        "c_mktsegment",
        F.col("n").alias("n_orders"),
        F.expr("s div n").alias("mean_cents"),
        F.floor(shrunk).cast("long").alias("shrunk_mean_cents"),
    )


QUERIES["eb_shrunk_segment_means"] = eb_shrunk_segment_means
ORACLES["eb_shrunk_segment_means"] = f"""
    WITH seg AS (
        SELECT c_mktsegment,
               count(*)::BIGINT AS n,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) AS s
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1
    ),
    tot AS (SELECT sum(n)::BIGINT AS nt, sum(s)::BIGINT AS st FROM seg)
    SELECT c_mktsegment,
           n AS n_orders,
           s // n AS mean_cents,
           CAST(FLOOR(
               (CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) + {_EB_K}))
                   * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               + ({_EB_K} / (CAST(n AS DOUBLE) + {_EB_K}))
                   * (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))
           ) AS BIGINT) AS shrunk_mean_cents
    FROM seg CROSS JOIN tot
"""


# --- 15. per-user behavioral entropy ----------------------------------------------
def user_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution — the
    behavioral-diversity feature (bots spike one type → H ≈ 0; organic
    users spread → H near ln(n_types)), rolled up as a deci-nat
    histogram with min/max user fingerprints per bucket. Per the
    repo's order-independence idiom, each −p·ln(p) term is quantized
    to integer micro-nats BEFORE the per-user sum, so H_micro is an
    order-free integer. RESIDUAL (documented, same class as the
    haversine hectometer note): ln is a transcendental — neither
    engine guarantees correct rounding — so a term landing within
    ~1 ulp (~1e-10 relative) of a micro-nat floor boundary could
    quantize differently per engine; over the sandbox's ~1e5
    (user, type) terms the flip odds are ~1e-5 per sweep, and a 100 TB
    release (1e12 terms) would coarsen the quantum (milli-nats) to
    keep the same odds, exactly as the other log-term queries
    (kl_source_divergence, bigram_lm) document.

    100 TB: two hash aggregations — (user, type) counts, then the
    per-user term sum — and an O(buckets) rollup; no sort, no
    collect."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    ut = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n_u = ut.groupBy("user_id").agg(F.sum("c").cast("long").alias("n"))
    term = F.floor(
        F.log(F.col("n").cast("double") / F.col("c").cast("double"))
        * F.col("c").cast("double")
        / F.col("n").cast("double")
        * 1000000
    ).cast("long")
    h = (
        ut.join(n_u, "user_id")
        .select("user_id", term.alias("t"))
        .groupBy("user_id")
        .agg(F.sum("t").cast("long").alias("h_micro"))
    )
    return (
        h.select("user_id", F.expr("h_micro div 100000").alias("decinat"))
        .groupBy("decinat")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.min("user_id").alias("min_user"),
            F.max("user_id").alias("max_user"),
        )
    )


QUERIES["user_event_entropy"] = user_event_entropy
ORACLES["user_event_entropy"] = """
    WITH ut AS (
        SELECT user_id, event_type, count(*)::BIGINT AS c
        FROM events GROUP BY 1, 2
    ),
    nu AS (SELECT user_id, sum(c)::BIGINT AS n FROM ut GROUP BY 1),
    terms AS (
        SELECT ut.user_id,
               CAST(FLOOR(ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))
                          * CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                          * 1000000) AS BIGINT) AS t
        FROM ut JOIN nu USING (user_id)
    ),
    h AS (SELECT user_id, sum(t)::BIGINT AS h_micro FROM terms GROUP BY 1)
    SELECT h_micro // 100000 AS decinat,
           count(*)::BIGINT AS n_users,
           min(user_id) AS min_user,
           max(user_id) AS max_user
    FROM h GROUP BY 1
"""
