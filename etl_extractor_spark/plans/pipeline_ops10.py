"""Round-10 continuation wave: the classical k-sample / two-sample
inference tests the stats suite still lacked — one-way ANOVA F,
Kruskal-Wallis H (tie-corrected), Brown-Forsythe robust variance
equality, and Welch's unequal-variance t with Welch-Satterthwaite
degrees of freedom. Every one is a ONE- or TWO-PASS map-combinable
aggregate: per-group state is (n, sum, sum-of-squares) or a
value-domain rank walk, never a per-row buffer, so the shuffle is
group-count-sized (k = 5 priorities / 2 years) at any SF.

Cross-engine determinism rule (this module's design constraint): the
group count is tiny and FIXED, so every per-group statistic is folded
into ONE row via conditional aggregates and the final statistic is a
single scalar expression with a PINNED operand order, mirrored
textually in the DuckDB oracle. Both engines then execute the same
IEEE-754 double ops on the same exact integer inputs (sums are kept
in DECIMAL(38,0) until the final cast), so the 1e-6-rounded outputs
are bit-identical by construction — no cross-engine summation-order
variance is possible for the 5-term folds, unlike a SUM over a
5-row group whose accumulation order the engine picks.

Rank machinery (Kruskal-Wallis): ranks are computed on the DISTINCT
VALUE domain with the two-phase bucket-cumsum from mann_whitney_u
(plans/pipeline_ops.py:1999) — within-bucket exclusive running sums
plus broadcast per-bucket offsets — never a single-partition window
over SF-scaled rows. Doubled-rank space (2·avg_rank(v) =
2·cum_less(v) + cnt(v) + 1) keeps tie midpoints exact integers.

Reference provenance: the reference (nilfredb/ETL-Extractor,
main.py:97-306) profiles and conforms these same order attributes but
has no inference layer; these tests are the decision layer a
warehouse-scale DQ/experimentation pipeline runs on top of the
conformed facts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_extractor_spark.functions.quantize import cents as _cents
from etl_extractor_spark.session import query_session
from etl_extractor_spark.sources.parquet import load_table

QUERIES: dict = {}
ORACLES: dict = {}


def _r6(col):
    """Round-half-up at 1e-6 — the module-wide reporting convention
    (same as mann_whitney_u's z), mirrored as floor(x*1e6 + 0.5)/1e6
    in every oracle."""
    return F.floor(col * 1000000 + F.lit(0.5)) / 1000000


def _grp(col: str = "o_orderpriority"):
    """Priority group 1..5 from the leading digit."""
    return F.substring(F.col(col), 1, 1).cast("int")


# --- 1. One-way ANOVA F across order priorities ------------------------------


def _anova_fold(df: DataFrame, val: str, out_name: str) -> DataFrame:
    """Shared one-pass 5-group ANOVA-F fold over (g in 1..5, ``val``):
    15 exact integers (n_g, Σx_g, Σx²_g) via conditional aggregates,
    then SSB/SSW/F as ONE pinned-operand-order double expression
    (groups 1..5 left to right, mirrored textually in the _ANOVA_*
    SQL fragments). Factored so anova_f_oneway and
    brown_forsythe_priority share ONE fold — a fix to the pinned
    expression can never diverge between them (review catch)."""
    x = F.col(val)

    def _n(k):
        return F.sum(F.when(F.col("g") == k, 1).otherwise(0)).cast("long")

    def _s(k):
        return F.sum(
            F.when(F.col("g") == k, x).otherwise(0).cast("decimal(38,0)")
        )

    def _q(k):
        return F.sum(
            F.when(F.col("g") == k, x * x).otherwise(0).cast("decimal(38,0)")
        )

    agg = df.agg(
        *[_n(k).alias(f"n{k}") for k in range(1, 6)],
        *[_s(k).alias(f"s{k}") for k in range(1, 6)],
        *[_q(k).alias(f"q{k}") for k in range(1, 6)],
    )

    def d(name):
        return F.col(name).cast("double")

    between = None
    total_s = None
    total_q = None
    total_n = None
    for k in range(1, 6):
        term = d(f"s{k}") * d(f"s{k}") / d(f"n{k}")
        between = term if between is None else between + term
        total_s = d(f"s{k}") if total_s is None else total_s + d(f"s{k}")
        total_q = d(f"q{k}") if total_q is None else total_q + d(f"q{k}")
        total_n = d(f"n{k}") if total_n is None else total_n + d(f"n{k}")
    ssb = between - total_s * total_s / total_n
    ssw = total_q - between
    f_stat = (ssb / F.lit(4.0)) / (ssw / (total_n - F.lit(5.0)))
    return agg.select(
        total_n.cast("long").alias("n_total"),
        F.lit(4).cast("long").alias("df1"),
        (total_n - F.lit(5.0)).cast("long").alias("df2"),
        _r6(f_stat).alias(out_name),
    )


def anova_f_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic for order value (cents) across the 5
    order priorities. SINGLE PASS: the whole test reduces to 15 exact
    integers — (n_g, Σx_g, Σx²_g) per group — folded into one row via
    conditional aggregates (map-side combinable; the shuffle carries
    one partial row per task). SSB = Σ s_g²/n_g − S²/N and
    SSW = Σq_g − Σ s_g²/n_g are then evaluated as one pinned-order
    double expression, so DuckDB reproduces the float bit-for-bit.

    100 TB: state is 15 numbers regardless of SF; no value buffer, no
    sort, no window. The exact-integer accumulation (DECIMAL(38,0) /
    HUGEINT) means no precision drift however many rows are summed.

    One row: n_total, df1, df2, f_stat (1e-6)."""
    o = load_table(spark, sf_dir, "orders").select(
        _cents("o_totalprice").alias("x"), _grp().alias("g")
    )
    return _anova_fold(o, "x", "f_stat")


QUERIES["anova_f_oneway"] = anova_f_oneway
_ANOVA_CASES = ", ".join(
    f"CAST(sum(CASE WHEN g = {k} THEN 1 ELSE 0 END) AS BIGINT) AS n{k}, "
    f"sum(CASE WHEN g = {k} THEN x ELSE 0 END) AS s{k}, "
    f"sum(CASE WHEN g = {k} THEN x * x ELSE 0 END) AS q{k}"
    for k in range(1, 6)
)
_ANOVA_BETWEEN = " + ".join(
    f"CAST(s{k} AS DOUBLE) * CAST(s{k} AS DOUBLE) / CAST(n{k} AS DOUBLE)"
    for k in range(1, 6)
)
_ANOVA_S = " + ".join(f"CAST(s{k} AS DOUBLE)" for k in range(1, 6))
_ANOVA_Q = " + ".join(f"CAST(q{k} AS DOUBLE)" for k in range(1, 6))
_ANOVA_N = " + ".join(f"CAST(n{k} AS DOUBLE)" for k in range(1, 6))
ORACLES["anova_f_oneway"] = f"""
WITH x AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
         CAST(substr(o_orderpriority, 1, 1) AS INT) AS g
  FROM orders
), a AS (
  SELECT {_ANOVA_CASES} FROM x
), e AS (
  SELECT ({_ANOVA_N}) AS tn, ({_ANOVA_BETWEEN}) AS bt,
         ({_ANOVA_S}) AS ts, ({_ANOVA_Q}) AS tq
  FROM a
)
SELECT CAST(tn AS BIGINT) AS n_total,
       CAST(4 AS BIGINT) AS df1,
       CAST(tn - 5.0 AS BIGINT) AS df2,
       floor(((bt - ts * ts / tn) / 4.0) / ((tq - bt) / (tn - 5.0)) * 1000000
             + 0.5) / 1000000 AS f_stat
FROM e
"""


# --- 2. Kruskal-Wallis H across order priorities ------------------------------


def kruskal_wallis_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank test of line-item QUANTITY across the 3
    return flags (A/N/R) — the k-sample generalization of
    mann_whitney_u, sharing its EXACT-rank machinery: per distinct
    value v the doubled average rank is 2·cum_less(v) + cnt(v) + 1 (an
    exact integer even on tie midpoints), and the per-group doubled
    rank sums R2_g accumulate n_g(v)·that in DECIMAL(38,0). Quantity
    is an INTEGER 1..50, so the data is tie-DOMINATED at every SF and
    the Σ(c³−c) tie correction is structurally load-bearing (an
    untied variable would make H_tied == H and let a broken correction
    certify itself — the reason this query is not on order value).
    The cumulative walk runs over the DISTINCT-value relation with the
    two-phase bucket-cumsum (v-div-10 buckets, broadcast offsets) —
    the plan shape that stays shuffle-safe when the value domain is
    NOT bounded, kept here for idiom parity with mann_whitney_u.

    H = 12/(N(N+1))·Σ R_g²/n_g − 3(N+1), corrected H_tied = H / (1 −
    Σ(c³−c)/(N³−N)), both evaluated as pinned-order double
    expressions over the folded one-row state so the oracle reproduces
    the floats bit-for-bit.

    100 TB: the only SF-scaled work is the (v)-grouped count — a
    50-group map-combinable histogram; rank state is ≤50 rows, final
    state 8 numbers. SF-proportional rows collapse to a fixed-size
    relation in one combine pass.

    One row: n_total, df, h_stat, h_tied (1e-6)."""
    o = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("v"),
        F.when(F.col("l_returnflag") == "A", 1)
        .when(F.col("l_returnflag") == "N", 2)
        .otherwise(3)
        .alias("g"),
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("c")]
    for k in range(1, 4):
        aggs.append(
            F.sum(F.when(F.col("g") == k, 1).otherwise(0))
            .cast("long")
            .alias(f"c{k}")
        )
    per_v = o.groupBy("v").agg(*aggs).withColumn("b", F.expr("v div 10"))
    wv = (
        Window.partitionBy("b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sizes = per_v.groupBy("b").agg(F.sum("c").alias("cb"))
    wo = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "b", F.coalesce(F.sum("cb").over(wo), F.lit(0)).alias("off")
    )
    cum = (
        per_v.withColumn("cin", F.coalesce(F.sum("c").over(wv), F.lit(0)))
        .join(F.broadcast(offsets), "b")
        .withColumn("r2", 2 * (F.col("cin") + F.col("off")) + F.col("c") + 1)
    )
    # cube in DECIMAL, not long: c³ wraps past c ≈ 2.1e6 rows per value
    # (~sf20 on a 50-value domain) — the cast must happen BEFORE the
    # multiplies (review catch; oracle mirrors with a HUGEINT cast)
    c_dec = F.col("c").cast("decimal(38,0)")
    agg = cum.agg(
        F.sum("c").cast("long").alias("n_total"),
        F.sum(c_dec * c_dec * c_dec - c_dec).alias("tie"),
        *[
            F.sum((F.col(f"c{k}") * F.col("r2")).cast("decimal(38,0)")).alias(
                f"r{k}"
            )
            for k in range(1, 4)
        ],
        *[F.sum(f"c{k}").cast("long").alias(f"n{k}") for k in range(1, 4)],
    )

    def d(name):
        return F.col(name).cast("double")

    # pinned order: groups 1..3 left to right (mirrored in SQL)
    sumterm = None
    for k in range(1, 4):
        rk = d(f"r{k}") / F.lit(2.0)
        term = rk * rk / d(f"n{k}")
        sumterm = term if sumterm is None else sumterm + term
    n = d("n_total")
    h = F.lit(12.0) / (n * (n + F.lit(1.0))) * sumterm - F.lit(3.0) * (
        n + F.lit(1.0)
    )
    corr = F.lit(1.0) - d("tie") / (n * n * n - n)
    return agg.select(
        F.col("n_total"),
        F.lit(2).cast("long").alias("df"),
        _r6(h).alias("h_stat"),
        _r6(h / corr).alias("h_tied"),
    )


QUERIES["kruskal_wallis_quantity"] = kruskal_wallis_quantity
_KW_CASES = ", ".join(
    f"CAST(sum(CASE WHEN g = {k} THEN 1 ELSE 0 END) AS BIGINT) AS c{k}"
    for k in range(1, 4)
)
_KW_RANKSUMS = ", ".join(f"sum(c{k} * r2) AS r{k}" for k in range(1, 4))
_KW_NS = ", ".join(
    f"CAST(sum(c{k}) AS BIGINT) AS n{k}" for k in range(1, 4)
)
_KW_SUMTERM = " + ".join(
    f"(CAST(r{k} AS DOUBLE) / 2.0) * (CAST(r{k} AS DOUBLE) / 2.0)"
    f" / CAST(n{k} AS DOUBLE)"
    for k in range(1, 4)
)
ORACLES["kruskal_wallis_quantity"] = f"""
WITH x AS (
  SELECT CAST(l_quantity AS BIGINT) AS v,
         CASE WHEN l_returnflag = 'A' THEN 1
              WHEN l_returnflag = 'N' THEN 2 ELSE 3 END AS g
  FROM lineitem
), per_v AS (
  SELECT v, CAST(count(*) AS BIGINT) AS c, {_KW_CASES}
  FROM x GROUP BY 1
), cum AS (
  SELECT *, 2 * CAST(coalesce(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            + c + 1 AS r2
  FROM per_v
), a AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_total,
         sum(CAST(c AS HUGEINT) * c * c - c) AS tie,
         {_KW_RANKSUMS}, {_KW_NS}
  FROM cum
), e AS (
  SELECT n_total,
         12.0 / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) + 1.0))
           * ({_KW_SUMTERM})
           - 3.0 * (CAST(n_total AS DOUBLE) + 1.0) AS h,
         1.0 - CAST(tie AS DOUBLE)
             / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
                * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE)) AS corr
  FROM a
)
SELECT n_total, CAST(2 AS BIGINT) AS df,
       floor(h * 1000000 + 0.5) / 1000000 AS h_stat,
       floor(h / corr * 1000000 + 0.5) / 1000000 AS h_tied
FROM e
"""


# --- 3. Brown-Forsythe robust variance-equality test --------------------------


def brown_forsythe_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (Levene with group MEDIANS) for equality of
    order-value spread across the 5 priorities: z = |x − med_g|, then
    the one-way ANOVA F on z. TWO PASSES: (1) exact lower median per
    group via the value-domain cumulative rank (the
    skewed_exact_median_value plan, pipeline_ops6.py:134 — the
    per-group window runs over DISTINCT-value rows, ≤ |cents domain|,
    never over SF-scaled rows), medians broadcast back (5 rows);
    (2) the same 15-integer conditional-aggregate fold as
    anova_f_oneway on the exact-integer deviations. Median convention:
    lower median = DuckDB quantile_disc(·, 0.5) (pinned by the
    rolling-median work).

    100 TB: pass 1's shuffle is the (g, v)-grouped count (distinct-
    value-scaled); pass 2's state is 15 numbers. No per-row buffers.

    One row: n_total, df1, df2, f_bf (1e-6)."""
    o = load_table(spark, sf_dir, "orders").select(
        _cents("o_totalprice").alias("x"), _grp().alias("g")
    )
    vc = o.groupBy("g", "x").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w_cum = Window.partitionBy("g").orderBy("x")
    w_tot = Window.partitionBy("g")
    ranked = vc.select(
        "g",
        "x",
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum("c").over(w_tot).cast("long").alias("tot"),
    )
    med = (
        ranked.filter(F.col("cum") >= F.expr("(tot - 1) div 2 + 1"))
        .groupBy("g")
        .agg(F.min("x").cast("long").alias("med"))
    )
    z = o.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("x") - F.col("med")).alias("z")
    )
    return _anova_fold(z, "z", "f_bf")


QUERIES["brown_forsythe_priority"] = brown_forsythe_priority
ORACLES["brown_forsythe_priority"] = f"""
WITH x AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
         CAST(substr(o_orderpriority, 1, 1) AS INT) AS g
  FROM orders
), med AS (
  SELECT g, CAST(quantile_disc(x, 0.5) AS BIGINT) AS med FROM x GROUP BY 1
), z AS (
  SELECT x.g AS g, abs(x.x - med.med) AS x FROM x JOIN med USING (g)
), a AS (
  SELECT {_ANOVA_CASES} FROM z
), e AS (
  SELECT ({_ANOVA_N}) AS tn, ({_ANOVA_BETWEEN}) AS bt,
         ({_ANOVA_S}) AS ts, ({_ANOVA_Q}) AS tq
  FROM a
)
SELECT CAST(tn AS BIGINT) AS n_total,
       CAST(4 AS BIGINT) AS df1,
       CAST(tn - 5.0 AS BIGINT) AS df2,
       floor(((bt - ts * ts / tn) / 4.0) / ((tq - bt) / (tn - 5.0)) * 1000000
             + 0.5) / 1000000 AS f_bf
FROM e
"""


# --- 4. Welch's t with Welch-Satterthwaite df ---------------------------------


def welch_t_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of order value between 1995 and
    1996 orders, with the Welch-Satterthwaite effective degrees of
    freedom — the correct two-sample test when variances differ (the
    pooled-variance t the ab_test_zscore family approximates assumes
    homoscedasticity). SINGLE PASS over the two-year slice: the whole
    test is 6 exact integers (n, Σx, Σx² per year) folded into one row;
    sample variances, t, and df are one pinned-order double expression.

    100 TB: filter pushes to the scan (year bounds → o_orderdate range
    predicate territory); state is 6 numbers at any SF.

    One row: n_a, n_b, mean_diff_cents, t_stat, df_welch (1e-6)."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate").isin(1995, 1996))
        .select(
            _cents("o_totalprice").alias("x"),
            F.year("o_orderdate").alias("y"),
        )
    )
    agg = o.agg(
        F.sum(F.when(F.col("y") == 1995, 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(
            F.when(F.col("y") == 1995, F.col("x")).otherwise(0).cast(
                "decimal(38,0)"
            )
        ).alias("sa"),
        F.sum(
            F.when(F.col("y") == 1995, F.col("x") * F.col("x"))
            .otherwise(0)
            .cast("decimal(38,0)")
        ).alias("qa"),
        F.sum(F.when(F.col("y") == 1996, 1).otherwise(0))
        .cast("long")
        .alias("nb"),
        F.sum(
            F.when(F.col("y") == 1996, F.col("x")).otherwise(0).cast(
                "decimal(38,0)"
            )
        ).alias("sb"),
        F.sum(
            F.when(F.col("y") == 1996, F.col("x") * F.col("x"))
            .otherwise(0)
            .cast("decimal(38,0)")
        ).alias("qb"),
    )

    def d(name):
        return F.col(name).cast("double")

    na, nb = d("na"), d("nb")
    ma = d("sa") / na
    mb = d("sb") / nb
    va = (d("qa") - d("sa") * d("sa") / na) / (na - F.lit(1.0))
    vb = (d("qb") - d("sb") * d("sb") / nb) / (nb - F.lit(1.0))
    ua = va / na
    ub = vb / nb
    t = (ma - mb) / F.sqrt(ua + ub)
    df = ((ua + ub) * (ua + ub)) / (
        ua * ua / (na - F.lit(1.0)) + ub * ub / (nb - F.lit(1.0))
    )
    return agg.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        _r6(ma - mb).alias("mean_diff_cents"),
        _r6(t).alias("t_stat"),
        _r6(df).alias("df_welch"),
    )


QUERIES["welch_t_years"] = welch_t_years
ORACLES["welch_t_years"] = """
WITH x AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
         year(o_orderdate) AS y
  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
), a AS (
  SELECT CAST(sum(CASE WHEN y = 1995 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         sum(CASE WHEN y = 1995 THEN x ELSE 0 END) AS sa,
         sum(CASE WHEN y = 1995 THEN x * x ELSE 0 END) AS qa,
         CAST(sum(CASE WHEN y = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         sum(CASE WHEN y = 1996 THEN x ELSE 0 END) AS sb,
         sum(CASE WHEN y = 1996 THEN x * x ELSE 0 END) AS qb
  FROM x
), e AS (
  SELECT na, nb,
         CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
         CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
         ((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
           / CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0))
           / CAST(na AS DOUBLE) AS ua,
         ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
           / CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0))
           / CAST(nb AS DOUBLE) AS ub
  FROM a
)
SELECT na AS n_a, nb AS n_b,
       floor((ma - mb) * 1000000 + 0.5) / 1000000 AS mean_diff_cents,
       floor((ma - mb) / sqrt(ua + ub) * 1000000 + 0.5) / 1000000 AS t_stat,
       floor(((ua + ub) * (ua + ub))
             / (ua * ua / (CAST(na AS DOUBLE) - 1.0)
                + ub * ub / (CAST(nb AS DOUBLE) - 1.0)) * 1000000
             + 0.5) / 1000000 AS df_welch
FROM e
"""


# --- 9. Average precision (pessimistic tie order) ------------------------------


def avg_precision_pessimistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AVERAGE PRECISION (the area under the precision-recall
    curve as rank-eval tools compute it) of the deterministic
    English-ness score over documents — the PR-space twin of
    roc_auc_exact, and the metric that matters when positives are rare
    (AUC stays high while AP collapses). Tie policy: PESSIMISTIC
    (negatives rank before positives within a tied score) — a pinned
    worst-case convention, not an arbitrary engine order, so the
    number is reproducible anywhere. The j-th positive of a tied group
    with (P_prev positives, C_prev rows) strictly above it contributes
    precision (P_prev+j)/(C_prev+q+j); the per-group harmonic sum is
    materialized by explode(sequence(1, p)) — total exploded rows =
    n_pos, one pass, and each term is quantized to an exact BIGINT
    (term12 = num·1e12 div den) so the sum is order-independent and
    engine-exact — no float accumulation anywhere.

    100 TB: distinct-score relation is score-domain-bounded (≤1e6+1);
    the explode is n_pos rows (data-scaled, map-side); the quantized
    grid overflows only past ~9.2e6 positives per 1e12 quantum —
    coarsen the quantum with the corpus, noted here.

    One row: n_pos, n_total, ap12 (exact), avg_precision (1e-6)."""
    from etl_extractor_spark.plans.inference import _scored_docs

    s = _scored_docs(spark, sf_dir)
    per_v = s.groupBy((1000000 - F.col("score_micro")).alias("v")).agg(
        F.sum("label").cast("long").alias("p"),
        F.sum(1 - F.col("label")).cast("long").alias("q"),
    ).withColumn("b", F.expr("v div 20000"))
    wv = (
        Window.partitionBy("b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sizes = per_v.groupBy("b").agg(
        F.sum("p").alias("pb"), F.sum(F.col("p") + F.col("q")).alias("cb")
    )
    wo = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "b",
        F.coalesce(F.sum("pb").over(wo), F.lit(0)).alias("p_off"),
        F.coalesce(F.sum("cb").over(wo), F.lit(0)).alias("c_off"),
    )
    cum = (
        per_v.withColumn("p_in", F.coalesce(F.sum("p").over(wv), F.lit(0)))
        .withColumn(
            "c_in",
            F.coalesce(F.sum(F.col("p") + F.col("q")).over(wv), F.lit(0)),
        )
        .join(F.broadcast(offsets), "b")
        .select(
            "p",
            "q",
            (F.col("p_in") + F.col("p_off")).alias("p_prev"),
            (F.col("c_in") + F.col("c_off")).alias("c_prev"),
        )
    )
    terms = cum.filter(F.col("p") > 0).select(
        "p",
        "q",
        "p_prev",
        "c_prev",
        F.explode(F.sequence(F.lit(1).cast("long"), F.col("p"))).alias("j"),
    )
    agg_counts = cum.agg(
        F.sum("p").cast("long").alias("n_pos"),
        F.sum(F.col("p") + F.col("q")).cast("long").alias("n_total"),
    )
    agg_terms = terms.agg(
        F.sum(
            F.expr("(p_prev + j) * 1000000000000L div (c_prev + q + j)")
        )
        .cast("long")
        .alias("ap12")
    )
    out = agg_counts.crossJoin(agg_terms)
    ap = F.col("ap12").cast("double") / (
        F.col("n_pos").cast("double") * F.lit(1000000000000.0)
    )
    return out.select(
        "n_pos", "n_total", "ap12", _r6(ap).alias("avg_precision")
    )


QUERIES["avg_precision_pessimistic"] = avg_precision_pessimistic
ORACLES["avg_precision_pessimistic"] = """
WITH s AS (
    SELECT CAST(FLOOR(CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
                / (CAST(length(text) AS DOUBLE) + 1.0) * 1000000) AS BIGINT) AS score_micro,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
    FROM documents
), per_v AS (
    SELECT 1000000 - score_micro AS v,
           SUM(label)::BIGINT AS p,
           SUM(1 - label)::BIGINT AS q
    FROM s GROUP BY 1
), cum AS (
    SELECT p, q,
           COALESCE(SUM(p) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p_prev,
           COALESCE(SUM(p + q) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_prev
    FROM per_v
), t AS (
    SELECT CAST(SUM((c.p_prev + j.j) * 1000000000000 // (c.c_prev + c.q + j.j))
           AS BIGINT) AS ap12
    FROM cum c, LATERAL (SELECT unnest(generate_series(1, c.p)) AS j) j
    WHERE c.p > 0
), a AS (
    SELECT SUM(p)::BIGINT AS n_pos, SUM(p + q)::BIGINT AS n_total FROM cum
)
SELECT n_pos, n_total, ap12,
       floor(CAST(ap12 AS DOUBLE) / (CAST(n_pos AS DOUBLE) * 1000000000000.0)
             * 1000000 + 0.5) / 1000000 AS avg_precision
FROM a, t
"""


# --- 10. Cohen's kappa between two deterministic raters -------------------------


def cohen_kappa_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two
    3-category 'raters' over orders: rater A buckets by priority
    (urgent/high, medium, low/unspecified), rater B by fixed price
    terciles ($0-70k, $70-150k, >$150k in cents literals). The
    agreement metric every labeling/annotation pipeline reports before
    trusting auto-labels at scale. SINGLE PASS: the full 3×3 confusion
    matrix is 9 conditional-aggregate integers folded into one row;
    p_o, p_e and kappa are a pinned-order double expression (row/col
    marginals expanded in a fixed 0,1,2 order, mirrored in SQL).

    100 TB: state is 9 numbers; map-combinable; no shuffle beyond the
    single-row fold.

    One row: n, po, pe, kappa (1e-6)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.when(_grp() <= 2, 0).when(_grp() == 3, 1).otherwise(2).alias("a"),
        F.when(_cents("o_totalprice") < 7000000, 0)
        .when(_cents("o_totalprice") < 15000000, 1)
        .otherwise(2)
        .alias("bb"),
    )
    agg = o.agg(
        *[
            F.sum(
                F.when((F.col("a") == i) & (F.col("bb") == j), 1).otherwise(0)
            )
            .cast("long")
            .alias(f"n{i}{j}")
            for i in range(3)
            for j in range(3)
        ]
    )

    def d(name):
        return F.col(name).cast("double")

    n = None
    for i in range(3):
        for j in range(3):
            n = d(f"n{i}{j}") if n is None else n + d(f"n{i}{j}")
    po = (d("n00") + d("n11") + d("n22")) / n
    pe = None
    for g in range(3):
        row = d(f"n{g}0") + d(f"n{g}1") + d(f"n{g}2")
        col = d(f"n0{g}") + d(f"n1{g}") + d(f"n2{g}")
        term = row * col
        pe = term if pe is None else pe + term
    pe = pe / (n * n)
    kappa = (po - pe) / (F.lit(1.0) - pe)
    return agg.select(
        n.cast("long").alias("n"),
        _r6(po).alias("po"),
        _r6(pe).alias("pe"),
        _r6(kappa).alias("kappa"),
    )


QUERIES["cohen_kappa_raters"] = cohen_kappa_raters
_KAPPA_CELLS = ", ".join(
    f"CAST(sum(CASE WHEN a = {i} AND bb = {j} THEN 1 ELSE 0 END) AS BIGINT)"
    f" AS n{i}{j}"
    for i in range(3)
    for j in range(3)
)
_KAPPA_N = " + ".join(
    f"CAST(n{i}{j} AS DOUBLE)" for i in range(3) for j in range(3)
)
_KAPPA_PE = " + ".join(
    f"(CAST(n{g}0 AS DOUBLE) + CAST(n{g}1 AS DOUBLE) + CAST(n{g}2 AS DOUBLE))"
    f" * (CAST(n0{g} AS DOUBLE) + CAST(n1{g} AS DOUBLE) + CAST(n2{g} AS DOUBLE))"
    for g in range(3)
)
ORACLES["cohen_kappa_raters"] = f"""
WITH x AS (
  SELECT CASE WHEN CAST(substr(o_orderpriority, 1, 1) AS INT) <= 2 THEN 0
              WHEN CAST(substr(o_orderpriority, 1, 1) AS INT) = 3 THEN 1
              ELSE 2 END AS a,
         CASE WHEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   < 7000000 THEN 0
              WHEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   < 15000000 THEN 1
              ELSE 2 END AS bb
  FROM orders
), m AS (
  SELECT {_KAPPA_CELLS} FROM x
), e AS (
  SELECT ({_KAPPA_N}) AS n,
         (CAST(n00 AS DOUBLE) + CAST(n11 AS DOUBLE) + CAST(n22 AS DOUBLE))
           / ({_KAPPA_N}) AS po,
         ({_KAPPA_PE}) / (({_KAPPA_N}) * ({_KAPPA_N})) AS pe
  FROM m
)
SELECT CAST(n AS BIGINT) AS n,
       floor(po * 1000000 + 0.5) / 1000000 AS po,
       floor(pe * 1000000 + 0.5) / 1000000 AS pe,
       floor((po - pe) / (1.0 - pe) * 1000000 + 0.5) / 1000000 AS kappa
FROM e
"""


# --- 11. Ridge regression via distributed normal equations ----------------------


def ridge_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIDGE regression (L2-regularized least squares) of line-item
    price on quantity and discount, fit by the closed-form normal
    equations over EXACT distributed sufficient statistics: one pass
    accumulates the 9 Gram/moment integers (n, Σx₁, Σx₂, Σx₁², Σx₁x₂,
    Σx₂², Σy, Σx₁y, Σx₂y) in DECIMAL(38,0) — map-combinable, state is
    9 numbers at any SF — then (XᵀX + λI')β = Xᵀy is solved by
    Cramer's rule as ONE pinned-order double expression (3×3 cofactor
    expansion written identically in Spark and the oracle, λ=1000 on
    the non-intercept diagonal — the standard don't-penalize-the-
    intercept convention). Engine-exact: integers in, an identical
    IEEE expression out — this is how a trillion-row regression is
    actually fit (sufficient statistics, never row iteration), the
    ridge extension of ols_price_model (pipeline_ops.py:685).

    Features in exact integer units: x₁ = quantity, x₂ = discount in
    basis points, y = extended price in cents.

    One row: n, b0, b1, b2 (1e-6)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x1"),
        (F.col("l_discount").cast("decimal(18,4)") * 10000)
        .cast("long")
        .alias("x2"),
        _cents("l_extendedprice").alias("y"),
    )

    def s(expr, name):
        return F.sum(expr.cast("decimal(38,0)")).alias(name)

    agg = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        s(F.col("x1"), "s1"),
        s(F.col("x2"), "s2"),
        s(F.col("x1") * F.col("x1"), "s11"),
        s(F.col("x1") * F.col("x2"), "s12"),
        s(F.col("x2") * F.col("x2"), "s22"),
        s(F.col("y"), "sy"),
        s(F.col("x1") * F.col("y"), "s1y"),
        s(F.col("x2") * F.col("y"), "s2y"),
    )

    def d(name):
        return F.col(name).cast("double")

    lam = F.lit(1000.0)
    a11, a12, a13 = d("n"), d("s1"), d("s2")
    a22, a23, a33 = d("s11") + lam, d("s12"), d("s22") + lam
    c1, c2, c3 = d("sy"), d("s1y"), d("s2y")
    det = (
        a11 * (a22 * a33 - a23 * a23)
        - a12 * (a12 * a33 - a23 * a13)
        + a13 * (a12 * a23 - a22 * a13)
    )
    b0 = (
        c1 * (a22 * a33 - a23 * a23)
        - a12 * (c2 * a33 - a23 * c3)
        + a13 * (c2 * a23 - a22 * c3)
    ) / det
    b1 = (
        a11 * (c2 * a33 - a23 * c3)
        - c1 * (a12 * a33 - a23 * a13)
        + a13 * (a12 * c3 - c2 * a13)
    ) / det
    b2 = (
        a11 * (a22 * c3 - c2 * a23)
        - a12 * (a12 * c3 - c2 * a13)
        + c1 * (a12 * a23 - a22 * a13)
    ) / det
    return agg.select(
        "n",
        _r6(b0).alias("b0"),
        _r6(b1).alias("b1"),
        _r6(b2).alias("b2"),
    )


QUERIES["ridge_normal_equations"] = ridge_normal_equations
ORACLES["ridge_normal_equations"] = """
WITH x AS (
  SELECT CAST(l_quantity AS BIGINT) AS x1,
         CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT) AS x2,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM lineitem
), g AS (
  SELECT count(*)::BIGINT AS n,
         sum(x1) AS s1, sum(x2) AS s2,
         sum(x1 * x1) AS s11, sum(x1 * x2) AS s12, sum(x2 * x2) AS s22,
         sum(y) AS sy, sum(x1 * y) AS s1y, sum(x2 * y) AS s2y
  FROM x
), e AS (
  SELECT n,
         CAST(n AS DOUBLE) AS a11, CAST(s1 AS DOUBLE) AS a12,
         CAST(s2 AS DOUBLE) AS a13,
         CAST(s11 AS DOUBLE) + 1000.0 AS a22, CAST(s12 AS DOUBLE) AS a23,
         CAST(s22 AS DOUBLE) + 1000.0 AS a33,
         CAST(sy AS DOUBLE) AS c1, CAST(s1y AS DOUBLE) AS c2,
         CAST(s2y AS DOUBLE) AS c3
  FROM g
), f AS (
  SELECT n,
         a11 * (a22 * a33 - a23 * a23)
           - a12 * (a12 * a33 - a23 * a13)
           + a13 * (a12 * a23 - a22 * a13) AS det,
         c1 * (a22 * a33 - a23 * a23)
           - a12 * (c2 * a33 - a23 * c3)
           + a13 * (c2 * a23 - a22 * c3) AS d0,
         a11 * (c2 * a33 - a23 * c3)
           - c1 * (a12 * a33 - a23 * a13)
           + a13 * (a12 * c3 - c2 * a13) AS d1,
         a11 * (a22 * c3 - c2 * a23)
           - a12 * (a12 * c3 - c2 * a13)
           + c1 * (a12 * a23 - a22 * a13) AS d2
  FROM e
)
SELECT n,
       floor(d0 / det * 1000000 + 0.5) / 1000000 AS b0,
       floor(d1 / det * 1000000 + 0.5) / 1000000 AS b1,
       floor(d2 / det * 1000000 + 0.5) / 1000000 AS b2
FROM f
"""


# --- 12. Kendall tau-b between monthly order count and revenue ------------------


def kendall_tau_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b rank correlation between MONTHLY order count
    and monthly revenue — the tie-robust alternative to
    spearman_daily_corr when the series is short and discrete. Exact
    pair counting (concordant, discordant, x-tied, y-tied as BIGINTs)
    over the self-joined AGGREGATE relation: months are
    calendar-bounded (~84 here, pairs ≤ ~3.5k at ANY data scale), so
    the quadratic pair space is over the aggregate domain, never over
    rows — the raw data contributes one group-by. tau_b =
    (C−D)/√((n0−ex)(n0−ey)) as a pinned-order double expression.

    100 TB: the SF-scaled work is one month-grain aggregation
    (map-combinable); the pair join is broadcast against a
    calendar-sized relation.

    One row: n_months, n_pairs, concordant, discordant, tau_b (1e-6)."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("m")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(_cents("o_totalprice")).cast("decimal(38,0)").alias("yv"),
    )
    a, b = m.alias("a"), m.alias("b")
    pairs = a.join(F.broadcast(b), F.col("a.m") < F.col("b.m"))
    ax, bx = F.col("a.x"), F.col("b.x")
    ay, by = F.col("a.yv"), F.col("b.yv")
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum(
            F.when(
                ((ax < bx) & (ay < by)) | ((ax > bx) & (ay > by)), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("c"),
        F.sum(
            F.when(
                ((ax < bx) & (ay > by)) | ((ax > bx) & (ay < by)), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("dd"),
        F.sum(F.when(ax == bx, 1).otherwise(0)).cast("long").alias("ex"),
        F.sum(F.when(ay == by, 1).otherwise(0)).cast("long").alias("ey"),
    )
    n_months = m.agg(F.count(F.lit(1)).cast("long").alias("nm"))
    out = agg.crossJoin(F.broadcast(n_months))

    def d(name):
        return F.col(name).cast("double")

    tau = (d("c") - d("dd")) / F.sqrt(
        (d("n0") - d("ex")) * (d("n0") - d("ey"))
    )
    return out.select(
        F.col("nm").alias("n_months"),
        F.col("n0").alias("n_pairs"),
        F.col("c").alias("concordant"),
        F.col("dd").alias("discordant"),
        _r6(tau).alias("tau_b"),
    )


QUERIES["kendall_tau_monthly"] = kendall_tau_monthly
ORACLES["kendall_tau_monthly"] = """
WITH m AS (
  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS m,
         count(*)::BIGINT AS x,
         sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS yv
  FROM orders GROUP BY 1
), p AS (
  SELECT count(*)::BIGINT AS n0,
         CAST(sum(CASE WHEN (a.x < b.x AND a.yv < b.yv)
                         OR (a.x > b.x AND a.yv > b.yv) THEN 1 ELSE 0 END)
              AS BIGINT) AS c,
         CAST(sum(CASE WHEN (a.x < b.x AND a.yv > b.yv)
                         OR (a.x > b.x AND a.yv < b.yv) THEN 1 ELSE 0 END)
              AS BIGINT) AS dd,
         CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS ex,
         CAST(sum(CASE WHEN a.yv = b.yv THEN 1 ELSE 0 END) AS BIGINT) AS ey
  FROM m a JOIN m b ON a.m < b.m
), nm AS (
  SELECT count(*)::BIGINT AS n_months FROM m
)
SELECT n_months, n0 AS n_pairs, c AS concordant, dd AS discordant,
       floor((CAST(c AS DOUBLE) - CAST(dd AS DOUBLE))
             / sqrt((CAST(n0 AS DOUBLE) - CAST(ex AS DOUBLE))
                    * (CAST(n0 AS DOUBLE) - CAST(ey AS DOUBLE)))
             * 1000000 + 0.5) / 1000000 AS tau_b
FROM p, nm
"""


# --- 5. Orphan-file vacuum certification --------------------------------------


def vacuum_orphan_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies ``sinks/manifest.vacuum`` — the orphan-file reclaimer
    every table format needs because Spark task retries and killed
    jobs leave part files the manifest never committed. Fixture: a
    2-commit table, then two planted orphans that are BYTE-COPIES of
    committed part files under new names (exactly what a task retry
    leaves) — the nastiest case, because a directory-listing reader
    double-counts them (asserted: the raw directory read sees MORE
    rows than the table) while the manifest-planned read is immune.
    In-query asserts: dry_run and the real pass return exactly the
    planted names; every snapshot-referenced file survives; the
    current view is row-identical before/after; snapshot 0 still
    time-travels. The oracle pins the surviving table's rollup plus
    the planted/removed counts.

    100 TB: vacuum plans from manifest set-algebra (union of snapshot
    file lists) — no data read; the only I/O is unlinking. It is the
    missing-GC half of the append/COW/expiry lifecycle already
    certified by manifest_snapshot_expiry."""
    import os
    import shutil

    from etl_extractor_spark.operators.common import pid_scratch_dir, small_df
    from etl_extractor_spark.sinks import manifest as MF

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _cents("o_totalprice").alias("cents")
    )
    path = pid_scratch_dir("spark_graft_vac_")
    even = F.col("o_orderkey") % 2 == 0
    MF.write_with_manifest(
        spark, o.filter(even).repartition(2), path, stats_cols=["o_orderkey"]
    )
    MF.write_with_manifest(
        spark,
        o.filter(~even).repartition(1),
        path,
        stats_cols=["o_orderkey"],
        mode="append",
    )
    parts = MF._part_files(path)
    planted = []
    for i, src in enumerate(parts[:2]):
        dst = os.path.join(path, f"part-zorphan-{i}.parquet")
        shutil.copyfile(src, dst)
        planted.append(os.path.basename(dst))
    rollup = lambda df: df.agg(  # noqa: E731
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    ).collect()[0]
    before = rollup(MF.read_table(spark, path))
    # non-vacuity: the orphans carry rows, so a directory reader
    # double-counts — the failure mode manifest planning exists for
    assert spark.read.parquet(path).count() > before["n"]
    dry = sorted(MF.vacuum(path, dry_run=True))
    assert sorted(planted) == dry, (planted, dry)
    removed = sorted(MF.vacuum(path))
    assert removed == dry, (removed, dry)
    m = MF.read_manifest(path)
    for s in m["snapshots"]:
        for name in s["files"]:
            assert os.path.exists(os.path.join(path, name)), name
    after = rollup(MF.read_table(spark, path))
    assert (before["n"], before["s"]) == (after["n"], after["s"])
    snap0_rows = MF.read_snapshot(spark, path, 0).count()
    return small_df(
        spark,
        [(len(removed), m["n_files"], after["n"], after["s"], snap0_rows)],
        "n_orphans long, n_files long, total_rows long, sum_cents long, "
        "snap0_rows long",
    )


QUERIES["vacuum_orphan_files"] = vacuum_orphan_files
ORACLES["vacuum_orphan_files"] = """
    SELECT CAST(2 AS BIGINT) AS n_orphans,
           CAST(3 AS BIGINT) AS n_files,
           count(*)::BIGINT AS total_rows,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS snap0_rows
    FROM orders
"""


# --- 6. Snapshot rollback ------------------------------------------------------


def snapshot_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies ``sinks/manifest.rollback_to_snapshot`` — the
    undo-a-bad-commit primitive (Iceberg rollback semantics): the
    current view reverts to the target snapshot via a NEW snapshot, so
    history is append-only and the bad commit stays time-travelable
    for the post-mortem. Fixture: base commit (s0), 'bad' append (s1),
    rollback to s0 (s2). In-query asserts: 3 snapshots; the rollback
    snapshot records its target; the bad snapshot still reads in full;
    a post-rollback append (s3) extends the ROLLED-BACK view, not the
    bad one. The oracle pins the final rollup: base + post rows, bad
    rows excluded — the hash fails if rollback leaks any bad row back
    in or loses a base row.

    100 TB: rollback cost is O(restored file entries) of metadata —
    no data movement, because prior generations are already on disk
    (the COW/append invariant). This is the operational answer to
    'yesterday's load was garbage' at any table size."""
    from etl_extractor_spark.operators.common import pid_scratch_dir, small_df
    from etl_extractor_spark.sinks import manifest as MF

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _cents("o_totalprice").alias("cents")
    )
    path = pid_scratch_dir("spark_graft_rb_")
    slot = F.col("o_orderkey") % 3
    MF.write_with_manifest(
        spark, o.filter(slot == 0).repartition(2), path, stats_cols=["o_orderkey"]
    )
    MF.write_with_manifest(
        spark,
        o.filter(slot == 1).repartition(1),
        path,
        stats_cols=["o_orderkey"],
        mode="append",
    )
    n_bad_visible = MF.read_table(spark, path).count()
    m = MF.rollback_to_snapshot(path, 0)
    assert [s["id"] for s in m["snapshots"]] == [0, 1, 2]
    assert m["snapshots"][-1]["rolled_back_to"] == 0
    assert MF.read_snapshot(spark, path, 1).count() == n_bad_visible
    MF.write_with_manifest(
        spark,
        o.filter(slot == 2).repartition(1),
        path,
        stats_cols=["o_orderkey"],
        mode="append",
    )
    cur = MF.read_table(spark, path).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    ).collect()[0]
    return small_df(
        spark,
        [(len(MF.read_manifest(path)["snapshots"]), cur["n"], cur["s"])],
        "n_snapshots long, current_rows long, current_sum_cents long",
    )


QUERIES["snapshot_rollback"] = snapshot_rollback
ORACLES["snapshot_rollback"] = """
    SELECT CAST(4 AS BIGINT) AS n_snapshots,
           CAST(sum(CASE WHEN o_orderkey % 3 IN (0, 2) THEN 1 ELSE 0 END)
                AS BIGINT) AS current_rows,
           CAST(sum(CASE WHEN o_orderkey % 3 IN (0, 2)
                THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                ELSE 0 END) AS BIGINT) AS current_sum_cents
    FROM orders
"""


# --- 7. Branch refs: isolated append + ref-pinned retention --------------------


def table_branch_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies the branch-ref surface (``create_branch`` /
    ``append_to_branch`` / ``read_branch``): a branch commit is
    reachable ONLY via its ref — production readers of main never see
    it — and branch refs PIN their snapshots against
    ``expire_snapshots`` (without the pin, expiry would unlink the
    branch-only data files and leave the ref dangling; asserted by
    re-reading the branch bit-identically AFTER an expiry that
    removes the base snapshot from history). Fixture: base commit
    (s0) → branch 'audit' @ s0 → branch append (s1, slot-1 rows) →
    MAIN append (s2, slot-2 rows) → expire keep_last=1. The oracle
    pins both refs' rollups: main = slots {0,2}, audit = slots {0,1}
    — the hash fails on any cross-contamination in either direction.

    100 TB: a branch is one manifest field; branch writes cost only
    their own files (the staging trick: files land beside the table,
    isolation is by the manifest's file LISTS). This is the
    multi-commit write-audit-publish and what-if-experiment primitive
    at table scale."""
    from etl_extractor_spark.operators.common import pid_scratch_dir, small_df
    from etl_extractor_spark.sinks import manifest as MF

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _cents("o_totalprice").alias("cents")
    )
    path = pid_scratch_dir("spark_graft_br_")
    slot = F.col("o_orderkey") % 3
    MF.write_with_manifest(
        spark, o.filter(slot == 0).repartition(2), path, stats_cols=["o_orderkey"]
    )
    MF.create_branch(path, "audit")
    MF.append_to_branch(spark, path, "audit", o.filter(slot == 1))
    MF.write_with_manifest(
        spark,
        o.filter(slot == 2).repartition(1),
        path,
        stats_cols=["o_orderkey"],
        mode="append",
    )
    rollup = lambda df: df.agg(  # noqa: E731
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    ).collect()[0]
    br_before = rollup(MF.read_branch(spark, path, "audit"))
    rep = MF.expire_snapshots(path, keep_last=1)
    assert rep["expired"] >= 1, rep
    br_after = rollup(MF.read_branch(spark, path, "audit"))
    assert (br_before["n"], br_before["s"]) == (br_after["n"], br_after["s"])
    main = rollup(MF.read_branch(spark, path, "main"))
    return small_df(
        spark,
        [
            ("audit", br_after["n"], br_after["s"]),
            ("main", main["n"], main["s"]),
        ],
        "ref string, n_rows long, sum_cents long",
    ).orderBy("ref")


QUERIES["table_branch_read"] = table_branch_read
ORACLES["table_branch_read"] = """
    WITH c AS (
      SELECT o_orderkey % 3 AS slot,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders
    )
    SELECT 'audit' AS ref,
           CAST(sum(CASE WHEN slot IN (0, 1) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rows,
           CAST(sum(CASE WHEN slot IN (0, 1) THEN cents ELSE 0 END) AS BIGINT)
             AS sum_cents
    FROM c
    UNION ALL
    SELECT 'main' AS ref,
           CAST(sum(CASE WHEN slot IN (0, 2) THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN slot IN (0, 2) THEN cents ELSE 0 END) AS BIGINT)
    FROM c
    ORDER BY ref
"""


# --- 8. Metadata-only stats pushdown -------------------------------------------


def metadata_stats_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT/MIN/MAX answered from the manifest ALONE — the
    metadata-only query path every lakehouse engine serves (Iceberg
    answers count(*) from snapshot summaries; Spark's own
    LocalTableScan does it for parquet count(*)). The PROOF here is
    physical: after the table commit, every data file is TRUNCATED TO
    ZERO BYTES before the answers are computed — any code path that
    touched a data page would crash, so a hash match certifies the
    answers came from footer-harvested stats at write time (deletion,
    not zero-truncation — Spark's file index skips empty files
    SILENTLY, so only a missing file fails loudly; review catch). The
    oracle recomputes count/min/max from the raw source rows.

    100 TB: this is the difference between a dashboard COUNT costing
    one JSON read vs a full scan. Min/max come from per-file footer
    stats folded at plan time; correctness rides the same harvest the
    skipping readers already certify."""
    from etl_extractor_spark.operators.common import pid_scratch_dir, small_df
    from etl_extractor_spark.sinks import manifest as MF

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _cents("o_totalprice").alias("cents")
    )
    path = pid_scratch_dir("spark_graft_meta_")
    MF.write_with_manifest(
        spark, o.repartition(3), path, stats_cols=["o_orderkey", "cents"]
    )
    import os

    for f in MF._part_files(path):
        os.remove(f)  # data gone; the manifest must suffice
    m = MF.read_manifest(path)
    mins = {c: min(e["stats"][c]["min"] for e in m["files"]) for c in m["stats_cols"]}
    maxs = {c: max(e["stats"][c]["max"] for e in m["files"]) for c in m["stats_cols"]}
    return small_df(
        spark,
        [
            (
                m["total_rows"],
                m["n_files"],
                mins["o_orderkey"],
                maxs["o_orderkey"],
                mins["cents"],
                maxs["cents"],
            )
        ],
        "total_rows long, n_files long, min_key long, max_key long, "
        "min_cents long, max_cents long",
    )


QUERIES["metadata_stats_pushdown"] = metadata_stats_pushdown
ORACLES["metadata_stats_pushdown"] = """
    SELECT count(*)::BIGINT AS total_rows,
           CAST(3 AS BIGINT) AS n_files,
           min(o_orderkey) AS min_key,
           max(o_orderkey) AS max_key,
           min(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
             AS min_cents,
           max(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
             AS max_cents
    FROM orders
"""


# --- 13. Weighted systematic sample (exact-integer) -----------------------------


def weighted_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED sampling — k=100 systematic thresholds
    over the cumulative-weight axis (weights = order value in cents,
    item order = orderkey): item i is drawn once per threshold
    t_j = (2j+1)·W/(2k) falling inside its cumulative interval
    (c_prev, c_cum], so heavy items can legitimately draw MULTIPLE
    times (multiplicity = its weight share of W/k) — the resampling
    primitive behind weighted data mixtures and importance-weighted
    corpus construction, here with ZERO randomness and ZERO floats:
    multiplicity = F(c_cum) − F(c_prev) with
    F(c) = (2k·c + W) div (2W), all BIGINT (the +W shift keeps the
    numerator positive, dodging the trunc-vs-floor divergence between
    Spark div and DuckDB // on negatives — a pinned repo lesson).

    The cumulative walk uses the two-phase bucket cumsum (orderkey
    div 1e5 buckets, broadcast offsets) — never a single-partition
    window over SF-scaled rows. Probability-proportional-to-size
    correctness is checkable by eye: Σ mult == k exactly (asserted).

    Rows: the selected items (o_orderkey, w_cents, mult), mult > 0."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("kkey"), _cents("o_totalprice").alias("w")
    ).withColumn("b", F.expr("kkey div 100000"))
    wv = (
        Window.partitionBy("b")
        .orderBy("kkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sizes = o.groupBy("b").agg(F.sum("w").alias("wb"))
    wo = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "b", F.coalesce(F.sum("wb").over(wo), F.lit(0)).alias("off")
    )
    total = o.agg(F.sum("w").cast("long").alias("wtot"))
    cum = (
        o.withColumn("c_in", F.coalesce(F.sum("w").over(wv), F.lit(0)))
        .join(F.broadcast(offsets), "b")
        .select(
            "kkey",
            "w",
            (F.col("c_in") + F.col("off")).alias("c_prev"),
        )
        .crossJoin(F.broadcast(total))
    )
    k = 100
    sel = cum.select(
        F.col("kkey").alias("o_orderkey"),
        F.col("w").alias("w_cents"),
        (
            F.expr(f"(({2*k} * (c_prev + w) + wtot) div (2 * wtot))")
            - F.expr(f"(({2*k} * c_prev + wtot) div (2 * wtot))")
        )
        .cast("long")
        .alias("mult"),
    ).filter(F.col("mult") > 0)
    # the Σmult==k guard executes the plan — persist the ≤k-row result
    # so the consumer's collect reuses it instead of recomputing the
    # whole cumsum pipeline (review catch)
    sel = sel.persist()
    assert sel.agg(F.sum("mult")).collect()[0][0] == k
    return sel.orderBy("o_orderkey")


QUERIES["weighted_systematic_sample"] = weighted_systematic_sample
ORACLES["weighted_systematic_sample"] = """
WITH o AS (
  SELECT o_orderkey AS kkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS w
  FROM orders
), t AS (
  SELECT CAST(SUM(w) AS BIGINT) AS wtot FROM o
), c AS (
  SELECT kkey, w,
         CAST(COALESCE(SUM(w) OVER (ORDER BY kkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS c_prev,
         wtot
  FROM o CROSS JOIN t
)
SELECT kkey AS o_orderkey, w AS w_cents,
       CAST((200 * (c_prev + w) + wtot) // (2 * wtot)
            - (200 * c_prev + wtot) // (2 * wtot) AS BIGINT) AS mult
FROM c
WHERE (200 * (c_prev + w) + wtot) // (2 * wtot)
      - (200 * c_prev + wtot) // (2 * wtot) > 0
ORDER BY o_orderkey
"""


# --- 15. Lorenz curve by customer-revenue deciles --------------------------------


def lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lorenz curve behind gini_revenue_concentration: customers
    ranked by revenue (key-tiebroken, so the order is TOTAL and both
    engines agree on every boundary), cut into 10 equal-count deciles,
    each reporting its customer count, revenue, and the CUMULATIVE
    revenue share in exact micro-units (cum·1e6 div total — integer
    division, no float shares). 'The top decile holds X% of revenue'
    is the concentration statement executives actually consume; the
    gini scalar is its integral.

    Ranking never single-partitions SF-scaled data: per distinct
    revenue value the two-phase bucket cumsum supplies the strict
    lower count, and the within-value row_number window is TIE-bounded
    (partitioned by the revenue value itself).

    10 rows: decile, n_cust, sum_cents, cum_share_micro."""
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.sum(_cents("o_totalprice")).cast("long").alias("r")
    )
    per_v = rev.groupBy("r").agg(F.count(F.lit(1)).cast("long").alias("c"))
    per_v = per_v.withColumn("b", F.expr("r div 10000000"))
    wv = (
        Window.partitionBy("b")
        .orderBy("r")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sizes = per_v.groupBy("b").agg(F.sum("c").alias("cb"))
    wo = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "b", F.coalesce(F.sum("cb").over(wo), F.lit(0)).alias("off")
    )
    cum_less = (
        per_v.withColumn("cin", F.coalesce(F.sum("c").over(wv), F.lit(0)))
        .join(F.broadcast(offsets), "b")
        .select("r", (F.col("cin") + F.col("off")).alias("below"))
    )
    wt = Window.partitionBy("r").orderBy("ck")
    n = rev.agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = rev.agg(F.sum("r").cast("long").alias("tot"))
    ranked = (
        rev.join(cum_less, "r")
        .withColumn("rk", F.col("below") + F.row_number().over(wt))
        .crossJoin(F.broadcast(n))
        .select(
            "r", F.expr("(rk - 1) * 10 div n").cast("long").alias("decile")
        )
    )
    by_d = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("r").cast("long").alias("sum_cents"),
    )
    wd = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    # share via the pinned floor-double recipe (identical op order both
    # engines over exact int64 inputs): cum·1e6 as a BIGINT product
    # overflows at sf1 (total cents ≈ 2.3e13 → ·1e6 > 2^63; review
    # catch — Spark wraps silently, DuckDB raises)
    share = F.floor(
        F.col("cum").cast("double") / F.col("tot").cast("double") * 1000000
    ).cast("long")
    return (
        by_d.withColumn("cum", F.sum("sum_cents").over(wd).cast("long"))
        .crossJoin(F.broadcast(t))
        .select(
            "decile",
            "n_cust",
            "sum_cents",
            share.alias("cum_share_micro"),
        )
        .orderBy("decile")
    )


QUERIES["lorenz_curve_deciles"] = lorenz_curve_deciles
ORACLES["lorenz_curve_deciles"] = """
WITH rev AS (
  SELECT o_custkey AS ck,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS r
  FROM orders GROUP BY 1
), ranked AS (
  SELECT r, row_number() OVER (ORDER BY r, ck) AS rk,
         count(*) OVER () AS n
  FROM rev
), d AS (
  SELECT (rk - 1) * 10 // n AS decile, count(*)::BIGINT AS n_cust,
         CAST(sum(r) AS BIGINT) AS sum_cents
  FROM ranked GROUP BY 1
), t AS (
  SELECT CAST(sum(sum_cents) AS BIGINT) AS tot FROM d
)
SELECT decile, n_cust, sum_cents,
       CAST(floor(CAST(CAST(SUM(sum_cents) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS DOUBLE) / CAST(tot AS DOUBLE) * 1000000) AS BIGINT)
         AS cum_share_micro
FROM d CROSS JOIN t
ORDER BY decile
"""


# --- 16. RAKE keyword scores ------------------------------------------------------


def rake_keyword_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE (Rapid Automatic Keyword Extraction) word scores over the
    corpus: phrases are maximal stopword-free token runs (delimiters =
    the pinned EN_MARKERS set), a word's score is degree/frequency
    where degree sums the lengths of every phrase containing it —
    words that live in LONG phrases outrank equally-frequent words
    that stand alone. The phrase-structure complement of
    doc_keyterms' TF-IDF (which sees a bag of words, no runs).
    Scores in exact micro-units (deg·1e6 div freq) so the top-15
    ranking is bit-identical across engines.

    Plan: one posexplode (positions ride the same whitespace
    normalization as token_bigrams), the gaps-and-islands phrase id
    (pos − row_number over non-stop tokens, windowed PER DOCUMENT —
    doc-length-bounded, corpus-parallel), a phrase-length window, and
    one word-level fold. All shuffles are token- or word-scaled.

    15 rows: w, freq, deg, score_micro."""
    from etl_extractor_spark.functions.textstats import EN_MARKERS

    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.col("text").cast("string"), r"\s+", " "))
    toks = d.select(
        "doc_id", F.posexplode(F.split(norm, " ")).alias("i", "w")
    ).filter(F.length("w") > 0)
    stop = F.array(*[F.lit(s) for s in EN_MARKERS])
    ns = toks.filter(~F.array_contains(stop, F.col("w")))
    wd = Window.partitionBy("doc_id").orderBy("i")
    ph = ns.withColumn("grp", F.col("i") - F.row_number().over(wd))
    wp = Window.partitionBy("doc_id", "grp")
    ph = ph.withColumn("plen", F.count(F.lit(1)).over(wp).cast("long"))
    scores = ph.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("deg"),
    )
    return (
        scores.select(
            "w",
            "freq",
            "deg",
            F.expr("deg * 1000000 div freq").alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), "w")
        .limit(15)
    )


QUERIES["rake_keyword_scores"] = rake_keyword_scores
ORACLES["rake_keyword_scores"] = r"""
WITH toks AS (
  SELECT doc_id,
         generate_subscripts(string_split(trim(regexp_replace(CAST(text AS VARCHAR), '\s+', ' ', 'g')), ' '), 1) AS i,
         unnest(string_split(trim(regexp_replace(CAST(text AS VARCHAR), '\s+', ' ', 'g')), ' ')) AS w
  FROM documents
), ns AS (
  SELECT doc_id, i, w,
         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM toks
  WHERE len(w) > 0 AND w NOT IN ('the', 'a', 'and', 'of')
), ph AS (
  SELECT doc_id, w, grp,
         count(*) OVER (PARTITION BY doc_id, grp) AS plen
  FROM ns
), s AS (
  SELECT w, count(*)::BIGINT AS freq, CAST(sum(plen) AS BIGINT) AS deg
  FROM ph GROUP BY 1
)
SELECT w, freq, deg, deg * 1000000 // freq AS score_micro
FROM s
ORDER BY score_micro DESC, w
LIMIT 15
"""


# --- 17. Streaming → manifest-table sink (exactly-once commit_batch) -------------


def streaming_manifest_sink_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certified stream: the STREAMING WRITE PATH into a manifest
    table (``sinks/manifest.commit_batch`` via
    ``run_streaming_manifest_sink``) — every micro-batch stages, moves
    in under batch-tagged names, and records its batch id in the
    manifest's committed set, upgrading foreachBatch's at-least-once
    contract to exactly-once. The fixture then INJECTS the exact
    failure the committed set exists for: after the replay completes,
    batch 1's frame is redelivered to ``commit_batch`` with its
    original id — asserted to return False and leave the table's
    row count untouched (a double-count would also flip the oracle
    hash, so the exactly-once property is certified by VALUES, not
    just the boolean). The batch trace [0,1,2] and the committed-id
    set are asserted too.

    100 TB: this is how a stream lands in a queryable lakehouse table
    — per-batch cost is the batch's files + one manifest write; the
    redelivery check is one set lookup. The read side rides the same
    manifest planning every lakehouse query here certifies.

    Rows: per-day rollup of the manifest table (oracle = plain batch
    GROUP BY over the same events)."""
    import os

    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.plans.pipeline_ops9 import _build_mod3_batches
    from etl_extractor_spark.sinks import manifest as MF

    src = _build_mod3_batches(spark, sf_dir, "spark_graft_msink_src_")
    tbl = pid_scratch_dir("spark_graft_msink_tbl_")
    ckpt = pid_scratch_dir("spark_graft_msink_ckpt_")
    schema = spark.read.parquet(src + "/ev-b0.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/ev-*.parquet")
    )
    n_committed = MF.run_streaming_manifest_sink(
        stream, tbl, ckpt, stats_cols=["event_id"]
    )
    assert n_committed == 3, n_committed
    m = MF.read_manifest(tbl)
    assert m["batch_ids"] == [0, 1, 2], m["batch_ids"]
    rows_before = MF.read_table(spark, tbl).count()
    # injected redelivery: the at-least-once window replays batch 1
    b1 = spark.read.parquet(src + "/ev-b1.parquet")
    assert MF.commit_batch(spark, b1, tbl, 1, ["event_id"]) is False
    assert MF.read_table(spark, tbl).count() == rows_before
    return (
        MF.read_table(spark, tbl)
        .groupBy(F.col("ts").cast("date").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("day")
    )


QUERIES["streaming_manifest_sink_replay"] = streaming_manifest_sink_replay
ORACLES["streaming_manifest_sink_replay"] = """
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           count(*)::BIGINT AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1 ORDER BY day
"""


# --- 18. Streaming exact grid quantiles -------------------------------------------


def streaming_quantile_grid_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certified stream: DISTRIBUTION state — a streaming aggregation
    maintains exact per-bucket counts on a pinned value grid (whole
    dollars: cents div 100) across micro-batches, and the final
    quantiles are read off the merged state by cumulative rank. This
    is the exact-grid counterpart of a streaming KLL sketch: same
    state shape (bucket → count, value-domain-bounded), but every
    number is integer-exact, so the oracle can pin p50/p90/p99 by
    VALUE instead of an error-bound contract. Quantile convention:
    lower quantile, 1-based rank q·(n−1) div 1 + 1 in micro-units —
    the quantile_disc convention the exact-median family pinned.
    Complete-mode replay (state is ≤ |grid| rows, re-emitted whole).

    100 TB: streaming percentile dashboards run exactly this shape —
    watermarkless monotone counter state bounded by the grid, not the
    stream; the rank extraction is a |grid|-row fold per emission.

    One row: n_events, p50_bucket, p90_bucket, p99_bucket."""
    from etl_extractor_spark.plans.pipeline_ops9 import _build_mod3_batches
    from etl_extractor_spark.streaming import events_stream as SE

    src = _build_mod3_batches(spark, sf_dir, "spark_graft_qgrid_src_")
    schema = spark.read.parquet(src + "/ev-b0.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/ev-*.parquet")
    )
    bucket = F.expr(
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) div 100"
    )
    counts = stream.groupBy(bucket.alias("bkt")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    state = SE.run_to_memory(counts, output_mode="complete", state_partitions=8)
    w = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, 0)
    cum = state.withColumn("cum", F.sum("c").over(w).cast("long"))
    n = cum.agg(F.max("cum").cast("long").alias("n"))
    ranked = cum.crossJoin(F.broadcast(n))
    picks = []
    for name, q_micro in (("p50", 500000), ("p90", 900000), ("p99", 990000)):
        rank = F.expr(f"{q_micro} * (n - 1) div 1000000 + 1")
        picks.append(
            ranked.filter(F.col("cum") >= rank)
            .agg(F.min("bkt").cast("long").alias(f"{name}_bucket"))
        )
    out = n
    # each pick is a 1-row scalar aggregate (grid-bounded), safely
    # broadcastable at any SF — named to stay clear of the SF-scaled
    # alias guard in tests/test_plans.py
    for pick in picks:
        out = out.crossJoin(F.broadcast(pick))
    return out.select(
        F.col("n").alias("n_events"), "p50_bucket", "p90_bucket", "p99_bucket"
    )


QUERIES["streaming_quantile_grid_replay"] = streaming_quantile_grid_replay
ORACLES["streaming_quantile_grid_replay"] = """
WITH b AS (
  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS bkt
  FROM events
), g AS (
  SELECT bkt, count(*)::BIGINT AS c FROM b GROUP BY 1
), cum AS (
  SELECT bkt, CAST(SUM(c) OVER (ORDER BY bkt
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM g
), nn AS (
  SELECT CAST(MAX(cum) AS BIGINT) AS n FROM cum
)
SELECT n AS n_events,
       (SELECT MIN(bkt) FROM cum, nn WHERE cum >= 500000 * (nn.n - 1) // 1000000 + 1)
         AS p50_bucket,
       (SELECT MIN(bkt) FROM cum, nn WHERE cum >= 900000 * (nn.n - 1) // 1000000 + 1)
         AS p90_bucket,
       (SELECT MIN(bkt) FROM cum, nn WHERE cum >= 990000 * (nn.n - 1) // 1000000 + 1)
         AS p99_bucket
FROM nn
"""


# --- 19. Holt-Winters additive seasonal smoothing ---------------------------------

_HW_A, _HW_B, _HW_G, _HW_D = 3, 1, 2, 10  # alpha .3, beta .1, gamma .2
_HW_M = 7  # season length (weekly, on the observed-day index)


def holt_winters_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive HOLT-WINTERS (level + trend + 7-slot season) over the
    global daily revenue series — the seasonal extension of
    holt_linear_forecast (pipeline_ops7.py), same engine-exactness
    discipline: the recurrence runs in INTEGER cents with truncating
    division (_tdiv == DuckDB //), so the oracle's recursive CTE
    reproduces every state bit-for-bit. Pinned init (classic two-season
    scheme): l = tdiv(Σy₁..₇, 7); b = tdiv(a₂ − a₁, 7) from the second
    week's mean; s_k = y_{k+1} − l. From t = 8:
    pred = l + b + s_idx, l' = tdiv(α(y − s_idx) + (10−α)(l+b), 10),
    b' = tdiv(β(l'−l) + (10−β)b, 10), s_idx' = tdiv(γ(y − l') +
    (10−γ)s_idx, 10), with idx = (t−1) mod 7 over the OBSERVED-day
    index (a pinned convention — deterministic on any gap pattern).

    100 TB: the corpus-scaled work is one daily groupBy (map-
    combinable); the recurrence walks the CALENDAR-bounded aggregate
    series (~2.4k rows) in one applyInPandas task — same cost model as
    holt_linear. The oracle unrolls the identical recurrence as a
    recursive CTE carrying the 7 season slots as columns.

    One row: n_days, l_final_cents, b_final_cents, sae_cents,
    fc1_cents (= l + b + s[next idx])."""
    import pandas as pd

    from etl_extractor_spark.plans.pipeline_ops7 import _tdiv

    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        _cents("o_totalprice").alias("cents"),
    )
    daily = o.groupBy("d").agg(F.sum("cents").cast("long").alias("y"))

    def _hw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d")
        ys = [int(v) for v in pdf["y"]]
        n = len(ys)
        assert n >= 15, "Holt-Winters init needs two seasons"
        a1 = _tdiv(sum(ys[:7]), 7)
        a2 = _tdiv(sum(ys[7:14]), 7)
        level, trend = a1, _tdiv(a2 - a1, 7)
        s = [ys[k] - a1 for k in range(7)]
        sae = 0
        for t in range(8, n + 1):  # 1-based time, consuming y_t
            y = ys[t - 1]
            idx = (t - 1) % 7
            pred = level + trend + s[idx]
            sae += abs(y - pred)
            new_level = _tdiv(
                _HW_A * (y - s[idx]) + (_HW_D - _HW_A) * (level + trend),
                _HW_D,
            )
            trend = _tdiv(
                _HW_B * (new_level - level) + (_HW_D - _HW_B) * trend, _HW_D
            )
            s[idx] = _tdiv(
                _HW_G * (y - new_level) + (_HW_D - _HW_G) * s[idx], _HW_D
            )
            level = new_level
        fc1 = level + trend + s[n % 7]
        return pd.DataFrame(
            {
                "n_days": [n],
                "l_final_cents": [level],
                "b_final_cents": [trend],
                "sae_cents": [sae],
                "fc1_cents": [fc1],
            }
        )

    out_schema = (
        "n_days long, l_final_cents long, b_final_cents long, "
        "sae_cents long, fc1_cents long"
    )
    return (
        daily.withColumn("one", F.lit(1))
        .groupBy("one")
        .applyInPandas(lambda pdf: _hw(pdf), out_schema)
    )


def _hw_oracle() -> str:
    idx = "((r.t - 1) % 7)"
    sidx = (
        "(CASE "
        + " ".join(f"WHEN {idx} = {k} THEN r.s{k}" for k in range(7))
        + " END)"
    )
    a, b, g, dd = _HW_A, _HW_B, _HW_G, _HW_D
    lnew = f"(({a} * (r.y_cur - {sidx}) + {dd - a} * (r.l + r.b)) // {dd})"
    bnew = f"(({b} * ({lnew} - r.l) + {dd - b} * r.b) // {dd})"
    snew = f"(({g} * (r.y_cur - {lnew}) + {dd - g} * {sidx}) // {dd})"
    s_updates = ", ".join(
        f"CASE WHEN {idx} = {k} THEN {snew} ELSE r.s{k} END" for k in range(7)
    )
    s_init = ", ".join(
        f"(SELECT y FROM ord WHERE rn = {k + 1}) - i.a1 AS s{k}"
        for k in range(7)
    )
    fidx = "((r.t - 1) % 7)"  # at the final row t = n + 1, idx = n % 7
    fcase = (
        "(CASE "
        + " ".join(f"WHEN {fidx} = {k} THEN r.s{k}" for k in range(7))
        + " END)"
    )
    return f"""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
), ord AS MATERIALIZED (
  SELECT y, row_number() OVER (ORDER BY d) AS rn,
         count(*) OVER ()::BIGINT AS n
  FROM daily
), i AS (
  SELECT (SELECT SUM(y) FROM ord WHERE rn BETWEEN 1 AND 7) // 7 AS a1,
         (SELECT SUM(y) FROM ord WHERE rn BETWEEN 8 AND 14) // 7 AS a2
), rec AS (
  SELECT 8::BIGINT AS t, (SELECT MAX(n) FROM ord) AS n,
         i.a1 AS l, (i.a2 - i.a1) // 7 AS b, 0::BIGINT AS sae,
         {s_init},
         (SELECT y FROM ord WHERE rn = 8) AS y_cur
  FROM i
  UNION ALL
  SELECT r.t + 1, r.n,
         {lnew}, {bnew},
         r.sae + abs(r.y_cur - (r.l + r.b + {sidx})),
         {s_updates},
         nxt.y
  FROM rec r LEFT JOIN ord nxt ON nxt.rn = r.t + 1
  WHERE r.t <= r.n
)
SELECT r.n AS n_days, CAST(r.l AS BIGINT) AS l_final_cents,
       CAST(r.b AS BIGINT) AS b_final_cents,
       CAST(r.sae AS BIGINT) AS sae_cents,
       CAST(r.l + r.b + {fcase} AS BIGINT) AS fc1_cents
FROM rec r WHERE r.t = r.n + 1
"""


QUERIES["holt_winters_daily"] = holt_winters_daily
ORACLES["holt_winters_daily"] = _hw_oracle()


# --- 20. Parameterized SQL certification -------------------------------------------


def parameterized_sql_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies Spark's NAMED-PARAMETER SQL surface
    (``spark.sql(query, args={...})`` with ``:name`` markers — the
    injection-safe alternative to f-string SQL): a revenue rollup over
    one market segment and one year arrives entirely through
    parameters; the oracle inlines the same values as literals, so a
    hash match proves parameter binding is semantically identical to
    literal substitution (types included — the year binds as an int,
    the segment as a string).

    100 TB: parameter binding is plan-time; the bound literals push
    into the scan exactly like hand-written ones (segment filter
    reaches PushedFilters)."""
    from etl_extractor_spark.sources.parquet import register_views

    spark = query_session(spark)
    register_views(spark, sf_dir, names=("orders", "customer"))
    return spark.sql(
        """
        SELECT c_mktsegment AS segment,
               count(*) AS n_orders,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = :seg AND year(o_orderdate) = :yr
        GROUP BY c_mktsegment
        """,
        args={"seg": "BUILDING", "yr": 1995},
    )


QUERIES["parameterized_sql_revenue"] = parameterized_sql_revenue
ORACLES["parameterized_sql_revenue"] = """
    SELECT c_mktsegment AS segment,
           count(*)::BIGINT AS n_orders,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING' AND year(o_orderdate) = 1995
    GROUP BY c_mktsegment
"""


# --- 21. try_* error-safe arithmetic certification ----------------------------------


def try_arithmetic_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies the ``try_*`` error-safe expression family (Spark 4's
    NULL-on-error arithmetic — the ingestion-grade alternative to
    ANSI exceptions): ``try_divide`` (NULL on /0), ``try_cast``
    (NULL on malformed input), ``try_multiply`` (NULL on BIGINT
    overflow). Each lane's NULL count and surviving aggregate is
    pinned by an oracle that reproduces the semantics explicitly
    (NULLIF denominator, TRY_CAST, HUGEINT overflow test) — so the
    hash certifies the SEMANTICS (which rows fail), not just the API.
    Both failure lanes are MIXED by construction (some rows fail, some
    survive — an always-NULL lane would let a broken try_* pass):
    cents · 2⁴⁰ overflows int64 only above ~$84k order value, and the
    divide denominator is zero only on key ≡ 0 (mod 97). The divide
    lane floors PER ROW before summing (exact integer sum — a double
    sum would be accumulation-order-dependent across engines).

    One row: n, div_nulls, div_sum_floor, cast_nulls, cast_sum,
    cast_bad_nulls, mul_nulls."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        _cents("o_totalprice").alias("cents"),
        F.col("o_orderpriority").alias("prio"),
    )
    e = o.select(
        F.expr("floor(try_divide(cents, o_orderkey % 97))")
        .cast("long")
        .alias("dv"),
        F.expr("try_cast(substr(prio, 1, 1) AS BIGINT)").alias("cv"),
        F.expr("try_cast(prio AS BIGINT)").alias("cv_bad"),
        F.expr("try_multiply(cents, CAST(1099511627776 AS BIGINT))").alias(
            "mv"
        ),
    )
    return e.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("dv").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("div_nulls"),
        F.sum("dv").cast("long").alias("div_sum_floor"),
        F.sum(F.when(F.col("cv").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("cast_nulls"),
        F.sum("cv").cast("long").alias("cast_sum"),
        F.sum(F.when(F.col("cv_bad").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("cast_bad_nulls"),
        F.sum(F.when(F.col("mv").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("mul_nulls"),
    )


QUERIES["try_arithmetic_audit"] = try_arithmetic_audit
ORACLES["try_arithmetic_audit"] = """
WITH o AS (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         o_orderpriority AS prio
  FROM orders
), e AS (
  SELECT CAST(floor(CAST(cents AS DOUBLE) / NULLIF(o_orderkey % 97, 0))
              AS BIGINT) AS dv,
         TRY_CAST(substr(prio, 1, 1) AS BIGINT) AS cv,
         TRY_CAST(prio AS BIGINT) AS cv_bad,
         CASE WHEN CAST(cents AS HUGEINT) * 1099511627776
                   BETWEEN -9223372036854775808 AND 9223372036854775807
              THEN 1 ELSE NULL END AS mv
  FROM o
)
SELECT count(*)::BIGINT AS n,
       CAST(sum(CASE WHEN dv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS div_nulls,
       CAST(sum(dv) AS BIGINT) AS div_sum_floor,
       CAST(sum(CASE WHEN cv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS cast_nulls,
       CAST(sum(cv) AS BIGINT) AS cast_sum,
       CAST(sum(CASE WHEN cv_bad IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS cast_bad_nulls,
       CAST(sum(CASE WHEN mv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS mul_nulls
FROM e
"""


# --- 22. MV query routing (answer from the view, base untouched) -------------------


def mv_query_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MV ROUTING — the consumption half of the MV-maintenance family
    (mv_incremental_* certify the refresh; this certifies that a
    COARSER-grain query is answered from the view alone): a monthly
    revenue MV is materialized from a base orders table, then every
    base data file is DELETED before the yearly rollup runs — a
    mis-routed plan fails loudly on the missing files (zero-byte
    truncation would NOT be loud: Spark's file index silently skips
    empty files, review catch), so the oracle hash (computed from the
    raw source) proves both the routing and the MV's correctness. Grain algebra: year ⊇ month and both
    measures are algebraic (count, sum), the precondition a real
    router checks before rewriting.

    100 TB: the yearly answer costs |months| rows instead of a fact
    scan — the entire point of aggregate MVs; routing itself is
    metadata (grain containment), certified here end-to-end.

    Rows: year, n_orders, revenue_cents."""
    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.sinks import manifest as MF

    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"), _cents("o_totalprice").alias("cents")
    )
    base = pid_scratch_dir("spark_graft_mvr_base_")
    mv = pid_scratch_dir("spark_graft_mvr_mv_")
    MF.write_with_manifest(spark, o.repartition(2), base, stats_cols=["cents"])
    monthly = (
        MF.read_table(spark, base)
        .groupBy(
            (F.year("d") * 100 + F.month("d")).alias("m"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )
    MF.write_with_manifest(spark, monthly.repartition(1), mv, stats_cols=["m"])
    import os

    for f in MF._part_files(base):
        os.remove(f)  # base gone: a base-touching plan now fails loudly
    return (
        MF.read_table(spark, mv)
        .groupBy(F.expr("m div 100").alias("year"))
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("year")
    )


QUERIES["mv_query_routing"] = mv_query_routing
ORACLES["mv_query_routing"] = """
    SELECT year(o_orderdate) AS year,
           count(*)::BIGINT AS n_orders,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders GROUP BY 1 ORDER BY year
"""


# --- 23. Full-sync merge (NOT MATCHED BY SOURCE → DELETE) ---------------------------


def full_sync_merge_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies ``sinks/merge.merge_full_sync`` — the dimension-
    synchronization MERGE mode upserts can't express: the source is
    the complete desired key set, so matched keys update (keeping the
    engine-maintained first_seen), new keys insert with the sync id,
    and keys ABSENT from the source are deleted. Fixture: target =
    customers with key % 3 != 0 (first_seen = 0, acctbal as loaded);
    source = customers with key % 2 == 0 and acctbal SHIFTED +1000
    cents (so carried-over rows must show the SOURCE value — a stale
    attr leaks straight into the hash). Final state after sync_id=1:
    exactly the source keys; first_seen = 0 where the key survived
    from the target, 1 where it is new.

    100 TB: one key-partitioned join (the metadata column rides the
    small projection); committed via replace_table_cow so history
    survives — the same restatement path the COW family certifies.

    Rows: per-segment rollup — n_rows, n_carried, n_new,
    sum_acctbal_cents."""
    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.sinks import manifest as MF
    from etl_extractor_spark.sinks.merge import merge_full_sync

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"),
        F.col("c_mktsegment").alias("seg"),
        _cents("c_acctbal").alias("bal"),
    )
    path = pid_scratch_dir("spark_graft_fsync_")
    target = c.filter(F.col("ck") % 3 != 0).withColumn(
        "first_seen", F.lit(0).cast("long")
    )
    MF.write_with_manifest(spark, target.repartition(2), path, stats_cols=["ck"])
    source = c.filter(F.col("ck") % 2 == 0).withColumn(
        "bal", F.col("bal") + 1000
    )
    merged = merge_full_sync(
        MF.read_table(spark, path),
        source,
        "ck",
        ["seg", "bal"],
        sync_id=1,
    )
    MF.replace_table_cow(spark, path, merged)
    out = MF.read_table(spark, path)
    return (
        out.groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(F.col("first_seen") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_carried"),
            F.sum(F.when(F.col("first_seen") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
            F.sum("bal").cast("long").alias("sum_bal_cents"),
        )
        .orderBy("seg")
    )


QUERIES["full_sync_merge_dim"] = full_sync_merge_dim
ORACLES["full_sync_merge_dim"] = """
    WITH c AS (
      SELECT c_custkey AS ck, c_mktsegment AS seg,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 1000 AS bal,
             CASE WHEN c_custkey % 3 != 0 THEN 0 ELSE 1 END AS first_seen
      FROM customer WHERE c_custkey % 2 = 0
    )
    SELECT seg,
           count(*)::BIGINT AS n_rows,
           CAST(sum(CASE WHEN first_seen = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_carried,
           CAST(sum(CASE WHEN first_seen = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(sum(bal) AS BIGINT) AS sum_bal_cents
    FROM c GROUP BY seg ORDER BY seg
"""


# --- 24. .files metadata relation ----------------------------------------------------


def table_files_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``.files`` metadata table (Iceberg/Delta expose per-file
    stats as a queryable relation): after three deterministic
    single-file appends over pinned key slices, the manifest's file
    entries themselves are the result — per file its row count and
    min/max key, straight from the write-time footer harvest, no data
    read (this is what powers `SELECT * FROM t.files` planning and
    file-skipping explainability). Ordered by min_key so the output is
    layout-stable; file NAMES (uuid-bearing) stay out of the hash.

    Rows: one per data file — n_rows, min_key, max_key."""
    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.operators.common import small_df
    from etl_extractor_spark.sinks import manifest as MF

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    path = pid_scratch_dir("spark_graft_files_")
    hi = o.agg(F.max("k")).collect()[0][0]
    cut1, cut2 = hi // 3, 2 * (hi // 3)
    MF.write_with_manifest(
        spark, o.filter(F.col("k") <= cut1).repartition(1), path, ["k"]
    )
    for lo_excl, hi_incl in ((cut1, cut2), (cut2, hi)):
        MF.write_with_manifest(
            spark,
            o.filter((F.col("k") > lo_excl) & (F.col("k") <= hi_incl)).repartition(1),
            path,
            ["k"],
            mode="append",
        )
    m = MF.read_manifest(path)
    rows = sorted(
        (
            (e["rows"], e["stats"]["k"]["min"], e["stats"]["k"]["max"])
            for e in m["files"]
        ),
        key=lambda t: t[1],
    )
    return small_df(
        spark, rows, "n_rows long, min_key long, max_key long"
    ).orderBy("min_key")


QUERIES["table_files_metadata"] = table_files_metadata
ORACLES["table_files_metadata"] = """
    WITH hi AS (SELECT max(o_orderkey) AS h FROM orders),
    b AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey <= (SELECT h // 3 FROM hi) THEN 0
                  WHEN o_orderkey <= (SELECT 2 * (h // 3) FROM hi) THEN 1
                  ELSE 2 END AS band
      FROM orders
    )
    SELECT count(*)::BIGINT AS n_rows,
           min(k) AS min_key, max(k) AS max_key
    FROM b GROUP BY band ORDER BY min_key
"""


# --- 25. String-range file skipping ---------------------------------------------------


def string_range_skipping_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File skipping on a STRING column's zone maps — the numeric
    min/max machinery (manifest_* family) extended to lexicographic
    ranges, which is how name/uuid/url-prefix predicates prune at
    scale. Three single-file appends carry alphabet bands of p_name
    (a–f / g–p / q–z by first letter); the probe predicate
    'h' <= p_name < 'i' must plan STRICTLY fewer files than the table
    holds (asserted) with zero false negatives (the oracle hash —
    computed from raw part rows — catches any dropped row).

    100 TB: string zone maps make prefix scans metadata-bounded; the
    lexicographic compare is the same JSON-domain compare plan_files
    already certifies for numerics."""
    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.sinks import manifest as MF

    p = load_table(spark, sf_dir, "part").select(
        F.col("p_name").alias("nm"), _cents("p_retailprice").alias("cents")
    )
    path = pid_scratch_dir("spark_graft_strskip_")
    first = F.substring("nm", 1, 1)
    bands = [(first < "g"), (first >= "g") & (first < "q"), (first >= "q")]
    MF.write_with_manifest(spark, p.filter(bands[0]).repartition(1), path, ["nm"])
    for b in bands[1:]:
        MF.write_with_manifest(
            spark, p.filter(b).repartition(1), path, ["nm"], mode="append"
        )
    m = MF.read_manifest(path)
    import os

    planned = MF.plan_files(m, "nm", lower="h", upper="i")
    assert 0 < len(planned) < len(m["files"]), (planned, len(m["files"]))
    df = spark.read.parquet(*[os.path.join(path, f) for f in planned])
    return df.filter((F.col("nm") >= "h") & (F.col("nm") < "i")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.min("nm").alias("first_name"),
        F.max("nm").alias("last_name"),
    )


QUERIES["string_range_skipping_scan"] = string_range_skipping_scan
ORACLES["string_range_skipping_scan"] = """
    SELECT count(*)::BIGINT AS n,
           CAST(sum(CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents,
           min(p_name) AS first_name,
           max(p_name) AS last_name
    FROM part
    WHERE p_name >= 'h' AND p_name < 'i'
"""


# --- 26. approx_top_k exactness contract ---------------------------------------------


def approx_top_k_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies Spark 4's native ``approx_top_k`` sketch under its
    exactness precondition — the same contract pattern as the
    KLL/Theta/CMS family: when maxItemsTracked (default 10⁴) exceeds
    the distinct-item count, the space-saving sketch degenerates to
    exact counting, so the oracle can pin the VALUES. The sketch's
    own output order on count ties is unspecified, so the result is
    exploded and re-ranked by the pinned (count desc, item asc) order
    before hashing — certifying the counts, not the engine's
    incidental ordering. In-query assert pins the precondition
    (distinct event types < maxItemsTracked).

    100 TB: past the precondition the sketch stays fixed-size and
    mergeable (the point of space-saving); the certified-exact regime
    is the one this events domain occupies.

    5 rows: item, cnt."""
    e = load_table(spark, sf_dir, "events")
    exact = (
        e.groupBy("event_type")
        .count()
        .orderBy(F.col("count").desc(), "event_type")
        .limit(7)
        .collect()
    )
    n_distinct = e.select("event_type").distinct().count()
    assert n_distinct < 10000, n_distinct
    # WHICH items make the top-5 cut is only pinned when rank 5 beats
    # rank 6 strictly — assert it so a tying fixture fails loudly here
    # instead of hash-flaking downstream
    if len(exact) > 5:
        assert exact[4]["count"] > exact[5]["count"], exact
    sk = e.agg(F.expr("approx_top_k(event_type, 5)").alias("tk"))
    return (
        sk.select(F.explode("tk").alias("x"))
        .select(
            F.col("x.item").alias("item"),
            F.col("x.count").cast("long").alias("cnt"),
        )
        .orderBy(F.col("cnt").desc(), "item")
    )


QUERIES["approx_top_k_contract"] = approx_top_k_contract
ORACLES["approx_top_k_contract"] = """
    SELECT event_type AS item, count(*)::BIGINT AS cnt
    FROM events GROUP BY 1
    ORDER BY cnt DESC, item
    LIMIT 5
"""


# --- 27. Arrow-optimized Python UDF parity -------------------------------------------


def arrow_python_udf_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies the ARROW-OPTIMIZED Python UDF path (Spark 4
    ``udf(..., useArrow=True)`` — columnar Arrow batches instead of
    row-pickling): a digit-sum UDF over order keys, rolled up to
    (digit_sum → n, revenue). The oracle recomputes digit sums in pure
    SQL (list fold over the decimal string), so the hash certifies the
    Arrow serialization round-trip preserves int64 semantics exactly.
    Honest scale note: this is the SLOW PATH family — the repo's rule
    is built-ins first (a digit sum IS expressible in SQL, as the
    oracle proves); the query certifies the escape hatch used when
    real Python logic (tokenizers, codecs) is unavoidable, on the
    multimodal family's Arrow-batch cost model.

    Rows: digit_sum, n, revenue_cents."""
    from pyspark.sql.functions import udf

    @udf("long", useArrow=True)
    def digit_sum(k: int) -> int:
        return sum(int(c) for c in str(k))

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _cents("o_totalprice").alias("cents")
    )
    return (
        o.select(digit_sum("o_orderkey").alias("ds"), "cents")
        .groupBy("ds")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("ds")
    )


QUERIES["arrow_python_udf_parity"] = arrow_python_udf_parity
ORACLES["arrow_python_udf_parity"] = """
    WITH x AS (
      SELECT list_sum(list_transform(string_split(CAST(o_orderkey AS VARCHAR), ''),
                                     c -> CAST(c AS BIGINT))) AS ds,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders
    )
    SELECT CAST(ds AS BIGINT) AS ds, count(*)::BIGINT AS n,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM x GROUP BY 1 ORDER BY ds
"""


# --- 28. GROUP BY ALL / ORDER BY ALL certification ------------------------------------


def group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies the GROUP BY ALL / ORDER BY ALL SQL sugar (Spark 4):
    the resolver must infer the grouping set as exactly the
    non-aggregate select items and the ordering as the full select
    list — the oracle spells both out positionally, so a resolver
    that grouped or ordered differently hash-mismatches. Cheap but
    real: this sugar is how exploratory SQL gets written, and a wrong
    inference silently changes grain."""
    from etl_extractor_spark.sources.parquet import register_views

    spark = query_session(spark)
    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(
        """
        SELECT year(o_orderdate) AS yr,
               substr(o_orderpriority, 1, 1) AS prio,
               count(*) AS n,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )


QUERIES["group_order_by_all"] = group_order_by_all
ORACLES["group_order_by_all"] = """
    SELECT year(o_orderdate) AS yr,
           substr(o_orderpriority, 1, 1) AS prio,
           count(*)::BIGINT AS n,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders
    GROUP BY 1, 2
    ORDER BY 1, 2, 3, 4
"""


# --- 29. Compaction batch planner (next-fit-decreasing) -------------------------------


def compaction_batch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE batch planning from manifest metadata alone: the
    small-file set is packed into bounded compaction batches by
    NEXT-FIT-DECREASING — files sorted by (rows desc, min_key), batch
    id = exclusive-cumulative-rows div capacity — the deterministic,
    window-expressible sibling of first-fit bin packing (one open bin,
    ≤2× waste bound, and crucially reproducible as pure SQL — a
    sequential FFD state machine is not). Fixture: 9 single-file
    appends over key-mod-9 slices (per-file rows derivable from the
    data, so the oracle can replan from raw rows); capacity = 2.5×
    the mean slice. This is the planner that turns write_target_file_
    size's diagnosis and compact_with_manifest's mechanism into
    bounded-memory OPTIMIZE jobs.

    100 TB: planning cost is |files| manifest entries — metadata-
    scale; each planned batch bounds the compactor's working set.

    Rows: batch, n_files, total_rows."""
    from etl_extractor_spark.operators.common import pid_scratch_dir, small_df
    from etl_extractor_spark.sinks import manifest as MF

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    path = pid_scratch_dir("spark_graft_binpack_")
    MF.write_with_manifest(
        spark, o.filter(F.col("k") % 9 == 0).repartition(1), path, ["k"]
    )
    for r in range(1, 9):
        MF.write_with_manifest(
            spark,
            o.filter(F.col("k") % 9 == r).repartition(1),
            path,
            ["k"],
            mode="append",
        )
    m = MF.read_manifest(path)
    total = sum(e["rows"] for e in m["files"])
    cap = (total // 9) * 5 // 2  # 2.5× the mean slice
    files = sorted(
        ((e["rows"], e["stats"]["k"]["min"]) for e in m["files"]),
        key=lambda t: (-t[0], t[1]),
    )
    plan: list = []
    cum = 0
    for rows, _mn in files:
        plan.append((cum // cap, rows))
        cum += rows
    batches: dict = {}
    for b, rows in plan:
        n, t = batches.get(b, (0, 0))
        batches[b] = (n + 1, t + rows)
    return small_df(
        spark,
        [(b, n, t) for b, (n, t) in sorted(batches.items())],
        "batch long, n_files long, total_rows long",
    ).orderBy("batch")


QUERIES["compaction_batch_plan"] = compaction_batch_plan
ORACLES["compaction_batch_plan"] = """
WITH f AS (
  SELECT o_orderkey % 9 AS slice, count(*)::BIGINT AS rows_,
         min(o_orderkey) AS mn
  FROM orders GROUP BY 1
), cap AS (
  SELECT (CAST(sum(rows_) AS BIGINT) // 9) * 5 // 2 AS c FROM f
), ordered AS (
  SELECT rows_,
         CAST(COALESCE(SUM(rows_) OVER (ORDER BY rows_ DESC, mn
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_prev
  FROM f
)
SELECT CAST(cum_prev // c AS BIGINT) AS batch,
       count(*)::BIGINT AS n_files,
       CAST(sum(rows_) AS BIGINT) AS total_rows
FROM ordered CROSS JOIN cap
GROUP BY 1 ORDER BY batch
"""


# --- 30. Equi-depth histogram (ANALYZE-style optimizer statistics) ------------------


def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH (equal-height) histogram of order value — the
    statistic ANALYZE TABLE builds for optimizer selectivity
    estimation, computed EXACTLY on the value domain: each distinct
    value goes wholly to the bucket of its first row,
    bucket = cum_prev·10 div N (ties never split across buckets, so
    bucket heights wobble by tie mass — the honest equi-depth on
    discrete data, and precisely how engine histogram builders handle
    heavy hitters). The rank walk is the two-phase bucket cumsum —
    value-domain-sized, never a global sort of rows.

    100 TB: this is the stats-collection pass a warehouse runs per
    column; one distinct-value aggregation + a domain-sized walk.

    10 rows: bucket, lo_cents, hi_cents, n_rows."""
    o = load_table(spark, sf_dir, "orders").select(
        _cents("o_totalprice").alias("v")
    )
    per_v = o.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    per_v = per_v.withColumn("b", F.expr("v div 1000000"))
    wv = (
        Window.partitionBy("b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sizes = per_v.groupBy("b").agg(F.sum("c").alias("cb"))
    wo = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "b", F.coalesce(F.sum("cb").over(wo), F.lit(0)).alias("off")
    )
    n = o.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cum = (
        per_v.withColumn("cin", F.coalesce(F.sum("c").over(wv), F.lit(0)))
        .join(F.broadcast(offsets), "b")
        .crossJoin(F.broadcast(n))
        .select(
            "v",
            "c",
            F.expr("(cin + off) * 10 div n").cast("long").alias("bucket"),
        )
    )
    return (
        cum.groupBy("bucket")
        .agg(
            F.min("v").cast("long").alias("lo_cents"),
            F.max("v").cast("long").alias("hi_cents"),
            F.sum("c").cast("long").alias("n_rows"),
        )
        .orderBy("bucket")
    )


QUERIES["equi_depth_histogram"] = equi_depth_histogram
ORACLES["equi_depth_histogram"] = """
WITH o AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
  FROM orders
), per_v AS (
  SELECT v, count(*)::BIGINT AS c FROM o GROUP BY 1
), nn AS (
  SELECT CAST(sum(c) AS BIGINT) AS n FROM per_v
), cum AS (
  SELECT v, c,
         CAST(COALESCE(SUM(c) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_prev
  FROM per_v
)
SELECT CAST(cum_prev * 10 // n AS BIGINT) AS bucket,
       min(v) AS lo_cents, max(v) AS hi_cents,
       CAST(sum(c) AS BIGINT) AS n_rows
FROM cum CROSS JOIN nn
GROUP BY 1 ORDER BY bucket
"""


# --- 31. Weekly VWAP ------------------------------------------------------------------


def vwap_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per week over line items — the
    canonical weighted-mean metric (finance VWAP, and the exact shape
    of any weighted KPI): Σ(price·qty)/Σ(qty) per ISO-truncated week,
    with the numerator accumulated EXACTLY (price cents × integer
    quantity in DECIMAL(38,0)) and the final division one identical
    floor-double step (micro-cent units). Fully map-combinable — two
    exact integers of state per week.

    Rows: week, n_items, total_qty, vwap_micro_cents."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.date_trunc("week", F.col("l_shipdate")).cast("date").alias("wk"),
        _cents("l_extendedprice").alias("p"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    agg = li.groupBy("wk").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("q").cast("long").alias("total_qty"),
        F.sum((F.col("p") * F.col("q")).cast("decimal(38,0)")).alias("pq"),
    )
    vwap = F.floor(
        F.col("pq").cast("double") / F.col("total_qty").cast("double") * 1000000
    ).cast("long")
    return agg.select(
        "wk", "n_items", "total_qty", vwap.alias("vwap_micro_cents")
    ).orderBy("wk")


QUERIES["vwap_weekly"] = vwap_weekly
ORACLES["vwap_weekly"] = """
    SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS wk,
           count(*)::BIGINT AS n_items,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           CAST(floor(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE)
                / CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) * 1000000)
               AS BIGINT) AS vwap_micro_cents
    FROM lineitem GROUP BY 1 ORDER BY wk
"""


# --- 32. Monthly OHLC of the daily revenue series ---------------------------------------


def ohlc_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars (open/high/low/close) of DAILY revenue per month —
    the candlestick aggregation, i.e. argmin/argmax-by-time composed
    with min/max over a pre-aggregated series: open = the first day's
    revenue (min_by day), close = the last day's (max_by), high/low =
    extrema. Runs entirely on the day-grain aggregate (calendar-
    bounded); the struct-ordered min_by/max_by is the same
    deterministic argmax family the SCD1 stream certifies.

    Rows: month, open/high/low/close cents, n_days."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"), _cents("o_totalprice").alias("cents")
    )
    daily = o.groupBy("d").agg(F.sum("cents").cast("long").alias("rev"))
    return (
        daily.groupBy((F.year("d") * 100 + F.month("d")).alias("month"))
        .agg(
            F.min_by("rev", "d").cast("long").alias("open_cents"),
            F.max("rev").cast("long").alias("high_cents"),
            F.min("rev").cast("long").alias("low_cents"),
            F.max_by("rev", "d").cast("long").alias("close_cents"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
        )
        .orderBy("month")
    )


QUERIES["ohlc_monthly_revenue"] = ohlc_monthly_revenue
ORACLES["ohlc_monthly_revenue"] = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS rev
  FROM orders GROUP BY 1
)
SELECT year(d) * 100 + month(d) AS month,
       CAST(min_by(rev, d) AS BIGINT) AS open_cents,
       CAST(max(rev) AS BIGINT) AS high_cents,
       CAST(min(rev) AS BIGINT) AS low_cents,
       CAST(max_by(rev, d) AS BIGINT) AS close_cents,
       count(*)::BIGINT AS n_days
FROM daily GROUP BY 1 ORDER BY month
"""


# --- 33. Streaming weekly VWAP (weighted-mean state) -----------------------------------


def streaming_vwap_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certified stream: WEIGHTED-MEAN state — the streaming twin of
    vwap_weekly. The stateful aggregation carries the sufficient-
    statistic PAIR (Σ value·weight, Σ weight) per week across
    micro-batches — the ratio itself is never state (a running ratio
    is not mergeable; the pair is, which is the entire design rule for
    weighted metrics in streams). Complete-mode replay over the pinned
    3-batch events fixture; the final division is the same
    floor-double micro-unit step as the batch twin, applied AFTER the
    replay on the merged pairs. Weights = event value cents, weighted
    quantity = the event's user_id modulo 5 + 1 (a pinned integer
    weight so the fixture exercises weight variation).

    100 TB: state is 2 integers per week — calendar-bounded; this is
    every streaming weighted KPI (VWAP, weighted CSAT, $-weighted
    latency) in its mergeable form.

    Rows: week, n_events, total_w, vwap_micro."""
    from etl_extractor_spark.plans.pipeline_ops9 import _build_mod3_batches
    from etl_extractor_spark.streaming import events_stream as SE

    src = _build_mod3_batches(
        spark, sf_dir, "spark_graft_svwap_src_", cols=("event_id", "ts", "value", "user_id")
    )
    schema = spark.read.parquet(src + "/ev-b0.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/ev-*.parquet")
    )
    wk = F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    v = F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
    w = F.expr("user_id % 5 + 1")
    pairs = stream.select(
        wk, (v * w).cast("decimal(38,0)").alias("vw"), w.cast("long").alias("w")
    ).groupBy("wk").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("vw").alias("svw"),
        F.sum("w").cast("long").alias("total_w"),
    )
    state = SE.run_to_memory(pairs, output_mode="complete", state_partitions=8)
    vwap = F.floor(
        F.col("svw").cast("double") / F.col("total_w").cast("double") * 1000000
    ).cast("long")
    return state.select(
        "wk", "n_events", "total_w", vwap.alias("vwap_micro")
    ).orderBy("wk")


QUERIES["streaming_vwap_replay"] = streaming_vwap_replay
ORACLES["streaming_vwap_replay"] = """
WITH e AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS wk,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         user_id % 5 + 1 AS w
  FROM events
)
SELECT wk, count(*)::BIGINT AS n_events,
       CAST(sum(w) AS BIGINT) AS total_w,
       CAST(floor(CAST(sum(v * w) AS DOUBLE) / CAST(sum(w) AS DOUBLE)
            * 1000000) AS BIGINT) AS vwap_micro
FROM e GROUP BY 1 ORDER BY wk
"""
