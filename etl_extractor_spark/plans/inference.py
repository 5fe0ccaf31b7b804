"""Statistical inference & model-evaluation wave (round-5, session 3).

Completes the experimentation/eval toolkit around the existing CUPED /
DiD / Mann-Whitney / survival suite (plans/pipeline_ops.py) with the
estimators a measurement team runs daily on a 100 TB event store:

- nn_matching_att    : 1-NN covariate-matching ATT (the observational
                       counterpart to the CUPED/DiD experiments) —
                       nearest-control match on account balance via
                       the two-phase bucketed as-of scheme
- jackknife_mean_se  : leave-one-out jackknife SE of group means in
                       ONE pass (Q = n·Σx'² − S'² algebra over
                       pinned-centered values, exact DECIMAL(38,0))
- calibration_bins   : reliability diagram — decile-binned mean score
                       vs observed label rate, exact integer sums
- roc_auc_exact      : tie-corrected exact AUC via the doubled-integer
                       rank-sum identity (2U in BIGINT, never pairs)
- acf_daily_orders   : autocorrelation of the daily-order series at
                       lags 1..7, exact integers via the n-scaled
                       centering trick (y = n·x − S)
- cusum_changepoint  : CUSUM mean-shift changepoint (argmax |n·P_t −
                       t·S|), exact integers end to end

All six follow the repo's exactness discipline: every data-scaled
aggregate is an integer (BIGINT or DECIMAL(38,0)); doubles appear only
in final scalar formulas computed once from identical exact integers
on both engines, then quantized. Reference parity: the reference
pipeline (nilfredb/ETL-Extractor, transformers/*.py) ships no stats
layer; these are what its marts feed downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_extractor_spark.functions.quantize import cents, q6 as _q6
from etl_extractor_spark.plans.pipeline_ops import _SPEND_CTE, _spend_by_customer
from etl_extractor_spark.sources.parquet import load_table

QUERIES: dict = {}
ORACLES: dict = {}


# --- 1. nearest-neighbor covariate matching ATT -----------------------------

# Account balance is generator-bounded to [-999.99, 9999.99] (a data-
# dictionary constant, NOT data-scaled), so this shift makes the
# matching score non-negative at every SF — safe where an offset on a
# data-scaled SUM would not be (the seasonal_decompose lesson).
_BAL_SHIFT = 100_000
_MATCH_BUCKET = 25_000  # cents per as-of bucket (~44 buckets over the domain)


def nn_matching_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average treatment effect on the treated by 1-NN covariate
    matching: hash-parity "treatment" over customers, covariate =
    account balance (integer cents, shifted non-negative), outcome =
    1996+97 spend in cents (intent-to-treat zero-fill, shared
    derivation with CUPED/DiD). Controls collapse to one deterministic
    representative per distinct balance (min custkey); each treated
    customer matches the nearest control balance — prev on ties —
    via the repo's two-phase as-of: a within-bucket window (balance
    div 25k cents, domain-bounded fan-out) plus a broadcast
    bucket-boundary frame filling across empty buckets. Output is the
    exact integer ATT numerator and the quantized ATT.

    100 TB: no global sort — the only full-data shuffles are the
    customer-grain spend aggregation and the bucketed window whose key
    count is domain-bounded; the boundary frame is O(buckets).
    Matching mirrors DuckDB's ASOF JOIN semantics (t.sc >= c.sc keeps
    equality on the prev side), which is what the oracle runs."""
    spend = _spend_by_customer(spark, sf_dir, "treat").select(
        "c_custkey", (F.col("pre") + F.col("post")).alias("y"), "treat"
    )
    bal = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (
            cents("c_acctbal")
            + F.lit(_BAL_SHIFT)
        ).alias("sc"),
    )
    u = spend.join(bal, "c_custkey")
    # one deterministic control representative per distinct balance
    ctrl = (
        u.where(F.col("treat") == 0)
        .groupBy("sc")
        .agg(F.min(F.struct("c_custkey", "y")).alias("r"))
        .select("sc", F.col("r.y").alias("cy"))
    )
    treated = u.where(F.col("treat") == 1).select("c_custkey", "y", "sc")
    b = F.expr("sc div {}".format(_MATCH_BUCKET))
    # union frame: control rows sort before treated at equal sc so an
    # exact-balance control is visible to the prev window (dist 0)
    frame = ctrl.select(
        "sc", F.lit(0).alias("kind"), F.col("cy"), F.lit(None).cast("long").alias("y"),
        F.lit(None).cast("long").alias("c_custkey"),
    ).unionByName(
        treated.select(
            "sc", F.lit(1).alias("kind"), F.lit(None).cast("long").alias("cy"), "y",
            "c_custkey",
        )
    ).withColumn("bkt", b)
    wp = (
        Window.partitionBy("bkt")
        .orderBy("sc", "kind", "c_custkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # next-control frame as a RUNNING frame over the reversed order —
    # same row set [current, bucket end], identical values; Spark's
    # (0, unboundedFollowing) frame re-scans the partition remainder
    # per row (O(rows²) per bucket — the gap_fill lesson, r10)
    wn = (
        Window.partitionBy("bkt")
        .orderBy(F.desc("sc"), F.desc("kind"), F.desc("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    csc = F.when(F.col("kind") == 0, F.col("sc"))
    local = frame.select(
        "bkt", "sc", "kind", "y", "c_custkey",
        F.last(csc, ignorenulls=True).over(wp).alias("p_sc"),
        F.last(F.when(F.col("kind") == 0, F.col("cy")), ignorenulls=True).over(wp).alias("p_y"),
        F.last(csc, ignorenulls=True).over(wn).alias("n_sc"),
        F.last(F.when(F.col("kind") == 0, F.col("cy")), ignorenulls=True).over(wn).alias("n_y"),
    )
    # bucket-boundary frame: last/first control per bucket, then a
    # running fill across buckets (window over the tiny bucket frame)
    bounds = ctrl.withColumn("bkt", b).groupBy("bkt").agg(
        F.max(F.struct("sc", "cy")).alias("hi"),
        F.min(F.struct("sc", "cy")).alias("lo"),
    )
    wfill_p = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    wfill_n = Window.orderBy("bkt").rowsBetween(1, Window.unboundedFollowing)
    all_bkts = frame.select("bkt").distinct()
    fills = (
        all_bkts.join(bounds, "bkt", "left")
        .select(
            "bkt",
            F.last("hi", ignorenulls=True).over(wfill_p).alias("fill_p"),
            F.first("lo", ignorenulls=True).over(wfill_n).alias("fill_n"),
        )
    )
    m = (
        local.where(F.col("kind") == 1)
        .join(F.broadcast(fills), "bkt")
        .select(
            "sc", "y",
            F.coalesce("p_sc", "fill_p.sc").alias("psc"),
            F.coalesce("p_y", "fill_p.cy").alias("py"),
            F.coalesce("n_sc", "fill_n.sc").alias("nsc"),
            F.coalesce("n_y", "fill_n.cy").alias("ny"),
        )
    )
    pick_prev = F.col("nsc").isNull() | (
        F.col("psc").isNotNull()
        & ((F.col("sc") - F.col("psc")) <= (F.col("nsc") - F.col("sc")))
    )
    matched = m.select(
        "y",
        F.when(pick_prev, F.col("py")).otherwise(F.col("ny")).alias("ym"),
    )
    out = matched.agg(
        F.count(F.lit(1)).cast("long").alias("n_treated"),
        F.sum(F.col("y") - F.col("ym")).cast("long").alias("sum_diff_cents"),
    )
    att = F.col("sum_diff_cents").cast("double") / F.col("n_treated").cast("double")
    return out.select("n_treated", "sum_diff_cents", _q6(att / 100).alias("att_dollars"))


QUERIES["nn_matching_att"] = nn_matching_att
ORACLES["nn_matching_att"] = f"""
    WITH spend AS ({_SPEND_CTE}),
    u AS (
        SELECT s.c_custkey, s.pre + s.post AS y,
               CAST(('0x' || substr(md5(CAST(s.c_custkey AS VARCHAR)), 1, 12)) AS BIGINT) % 2 AS treat,
               CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + {_BAL_SHIFT} AS sc
        FROM spend s JOIN customer c ON s.c_custkey = c.c_custkey
    ),
    ctrl AS (
        SELECT sc, arg_min(y, c_custkey) AS cy
        FROM u WHERE treat = 0 GROUP BY sc
    ),
    t AS (SELECT c_custkey, y, sc FROM u WHERE treat = 1),
    prevm AS (
        SELECT t.c_custkey, t.y, t.sc, c.sc AS psc, c.cy AS py
        FROM t ASOF LEFT JOIN ctrl c ON t.sc >= c.sc
    ),
    nextm AS (
        SELECT t.c_custkey, c.sc AS nsc, c.cy AS ny
        FROM t ASOF LEFT JOIN ctrl c ON t.sc <= c.sc
    ),
    m AS (
        SELECT p.y,
               CASE WHEN n.nsc IS NULL OR (p.psc IS NOT NULL AND
                         (p.sc - p.psc) <= (n.nsc - p.sc))
                    THEN p.py ELSE n.ny END AS ym
        FROM prevm p JOIN nextm n ON p.c_custkey = n.c_custkey
    ),
    agg AS (
        SELECT COUNT(*)::BIGINT AS n_treated,
               SUM(y - ym)::BIGINT AS sum_diff_cents
        FROM m
    )
    SELECT n_treated, sum_diff_cents,
           FLOOR((CAST(sum_diff_cents AS DOUBLE) / CAST(n_treated AS DOUBLE)) / 100
                 * 1000000 + 0.5) / 1000000 AS att_dollars
    FROM agg
"""


# --- 2. one-pass jackknife SE of group means --------------------------------
# Pinned centering constant (cents) — order values cluster ~1.5e5
# dollars; centering shrinks Σx'² by ~1e2 and guards the suff-stats
# cancellation (recorded gotcha). PINNED, never data-derived.
_JACK_CENTER = 15_000_000


def jackknife_mean_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out jackknife standard error of mean order value per
    priority, in ONE aggregation pass: with x' = x − C (C a PINNED
    centering constant, the repo's cancellation guard), S' = Σx' and
    SS' = Σx'² in exact DECIMAL(38,0), Σᵢ(S − n·xᵢ)² equals
    n·(n·SS' − S'²), so jack_se = √((n·SS' − S'²) / (n²(n−1))) — no
    second pass, no per-row leave-one-out frame. The jackknife equals
    s²/n for the mean (a textbook identity), which makes it an
    oracle-checkable exact derivation rather than a resampling loop.
    The n·SS' − S'² form (not n²·SS − n·S², a review catch) keeps the
    exact integer under ~6e31 even at sf5000 — DECIMAL(38,0)/HUGEINT
    headroom at any realistic scale, identical overflow behavior on
    both engines.

    100 TB: a single map-side-combinable groupBy; every data-scaled
    quantity is an exact integer; the √ runs once per group over
    identical integers on both engines."""
    x = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (cents("o_totalprice") - F.lit(_JACK_CENTER)).alias("x"),
    )
    s = x.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("s"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("ss"),
    )
    nd = F.col("n").cast("double")
    q1 = F.col("n").cast("decimal(38,0)") * F.col("ss") - F.col("s") * F.col("s")
    jse = F.sqrt(q1.cast("double") / (nd * nd * (nd - 1)))
    mean = F.col("s").cast("double") / nd + F.lit(float(_JACK_CENTER))
    return s.select(
        "o_orderpriority",
        "n",
        _q6(mean / 100).alias("mean_dollars"),
        _q6(jse / 100).alias("jack_se_dollars"),
    )


QUERIES["jackknife_mean_se"] = jackknife_mean_se
ORACLES["jackknife_mean_se"] = """
    WITH x AS (
        SELECT o_orderpriority,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   - 15000000 AS x
        FROM orders
    ),
    s AS (
        SELECT o_orderpriority,
               COUNT(*)::BIGINT AS n,
               SUM(CAST(x AS HUGEINT)) AS s,
               SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS ss
        FROM x GROUP BY 1
    )
    SELECT o_orderpriority, n,
           FLOOR((CAST(s AS DOUBLE) / CAST(n AS DOUBLE) + 15000000.0) / 100
                 * 1000000 + 0.5) / 1000000 AS mean_dollars,
           FLOOR(SQRT(CAST(CAST(n AS HUGEINT) * ss - s * s AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                         * (CAST(n AS DOUBLE) - 1))) / 100 * 1000000 + 0.5) / 1000000
               AS jack_se_dollars
    FROM s
"""


# --- shared deterministic document score (calibration + AUC) ----------------
# Alphabetic-character ratio as a toy "English-ness" model score: one
# regex + two exact lengths + ONE double division, floor-quantized to
# integer micro-units. Label = (lang = 'en').
def _scored_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z ]", ""))
    score = F.floor(
        alpha.cast("double") / (F.length("text").cast("double") + 1.0) * 1000000
    ).cast("long")
    return d.select(
        score.alias("score_micro"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )


_SCORED_SQL = """
    SELECT CAST(FLOOR(CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
                / (CAST(length(text) AS DOUBLE) + 1.0) * 1000000) AS BIGINT) AS score_micro,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
    FROM documents
"""


# --- 3. calibration / reliability diagram -----------------------------------
def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the deterministic English-ness score:
    2%-wide bins over the score (fine enough to resolve this corpus's
    concentrated alpha-ratio distribution), per bin the exact count,
    positive count, and score mass — mean predicted vs observed rate
    is then one division per bin. The model-eval primitive every
    trained filter (quality classifier, lang-ID) gets audited with
    before a 100 TB filtering run.

    100 TB: map-only scoring + a ≤50-key hash aggregation."""
    s = _scored_docs(spark, sf_dir)
    return (
        s.groupBy(F.expr("score_micro div 20000").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("label").cast("long").alias("n_pos"),
            F.sum("score_micro").cast("long").alias("sum_score_micro"),
        )
        .select(
            "bin", "n", "n_pos", "sum_score_micro",
            _q6(F.col("n_pos").cast("double") / F.col("n").cast("double")).alias("pos_rate"),
            _q6(
                F.col("sum_score_micro").cast("double")
                / F.col("n").cast("double") / 1000000
            ).alias("mean_score"),
        )
    )


QUERIES["calibration_bins"] = calibration_bins
ORACLES["calibration_bins"] = f"""
    WITH s AS ({_SCORED_SQL})
    SELECT score_micro // 20000 AS bin,
           COUNT(*)::BIGINT AS n,
           SUM(label)::BIGINT AS n_pos,
           SUM(score_micro)::BIGINT AS sum_score_micro,
           FLOOR(CAST(SUM(label) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS pos_rate,
           FLOOR(CAST(SUM(score_micro) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 / 1000000 * 1000000 + 0.5) / 1000000 AS mean_score
    FROM s GROUP BY 1
"""


# --- 4. exact tie-corrected AUC ---------------------------------------------
def roc_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the English-ness score via the rank-sum
    identity — AUC = (#(pos>neg) + ½#(pos=neg)) / (n₁n₀), counted
    without materializing pairs: per distinct score with group counts
    p(v), q(v) and the cumulative negatives strictly below, 2·num =
    Σ_v p(v)·(2·Q<(v) + q(v)) in exact BIGINT doubled-integer space
    (the Mann-Whitney machinery, pipeline_ops.mann_whitney_u, pointed
    at model evaluation). Two-phase bucketed cumsum — no
    single-partition window over a data-scaled relation.

    100 TB: distinct-score relation is bounded by the score domain
    (≤1e6+1 rows) regardless of corpus size."""
    s = _scored_docs(spark, sf_dir)
    per_v = s.groupBy(F.col("score_micro").alias("v")).agg(
        F.sum("label").cast("long").alias("p"),
        F.sum(1 - F.col("label")).cast("long").alias("q"),
    ).withColumn("b", F.expr("v div 20000"))
    wv = Window.partitionBy("b").orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    sizes = per_v.groupBy("b").agg(F.sum("q").alias("qb"))
    wo = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select("b", F.coalesce(F.sum("qb").over(wo), F.lit(0)).alias("off"))
    cum = (
        per_v.withColumn("q_in", F.coalesce(F.sum("q").over(wv), F.lit(0)))
        .join(F.broadcast(offsets), "b")
        .select("v", "p", "q", (F.col("q_in") + F.col("off")).alias("q_less"))
    )
    agg = cum.agg(
        F.sum("p").cast("long").alias("n_pos"),
        F.sum("q").cast("long").alias("n_neg"),
        F.sum(F.col("p") * (2 * F.col("q_less") + F.col("q"))).cast("long").alias("two_num"),
    )
    auc = F.col("two_num").cast("double") / (
        2.0 * F.col("n_pos").cast("double") * F.col("n_neg").cast("double")
    )
    return agg.select("n_pos", "n_neg", "two_num", _q6(auc).alias("auc"))


QUERIES["roc_auc_exact"] = roc_auc_exact
ORACLES["roc_auc_exact"] = f"""
    WITH s AS ({_SCORED_SQL}),
    per_v AS (
        SELECT score_micro AS v,
               SUM(label)::BIGINT AS p,
               SUM(1 - label)::BIGINT AS q
        FROM s GROUP BY 1
    ),
    cum AS (
        SELECT v, p, q,
               COALESCE(SUM(q) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS q_less
        FROM per_v
    ),
    agg AS (
        SELECT SUM(p)::BIGINT AS n_pos, SUM(q)::BIGINT AS n_neg,
               SUM(p * (2 * q_less + q))::BIGINT AS two_num
        FROM cum
    )
    SELECT n_pos, n_neg, two_num,
           FLOOR(CAST(two_num AS DOUBLE)
                 / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS auc
    FROM agg
"""


# --- shared daily-order-count series ----------------------------------------
def _daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


_DAILY_SQL = """
    SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*)::BIGINT AS c
    FROM orders GROUP BY 1
"""


# --- 5. autocorrelation of the daily series ---------------------------------
def acf_daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation r_k of daily order counts at lags 1..7, exact:
    with n days, S = Σc, the centered series scaled by n is y_t =
    n·c_t − S (integer), r_k = Σ y_t·y_{t+k} / Σ y_t² — both sums
    exact BIGINT (the n² factors cancel). Lags are row-lags over the
    date-ordered day series, so calendar gaps (tiny SFs) stay
    well-defined.

    100 TB: the day series is an AGGREGATED frame bounded by the
    calendar (~2.4k rows for TPC-H), so the lead() window over it is
    O(days) however large the fact table — the one full-data pass is
    the map-side-combinable daily count."""
    daily = _daily_counts(spark, sf_dir)
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("c").alias("s")
    )
    w = Window.orderBy("d")
    y = daily.crossJoin(F.broadcast(tot)).select(
        "d", (F.col("n") * F.col("c") - F.col("s")).alias("y")
    )
    leads = y.select(
        "y", *[F.lead("y", k).over(w).alias(f"y{k}") for k in range(1, 8)]
    )
    one = leads.agg(
        F.sum(F.col("y") * F.col("y")).cast("long").alias("den"),
        *[
            F.sum(F.col("y") * F.col(f"y{k}")).cast("long").alias(f"num{k}")
            for k in range(1, 8)
        ],
    )
    stack = "stack(7, " + ", ".join(f"{k}, num{k}" for k in range(1, 8)) + ") as (lag, num)"
    return one.selectExpr(stack, "den").select(
        "lag", "num", "den",
        _q6(F.col("num").cast("double") / F.col("den").cast("double")).alias("r"),
    )


QUERIES["acf_daily_orders"] = acf_daily_orders
ORACLES["acf_daily_orders"] = f"""
    WITH daily AS ({_DAILY_SQL}),
    tot AS (SELECT COUNT(*)::BIGINT AS n, SUM(c)::BIGINT AS s FROM daily),
    y AS (
        SELECT d, n * c - s AS y
        FROM daily CROSS JOIN tot
    ),
    leads AS (
        SELECT y,
               {', '.join(f'LEAD(y, {k}) OVER (ORDER BY d) AS y{k}' for k in range(1, 8))}
        FROM y
    ),
    den AS (SELECT SUM(y * y)::BIGINT AS den FROM leads),
    nums AS (
        {' UNION ALL '.join(f"SELECT {k} AS lag, SUM(y * y{k})::BIGINT AS num FROM leads"
                            for k in range(1, 8))}
    )
    SELECT lag, num, den,
           FLOOR(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1000000 + 0.5) / 1000000 AS r
    FROM nums CROSS JOIN den
"""


# --- 6. CUSUM changepoint ----------------------------------------------------
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift detection on the daily order series: the
    classic statistic max_t |Σ_{i≤t}(c_i − c̄)|, computed exactly as
    T_t = n·P_t − t·S with P_t the prefix sum (all integers — the mean
    never materializes). Output: the argmax day (earliest on ties),
    its position, |T| and the series totals. The standard first gate
    for "did the pipeline's daily volume shift somewhere?".

    100 TB: same shape as acf_daily_orders — one map-side-combinable
    daily aggregation, then O(days) window math on a calendar-bounded
    frame."""
    daily = _daily_counts(spark, sf_dir)
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("c").alias("s")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    t = daily.crossJoin(F.broadcast(tot)).select(
        "d", "n", "s",
        F.sum("c").over(w).alias("pfx"),
        F.row_number().over(Window.orderBy("d")).alias("t"),
    )
    scored = t.select(
        "d", "t", "n", "s",
        F.abs(F.col("n") * F.col("pfx") - F.col("t") * F.col("s")).alias("abs_t_scaled"),
    )
    return scored.orderBy(F.desc("abs_t_scaled"), "d").limit(1)


QUERIES["cusum_changepoint"] = cusum_changepoint
ORACLES["cusum_changepoint"] = f"""
    WITH daily AS ({_DAILY_SQL}),
    tot AS (SELECT COUNT(*)::BIGINT AS n, SUM(c)::BIGINT AS s FROM daily),
    t AS (
        SELECT d, n, s,
               SUM(c) OVER (ORDER BY d)::BIGINT AS pfx,
               ROW_NUMBER() OVER (ORDER BY d)::BIGINT AS t
        FROM daily CROSS JOIN tot
    )
    SELECT d, t, n, s, ABS(n * pfx - t * s)::BIGINT AS abs_t_scaled
    FROM t
    ORDER BY abs_t_scaled DESC, d
    LIMIT 1
"""
