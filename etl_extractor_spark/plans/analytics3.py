"""Product-analytics and corpus-analytics queries, wave 3.

Beyond-reference extensions (SURVEY §7.4 north-star — the reference
at /root/reference has no analytics layer beyond the single star-join
in test.py:13-44; these are the workloads its star-schema DW exists to
serve, README.md:21-35): TF-IDF-style term salience, sequential event
funnels, cohort retention, attribution, deterministic sampling,
distributed embedding centroids, OLS trends, PII scrubbing (filling
the reference's reserved-but-empty enrichment columns, main.py:386-392),
data-quality gates (the validation layer the reference deliberately
omits, main.py:326-327), and skew diagnostics. Every compared output
is integer-exact or fixed-point-quantized so the DuckDB oracle
hash-matches bit-for-bit: no float ratios in compared output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_extractor_spark.functions import textstats as ts
from etl_extractor_spark.plans.stats import _hex8_to_int_sql
from etl_extractor_spark.sources.parquet import load_table

# ---------------------------------------------------------------------------
# 1. TF-IDF-style salient terms per language
# ---------------------------------------------------------------------------


def salient_terms_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 salient terms per language: high term frequency within the
    language, low document frequency across the corpus.

    TF-IDF shape with integer-exact scoring: ``salience = (tf * 10000)
    div df`` replaces ``tf * log(N/df)`` — monotone in tf/df for fixed
    N, and reproducible across engines (no float log). Two aggregations
    (tf per lang-token, df per token) joined on token; the df side is
    tiny (corpus vocabulary) so it broadcasts — at 100 TB the vocab
    table is still only O(vocab) rows after the distinct-agg shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(ts.tokens("text")).alias("token")
    ).filter(F.length("token") > 0)
    tf = toks.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    scored = (
        tf.join(F.broadcast(df_), "token")
        .withColumn("salience", F.expr("tf * 10000 div df"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("salience"), F.desc("tf"), F.asc("token")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", "token", "tf", "df", "salience", "rnk")
    )


SALIENT_TERMS_SQL = r"""
WITH toks AS (
  SELECT doc_id, lang,
         unnest(string_split(trim(regexp_replace(CAST(text AS VARCHAR), '\s+', ' ', 'g')), ' ')) AS token
  FROM documents
), toks2 AS (
  SELECT * FROM toks WHERE len(token) > 0
), tf AS (
  SELECT lang, token, count(*) AS tf FROM toks2 GROUP BY lang, token
), df AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM toks2 GROUP BY token
), scored AS (
  SELECT tf.lang, tf.token, tf.tf, df.df, (tf.tf * 10000) // df.df AS salience
  FROM tf JOIN df USING (token)
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY lang ORDER BY salience DESC, tf DESC, token ASC
  ) AS rnk
  FROM scored
)
SELECT lang, token, tf, df, salience, rnk FROM ranked WHERE rnk <= 5
"""

# ---------------------------------------------------------------------------
# 2. Sequential event funnel
# ---------------------------------------------------------------------------


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup → view → click → purchase: users counted at
    stage k only if stage k's first qualifying event is strictly after
    their stage-(k-1) time.

    Each step is one filtered aggregation joined to the previous
    stage's (user, time) frame — all four shuffles hash on ``user_id``
    so the exchanges reuse one partitioning; no window over the full
    event log and no per-user event collection. Scales as O(events) map
    work + O(users) join state per stage.
    """
    e = load_table(spark, sf_dir, "events")

    def first_after(prev: DataFrame, etype: str, tcol: str, out: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter(F.col("ts") > F.col(tcol))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    s1 = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = first_after(s1, "view", "t1", "t2")
    s3 = first_after(s2, "click", "t2", "t3")
    s4 = first_after(s3, "purchase", "t3", "t4")

    def stage(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("stage"), F.count(F.lit(1)).alias("users")
        )

    return (
        stage(s1, "1_signup")
        .unionByName(stage(s2, "2_view"))
        .unionByName(stage(s3, "3_click"))
        .unionByName(stage(s4, "4_purchase"))
    )


EVENT_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s2.t2 GROUP BY e.user_id
), s4 AS (
  SELECT e.user_id, min(e.ts) AS t4 FROM events e JOIN s3 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY e.user_id
)
SELECT '1_signup' AS stage, count(*) AS users FROM s1
UNION ALL SELECT '2_view', count(*) FROM s2
UNION ALL SELECT '3_click', count(*) FROM s3
UNION ALL SELECT '4_purchase', count(*) FROM s4
"""

# ---------------------------------------------------------------------------
# 3. Weekly cohort retention
# ---------------------------------------------------------------------------


def weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort = Monday-truncated week of each user's first event;
    retention cell (cohort_week, week_offset) counts distinct users
    active that many weeks later.

    Two aggregations on ``user_id`` then one on the (small) cohort
    grid. The first-event frame is O(users); it re-joins the event log
    on user_id (co-partitioned with the preceding agg's shuffle).
    """
    e = load_table(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    return (
        e.select("user_id", F.to_date(F.date_trunc("week", "ts")).alias("wk"))
        .join(first, "user_id")
        .withColumn(
            "week_offset",
            F.expr("datediff(wk, cohort_week) div 7").cast("int"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("users"))
    )


COHORT_RETENTION_SQL = """
WITH first AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
)
SELECT f.cohort_week,
       CAST(datediff('day', f.cohort_week, CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS INT) AS week_offset,
       count(DISTINCT e.user_id) AS users
FROM events e JOIN first f USING (user_id)
GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# 4. Deterministic hash-stratified sampling
# ---------------------------------------------------------------------------

# Knuth multiplicative constant; key*C mod 1000 gives a uniform,
# engine-reproducible pseudo-random bucket without any rand()/seed.
_HASH_C = 2654435761
_RATES = {"F": 100, "O": 50, "P": 500}  # per-mille keep rates per stratum


def orders_sample_hash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample with per-status rates (F 10%, O 5%, P 50%)
    selected by a deterministic key hash — reproducible across engines,
    cluster sizes, and reruns (no rand(), no seed coordination, no
    driver-side sampling state). The predicate is a pure row-local
    expression, so it pushes into the scan and costs zero shuffles.
    """
    o = load_table(spark, sf_dir, "orders")
    bucket = F.pmod(F.col("o_orderkey") * F.lit(_HASH_C), F.lit(1000))
    rate = (
        F.when(F.col("o_orderstatus") == "F", _RATES["F"])
        .when(F.col("o_orderstatus") == "O", _RATES["O"])
        .otherwise(_RATES["P"])
    )
    return o.filter(bucket < rate).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


ORDERS_SAMPLE_HASH_SQL = f"""
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders
WHERE ((o_orderkey * {_HASH_C}) % 1000 + 1000) % 1000 <
      CASE o_orderstatus WHEN 'F' THEN {_RATES["F"]}
                         WHEN 'O' THEN {_RATES["O"]}
                         ELSE {_RATES["P"]} END
"""

# ---------------------------------------------------------------------------
# 5. Distributed embedding centroids
# ---------------------------------------------------------------------------


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column via posexplode +
    groupBy(label, dim) — the distributed building block for KMeans /
    IVF training (no vector fits on the driver at 100 TB).

    Components are fixed-point quantized (``floor(x * 10^4)``, an
    identical IEEE double op in both engines) so sums and the integer
    centroid are bit-exact; no float summation order sensitivity.
    ``centroid_q4`` is the centroid component in 1e-4 units.
    """
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select(
            "label", F.posexplode("embedding").alias("pos", "x")
        )
        .select(
            "label",
            (F.col("pos") + 1).alias("dim"),
            F.floor(F.col("x").cast("double") * 10000).alias("xq"),
        )
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xq").alias("sum_q4"),
        )
        .withColumn("centroid_q4", F.expr("sum_q4 div n"))
    )


LABEL_CENTROIDS_SQL = """
WITH comp AS (
  SELECT label,
         generate_subscripts(embedding, 1) AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS xq
  FROM embeddings
)
SELECT label, CAST(dim AS INT) AS dim, count(*) AS n,
       CAST(sum(xq) AS BIGINT) AS sum_q4,
       CAST(sum(xq) // count(*) AS BIGINT) AS centroid_q4
FROM comp
GROUP BY label, dim
"""


QUERIES = {
    "salient_terms_by_lang": salient_terms_by_lang,
    "event_funnel": event_funnel,
    "weekly_cohort_retention": weekly_cohort_retention,
    "orders_sample_hash_det": orders_sample_hash_det,
    "label_centroids": label_centroids,
}

ORACLES = {
    "salient_terms_by_lang": SALIENT_TERMS_SQL,
    "event_funnel": EVENT_FUNNEL_SQL,
    "weekly_cohort_retention": COHORT_RETENTION_SQL,
    "orders_sample_hash_det": ORDERS_SAMPLE_HASH_SQL,
    "label_centroids": LABEL_CENTROIDS_SQL,
}

# ---------------------------------------------------------------------------
# 6. Event transition matrix (sequence modeling)
# ---------------------------------------------------------------------------


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts: consecutive event_type pairs per user,
    ordered by (ts, event_id) for a deterministic sequence. One window
    over user_id partitions (the natural shuffle key), one count agg —
    state per partition is a single row, so the window streams.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


EVENT_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
FROM seq WHERE next_type IS NOT NULL
GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# 7. Token bigrams (n-gram language statistics)
# ---------------------------------------------------------------------------


def token_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 token bigrams across the corpus. The bigram list is built
    per-row with two array slices + zip (pure codegen, no Python, no
    row-multiplying join); only the exploded (bigram, 1) pairs hit the
    count shuffle with map-side partial aggregation.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = ts.tokens("text")
    n = F.size(toks)
    pairs = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("w1"),
        F.slice(toks, 2, n - 1).alias("w2"),
    )
    return (
        d.select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .filter((F.length("w1") > 0) & (F.length("w2") > 0))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )


TOKEN_BIGRAMS_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         generate_subscripts(string_split(trim(regexp_replace(CAST(text AS VARCHAR), '\s+', ' ', 'g')), ' '), 1) AS i,
         unnest(string_split(trim(regexp_replace(CAST(text AS VARCHAR), '\s+', ' ', 'g')), ' ')) AS tok
  FROM documents
)
SELECT a.tok AS w1, b.tok AS w2, count(*) AS freq
FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
WHERE len(a.tok) > 0 AND len(b.tok) > 0
GROUP BY 1, 2
ORDER BY freq DESC, w1 ASC, w2 ASC
LIMIT 20
"""

# ---------------------------------------------------------------------------
# 8. RFM customer segmentation
# ---------------------------------------------------------------------------


def orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency / Frequency / Monetary quartile segmentation.

    Money aggregates in DECIMAL(18,2) (exact, order-independent);
    recency anchored to the corpus max order date (a scalar agg
    broadcast into the projection, not a driver literal); every ntile
    window orders with the customer key as final tiebreaker so tile
    assignment is total-order deterministic in both engines.
    """
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )
    anchor = o.agg(F.max("o_orderdate").alias("anchor"))
    scored = per_cust.crossJoin(F.broadcast(anchor)).withColumn(
        "recency_days", F.datediff("anchor", "last_order")
    )
    r_w = Window.orderBy(F.asc("recency_days"), F.asc("o_custkey"))
    f_w = Window.orderBy(F.desc("frequency"), F.asc("o_custkey"))
    m_w = Window.orderBy(F.desc("monetary"), F.asc("o_custkey"))
    return (
        scored.withColumn("r_score", F.ntile(4).over(r_w))
        .withColumn("f_score", F.ntile(4).over(f_w))
        .withColumn("m_score", F.ntile(4).over(m_w))
        .select(
            "o_custkey",
            "recency_days",
            "frequency",
            F.col("monetary").cast("double").alias("monetary"),
            "r_score",
            "f_score",
            "m_score",
            F.concat_ws("-", "r_score", "f_score", "m_score").alias("segment"),
        )
    )


ORDERS_RFM_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         count(*) AS frequency,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders GROUP BY o_custkey
), anchored AS (
  SELECT *, datediff('day', last_order, (SELECT max(o_orderdate) FROM orders)) AS recency_days
  FROM per_cust
)
SELECT o_custkey, recency_days, frequency,
       CAST(monetary AS DOUBLE) AS monetary,
       ntile(4) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r_score,
       ntile(4) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score,
       ntile(4) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m_score,
       concat_ws('-',
         ntile(4) OVER (ORDER BY recency_days ASC, o_custkey ASC),
         ntile(4) OVER (ORDER BY frequency DESC, o_custkey ASC),
         ntile(4) OVER (ORDER BY monetary DESC, o_custkey ASC)) AS segment
FROM anchored
"""

QUERIES.update(
    {
        "event_transitions": event_transitions,
        "token_bigrams": token_bigrams,
        "orders_rfm": orders_rfm,
    }
)

ORACLES.update(
    {
        "event_transitions": EVENT_TRANSITIONS_SQL,
        "token_bigrams": TOKEN_BIGRAMS_SQL,
        "orders_rfm": ORDERS_RFM_SQL,
    }
)

# ---------------------------------------------------------------------------
# 9. Rolling 7-day distinct active users
# ---------------------------------------------------------------------------


def rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per trailing 7-day window, one row per active day.

    COUNT(DISTINCT) over a sliding frame isn't a window function Spark
    (or any engine) can stream, so the scalable form pre-aggregates to
    the (day, user) grain — collapsing 100 TB of events to O(days ×
    DAU) rows — then joins each day against its trailing week and
    counts distinct users once per (anchor day). The join fans out at
    most 7× the day-grain frame, independent of raw event volume.
    """
    e = load_table(spark, sf_dir, "events")
    day_users = e.select(
        F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    days = day_users.select("d").distinct().alias("anchor")
    du = day_users.alias("du")
    return (
        days.join(
            du,
            (F.col("du.d") <= F.col("anchor.d"))
            & (F.col("du.d") >= F.date_sub(F.col("anchor.d"), 6)),
        )
        .groupBy(F.col("anchor.d").alias("day"))
        .agg(F.countDistinct("du.user_id").alias("active_users_7d"))
    )


ROLLING_7D_AU_SQL = """
WITH day_users AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
), days AS (
  SELECT DISTINCT d FROM day_users
)
SELECT days.d AS day, count(DISTINCT du.user_id) AS active_users_7d
FROM days JOIN day_users du
  ON du.d <= days.d AND du.d >= days.d - INTERVAL 6 DAY
GROUP BY 1
"""

# ---------------------------------------------------------------------------
# 10. Deterministic per-group sampling
# ---------------------------------------------------------------------------


def events_per_user_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At most 3 events per user, chosen by a deterministic key hash —
    the bounded-fan-in "reservoir" every training-data pipeline needs
    (cap per-source/per-user contributions without a global sort).

    One window per user partition ordered by an arithmetic hash of the
    event id: reproducible across engines and cluster layouts, no
    rand() state, and the window streams within each user partition.
    """
    e = load_table(spark, sf_dir, "events")
    hash_order = F.pmod(F.col("event_id") * F.lit(_HASH_C), F.lit(1_000_000_007))
    w = Window.partitionBy("user_id").orderBy(hash_order.asc(), F.col("event_id").asc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "event_type", "rn")
    )


EVENTS_PER_USER_SAMPLE_SQL = f"""
WITH ranked AS (
  SELECT user_id, event_id, event_type,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY ((event_id * {_HASH_C}) % 1000000007 + 1000000007) % 1000000007 ASC,
                    event_id ASC
         ) AS rn
  FROM events
)
SELECT user_id, event_id, event_type, rn FROM ranked WHERE rn <= 3
"""

QUERIES.update(
    {
        "rolling_7d_active_users": rolling_7d_active_users,
        "events_per_user_sample": events_per_user_sample,
    }
)

ORACLES.update(
    {
        "rolling_7d_active_users": ROLLING_7D_AU_SQL,
        "events_per_user_sample": EVENTS_PER_USER_SAMPLE_SQL,
    }
)

# ---------------------------------------------------------------------------
# 11. PII redaction (training-data scrubbing)
# ---------------------------------------------------------------------------

_EMAIL_RE = r"[a-z0-9.]+@[a-z]+\.[a-z]+"
_PHONE_RE = r"555-[0-9]{4}"


def redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/phone redaction over a synthesized contact string — the
    standard pre-training scrub stage, as a pure row-local projection
    (pushes to the scan, zero shuffles, codegen regex).

    The corpus has no PII columns, so the contact text is constructed
    deterministically from customer fields the same way in the oracle;
    what the compare then pins is the REDACTION semantics: match sets,
    replace-all behavior, and counts per row.
    """
    c = load_table(spark, sf_dir, "customer")
    contact = F.concat(
        F.regexp_replace(F.lower("c_name"), F.lit("#"), F.lit(".")),
        F.lit("@example.com call 555-"),
        F.lpad(F.pmod("c_custkey", F.lit(10000)).cast("string"), 4, "0"),
    )
    red = F.regexp_replace(
        F.regexp_replace(contact, F.lit(_EMAIL_RE), F.lit("<EMAIL>")),
        F.lit(_PHONE_RE),
        F.lit("<PHONE>"),
    )
    return (
        c.select(
            "c_custkey",
            red.alias("redacted"),
            F.size(F.regexp_extract_all(contact, F.lit(_EMAIL_RE), 0)).alias("n_emails"),
            F.size(F.regexp_extract_all(contact, F.lit(_PHONE_RE), 0)).alias("n_phones"),
        )
    )


REDACT_PII_SQL = rf"""
WITH built AS (
  SELECT c_custkey,
         replace(lower(c_name), '#', '.') || '@example.com call 555-' ||
         lpad(CAST(((c_custkey % 10000) + 10000) % 10000 AS VARCHAR), 4, '0') AS contact
  FROM customer
)
SELECT c_custkey,
       regexp_replace(regexp_replace(contact, '{_EMAIL_RE}', '<EMAIL>', 'g'), '{_PHONE_RE}', '<PHONE>', 'g') AS redacted,
       len(regexp_extract_all(contact, '{_EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(contact, '{_PHONE_RE}')) AS n_phones
FROM built
"""

# ---------------------------------------------------------------------------
# 12. Per-user value trend (distributed OLS via sufficient statistics)
# ---------------------------------------------------------------------------


def user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares slope of event value over time, per user, from
    sufficient statistics (n, Σx, Σy, Σxy, Σx²) — one partial-agg
    shuffle, mergeable across any partitioning, never a per-user sort.
    This is how you fit millions of tiny models on 100 TB: sufficient
    stats are just another mergeable aggregate.

    Exactness: x = day index (small int), y quantized to 1e-4 units
    with an IEEE-identical floor(value*10⁴); the slope is reported as
    an exact integer rational (num, den) plus its 1e-4-unit integer
    quotient, so both engines hash-match bit-for-bit (no float sums).
    """
    e = load_table(spark, sf_dir, "events")
    x = F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
    y = F.floor(F.col("value") * 10000)
    stats = (
        e.select(
            "user_id", x.alias("x"), y.alias("y")
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return stats.select(
        "user_id",
        "n",
        num.alias("slope_num"),
        den.alias("slope_den"),
        F.when(den != 0, F.expr(
            "(n * sxy - sx * sy) * 10000 div (n * sxx - sx * sx)"
        )).alias("slope_q4"),
    )


USER_VALUE_TREND_SQL = """
WITH pts AS (
  SELECT user_id,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
         CAST(floor(value * 10000) AS BIGINT) AS y
  FROM events
), stats AS (
  SELECT user_id, count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM pts GROUP BY user_id
)
SELECT user_id, n,
       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
       CAST(CASE WHEN n * sxx - sx * sx <> 0
            THEN ((n * sxy - sx * sy) * 10000) // (n * sxx - sx * sx)
       END AS BIGINT) AS slope_q4
FROM stats
"""

QUERIES.update(
    {
        "redact_pii": redact_pii,
        "user_value_trend": user_value_trend,
    }
)

ORACLES.update(
    {
        "redact_pii": REDACT_PII_SQL,
        "user_value_trend": USER_VALUE_TREND_SQL,
    }
)

# ---------------------------------------------------------------------------
# 13. Purchase attribution (first/last touch)
# ---------------------------------------------------------------------------


def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: for every purchase, the user's first and
    last non-purchase touch before it, counted per (first, last) pair.

    One window pass per user partition (ignore-nulls first/last over
    the preceding frame) — no interval self-join, no per-purchase
    rescans; cost is one shuffle on user_id regardless of history
    depth. Ordering ties broken by event_id so the frame is a total
    order in both engines.
    """
    e = load_table(spark, sf_dir, "events")
    np_type = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        e.withColumn("touch", np_type)
        .withColumn("first_touch", F.first("touch", ignorenulls=True).over(w))
        .withColumn("last_touch", F.last("touch", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce("first_touch", F.lit("none")).alias("first_touch"),
            F.coalesce("last_touch", F.lit("none")).alias("last_touch"),
        )
        .agg(F.count(F.lit(1)).alias("purchases"))
    )


PURCHASE_ATTRIBUTION_SQL = """
WITH touched AS (
  SELECT event_type,
         first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
  FROM events
)
SELECT coalesce(first_touch, 'none') AS first_touch,
       coalesce(last_touch, 'none') AS last_touch,
       count(*) AS purchases
FROM touched
WHERE event_type = 'purchase'
GROUP BY 1, 2
"""

QUERIES.update({"purchase_attribution": purchase_attribution})
ORACLES.update({"purchase_attribution": PURCHASE_ATTRIBUTION_SQL})

# ---------------------------------------------------------------------------
# 14. Data-quality expectations report
# ---------------------------------------------------------------------------


def orders_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate over orders: all rules compile to
    ONE scan + one tiny aggregation (operators/expectations.py) — never
    a pass per rule, never violating rows shipped to the driver.
    """
    from etl_extractor_spark.operators.expectations import validate_report

    o = load_table(spark, sf_dir, "orders")
    rules = [
        {"name": "orderkey_not_null", "type": "not_null", "col": "o_orderkey"},
        {"name": "orderkey_unique", "type": "unique", "col": "o_orderkey"},
        {
            "name": "totalprice_range",
            "type": "range",
            "col": "o_totalprice",
            "min": 0.0,
            "max": 1000000.0,
        },
        {
            "name": "status_accepted",
            "type": "accepted_values",
            "col": "o_orderstatus",
            "values": ["F", "O", "P"],
        },
        {
            "name": "priority_format",
            "type": "regex",
            "col": "o_orderpriority",
            "pattern": "^[1-5]-[A-Z ]+$",
        },
    ]
    return validate_report(o, rules)


ORDERS_QUALITY_SQL = """
SELECT 'orderkey_not_null' AS rule,
       count(*) FILTER (WHERE o_orderkey IS NULL) AS violations FROM orders
UNION ALL
SELECT 'orderkey_unique',
       count(o_orderkey) - count(DISTINCT o_orderkey) FROM orders
UNION ALL
SELECT 'totalprice_range',
       count(*) FILTER (WHERE o_totalprice IS NULL OR o_totalprice < 0.0
                          OR o_totalprice > 1000000.0) FROM orders
UNION ALL
SELECT 'status_accepted',
       count(*) FILTER (WHERE o_orderstatus IS NULL
                          OR o_orderstatus NOT IN ('F','O','P')) FROM orders
UNION ALL
SELECT 'priority_format',
       count(*) FILTER (WHERE o_orderpriority IS NULL
                          OR NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$'))
FROM orders
"""

QUERIES.update({"orders_quality_report": orders_quality_report})
ORACLES.update({"orders_quality_report": ORDERS_QUALITY_SQL})

# ---------------------------------------------------------------------------
# 15. Join-key skew profile
# ---------------------------------------------------------------------------


def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of per-key row counts for a join key — the
    diagnostic that decides between plain shuffle join, broadcast,
    salting, or AQE skew handling. Two aggregations: per-key counts
    (the key-space shuffle you'd pay for the join anyway), then a
    digit-bucketed histogram of those counts (tiny).

    Buckets are decimal-digit counts of the per-key cardinality
    (1 = 1–9 rows, 2 = 10–99, …): deterministic integer bucketing in
    both engines — no float log2 at bucket boundaries.
    """
    li = load_table(spark, sf_dir, "lineitem")

    def profile(key: str) -> DataFrame:
        per_key = li.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
        return per_key.groupBy(
            F.lit(key).alias("join_key"),
            F.length(F.col("cnt").cast("string")).alias("magnitude"),
        ).agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.max("cnt").alias("max_rows_per_key"),
            F.sum("cnt").alias("total_rows"),
        )

    return (
        profile("l_orderkey")
        .unionByName(profile("l_partkey"))
        .unionByName(profile("l_suppkey"))
    )


KEY_SKEW_PROFILE_SQL = """
WITH p AS (
  SELECT 'l_orderkey' AS join_key, count(*) AS cnt FROM lineitem GROUP BY l_orderkey
  UNION ALL
  SELECT 'l_partkey', count(*) FROM lineitem GROUP BY l_partkey
  UNION ALL
  SELECT 'l_suppkey', count(*) FROM lineitem GROUP BY l_suppkey
)
SELECT join_key,
       CAST(len(CAST(cnt AS VARCHAR)) AS INT) AS magnitude,
       count(*) AS n_keys,
       max(cnt) AS max_rows_per_key,
       CAST(sum(cnt) AS BIGINT) AS total_rows
FROM p
GROUP BY 1, 2
"""

QUERIES.update({"key_skew_profile": key_skew_profile})
ORACLES.update({"key_skew_profile": KEY_SKEW_PROFILE_SQL})

# ---------------------------------------------------------------------------
# 16. Quality violation sampling
# ---------------------------------------------------------------------------


def quality_violation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Up to 5 example rows per violated rule (deterministic hash
    pick): the bounded debugging companion to orders_quality_report —
    output is ≤ k × rules rows no matter how dirty the table, so it is
    safe to collect at any scale. Rules here are chosen to fire on the
    clean corpus (a price cap and a narrowed status set).
    """
    from etl_extractor_spark.operators.expectations import violation_samples

    o = load_table(spark, sf_dir, "orders")
    rules = [
        {
            "name": "price_cap",
            "type": "range",
            "col": "o_totalprice",
            "min": 0.0,
            "max": 300000.0,
        },
        {
            "name": "status_subset",
            "type": "accepted_values",
            "col": "o_orderstatus",
            "values": ["F", "O"],
        },
    ]
    return violation_samples(o, rules, key_col="o_orderkey", k=5).select(
        "rule", "o_orderkey", "o_orderstatus", "o_totalprice", "rn"
    )


QUALITY_VIOLATION_SAMPLE_SQL = """
WITH tagged AS (
  SELECT 'price_cap' AS rule, o_orderkey, o_orderstatus, o_totalprice
  FROM orders
  WHERE o_totalprice IS NULL OR o_totalprice < 0.0 OR o_totalprice > 300000.0
  UNION ALL
  SELECT 'status_subset', o_orderkey, o_orderstatus, o_totalprice
  FROM orders
  WHERE o_orderstatus IS NULL OR o_orderstatus NOT IN ('F', 'O')
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY rule
    ORDER BY ((o_orderkey * 2654435761) % 1000000007 + 1000000007) % 1000000007 ASC,
             o_orderkey ASC
  ) AS rn
  FROM tagged
)
SELECT rule, o_orderkey, o_orderstatus, o_totalprice, rn
FROM ranked WHERE rn <= 5
"""

QUERIES.update({"quality_violation_sample": quality_violation_sample})
ORACLES.update({"quality_violation_sample": QUALITY_VIOLATION_SAMPLE_SQL})

# ---------------------------------------------------------------------------
# 17. Activity gap detection
# ---------------------------------------------------------------------------


def user_activity_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity continuity: active-day count, span, largest
    gap between consecutive active days, and how many gaps exceed one
    day — the completeness check run before trusting any per-user
    time-series. Day-grain dedup first (collapses raw volume), then a
    lag window inside each user partition; all integers.
    """
    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    gaps = days.withColumn(
        "gap", F.datediff("d", F.lag("d").over(w))
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("active_days"),
        (F.datediff(F.max("d"), F.min("d")) + 1).alias("span_days"),
        F.coalesce(F.max("gap"), F.lit(0)).alias("max_gap"),
        F.count_if(F.col("gap") > 1).alias("n_gaps"),
    )


USER_ACTIVITY_GAPS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), gaps AS (
  SELECT user_id, d,
         datediff('day', lag(d) OVER (PARTITION BY user_id ORDER BY d), d) AS gap
  FROM days
)
SELECT user_id,
       count(*) AS active_days,
       datediff('day', min(d), max(d)) + 1 AS span_days,
       coalesce(max(gap), 0) AS max_gap,
       count(*) FILTER (WHERE gap > 1) AS n_gaps
FROM gaps
GROUP BY user_id
"""

QUERIES.update({"user_activity_gaps": user_activity_gaps})
ORACLES.update({"user_activity_gaps": USER_ACTIVITY_GAPS_SQL})


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis, deterministic)
# ---------------------------------------------------------------------------

WS_K = 5  # sample size per segment


def weighted_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, distributed: per market
    segment, 5 orders drawn with probability proportional to order
    value via the Efraimidis-Spirakis key ``u^(1/w)`` (equivalently
    argmax of ln(u)/w) — THE one-pass parallel algorithm for weighted
    reservoir sampling: keys are independent per row, so the top-k by
    key per group IS the weighted sample, computable with an ordinary
    ranking window at any parallelism. The uniform u comes from the
    md5 of the order key (deterministic, engine-portable), so the
    whole draw is hash-certified — no RNG state, same sample on every
    engine and run."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").alias("w")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(c, o.o_custkey == c.c_custkey)
    u01 = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(float(1 << 32))
    )
    # ln(u)/w is monotone in u^(1/w); u in (0,1] after the +1 ulp shift
    key = F.log(u01 + F.lit(2.0 ** -33)) / F.col("w")
    ranked = j.select(
        "c_mktsegment", "o_orderkey", "w", key.alias("k")
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("c_mktsegment").orderBy(
                F.desc("k"), F.asc("o_orderkey")
            )
        ),
    )
    return ranked.filter(F.col("rn") <= WS_K).select(
        "c_mktsegment",
        "o_orderkey",
        F.round("w", 2).alias("weight"),
        F.col("rn").cast("long").alias("draw"),
    )


WEIGHTED_SAMPLE_SQL = f"""
WITH j AS (
  SELECT c_mktsegment, o_orderkey, o_totalprice AS w,
         ({_hex8_to_int_sql("md5(CAST(o_orderkey AS VARCHAR))")}) / 4294967296.0 AS u
  FROM orders JOIN customer ON o_custkey = c_custkey
), ranked AS (
  SELECT c_mktsegment, o_orderkey, w,
         row_number() OVER (
           PARTITION BY c_mktsegment
           ORDER BY ln(u + 1.1641532182693481e-10) / w DESC, o_orderkey ASC
         ) AS rn
  FROM j
)
SELECT c_mktsegment, o_orderkey, round(w, 2) AS weight,
       CAST(rn AS BIGINT) AS draw
FROM ranked WHERE rn <= {WS_K}
"""

QUERIES["weighted_sample_orders"] = weighted_sample_orders
ORACLES["weighted_sample_orders"] = WEIGHTED_SAMPLE_SQL
