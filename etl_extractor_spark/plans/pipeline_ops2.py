"""Round-5 session-3 pipeline-operations wave (misc surface).

Queries (all oracle-backed):

ingestion / formats
- xml_events_parse        : native ``from_xml`` round-trip vs a
                            base-table oracle
- fixedwidth_roundtrip    : copybook-style byte-position records

warehouse ops
- merge_upsert_scd1       : MERGE INTO / SCD-1 update-wins upsert
- pseudonymize_join_integrity : keyed tokens in dim+fact, referential
                            integrity proven by the raw-key oracle
- dp_bounded_contribution_counts : user-level DP (cap then Laplace)
- provenance_rollup       : commutative hash-sum integrity records
- rendezvous_shard_assign : HRW sharding, minimal-disruption proof
- join_cardinality_kmv    : optimizer join-size estimate by key sample

streams (certified replays 8-9)
- streaming_funnel_replay         : stateful per-user funnel machine
- streaming_interval_union_replay : O(1)-state coverage accumulator

text / eval
- readability_flesch      : exact regex Flesch scoring
- kl_source_divergence    : per-source token-distribution drift
- vocab_coverage_curve    : top-N token-mass coverage
- mrr_eval                : reciprocal rank over the BM25 pool

stats / ML
- weighted_median_discount: weighted quantiles over the value domain
- decision_stump_split    : exact Gini split search (GBDT inner loop)
- target_encoding_loo     : leakage-safe LOO encoding, pure integers
- median_ci_orders        : order-statistic CIs by two-phase ranks
- neyman_allocation_sample: optimal stratified budget + hash-gate draw
- poisson_rate_test       : conditional binomial z on count metrics
- ewma_control_chart      : SPC drift monitor, power-of-two weights

time series / product analytics
- interval_union_coverage : SLA/uptime island merge
- cohort_ltv_curve        : cumulative spend by cohort age
- dau_mau_stickiness      : MAU w/o sliding distincts (delta algebra)
- conversion_time_quantiles : signup→purchase lag p50/p90
- embedding_dim_variance  : dead/degenerate-dimension audit

Reference parity: nilfredb/ETL-Extractor reads CSV/JDBC/REST only
(extractors/*.py); these are the adjacent asks the same pipeline hits
in production at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_extractor_spark.functions.quantize import cents, q6 as _q6
from etl_extractor_spark.sources.parquet import load_table

QUERIES: dict = {}
ORACLES: dict = {}


# --- 1. XML ingestion via from_xml ------------------------------------------
def xml_events_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events serialized to an XML payload column (integer cents so the
    text round-trip is exact), parsed back with Spark's NATIVE
    ``from_xml`` (Catalyst expression, JVM-side — no Python in the
    path), then aggregated per parsed type. The oracle aggregates the
    BASE table, so every parsed field must survive the round-trip
    bit-exactly for the hash to match — this certifies the parser
    wiring (schema, tag mapping, numeric extraction), not a regex
    re-implementation of it.

    100 TB: map-only serialize+parse fused into the scan stage, one
    small-key aggregation; XML shards from upstream systems land on
    exactly this plan with the serialize step dropped."""
    e = load_table(spark, sf_dir, "events")
    xml = F.concat(
        F.lit("<e><t>"), F.col("event_type"),
        F.lit("</t><v>"),
        cents("value").cast("string"),
        F.lit("</v><u>"), F.col("user_id").cast("string"), F.lit("</u></e>"),
    )
    parsed = e.select(F.from_xml(xml, "t STRING, v BIGINT, u BIGINT").alias("p"))
    return (
        parsed.groupBy(F.col("p.t").alias("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("p.v").cast("long").alias("sum_cents"),
            F.sum("p.u").cast("long").alias("sum_users"),
        )
    )


QUERIES["xml_events_parse"] = xml_events_parse
ORACLES["xml_events_parse"] = """
    SELECT event_type,
           COUNT(*)::BIGINT AS n,
           SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))::BIGINT AS sum_cents,
           SUM(user_id)::BIGINT AS sum_users
    FROM events
    GROUP BY event_type
"""


# --- 2. Flesch reading ease ---------------------------------------------------
def readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per document — 206.835 − 1.015·(words/
    sentences) − 84.6·(syllables/words) with the standard cheap
    proxies: words = \\S+ runs, sentences = [.!?]+ runs (min 1),
    syllables = [aeiouy]+ vowel groups in the lowercased text (min 1).
    All three are exact regex counts; the per-doc score is ONE double
    formula over three integers, floor-quantized to micro-units before
    the per-source rollup, so the aggregates are exact integers (the
    repo's order-independence idiom). The classic readability gate in
    web-corpus quality stacks next to Gopher/LM filters.

    100 TB: map-only regex counting fused into the scan + a
    source-keyed aggregation."""
    d = load_table(spark, sf_dir, "documents")
    words = F.greatest(F.regexp_count(F.col("text"), F.lit(r"\S+")), F.lit(1))
    sents = F.greatest(F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1))
    syls = F.greatest(
        F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+")), F.lit(1)
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sents.cast("double"))
        - F.lit(84.6) * (syls.cast("double") / words.cast("double"))
    )
    scored = d.select(
        "source",
        words.alias("w"), sents.alias("s"), syls.alias("y"),
        F.floor(flesch * 1000000).cast("long").alias("f_micro"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("sum_words"),
            F.sum("s").cast("long").alias("sum_sentences"),
            F.sum("y").cast("long").alias("sum_syllables"),
            F.sum("f_micro").cast("long").alias("sum_flesch_micro"),
        )
        .select(
            "source", "n_docs", "sum_words", "sum_sentences", "sum_syllables",
            "sum_flesch_micro",
            _q6(
                F.col("sum_flesch_micro").cast("double")
                / F.col("n_docs").cast("double") / 1000000
            ).alias("mean_flesch"),
        )
    )


QUERIES["readability_flesch"] = readability_flesch
ORACLES["readability_flesch"] = r"""
    WITH scored AS (
        SELECT source,
               GREATEST(len(regexp_extract_all(text, '\S+')), 1) AS w,
               GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
               GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS y
        FROM documents
    ),
    f AS (
        SELECT source, w, s, y,
               CAST(FLOOR((206.835
                    - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
                    - 84.6 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE)))
                    * 1000000) AS BIGINT) AS f_micro
        FROM scored
    )
    SELECT source,
           COUNT(*)::BIGINT AS n_docs,
           SUM(w)::BIGINT AS sum_words,
           SUM(s)::BIGINT AS sum_sentences,
           SUM(y)::BIGINT AS sum_syllables,
           SUM(f_micro)::BIGINT AS sum_flesch_micro,
           FLOOR(CAST(SUM(f_micro) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 / 1000000 * 1000000 + 0.5) / 1000000 AS mean_flesch
    FROM f
    GROUP BY source
"""


# --- 3. MERGE INTO / SCD-1 upsert --------------------------------------------
def merge_upsert_scd1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics, type-1 (update wins, no history): the
    update set is order-derived — customers with 1997 orders get their
    balance restated to (balance + 1997 spend) and segment 'RESTATED';
    customers above a spend bar also spawn an INSERT of a synthetic
    household entity (custkey + 10^12 — a key space the TPC-H customer
    domain cannot reach below sf ~7e6, so synthetic and real keys can
    never collide; review catch). The merge is the standard
    update-wins resolution: base ∪ updates, one row per key by source
    priority — an algebraic max(struct(priority, …)) per key, NOT a
    positional window, so the per-key reduction is map-side
    combinable. Output: per-action audit counts + exact balance sums
    (cents), the evidence a warehouse MERGE job publishes.

    100 TB: one key-partitioned aggregation; at scale this is the
    partition-scoped MERGE the sinks/merge.py writer executes — this
    query certifies the resolution semantics."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        cents("c_acctbal").alias("bal"),
    )
    o = load_table(spark, sf_dir, "orders")
    spend97 = (
        o.where(F.year(F.to_date("o_orderdate")) == 1997)
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.sum(cents("o_totalprice"))
            .cast("long")
            .alias("spend")
        )
    )
    upd = spend97.join(c, "c_custkey").select(
        "c_custkey",
        F.lit("RESTATED").alias("c_mktsegment"),
        (F.col("bal") + F.col("spend")).alias("bal"),
        "spend",
    )
    inserts = upd.where(F.col("spend") > 30_000_000).select(
        (F.col("c_custkey") + 1_000_000_000_000).alias("c_custkey"),
        F.lit("HOUSEHOLD").alias("c_mktsegment"),
        F.lit(0).cast("long").alias("bal"),
    )
    merged = (
        c.select("c_custkey", "c_mktsegment", "bal", F.lit(0).alias("prio"))
        .unionByName(
            upd.select("c_custkey", "c_mktsegment", "bal", F.lit(1).alias("prio"))
        )
        .unionByName(
            inserts.select("c_custkey", "c_mktsegment", "bal", F.lit(1).alias("prio"))
        )
        .groupBy("c_custkey")
        .agg(F.max(F.struct("prio", "c_mktsegment", "bal")).alias("r"))
        .select(
            "c_custkey",
            F.col("r.c_mktsegment").alias("c_mktsegment"),
            F.col("r.bal").alias("bal"),
            F.col("r.prio").alias("prio"),
        )
    )
    return merged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("bal").cast("long").alias("sum_bal_cents"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    )


QUERIES["merge_upsert_scd1"] = merge_upsert_scd1
ORACLES["merge_upsert_scd1"] = """
    WITH c AS (
        SELECT c_custkey, c_mktsegment,
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal
        FROM customer
    ),
    spend97 AS (
        SELECT o_custkey AS c_custkey,
               SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))::BIGINT AS spend
        FROM orders
        WHERE year(CAST(o_orderdate AS DATE)) = 1997
        GROUP BY 1
    ),
    upd AS (
        SELECT s.c_custkey, 'RESTATED' AS c_mktsegment, c.bal + s.spend AS bal, s.spend
        FROM spend97 s JOIN c ON s.c_custkey = c.c_custkey
    ),
    ins AS (
        SELECT c_custkey + 1000000000000 AS c_custkey, 'HOUSEHOLD' AS c_mktsegment,
               0::BIGINT AS bal
        FROM upd WHERE spend > 30000000
    ),
    unioned AS (
        SELECT c_custkey, c_mktsegment, bal, 0 AS prio FROM c
        UNION ALL
        SELECT c_custkey, c_mktsegment, bal, 1 AS prio FROM upd
        UNION ALL
        SELECT c_custkey, c_mktsegment, bal, 1 AS prio FROM ins
    ),
    merged AS (
        SELECT c_custkey,
               MAX({'prio': prio, 'c_mktsegment': c_mktsegment, 'bal': bal}) AS r
        FROM unioned GROUP BY c_custkey
    )
    SELECT r.c_mktsegment AS c_mktsegment,
           COUNT(*)::BIGINT AS n_rows,
           SUM(r.bal)::BIGINT AS sum_bal_cents,
           MIN(c_custkey) AS min_key,
           MAX(c_custkey) AS max_key
    FROM merged
    GROUP BY 1
"""


# --- 5. streaming funnel replay ------------------------------------------------
def streaming_funnel_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8th driver-certified streaming query: the events table replayed
    through the stateful per-user funnel state machine
    (``streaming/events_stream.streaming_funnel`` —
    applyInPandasWithState, two scalars of state per user, update
    mode) under an availableNow trigger. Stage is monotone
    non-decreasing, so the final per-user state is the ALGEBRAIC
    max(struct(stage, last_us)) over all micro-batch emissions (the
    update-mode selection rule), and the stage≥k counts then equal the
    batch ``event_funnel`` exactly — this query shares its oracle
    verbatim. At 100 TB the same plan tails a live source: O(1) state
    per user, no per-user event buffering."""
    from etl_extractor_spark.streaming import events_stream as SE

    emitted = SE.run_to_memory(
        SE.streaming_funnel(SE.events_stream(spark, sf_dir)),
        output_mode="update",
        state_partitions=SE.state_partitions_for(spark, sf_dir),
    )
    final = (
        emitted.groupBy("user_id")
        .agg(F.max(F.struct("stage", "last_us")).alias("r"))
        .select(F.col("r.stage").alias("stage_n"))
    )
    counts = final.agg(
        *[
            F.sum((F.col("stage_n") >= k).cast("long")).alias(f"u{k}")
            for k in range(1, 5)
        ]
    )
    return counts.selectExpr(
        "stack(4, '1_signup', u1, '2_view', u2, '3_click', u3, '4_purchase', u4) "
        "as (stage, users)"
    )


from etl_extractor_spark.plans.analytics3 import EVENT_FUNNEL_SQL

QUERIES["streaming_funnel_replay"] = streaming_funnel_replay
ORACLES["streaming_funnel_replay"] = EVENT_FUNNEL_SQL


# --- 7. rendezvous (HRW) shard stability ----------------------------------------
_RV_N = 10


def _rv_hash(key, s: int):
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"rv-{s}-"), key.cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("long")


def rendezvous_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding of the document
    corpus: a doc lands on argmax_s h(doc, s) — the consistent-hashing
    scheme whose defining property is that growing the fleet from N to
    N+1 moves ONLY the docs whose new-shard hash wins (≈1/(N+1) of the
    corpus) and every moved doc goes TO the new shard. The query
    assigns every doc under N=10 and N=11 and reports, per old shard,
    the exact moved count — certifying both the argmax and the
    minimal-disruption property (any doc moving to a shard ≠ 10 would
    corrupt the per-shard sums and hash-fail).

    100 TB: map-only (10 md5s + an argmax per row) + one 10-key
    aggregation; this is how shard maps stay stable across fleet
    resizes without a repartition storm."""
    d = load_table(spark, sf_dir, "documents")
    key = F.col("doc_id")
    s10 = F.array_max(
        F.array(*[F.struct(_rv_hash(key, s).alias("h"), F.lit(s).alias("s"))
                  for s in range(_RV_N)])
    )["s"]
    s11 = F.array_max(
        F.array(*[F.struct(_rv_hash(key, s).alias("h"), F.lit(s).alias("s"))
                  for s in range(_RV_N + 1)])
    )["s"]
    assigned = d.select(
        s10.alias("shard10"),
        (s11 != s10).cast("long").alias("moved"),
    )
    return (
        assigned.groupBy("shard10")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("moved").cast("long").alias("n_moved"),
        )
    )


def _rv_hash_sql(key: str, s: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('rv-{s}-' || CAST({key} AS VARCHAR)), 1, 12)) AS BIGINT)"
    )


def _rv_list_sql(key: str, n: int) -> str:
    items = ", ".join(
        f"{{'h': {_rv_hash_sql(key, s)}, 's': {s}}}" for s in range(n)
    )
    return f"list_max([{items}]).s"


QUERIES["rendezvous_shard_assign"] = rendezvous_shard_assign
ORACLES["rendezvous_shard_assign"] = f"""
    WITH assigned AS (
        SELECT {_rv_list_sql('doc_id', _RV_N)} AS shard10,
               CASE WHEN {_rv_list_sql('doc_id', _RV_N + 1)}
                    <> {_rv_list_sql('doc_id', _RV_N)} THEN 1 ELSE 0 END AS moved
        FROM documents
    )
    SELECT shard10,
           COUNT(*)::BIGINT AS n_docs,
           SUM(moved)::BIGINT AS n_moved
    FROM assigned
    GROUP BY shard10
"""


# --- 8. weighted median / weighted quantiles ------------------------------------
def weighted_median_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median and lower p90 of the discount per
    returnflag — the weighted-quantile operator (price indices, fair
    sampling thresholds) done exactly: discounts collapse to integer
    basis points, weights sum per (flag, bp), and the quantile is the
    smallest bp whose doubled/10× cumulative weight crosses the total
    (lower weighted median convention, pinned identically in the
    oracle). No sort of the fact table — the window runs over the
    (flag, bp) relation, bounded by the discount DOMAIN (11 values).

    100 TB: one map-side-combinable aggregation; everything after is
    O(groups × domain)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        cents("l_discount").alias("bp"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    per = li.groupBy("l_returnflag", "bp").agg(F.sum("w").alias("wsum"))
    wc = Window.partitionBy("l_returnflag").orderBy("bp").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = per.groupBy("l_returnflag").agg(F.sum("wsum").alias("tot"))
    cum = per.withColumn("cum", F.sum("wsum").over(wc)).join(
        F.broadcast(tot), "l_returnflag"
    )
    med = (
        cum.where(2 * F.col("cum") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(F.min("bp").alias("wmedian_bp"))
    )
    p90 = (
        cum.where(10 * F.col("cum") >= 9 * F.col("tot"))
        .groupBy("l_returnflag")
        .agg(F.min("bp").alias("wp90_bp"))
    )
    return med.join(p90, "l_returnflag").join(tot, "l_returnflag").select(
        "l_returnflag", "wmedian_bp", "wp90_bp", F.col("tot").alias("total_qty")
    )


QUERIES["weighted_median_discount"] = weighted_median_discount
ORACLES["weighted_median_discount"] = """
    WITH li AS (
        SELECT l_returnflag,
               CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS bp,
               CAST(l_quantity AS BIGINT) AS w
        FROM lineitem
    ),
    per AS (
        SELECT l_returnflag, bp, SUM(w)::BIGINT AS wsum
        FROM li GROUP BY 1, 2
    ),
    cum AS (
        SELECT l_returnflag, bp, wsum,
               SUM(wsum) OVER (PARTITION BY l_returnflag ORDER BY bp)::BIGINT AS cum,
               SUM(wsum) OVER (PARTITION BY l_returnflag)::BIGINT AS tot
        FROM per
    ),
    med AS (
        SELECT l_returnflag, MIN(bp) AS wmedian_bp
        FROM cum WHERE 2 * cum >= tot GROUP BY 1
    ),
    p90 AS (
        SELECT l_returnflag, MIN(bp) AS wp90_bp
        FROM cum WHERE 10 * cum >= 9 * tot GROUP BY 1
    ),
    tot AS (SELECT l_returnflag, SUM(w)::BIGINT AS total_qty FROM li GROUP BY 1)
    SELECT m.l_returnflag, m.wmedian_bp, p.wp90_bp, t.total_qty
    FROM med m JOIN p90 p ON m.l_returnflag = p.l_returnflag
               JOIN tot t ON m.l_returnflag = t.l_returnflag
"""


# --- 9. KL divergence between source and corpus token distributions -------------
def kl_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-shift readout: KL(P_source ‖ P_corpus) over whitespace
    unigrams — the standard check that one ingest source's token
    distribution has drifted from the mixture (the language-data
    sibling of the price-drift PSI, plans/stats.psi_price_drift). Each
    term's contribution c·ln((c·N)/(N_s·C)) is quantized to integer
    micro-nats per TERM before summing (order-independent); c>0 and
    C≥c>0 by construction, so the log argument is never 0 and no
    sentinel is needed. Exact integers everywhere else.

    100 TB: one token explode feeding two hash aggregations
    ((source, token) then token), a vocab-sized broadcast-ish join,
    and an O(sources) output."""
    from etl_extractor_spark.functions import textstats as ts

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(ts.tokens("text")).alias("token")
    ).filter(F.length("token") > 0)
    st = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    gt = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cg"))
    ns = st.groupBy("source").agg(F.sum("c").alias("n_s"))
    n = tok.agg(F.count(F.lit(1)).alias("n_tot"))
    j = (
        st.join(gt, "token")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(n))
    )
    term = F.floor(
        F.log(
            (F.col("c") * F.col("n_tot")).cast("double")
            / (F.col("n_s") * F.col("cg")).cast("double")
        )
        * F.col("c").cast("double")
        * 1000000
    ).cast("long")
    agg = j.groupBy("source").agg(
        F.max("n_s").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum(term).cast("long").alias("kl_micro_sum"),
    )
    return agg.select(
        "source", "n_tokens", "n_terms", "kl_micro_sum",
        _q6(
            F.col("kl_micro_sum").cast("double")
            / F.col("n_tokens").cast("double") / 1000000
        ).alias("kl_nats"),
    )


QUERIES["kl_source_divergence"] = kl_source_divergence
ORACLES["kl_source_divergence"] = r"""
    WITH tok AS (
        SELECT source, token
        FROM (
            SELECT source,
                   unnest(string_split(trim(regexp_replace(CAST(text AS VARCHAR),
                       '\s+', ' ', 'g')), ' ')) AS token
            FROM documents
        )
        WHERE length(token) > 0
    ),
    st AS (SELECT source, token, COUNT(*)::BIGINT AS c FROM tok GROUP BY 1, 2),
    gt AS (SELECT token, COUNT(*)::BIGINT AS cg FROM tok GROUP BY 1),
    ns AS (SELECT source, SUM(c)::BIGINT AS n_s FROM st GROUP BY 1),
    n AS (SELECT COUNT(*)::BIGINT AS n_tot FROM tok),
    j AS (
        SELECT st.source, st.c, gt.cg, ns.n_s, n.n_tot
        FROM st JOIN gt USING (token) JOIN ns USING (source) CROSS JOIN n
    ),
    agg AS (
        SELECT source,
               MAX(n_s) AS n_tokens,
               COUNT(*)::BIGINT AS n_terms,
               SUM(CAST(FLOOR(ln(CAST(c * n_tot AS DOUBLE) / CAST(n_s * cg AS DOUBLE))
                   * CAST(c AS DOUBLE) * 1000000) AS BIGINT))::BIGINT AS kl_micro_sum
        FROM j GROUP BY source
    )
    SELECT source, n_tokens, n_terms, kl_micro_sum,
           FLOOR(CAST(kl_micro_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                 / 1000000 * 1000000 + 0.5) / 1000000 AS kl_nats
    FROM agg
"""


# --- 10. embedding dimension variance audit --------------------------------------
def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance of the embedding corpus — the embedding
    QA pass that finds dead/degenerate dimensions before they poison
    ANN recall (a dim with ~zero variance wastes index bits; one with
    huge variance dominates unnormalized distances). Components are
    fixed-point quantized (floor(x·1e4), the centroid-drift idiom) so
    n, Σq, Σq² are exact integers in DECIMAL(38,0) — widened like the
    sibling estimators, so the numerator n·Σq² − (Σq)² stays exact to
    ~1e15 rows (review catch: plain BIGINT wrapped at ~3e6 rows).
    One double division at the end. Top-16 dims by variance (desc,
    dim asc), ordered on the exact integer numerator.

    100 TB: posexplode → one (dim)-keyed partial-agg (map-side
    combine) — O(dims) output rows."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(F.posexplode("embedding").alias("dim0", "x")).select(
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * 10000).cast("long").alias("xq"),
    )
    s = q.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("xq").cast("decimal(38,0)")).alias("s"),
        F.sum((F.col("xq") * F.col("xq")).cast("decimal(38,0)")).alias("ss"),
    )
    var_num = F.col("n").cast("decimal(38,0)") * F.col("ss") - F.col("s") * F.col("s")
    out = s.select(
        "dim", "n",
        var_num.alias("vn"),
        _q6(
            var_num.cast("double")
            / (F.col("n").cast("double") * F.col("n").cast("double"))
            / 100000000.0
        ).alias("variance"),
    )
    return out.orderBy(F.desc("vn"), "dim").limit(16).drop("vn")


QUERIES["embedding_dim_variance"] = embedding_dim_variance
ORACLES["embedding_dim_variance"] = """
    WITH q AS (
        SELECT i AS dim,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000) AS HUGEINT) AS xq
        FROM embeddings,
             LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
    ),
    s AS (
        SELECT dim, COUNT(*)::BIGINT AS n, SUM(xq) AS s,
               SUM(xq * xq) AS ss
        FROM q GROUP BY dim
    )
    SELECT dim, n,
           FLOOR(CAST(CAST(n AS HUGEINT) * ss - s * s AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 100000000.0
                 * 1000000 + 0.5) / 1000000 AS variance
    FROM s
    ORDER BY CAST(n AS HUGEINT) * ss - s * s DESC, dim
    LIMIT 16
"""


# --- 11. provenance fingerprint rollup --------------------------------------------
def provenance_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent integrity fingerprint per source: each row
    contributes hash48('prov-' ‖ doc_id ‖ ':' ‖ md5(text)) mod 2³²,
    and the per-source SUM + MIN/MAX + count form the replication-
    audit record — two replicas (or a pre/post-migration pair) match
    iff their fingerprints match, with no row ordering or partitioning
    assumptions (commutative sum). The 2³² fold keeps the sf-scale sum
    in BIGINT and oracle-exact; a production deployment sums the full
    64-bit hash and lets it wrap mod 2⁶⁴ — same commutative-monoid
    property, same plan.

    100 TB: map-only hashing + one aggregation; this is the cheap
    always-on check that a 100 TB copy job moved every byte."""
    d = load_table(spark, sf_dir, "documents")
    fp = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("prov-"),
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.md5(F.col("text")),
                    )
                ),
                1, 12,
            ),
            16, 10,
        ).cast("long")
        % F.lit(4294967296)
    )
    return (
        d.select("source", fp.alias("fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("fp").cast("long").alias("fp_sum"),
            F.min("fp").alias("fp_min"),
            F.max("fp").alias("fp_max"),
        )
    )


QUERIES["provenance_rollup"] = provenance_rollup
ORACLES["provenance_rollup"] = """
    WITH f AS (
        SELECT source,
               CAST(('0x' || substr(md5('prov-' || CAST(doc_id AS VARCHAR) || ':'
                    || md5(text)), 1, 12)) AS BIGINT) % 4294967296 AS fp
        FROM documents
    )
    SELECT source,
           COUNT(*)::BIGINT AS n_rows,
           SUM(fp)::BIGINT AS fp_sum,
           MIN(fp) AS fp_min,
           MAX(fp) AS fp_max
    FROM f
    GROUP BY source
"""


# --- 12. decision-stump split finding ---------------------------------------------
def decision_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact best-split search for a decision stump — the inner loop of
    every distributed tree learner (GBDT/random forest): over ALL
    distinct thresholds of the order value, find the split x ≤ t
    minimizing weighted Gini impurity of the label (order finalized,
    o_orderstatus = 'F'). Per distinct value the cumulative
    (count, positives) run as the two-phase bucket cumsum (the
    Mann-Whitney machinery); the impurity of each candidate is ONE
    double formula over six exact BIGINTs, micro-quantized, and the
    argmin is a top-1 sort with a smallest-threshold tie-break.

    100 TB: no per-row candidate loop — candidates ARE the distinct
    values; everything before the O(distinct) scoring is
    map-side-combinable aggregation, and the argmin is TakeOrdered(1),
    not a global sort."""
    x = load_table(spark, sf_dir, "orders").select(
        cents("o_totalprice").alias("v"),
        (F.col("o_orderstatus") == "F").cast("long").alias("y"),
    )
    per_v = x.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("p"),
    ).withColumn("b", F.expr("v div 1000000"))
    wv = Window.partitionBy("b").orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    sizes = per_v.groupBy("b").agg(
        F.sum("n").alias("nb"), F.sum("p").alias("pb")
    )
    wo = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "b",
        F.coalesce(F.sum("nb").over(wo), F.lit(0)).alias("noff"),
        F.coalesce(F.sum("pb").over(wo), F.lit(0)).alias("poff"),
    )
    tot = per_v.agg(
        F.sum("n").alias("nt"), F.sum("p").alias("pt")
    )
    cum = (
        per_v.withColumn("cn_in", F.sum("n").over(wv))
        .withColumn("cp_in", F.sum("p").over(wv))
        .join(F.broadcast(offsets), "b")
        .select(
            "v",
            (F.col("cn_in") + F.col("noff")).alias("nl"),
            (F.col("cp_in") + F.col("poff")).alias("pl"),
        )
        .crossJoin(F.broadcast(tot))
        .where(F.col("nl") < F.col("nt"))  # right side must be non-empty
    )
    ql = F.col("nl") - F.col("pl")
    nr = F.col("nt") - F.col("nl")
    pr = F.col("pt") - F.col("pl")
    qr = nr - pr
    metric = (
        F.col("nl").cast("double")
        - (F.col("pl") * F.col("pl") + ql * ql).cast("double") / F.col("nl").cast("double")
        + nr.cast("double")
        - (pr * pr + qr * qr).cast("double") / nr.cast("double")
    ) / F.col("nt").cast("double")
    scored = cum.select(
        F.col("v").alias("threshold_cents"),
        F.floor(metric * 1000000).cast("long").alias("gini_micro"),
        F.col("nl").alias("n_left"),
        nr.alias("n_right"),
        F.col("pl").alias("pos_left"),
        pr.alias("pos_right"),
    )
    return scored.orderBy("gini_micro", "threshold_cents").limit(1)


QUERIES["decision_stump_split"] = decision_stump_split
ORACLES["decision_stump_split"] = """
    WITH x AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    per_v AS (
        SELECT v, COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS p
        FROM x GROUP BY v
    ),
    tot AS (SELECT SUM(n)::BIGINT AS nt, SUM(p)::BIGINT AS pt FROM per_v),
    cum AS (
        SELECT v,
               SUM(n) OVER (ORDER BY v)::BIGINT AS nl,
               SUM(p) OVER (ORDER BY v)::BIGINT AS pl
        FROM per_v
    ),
    scored AS (
        SELECT v AS threshold_cents,
               CAST(FLOOR((
                   CAST(nl AS DOUBLE)
                   - CAST(pl * pl + (nl - pl) * (nl - pl) AS DOUBLE) / CAST(nl AS DOUBLE)
                   + CAST(nt - nl AS DOUBLE)
                   - CAST((pt - pl) * (pt - pl)
                          + ((nt - nl) - (pt - pl)) * ((nt - nl) - (pt - pl)) AS DOUBLE)
                     / CAST(nt - nl AS DOUBLE)
               ) / CAST(nt AS DOUBLE) * 1000000) AS BIGINT) AS gini_micro,
               nl AS n_left, (nt - nl) AS n_right,
               pl AS pos_left, (pt - pl) AS pos_right
        FROM cum CROSS JOIN tot
        WHERE nl < nt
    )
    SELECT * FROM scored ORDER BY gini_micro, threshold_cents LIMIT 1
"""


# --- 13. leave-one-out target encoding ----------------------------------------------
def target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the market segment against
    customer lifetime spend — the leakage-safe categorical encoder
    (each row's encoding excludes its own target: (S_c − y_i)/(n_c−1)).
    ENTIRELY integer: spend is exact cents, and the per-row encoding
    uses integer floor division (numerator provably non-negative), so
    the per-segment rollups (sum/min/max of encodings) are exact
    BIGINTs with no float anywhere. Singleton segments (n = 1) have no
    leave-one-out encoding — they are excluded by the n > 1 guard on
    BOTH engines (without it the engines diverge on degenerate data:
    Spark's ``div`` by zero returns NULL, DuckDB's ``//`` raises).

    100 TB: two aggregations on the same key (segment stats, then the
    per-row map + rollup) — the second pass re-joins a 5-row broadcast
    frame; nothing data-scaled is sorted or windowed."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        cents("o_totalprice").alias("cents"),
    )
    y = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("y"))
    )
    seg = y.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    enc = (
        y.join(F.broadcast(seg), "c_mktsegment")
        .where(F.col("n") > 1)
        .select(
            "c_mktsegment",
            F.expr("(s - y) div (n - 1)").alias("loo"),
        )
    )
    return enc.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("loo").cast("long").alias("sum_loo_cents"),
        F.min("loo").alias("min_loo_cents"),
        F.max("loo").alias("max_loo_cents"),
    )


QUERIES["target_encoding_loo"] = target_encoding_loo
ORACLES["target_encoding_loo"] = """
    WITH y AS (
        SELECT c.c_custkey, c.c_mktsegment,
               CAST(COALESCE(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)), 0) AS BIGINT) AS y
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    seg AS (
        SELECT c_mktsegment, COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS s
        FROM y GROUP BY 1
    ),
    enc AS (
        SELECT y.c_mktsegment, (s.s - y.y) // (s.n - 1) AS loo
        FROM y JOIN seg s ON y.c_mktsegment = s.c_mktsegment
        WHERE s.n > 1
    )
    SELECT c_mktsegment,
           COUNT(*)::BIGINT AS n,
           SUM(loo)::BIGINT AS sum_loo_cents,
           MIN(loo) AS min_loo_cents,
           MAX(loo) AS max_loo_cents
    FROM enc
    GROUP BY c_mktsegment
"""


# --- 15. interval union coverage ----------------------------------------------------
# single-sourced with the streaming twin: the replay shares this batch
# query's oracle, so the two spans must be the same constant
from etl_extractor_spark.streaming.events_stream import _IVU_SPAN_US as _IUC_SPAN_US


def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-intervals per user — the SLA/uptime/activity-coverage
    primitive: every event opens a 30-minute presence interval and
    overlapping intervals must be merged before their lengths count
    (double-counting overlap is the classic bug this operator exists
    to prevent). Islands form with the running-max-of-end trick: a row
    starts a new island iff its start exceeds the max end among all
    earlier rows of that user; the island id is then a cumulative sum
    of start flags, and island length is max(end) − min(start). Top-20
    users by covered time (exact integer µs).

    100 TB: all three windows share one (user_id)-partitioned
    (ts, event_id) order — one shuffle, key-partitioned, no global
    sort; island state is O(1) per row."""
    from etl_extractor_spark.functions.dates import ntz_epoch_micros

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", ntz_epoch_micros("ts").alias("s")
    ).withColumn("e", F.col("s") + F.lit(_IUC_SPAN_US))
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = e.select(
        "user_id", "event_id", "s", "e",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)), 1
        ).otherwise(0).alias("new_island"),
    ).withColumn("island", F.sum("new_island").over(w_run))
    islands = flagged.groupBy("user_id", "island").agg(
        F.min("s").alias("lo"), F.max("e").alias("hi")
    )
    per_user = islands.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum(F.col("hi") - F.col("lo")).cast("long").alias("covered_us"),
    )
    return per_user.orderBy(F.desc("covered_us"), "user_id").limit(20)


QUERIES["interval_union_coverage"] = interval_union_coverage
ORACLES["interval_union_coverage"] = f"""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS s,
               epoch_us(ts) + {_IUC_SPAN_US} AS e
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (
                        PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                    THEN 1 ELSE 0 END AS new_island
        FROM e
    ),
    numbered AS (
        SELECT user_id, s, e,
               SUM(new_island) OVER (
                   PARTITION BY user_id ORDER BY s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM flagged
    ),
    islands AS (
        SELECT user_id, island, MIN(s) AS lo, MAX(e) AS hi
        FROM numbered GROUP BY 1, 2
    ),
    per_user AS (
        SELECT user_id, COUNT(*)::BIGINT AS n_islands,
               SUM(hi - lo)::BIGINT AS covered_us
        FROM islands GROUP BY 1
    )
    SELECT * FROM per_user ORDER BY covered_us DESC, user_id LIMIT 20
"""


# --- 16. cohort LTV curve -------------------------------------------------------------
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value curve by acquisition cohort: cohort =
    month of first order, age = months since cohort, cell = cumulative
    spend of the cohort through that age (exact cents) with the cohort
    size alongside — the standard LTV payback readout. The cumulative
    runs over the (cohort, age) GRID (calendar-bounded, ≤ 84×84), not
    the fact table.

    100 TB: one customer-keyed aggregation for cohorts, one grid
    aggregation, one O(grid) window."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year(F.to_date("o_orderdate")) * 12 + F.month(F.to_date("o_orderdate")) - 1)
        .alias("ym"),
        cents("o_totalprice").alias("cents"),
    )
    cohort = o.groupBy("o_custkey").agg(F.min("ym").alias("cm"))
    sized = cohort.groupBy("cm").agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    grid = (
        o.join(cohort, "o_custkey")
        .groupBy("cm", (F.col("ym") - F.col("cm")).alias("age"))
        .agg(F.sum("cents").cast("long").alias("spend_cents"))
    )
    w = Window.partitionBy("cm").orderBy("age").rowsBetween(Window.unboundedPreceding, 0)
    return (
        grid.withColumn("cum_spend_cents", F.sum("spend_cents").over(w).cast("long"))
        .join(F.broadcast(sized), "cm")
        .select(
            F.format_string("%04d-%02d", F.expr("cm div 12"), F.col("cm") % 12 + 1)
            .alias("cohort_month"),
            "age", "n_customers", "spend_cents", "cum_spend_cents",
        )
    )


QUERIES["cohort_ltv_curve"] = cohort_ltv_curve
ORACLES["cohort_ltv_curve"] = """
    WITH o AS (
        SELECT o_custkey,
               year(CAST(o_orderdate AS DATE)) * 12
                   + month(CAST(o_orderdate AS DATE)) - 1 AS ym,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM orders
    ),
    cohort AS (SELECT o_custkey, MIN(ym) AS cm FROM o GROUP BY 1),
    sized AS (SELECT cm, COUNT(*)::BIGINT AS n_customers FROM cohort GROUP BY 1),
    grid AS (
        SELECT c.cm, o.ym - c.cm AS age, SUM(cents)::BIGINT AS spend_cents
        FROM o JOIN cohort c ON o.o_custkey = c.o_custkey
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT cm, age, spend_cents,
               SUM(spend_cents) OVER (PARTITION BY cm ORDER BY age
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
                   AS cum_spend_cents
        FROM grid
    )
    SELECT printf('%04d-%02d', cm // 12, cm % 12 + 1) AS cohort_month,
           age, n_customers, spend_cents, cum_spend_cents
    FROM cum JOIN sized USING (cm)
"""


# --- 17. two-sample Poisson rate test ---------------------------------------------------
def poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional two-sample Poisson rate test on purchase events
    between the hash-parity variants: with equal exposure, under H₀
    the split of n = c₀+c₁ purchases is Binomial(n, ½), so
    z = (2c₀ − n)/√n — exact integers plus one square root. The count-
    metric sibling of the mean-metric z/CUPED readouts (conversions,
    error rates, events per user).

    100 TB: one filtered aggregation; O(1) scalar math."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    from etl_extractor_spark.plans.pipeline_ops import _hash_parity

    g = e.select(_hash_parity(F.col("user_id")).alias("grp"))
    agg = g.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("c0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("c1"),
    )
    n = F.col("c0") + F.col("c1")
    z = (2 * F.col("c0") - n).cast("double") / F.sqrt(n.cast("double"))
    return agg.select(
        "c0", "c1", n.alias("n"), _q6(z).alias("z")
    )


QUERIES["poisson_rate_test"] = poisson_rate_test
ORACLES["poisson_rate_test"] = """
    WITH g AS (
        SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT)
               % 2 AS grp
        FROM events WHERE event_type = 'purchase'
    ),
    agg AS (
        SELECT SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END)::BIGINT AS c0,
               SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS c1
        FROM g
    )
    SELECT c0, c1, (c0 + c1) AS n,
           FLOOR(CAST(2 * c0 - (c0 + c1) AS DOUBLE)
                 / SQRT(CAST(c0 + c1 AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS z
    FROM agg
"""


# --- 18. median with order-statistic confidence interval --------------------------------
def median_ci_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median of order value per priority WITH its distribution-
    free 95% confidence interval — the binomial order-statistic CI
    (lo = ⌊(n − 1.96√n)/2⌋, hi = ⌈1 + (n + 1.96√n)/2⌉, clamped),
    selecting all three order statistics DISTRIBUTED: per-distinct-
    value cumulative counts via the two-phase bucket cumsum, then each
    target rank picks the smallest value whose cumulative count
    reaches it. No global sort, no per-group collect.

    100 TB: the rank walk runs over the distinct-value relation
    (domain-scaled); rank targets are O(groups) scalar math from
    identical integers."""
    x = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        cents("o_totalprice").alias("v"),
    )
    per_v = x.groupBy("o_orderpriority", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).withColumn("b", F.expr("v div 1000000"))
    wv = (
        Window.partitionBy("o_orderpriority", "b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sizes = per_v.groupBy("o_orderpriority", "b").agg(F.sum("c").alias("cb"))
    wo = (
        Window.partitionBy("o_orderpriority")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        "o_orderpriority", "b",
        F.coalesce(F.sum("cb").over(wo), F.lit(0)).alias("off"),
    )
    cum = (
        per_v.withColumn("c_in", F.sum("c").over(wv))
        .join(F.broadcast(offsets), ["o_orderpriority", "b"])
        .select(
            "o_orderpriority", "v", (F.col("c_in") + F.col("off")).alias("cum")
        )
    )
    nd = F.col("n").cast("double")
    stats = x.groupBy("o_orderpriority").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranks = stats.select(
        "o_orderpriority", "n",
        F.greatest(
            F.lit(1).cast("long"),
            F.floor((nd - 1.959964 * F.sqrt(nd)) / 2).cast("long"),
        ).alias("lo_rank"),
        F.expr("(n + 1) div 2").alias("med_rank"),
        F.least(
            F.col("n"),
            F.ceil(1 + (nd + 1.959964 * F.sqrt(nd)) / 2).cast("long"),
        ).alias("hi_rank"),
    )
    j = cum.join(F.broadcast(ranks), "o_orderpriority")

    def pick(rank_col: str, out: str):
        return (
            j.where(F.col("cum") >= F.col(rank_col))
            .groupBy("o_orderpriority")
            .agg(F.min("v").alias(out))
        )

    out = (
        ranks.join(pick("med_rank", "med_cents"), "o_orderpriority")
        .join(pick("lo_rank", "lo_cents"), "o_orderpriority")
        .join(pick("hi_rank", "hi_cents"), "o_orderpriority")
        .select(
            "o_orderpriority", "n", "lo_rank", "med_rank", "hi_rank",
            "lo_cents", "med_cents", "hi_cents",
        )
    )
    return out


QUERIES["median_ci_orders"] = median_ci_orders
ORACLES["median_ci_orders"] = """
    WITH x AS (
        SELECT o_orderpriority,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        FROM orders
    ),
    per_v AS (
        SELECT o_orderpriority, v, COUNT(*)::BIGINT AS c
        FROM x GROUP BY 1, 2
    ),
    cum AS (
        SELECT o_orderpriority, v,
               SUM(c) OVER (PARTITION BY o_orderpriority ORDER BY v)::BIGINT AS cum
        FROM per_v
    ),
    stats AS (
        SELECT o_orderpriority, COUNT(*)::BIGINT AS n FROM x GROUP BY 1
    ),
    ranks AS (
        SELECT o_orderpriority, n,
               GREATEST(1, CAST(FLOOR((CAST(n AS DOUBLE)
                   - 1.959964 * SQRT(CAST(n AS DOUBLE))) / 2) AS BIGINT)) AS lo_rank,
               (n + 1) // 2 AS med_rank,
               LEAST(n, CAST(CEIL(1 + (CAST(n AS DOUBLE)
                   + 1.959964 * SQRT(CAST(n AS DOUBLE))) / 2) AS BIGINT)) AS hi_rank
        FROM stats
    ),
    med AS (
        SELECT c.o_orderpriority, MIN(v) AS med_cents
        FROM cum c JOIN ranks r USING (o_orderpriority)
        WHERE c.cum >= r.med_rank GROUP BY 1
    ),
    lo AS (
        SELECT c.o_orderpriority, MIN(v) AS lo_cents
        FROM cum c JOIN ranks r USING (o_orderpriority)
        WHERE c.cum >= r.lo_rank GROUP BY 1
    ),
    hi AS (
        SELECT c.o_orderpriority, MIN(v) AS hi_cents
        FROM cum c JOIN ranks r USING (o_orderpriority)
        WHERE c.cum >= r.hi_rank GROUP BY 1
    )
    SELECT r.o_orderpriority, r.n, r.lo_rank, r.med_rank, r.hi_rank,
           l.lo_cents, m.med_cents, h.hi_cents
    FROM ranks r JOIN med m USING (o_orderpriority)
                 JOIN lo l USING (o_orderpriority)
                 JOIN hi h USING (o_orderpriority)
"""


# --- 19. Neyman-allocation stratified sampling -------------------------------------------
_NEYMAN_BUDGET = 1000
_H48 = 1 << 48


def neyman_allocation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal (Neyman) allocation of a fixed sampling budget across
    strata — n_h ∝ N_h·σ_h, the survey-sampling rule that beats
    proportional allocation whenever strata variances differ — then a
    deterministic hash-gate draw at each stratum's rate. Exactness
    chain: N_h·σ_h = √(N_h·ΣX² − S_h²) (ONE double sqrt over an exact
    DECIMAL(38,0)), floored to an integer weight; allocations are
    integer floor division of the budget; each stratum's keep
    threshold is (n_h·2⁴⁸) div N_h against the md5-48bit key hash —
    the repo's exact-oracle sampling idiom, so the realized sample is
    bit-reproducible under any partitioning or resharding.

    100 TB: two aggregations (stratum moments, then realized sample
    stats) + O(strata) scalar math; the gate is map-only."""
    x = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        cents("o_totalprice").alias("v"),
    )
    mom = x.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("nh"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("s"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,0)")).alias("ss"),
    )
    q = (
        F.col("nh").cast("decimal(38,0)") * F.col("ss")
        - F.col("s") * F.col("s")
    )
    w = mom.select(
        "o_orderpriority", "nh",
        F.floor(F.sqrt(q.cast("double"))).cast("long").alias("wh"),
    )
    tot = w.agg(F.sum("wh").alias("wtot"))
    alloc = w.crossJoin(F.broadcast(tot)).select(
        "o_orderpriority", "nh", "wh",
        F.expr(f"({_NEYMAN_BUDGET} * wh) div wtot").alias("alloc_n"),
    ).withColumn("thr", F.expr(f"(alloc_n * {_H48}) div nh"))
    kept = (
        x.join(F.broadcast(alloc), "o_orderpriority")
        .where(
            F.conv(
                F.substring(F.md5(F.concat(F.lit("ney-"), F.col("o_orderkey").cast("string"))), 1, 12),
                16, 10,
            ).cast("long")
            < F.col("thr")
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("realized_n"),
            F.sum("v").cast("long").alias("realized_sum_cents"),
        )
    )
    return alloc.join(kept, "o_orderpriority", "left").select(
        "o_orderpriority", "nh", "wh", "alloc_n",
        F.coalesce("realized_n", F.lit(0)).cast("long").alias("realized_n"),
        F.coalesce("realized_sum_cents", F.lit(0)).cast("long").alias("realized_sum_cents"),
    )


QUERIES["neyman_allocation_sample"] = neyman_allocation_sample
ORACLES["neyman_allocation_sample"] = f"""
    WITH x AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        FROM orders
    ),
    mom AS (
        SELECT o_orderpriority, COUNT(*)::BIGINT AS nh,
               SUM(CAST(v AS HUGEINT)) AS s,
               SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS ss
        FROM x GROUP BY 1
    ),
    w AS (
        SELECT o_orderpriority, nh,
               CAST(FLOOR(SQRT(CAST(CAST(nh AS HUGEINT) * ss - s * s AS DOUBLE)))
                    AS BIGINT) AS wh
        FROM mom
    ),
    tot AS (SELECT SUM(wh)::BIGINT AS wtot FROM w),
    alloc AS (
        SELECT o_orderpriority, nh, wh,
               ({_NEYMAN_BUDGET} * wh) // wtot AS alloc_n,
               ((({_NEYMAN_BUDGET} * wh) // wtot) * {_H48}::BIGINT) // nh AS thr
        FROM w CROSS JOIN tot
    ),
    kept AS (
        SELECT x.o_orderpriority,
               COUNT(*)::BIGINT AS realized_n,
               SUM(v)::BIGINT AS realized_sum_cents
        FROM x JOIN alloc a ON x.o_orderpriority = a.o_orderpriority
        WHERE CAST(('0x' || substr(md5('ney-' || CAST(o_orderkey AS VARCHAR)), 1, 12))
                   AS BIGINT) < a.thr
        GROUP BY 1
    )
    SELECT a.o_orderpriority, a.nh, a.wh, a.alloc_n,
           COALESCE(k.realized_n, 0)::BIGINT AS realized_n,
           COALESCE(k.realized_sum_cents, 0)::BIGINT AS realized_sum_cents
    FROM alloc a LEFT JOIN kept k ON a.o_orderpriority = k.o_orderpriority
"""


# --- 20. streaming interval-union replay ---------------------------------------------
def streaming_interval_union_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """9th driver-certified streaming query: per-user union-of-
    intervals coverage as a stateful stream (one open island + closed
    totals = O(1) state per user, streaming/events_stream.
    streaming_interval_union), replayed with availableNow. Coverage
    and island count are monotone non-decreasing, so the final state
    per user is the algebraic max(struct) over emissions; the top-20
    then equals the batch interval_union_coverage, whose oracle this
    query shares verbatim."""
    from etl_extractor_spark.streaming import events_stream as SE

    emitted = SE.run_to_memory(
        SE.streaming_interval_union(SE.events_stream(spark, sf_dir)),
        output_mode="update",
        state_partitions=SE.state_partitions_for(spark, sf_dir),
    )
    final = (
        emitted.groupBy("user_id")
        .agg(F.max(F.struct("covered_us", "n_islands")).alias("r"))
        .select(
            "user_id",
            F.col("r.n_islands").alias("n_islands"),
            F.col("r.covered_us").alias("covered_us"),
        )
    )
    return final.orderBy(F.desc("covered_us"), "user_id").limit(20)


QUERIES["streaming_interval_union_replay"] = streaming_interval_union_replay
ORACLES["streaming_interval_union_replay"] = ORACLES["interval_union_coverage"]


# --- 21. fixed-width record roundtrip ---------------------------------------------------
# Layout: orderkey[0:12) custkey[12:24) status[24:25) cents[25:39)
#         yyyymmdd[39:47) priority[47:62)   (62-byte records)
def fixedwidth_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (mainframe/COBOL-copybook-style) record ingestion —
    the one classic ETL text format the source layer lacked: orders
    serialize to 62-byte zero/space-padded records, then the PARSE
    path recovers every field by byte position (substring + trim +
    cast) and aggregates per status. The oracle aggregates the BASE
    table, so any off-by-one in a column's byte range, a padding
    overflow, or a lost sign hash-fails. Serialization is pure
    Catalyst (lpad/rpad/concat); so is the parse — no UDF.

    100 TB: map-only serialize+parse fused into the scan; byte-offset
    parsing is the cheapest decode Spark can run (no quoting/escape
    state like CSV)."""
    o = load_table(spark, sf_dir, "orders")
    rec = F.concat(
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0"),
        F.lpad(F.col("o_custkey").cast("string"), 12, "0"),
        F.col("o_orderstatus"),
        F.lpad(
            cents("o_totalprice").cast("string"),
            14, "0",
        ),
        F.date_format(F.to_date("o_orderdate"), "yyyyMMdd"),
        F.rpad(F.col("o_orderpriority"), 15, " "),
    )
    lines = o.select(rec.alias("line"))
    parsed = lines.select(
        F.substring("line", 1, 12).cast("long").alias("orderkey"),
        F.substring("line", 13, 12).cast("long").alias("custkey"),
        F.substring("line", 25, 1).alias("status"),
        F.substring("line", 26, 14).cast("long").alias("cents"),
        F.substring("line", 40, 8).cast("long").alias("ymd"),
        F.rtrim(F.substring("line", 48, 15)).alias("priority"),
    )
    # the three checksums are data-scaled sums of data-scaled values —
    # DECIMAL(38,0)/HUGEINT-widened and emitted as digit strings so the
    # roundtrip proof holds at any SF (review catch: plain BIGINT wraps
    # silently in Spark / raises in DuckDB from ~sf2000)
    return parsed.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).cast("string").alias("sum_cents"),
        F.min("ymd").alias("min_ymd"),
        F.max("ymd").alias("max_ymd"),
        F.count_distinct(F.col("priority")).cast("long").alias("n_priorities"),
        F.sum(F.col("orderkey").cast("decimal(38,0)")).cast("string").alias("sum_orderkey"),
        F.sum(F.col("custkey").cast("decimal(38,0)")).cast("string").alias("sum_custkey"),
    )


QUERIES["fixedwidth_roundtrip"] = fixedwidth_roundtrip
ORACLES["fixedwidth_roundtrip"] = """
    SELECT o_orderstatus AS status,
           COUNT(*)::BIGINT AS n,
           CAST(SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS HUGEINT)) AS VARCHAR) AS sum_cents,
           MIN(CAST(strftime(CAST(o_orderdate AS DATE), '%Y%m%d') AS BIGINT)) AS min_ymd,
           MAX(CAST(strftime(CAST(o_orderdate AS DATE), '%Y%m%d') AS BIGINT)) AS max_ymd,
           COUNT(DISTINCT o_orderpriority)::BIGINT AS n_priorities,
           CAST(SUM(CAST(o_orderkey AS HUGEINT)) AS VARCHAR) AS sum_orderkey,
           CAST(SUM(CAST(o_custkey AS HUGEINT)) AS VARCHAR) AS sum_custkey
    FROM orders
    GROUP BY o_orderstatus
"""


# --- 22. DAU/MAU stickiness via delta intervals ------------------------------------------
_MAU_WINDOW = 30


def dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU, trailing-30-day MAU and the DAU/MAU stickiness ratio per
    day — computed WITHOUT a sliding distinct: per user, consecutive
    active days emit +1/−1 boundary deltas (+1 at the active day, −1
    where its 30-day influence ends or the next active day takes
    over, whichever is first), which are DISJOINT by construction, so
    MAU(d) is just the running sum of per-day delta totals over the
    calendar-bounded grid. The oracle certifies the algebra
    INDEPENDENTLY with a brute-force 30-day range join + COUNT
    (DISTINCT) — the two must agree exactly.

    100 TB: one distinct user-day aggregation, one per-user lead()
    window (key-partitioned), one O(days) grid cumsum. The classic
    trap — COUNT(DISTINCT) OVER a 30-day range frame — never appears."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("d"),
    ).distinct()
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    w = Window.partitionBy("user_id").orderBy("d")
    spans = ud.withColumn("nxt", F.lead("d").over(w)).select(
        "d",
        F.least(
            F.col("d") + _MAU_WINDOW,
            F.coalesce(F.col("nxt"), F.col("d") + _MAU_WINDOW),
        ).alias("end"),
    )
    deltas = (
        spans.select(F.col("d").alias("day"), F.lit(1).alias("delta"))
        .unionByName(spans.select(F.col("end").alias("day"), F.lit(-1).alias("delta")))
        .groupBy("day")
        .agg(F.sum("delta").alias("net"))
    )
    wg = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    mau = deltas.withColumn("mau", F.sum("net").over(wg).cast("long")).select(
        F.col("day").alias("d"), "mau"
    )
    return (
        dau.join(mau, "d")
        .select(
            "d", "dau", "mau",
            _q6(F.col("dau").cast("double") / F.col("mau").cast("double")).alias(
                "stickiness"
            ),
        )
    )


QUERIES["dau_mau_stickiness"] = dau_mau_stickiness
ORACLES["dau_mau_stickiness"] = f"""
    WITH ud AS MATERIALIZED (
        SELECT DISTINCT user_id,
               CAST(ts AS DATE) - DATE '1970-01-01' AS d
        FROM events
    ),
    dau AS (SELECT d, COUNT(*)::BIGINT AS dau FROM ud GROUP BY d),
    mau AS (
        SELECT g.d, COUNT(DISTINCT u.user_id)::BIGINT AS mau
        FROM (SELECT DISTINCT d FROM ud) g
        JOIN ud u ON u.d BETWEEN g.d - {_MAU_WINDOW - 1} AND g.d
        GROUP BY g.d
    )
    SELECT d, dau, mau,
           FLOOR(CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE) * 1000000 + 0.5) / 1000000
               AS stickiness
    FROM dau JOIN mau USING (d)
"""


# --- 23. mean reciprocal rank over the BM25 pool ------------------------------------------
def mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank of the first relevant document per query term
    over the certified BM25 top-20 pool (relevant = the doc contains
    the term) — MRR's per-query readout, completing the retrieval-eval
    trio beside nDCG and RRF. Derives entirely from already-certified
    rankings: one explode-filter, one min() per term.

    100 TB: the pool is top-k (constant); the containment probe is one
    token-match aggregation."""
    from etl_extractor_spark.functions import textstats as ts
    from etl_extractor_spark.plans.training_prep import BM25_TERMS, bm25_scores

    d = load_table(spark, sf_dir, "documents")
    top = bm25_scores(spark, sf_dir)
    hits = (
        top.join(d, "doc_id")
        .select("rank", F.explode(ts.tokens("text")).alias("term"))
        .filter(F.col("term").isin(*BM25_TERMS))
    )
    first = hits.groupBy("term").agg(F.min("rank").alias("first_rank"))
    return first.select(
        "term",
        F.col("first_rank").cast("long").alias("first_rank"),
        _q6(F.lit(1.0) / F.col("first_rank").cast("double")).alias("rr"),
    )


QUERIES["mrr_eval"] = mrr_eval
from etl_extractor_spark.plans.training_prep import BM25_SQL as _BM25_SQL

ORACLES["mrr_eval"] = rf"""
    WITH pool AS MATERIALIZED ({_BM25_SQL}),
    hits AS (
        SELECT p.rank, t.term
        FROM pool p
        JOIN (
            SELECT doc_id,
                   unnest(string_split(trim(regexp_replace(CAST(text AS VARCHAR),
                       '\s+', ' ', 'g')), ' ')) AS term
            FROM documents
        ) t ON p.doc_id = t.doc_id
        WHERE t.term IN ('spark', 'order', 'batch')
    )
    SELECT term, MIN(rank)::BIGINT AS first_rank,
           FLOOR(1.0 / CAST(MIN(rank) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS rr
    FROM hits
    GROUP BY term
"""


# --- 24. vocabulary coverage curve ---------------------------------------------------------
_VOCAB_TOPS = (10, 50, 200)


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass coverage of the top-N vocabulary types for N ∈
    {10, 50, 200} — the tokenizer-budget readout (how small a vocab
    still covers X% of the stream; the empirical face of Zipf's law
    next to zipf_fit_tokens). Types rank by (freq desc, token); the
    cumulative mass runs over the VOCAB relation (domain-bounded), and
    each N reports the realized cut (min(N, |vocab|)).

    100 TB: one token count aggregation; everything after is
    vocab-sized."""
    from etl_extractor_spark.functions import textstats as ts

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(ts.tokens("text")).alias("token"))
        .filter(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    ranked = tf.select(
        "freq", F.row_number().over(w).alias("rnk")
    ).withColumn(
        "cum", F.sum("freq").over(Window.orderBy("rnk").rowsBetween(Window.unboundedPreceding, 0))
    )
    tot = ranked.agg(
        F.max("rnk").cast("long").alias("vocab_size"),
        F.sum("freq").cast("long").alias("total_tokens"),
    )
    from etl_extractor_spark.operators.common import small_df

    tops = small_df(spark, [(n,) for n in _VOCAB_TOPS], "n_top int")
    return (
        ranked.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(tops),
            F.col("rnk") == F.least(F.col("n_top").cast("long"), F.col("vocab_size")),
        )
        .select(
            "n_top",
            "vocab_size",
            F.col("cum").cast("long").alias("covered_tokens"),
            "total_tokens",
            _q6(
                F.col("cum").cast("double") / F.col("total_tokens").cast("double")
            ).alias("coverage"),
        )
    )


QUERIES["vocab_coverage_curve"] = vocab_coverage_curve
ORACLES["vocab_coverage_curve"] = r"""
    WITH tf AS MATERIALIZED (
        SELECT token, COUNT(*)::BIGINT AS freq
        FROM (
            SELECT unnest(string_split(trim(regexp_replace(CAST(text AS VARCHAR),
                '\s+', ' ', 'g')), ' ')) AS token
            FROM documents
        )
        WHERE length(token) > 0
        GROUP BY token
    ),
    ranked AS (
        SELECT freq,
               ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rnk,
               SUM(freq) OVER (ORDER BY freq DESC, token
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
        FROM tf
    ),
    tot AS (
        SELECT MAX(rnk)::BIGINT AS vocab_size, SUM(freq)::BIGINT AS total_tokens
        FROM ranked
    ),
    tops AS (SELECT unnest([10, 50, 200]) AS n_top)
    SELECT t.n_top, o.vocab_size, r.cum AS covered_tokens, o.total_tokens,
           FLOOR(CAST(r.cum AS DOUBLE) / CAST(o.total_tokens AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS coverage
    FROM tops t
    CROSS JOIN tot o
    JOIN ranked r ON r.rnk = LEAST(t.n_top, o.vocab_size)
"""


# --- 25. keyed pseudonymization with referential integrity --------------------------------
def pseudonymize_join_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR-grade keyed pseudonymization: customer keys are replaced by
    deterministic keyed tokens (md5 over a pinned release key — the
    HMAC shape with the repo's engine-identical hash idiom) in BOTH the
    dim and the fact table, and the query proves REFERENTIAL INTEGRITY
    SURVIVES: the pseudonymized join reproduces exactly the per-segment
    order counts and value sums of the raw-key join (which is what the
    oracle computes). A token collision, a key-derivation mismatch
    between tables, or a dropped row all hash-fail.

    100 TB: tokenization is map-only; the join is the same key-hash
    join it replaced (tokens distribute like keys — md5 is uniform, so
    pseudonymization cannot introduce skew)."""
    tok = lambda c: F.md5(F.concat(F.lit("pseudo-v1:"), c.cast("string")))
    c = load_table(spark, sf_dir, "customer").select(
        tok(F.col("c_custkey")).alias("ctok"), "c_mktsegment"
    )
    o = load_table(spark, sf_dir, "orders").select(
        tok(F.col("o_custkey")).alias("otok"),
        cents("o_totalprice").alias("cents"),
    )
    return (
        c.join(o, c.ctok == o.otok)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.count_distinct("ctok").cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )


QUERIES["pseudonymize_join_integrity"] = pseudonymize_join_integrity
ORACLES["pseudonymize_join_integrity"] = """
    SELECT c_mktsegment,
           COUNT(*)::BIGINT AS n_orders,
           COUNT(DISTINCT c_custkey)::BIGINT AS n_customers,
           SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))::BIGINT
               AS sum_cents
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
"""


# --- 26. DP counts with per-user contribution bounding --------------------------------------
_DPB_CAP = 3       # max events one user may contribute per group
_DPB_EPS = 0.5
_DPB_SEED = 0xB7


def dp_bounded_contribution_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private event counts per type with PER-USER
    CONTRIBUTION BOUNDING — the step dp_noisy_counts abstracts away:
    user-level DP requires capping each user's TOTAL contribution
    (here ≤3 events ACROSS ALL types, via a deterministic
    (ts, event_id)-ordered rank) BEFORE adding Laplace(Δ/ε) noise.
    Capping across types (not per type — review catch) is what makes
    the released vector's user-level L1 sensitivity equal the cap:
    removing one user changes the across-type counts by ≤3 in total,
    so Δ = 3 and the ε=0.5 guarantee holds for the whole release, not
    ε·n_types. Noise is the repo's seeded-md5 inverse-CDF draw
    (engine-identical IEEE ops, strictly inside (0,1)), so the
    released counts stay exactly oracle-checkable.

    NOT a real privacy mechanism — oracle-checkable twin ONLY (same
    caveat as dp_noisy_counts): the noise is recomputable from the
    public group key + an in-repo seed, and n_capped is co-emitted, so
    the ε guarantee describes the mechanism's SHAPE, not this output.
    A real release needs true randomness/secret key and must not
    publish the un-noised counts.

    100 TB: the cap is one user-keyed row_number window; the release
    is O(groups) scalar math on a map-side-combined count."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    capped = (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _DPB_CAP)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_capped"))
    )
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("event_type"), F.lit(f"#b{_DPB_SEED}"))),
                    1, 12,
                ),
                16, 10,
            )
            .cast("long")
            .cast("double")
            + F.lit(0.5)
        )
        / F.lit(float(1 << 48))
    )
    cc = u - F.lit(0.5)
    b = F.lit(float(_DPB_CAP) / _DPB_EPS)  # sensitivity = the cap
    noise = -b * F.signum(cc) * F.log(1 - 2 * F.abs(cc))
    released = F.col("n_capped") + noise
    return capped.select(
        "event_type",
        "n_capped",
        (F.floor(released * 10000) / 10000).alias("released"),
    )


QUERIES["dp_bounded_contribution_counts"] = dp_bounded_contribution_counts
ORACLES["dp_bounded_contribution_counts"] = f"""
    WITH capped AS (
        SELECT event_type, COUNT(*)::BIGINT AS n_capped
        FROM (
            SELECT event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        )
        WHERE rn <= {_DPB_CAP}
        GROUP BY event_type
    )
    SELECT event_type, n_capped,
           FLOOR((CAST(n_capped AS DOUBLE)
                  + (-({_DPB_CAP}.0 / {_DPB_EPS})
                     * SIGN((CAST(('0x' || substr(md5(event_type || '#b{_DPB_SEED}'), 1, 12))
                             AS BIGINT) + 0.5) / {float(1 << 48)} - 0.5)
                     * LN(1 - 2 * ABS((CAST(('0x' || substr(md5(event_type || '#b{_DPB_SEED}'), 1, 12))
                             AS BIGINT) + 0.5) / {float(1 << 48)} - 0.5))))
                 * 10000) / 10000 AS released
    FROM capped
"""


# --- 27. EWMA control chart -------------------------------------------------------------
_EWMA_H = 10  # truncated window; lambda = 1/2 -> power-of-two weights
_EWMA_DEN = (1 << _EWMA_H) - 1


def ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (SPC) over daily order counts: the smoothed
    statistic is the λ=½ truncated EWMA — integer power-of-two weights
    Σ c_{t−i}·2^(H−1−i) over the last H=10 days (the SES idiom, exact
    BIGINT numerator) — charted against ±3σ_EWMA limits derived from
    the exact global sufficient statistics (σ_EWMA² = σ²·λ/(2−λ)
    asymptotically). Output: every full-window day with its count,
    smoothed value and an out-of-control flag. The process-drift
    monitor that pages before CUSUM's offline argmax runs.

    100 TB: one daily aggregation; the H-lag fold and the limits are
    O(days) window math over the calendar-bounded grid."""
    from etl_extractor_spark.plans.inference import _daily_counts

    daily = _daily_counts(spark, sf_dir)
    w = Window.orderBy("d")
    lags = daily.select(
        "d", "c",
        F.row_number().over(w).alias("rn"),
        *[F.lag("c", i).over(w).alias(f"l{i}") for i in range(1, _EWMA_H)],
    )
    num = F.col("c") * F.lit(1 << (_EWMA_H - 1))
    for i in range(1, _EWMA_H):
        num = num + F.coalesce(F.col(f"l{i}"), F.lit(0)) * F.lit(1 << (_EWMA_H - 1 - i))
    stats = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").alias("s"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).alias("ss"),
    )
    full = lags.where(F.col("rn") >= _EWMA_H).select(
        "d", "c", num.alias("ewma_num")
    ).crossJoin(F.broadcast(stats))
    nd = F.col("n").cast("double")
    mean = F.col("s").cast("double") / nd
    sigma = F.sqrt(
        (F.col("n").cast("double") * F.col("ss").cast("double")
         - F.col("s").cast("double") * F.col("s").cast("double"))
        / (nd * nd)
    )
    half = 3.0 * sigma * F.sqrt(F.lit(1.0 / 3.0))  # lambda/(2-lambda) = 1/3
    ewma = F.col("ewma_num").cast("double") / F.lit(float(_EWMA_DEN))
    return full.select(
        "d", "c", "ewma_num",
        _q6(ewma).alias("ewma"),
        _q6(mean - half).alias("lcl"),
        _q6(mean + half).alias("ucl"),
        ((ewma < mean - half) | (ewma > mean + half)).alias("out_of_control"),
    )


QUERIES["ewma_control_chart"] = ewma_control_chart
from etl_extractor_spark.plans.inference import _DAILY_SQL as _EWMA_DAILY_SQL

ORACLES["ewma_control_chart"] = f"""
    WITH daily AS ({_EWMA_DAILY_SQL}),
    lags AS (
        SELECT d, c,
               ROW_NUMBER() OVER (ORDER BY d) AS rn,
               {', '.join(f'LAG(c, {i}) OVER (ORDER BY d) AS l{i}' for i in range(1, _EWMA_H))}
        FROM daily
    ),
    stats AS (
        SELECT COUNT(*)::BIGINT AS n, SUM(c)::BIGINT AS s,
               SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS ss
        FROM daily
    ),
    fullw AS (
        SELECT d, c,
               (c * {1 << (_EWMA_H - 1)}
                {' '.join(f'+ COALESCE(l{i}, 0) * {1 << (_EWMA_H - 1 - i)}' for i in range(1, _EWMA_H))}
               )::BIGINT AS ewma_num
        FROM lags WHERE rn >= {_EWMA_H}
    )
    SELECT d, c, ewma_num,
           FLOOR(CAST(ewma_num AS DOUBLE) / {float(_EWMA_DEN)} * 1000000 + 0.5) / 1000000
               AS ewma,
           FLOOR((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                  - 3.0 * SQRT((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                        * SQRT(1.0 / 3.0)) * 1000000 + 0.5) / 1000000 AS lcl,
           FLOOR((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                  + 3.0 * SQRT((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                        * SQRT(1.0 / 3.0)) * 1000000 + 0.5) / 1000000 AS ucl,
           (CAST(ewma_num AS DOUBLE) / {float(_EWMA_DEN)}
                < CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                  - 3.0 * SQRT((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                        * SQRT(1.0 / 3.0))
           OR (CAST(ewma_num AS DOUBLE) / {float(_EWMA_DEN)}
                > CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                  + 3.0 * SQRT((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                        * SQRT(1.0 / 3.0)) AS out_of_control
    FROM fullw CROSS JOIN stats
"""


# --- 28. conversion-time quantiles ---------------------------------------------------------
def conversion_time_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion-lag distribution: per user, the lag
    from first signup to the first STRICTLY-later purchase (the funnel
    pair's timing face), with exact p50/p90/min/max in seconds via the
    two-phase bucketed rank walk — per-user lags are data-scaled, so
    the cumulative never runs as one global window.

    100 TB: two user-keyed aggregations + the domain-bucketed rank
    walk; rank targets are O(1) scalar math."""
    from etl_extractor_spark.functions.dates import ntz_epoch_micros

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", ntz_epoch_micros("ts").alias("us")
    )
    s1 = e.where(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("us").alias("t_signup")
    )
    p1 = (
        e.where(F.col("event_type") == "purchase")
        .join(s1, "user_id")
        .where(F.col("us") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_purchase"), F.min("t_signup").alias("t_signup2"))
    )
    durs = p1.select(
        F.expr("(t_purchase - t_signup2) div 1000000").alias("dur_s")
    )
    per_v = durs.groupBy("dur_s").agg(F.count(F.lit(1)).cast("long").alias("c"))
    per_v = per_v.withColumn("b", F.expr("dur_s div 100000"))
    wv = Window.partitionBy("b").orderBy("dur_s").rowsBetween(Window.unboundedPreceding, 0)
    sizes = per_v.groupBy("b").agg(F.sum("c").alias("cb"))
    wo = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select("b", F.coalesce(F.sum("cb").over(wo), F.lit(0)).alias("off"))
    cum = (
        per_v.withColumn("c_in", F.sum("c").over(wv))
        .join(F.broadcast(offsets), "b")
        .select("dur_s", (F.col("c_in") + F.col("off")).alias("cum"))
    )
    tot = durs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    j = cum.crossJoin(F.broadcast(tot))
    p50 = j.where(F.col("cum") >= F.expr("(n + 1) div 2")).agg(
        F.min("dur_s").alias("p50_s")
    )
    p90 = j.where(F.col("cum") >= F.expr("(9 * n + 9) div 10")).agg(
        F.min("dur_s").alias("p90_s")
    )
    ext = durs.agg(F.min("dur_s").alias("min_s"), F.max("dur_s").alias("max_s"))
    return tot.crossJoin(p50).crossJoin(p90).crossJoin(ext)


QUERIES["conversion_time_quantiles"] = conversion_time_quantiles
ORACLES["conversion_time_quantiles"] = """
    WITH e AS (
        SELECT user_id, event_type, epoch_us(ts) AS us FROM events
    ),
    s1 AS (
        SELECT user_id, MIN(us) AS t_signup
        FROM e WHERE event_type = 'signup' GROUP BY user_id
    ),
    p1 AS (
        SELECT e.user_id, MIN(e.us) AS t_purchase, MIN(s1.t_signup) AS t_signup2
        FROM e JOIN s1 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.us > s1.t_signup
        GROUP BY e.user_id
    ),
    durs AS (SELECT (t_purchase - t_signup2) // 1000000 AS dur_s FROM p1),
    per_v AS (SELECT dur_s, COUNT(*)::BIGINT AS c FROM durs GROUP BY dur_s),
    cum AS (
        SELECT dur_s, SUM(c) OVER (ORDER BY dur_s)::BIGINT AS cum FROM per_v
    ),
    tot AS (SELECT COUNT(*)::BIGINT AS n FROM durs),
    p50 AS (
        SELECT MIN(dur_s) AS p50_s FROM cum CROSS JOIN tot
        WHERE cum >= (n + 1) // 2
    ),
    p90 AS (
        SELECT MIN(dur_s) AS p90_s FROM cum CROSS JOIN tot
        WHERE cum >= (9 * n + 9) // 10
    ),
    ext AS (SELECT MIN(dur_s) AS min_s, MAX(dur_s) AS max_s FROM durs)
    SELECT n, p50_s, p90_s, min_s, max_s
    FROM tot CROSS JOIN p50 CROSS JOIN p90 CROSS JOIN ext
"""


# --- 29. join-cardinality estimation by key sampling ------------------------------------------
_JCE_RATE_BITS = 8  # sample keys where hash48 < 2^48 / 2^8  (p = 1/256)


def join_cardinality_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer-style join-size estimation: |lineitem ⋈ lineitem on
    l_partkey| = Σ_k c(k)² (the skew-sensitive self-join a cost model
    must not guess at) estimated from a deterministic 1/256 KEY sample
    (md5 hash gate — every occurrence of a sampled key is kept, the
    end-biased sampling join estimators use), scaled by 256, and
    reported NEXT TO the exact cardinality with the relative error.
    Everything is exact integers — the estimate itself is a
    deterministic statistic, so the oracle replays it bit-for-bit.

    100 TB: two key-count aggregations (one on the sampled keys);
    never materializes the join."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    per_k = li.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("c"))
    exact = per_k.agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("exact_card"))
    gate = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("jce-"), F.col("l_partkey").cast("string"))), 1, 12),
            16, 10,
        ).cast("long")
        < F.lit((1 << 48) >> _JCE_RATE_BITS)
    )
    samp = per_k.where(gate).agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled_keys"),
        (F.sum(F.col("c") * F.col("c")) * F.lit(1 << _JCE_RATE_BITS))
        .cast("long")
        .alias("est_card"),
    )
    out = exact.crossJoin(samp)
    rel = (F.col("est_card") - F.col("exact_card")).cast("double") / F.col(
        "exact_card"
    ).cast("double")
    return out.select(
        "exact_card", "est_card", "n_sampled_keys", _q6(rel).alias("rel_err")
    )


QUERIES["join_cardinality_kmv"] = join_cardinality_kmv
ORACLES["join_cardinality_kmv"] = f"""
    WITH per_k AS (
        SELECT l_partkey, COUNT(*)::BIGINT AS c FROM lineitem GROUP BY l_partkey
    ),
    exact AS (SELECT SUM(c * c)::BIGINT AS exact_card FROM per_k),
    samp AS (
        SELECT COUNT(*)::BIGINT AS n_sampled_keys,
               (SUM(c * c) * {1 << _JCE_RATE_BITS})::BIGINT AS est_card
        FROM per_k
        WHERE CAST(('0x' || substr(md5('jce-' || CAST(l_partkey AS VARCHAR)), 1, 12))
                   AS BIGINT) < {(1 << 48) >> _JCE_RATE_BITS}
    )
    SELECT exact_card, est_card, n_sampled_keys,
           FLOOR(CAST(est_card - exact_card AS DOUBLE) / CAST(exact_card AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS rel_err
    FROM exact CROSS JOIN samp
"""


# --- 30. classifier confusion metrics --------------------------------------------------------
_CCM_THRESHOLD = 996_000  # score_micro >= this => predict "en" (splits near the corpus median)


def classifier_confusion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full thresholded-classifier evaluation of the English-ness score
    (shared with calibration_bins / roc_auc_exact, so the eval suite
    reads one model three ways): confusion counts tp/fp/fn/tn at a
    pinned threshold, then precision, recall, F1, Matthews correlation
    and Cohen's κ — each ONE double formula over the four exact
    integers (MCC's denominator in √ of an exact ≤4e19… product kept
    in double, identical op order both engines).

    100 TB: a single map-side-combinable aggregation; O(1) scalars."""
    s = _ccm_scored(spark, sf_dir)
    agg = s.agg(
        F.sum(((F.col("pred") == 1) & (F.col("label") == 1)).cast("long")).alias("tp"),
        F.sum(((F.col("pred") == 1) & (F.col("label") == 0)).cast("long")).alias("fp"),
        F.sum(((F.col("pred") == 0) & (F.col("label") == 1)).cast("long")).alias("fn"),
        F.sum(((F.col("pred") == 0) & (F.col("label") == 0)).cast("long")).alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c).cast("double") for c in ("tp", "fp", "fn", "tn"))
    n = tp + fp + fn + tn
    prec = tp / (tp + fp)
    rec = tp / (tp + fn)
    f1 = 2.0 * tp / (2.0 * tp + fp + fn)
    mcc = (tp * tn - fp * fn) / F.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    po = (tp + tn) / n
    pe = ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) / (n * n)
    kappa = (po - pe) / (1.0 - pe)
    return agg.select(
        "tp", "fp", "fn", "tn",
        _q6(prec).alias("precision"),
        _q6(rec).alias("recall"),
        _q6(f1).alias("f1"),
        _q6(mcc).alias("mcc"),
        _q6(kappa).alias("kappa"),
    )


def _ccm_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_extractor_spark.plans.inference import _scored_docs

    s = _scored_docs(spark, sf_dir)
    return s.select(
        (F.col("score_micro") >= _CCM_THRESHOLD).cast("int").alias("pred"), "label"
    )


QUERIES["classifier_confusion_metrics"] = classifier_confusion_metrics


# --- 31. log-loss evaluation -------------------------------------------------------------------
def log_loss_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean cross-entropy (log loss) of the clamped English-ness score
    against the label — the proper-scoring-rule counterpart of AUC
    (AUC sees only the ordering; log loss punishes calibration). The
    probability clamps to [1e-4, 1−1e-4] so ln never sees 0 (the
    recorded ln(0) cross-engine landmine), each per-row term is
    floor-quantized to integer micro-nats, and the sum is exact.

    100 TB: map-only scoring + one aggregation."""
    from etl_extractor_spark.plans.inference import _scored_docs

    s = _scored_docs(spark, sf_dir)
    p = F.least(F.greatest(F.col("score_micro").cast("double") / 1000000.0, F.lit(1e-4)),
                F.lit(1.0 - 1e-4))
    term = F.floor(
        (F.when(F.col("label") == 1, F.log(p)).otherwise(F.log(1.0 - p))) * 1000000
    ).cast("long")
    agg = s.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(term).cast("long").alias("sum_ll_micro"),
    )
    return agg.select(
        "n", "sum_ll_micro",
        _q6(-F.col("sum_ll_micro").cast("double") / F.col("n").cast("double") / 1000000)
        .alias("log_loss"),
    )


QUERIES["log_loss_eval"] = log_loss_eval


# --- 32. Grubbs' outlier test --------------------------------------------------------------------
def grubbs_outlier_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' test for a single outlier in daily order counts: G =
    max|cᵢ − c̄| / s with the candidate day. The argmax runs in exact
    integers (|n·cᵢ − S| — the mean never materializes; earliest-day
    tie-break), and G is one double formula over (n, S, SS, the argmax
    count). The one-shot outlier gate run before a control chart is
    trusted.

    100 TB: one daily aggregation + an O(days) argmax + O(1) scalars."""
    from etl_extractor_spark.plans.inference import _daily_counts

    daily = _daily_counts(spark, sf_dir)
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").alias("s"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).alias("ss"),
    )
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "d", "c", "n", "s", "ss",
        F.abs(F.col("n") * F.col("c") - F.col("s")).alias("absdev_scaled"),
    )
    top = dev.orderBy(F.desc("absdev_scaled"), "d").limit(1)
    nd = F.col("n").cast("double")
    mean = F.col("s").cast("double") / nd
    sd = F.sqrt(
        (nd * F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s").cast("double"))
        / (nd * (nd - 1.0))
    )
    g = F.abs(F.col("c").cast("double") - mean) / sd
    return top.select(
        F.col("d").alias("outlier_day"), "c", "n",
        _q6(mean).alias("mean"),
        _q6(sd).alias("sd"),
        _q6(g).alias("g_stat"),
    )


QUERIES["grubbs_outlier_test"] = grubbs_outlier_test


from etl_extractor_spark.plans.inference import _SCORED_SQL as _CCM_SCORED_SQL

ORACLES["classifier_confusion_metrics"] = f"""
    WITH p AS (
        SELECT CASE WHEN score_micro >= {_CCM_THRESHOLD} THEN 1 ELSE 0 END AS pred,
               label
        FROM ({_CCM_SCORED_SQL})
    ),
    agg AS (
        SELECT SUM(CASE WHEN pred = 1 AND label = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
               SUM(CASE WHEN pred = 1 AND label = 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
               SUM(CASE WHEN pred = 0 AND label = 1 THEN 1 ELSE 0 END)::BIGINT AS fn,
               SUM(CASE WHEN pred = 0 AND label = 0 THEN 1 ELSE 0 END)::BIGINT AS tn
        FROM p
    )
    SELECT tp, fp, fn, tn,
           FLOOR(CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS precision,
           FLOOR(CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS recall,
           FLOOR(2.0 * CAST(tp AS DOUBLE)
                 / (2.0 * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS f1,
           FLOOR((CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
                  - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
                 / SQRT((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
                        * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
                        * (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE))
                        * (CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000 AS mcc,
           FLOOR((
               (CAST(tp AS DOUBLE) + CAST(tn AS DOUBLE))
                   / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE) + CAST(tn AS DOUBLE))
               - ((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)) * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
                  + (CAST(fn AS DOUBLE) + CAST(tn AS DOUBLE)) * (CAST(fp AS DOUBLE) + CAST(tn AS DOUBLE)))
                 / ((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE) + CAST(tn AS DOUBLE))
                    * (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE) + CAST(tn AS DOUBLE)))
           ) / (1.0 - ((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)) * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
                  + (CAST(fn AS DOUBLE) + CAST(tn AS DOUBLE)) * (CAST(fp AS DOUBLE) + CAST(tn AS DOUBLE)))
                 / ((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE) + CAST(tn AS DOUBLE))
                    * (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE) + CAST(tn AS DOUBLE))))
           * 1000000 + 0.5) / 1000000 AS kappa
    FROM agg
"""

ORACLES["log_loss_eval"] = f"""
    WITH s AS ({_CCM_SCORED_SQL}),
    t AS (
        SELECT CAST(FLOOR(
                   CASE WHEN label = 1
                        THEN LN(LEAST(GREATEST(CAST(score_micro AS DOUBLE) / 1000000.0,
                                               0.0001), 0.9999))
                        ELSE LN(1.0 - LEAST(GREATEST(CAST(score_micro AS DOUBLE) / 1000000.0,
                                                     0.0001), 0.9999))
                   END * 1000000) AS BIGINT) AS term
        FROM s
    )
    SELECT COUNT(*)::BIGINT AS n,
           SUM(term)::BIGINT AS sum_ll_micro,
           FLOOR(-CAST(SUM(term) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000
                 * 1000000 + 0.5) / 1000000 AS log_loss
    FROM t
"""

from etl_extractor_spark.plans.inference import _DAILY_SQL as _GRUBBS_DAILY_SQL

ORACLES["grubbs_outlier_test"] = f"""
    WITH daily AS ({_GRUBBS_DAILY_SQL}),
    tot AS (
        SELECT COUNT(*)::BIGINT AS n, SUM(c)::BIGINT AS s,
               SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS ss
        FROM daily
    ),
    top AS (
        SELECT d, c, n, s, ss
        FROM daily CROSS JOIN tot
        ORDER BY ABS(n * c - s) DESC, d
        LIMIT 1
    )
    SELECT d AS outlier_day, c, n,
           FLOOR(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000 AS mean,
           FLOOR(SQRT((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
                 * 1000000 + 0.5) / 1000000 AS sd,
           FLOOR(ABS(CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                 / SQRT((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
                 * 1000000 + 0.5) / 1000000 AS g_stat
    FROM top
"""


# --- 33. Pareto skyline ------------------------------------------------------------------------
def pareto_front_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (maximal-vector) query: the orders not dominated in the
    (value, recency) plane — b dominates a iff b is ≥ in both
    dimensions and > in at least one. On DISTINCT (price, date) pairs
    sorted by (price desc, date desc), a pair survives iff its date
    strictly exceeds every preceding date — one running max, NOT a
    quadratic dominance join — and the running max distributes as the
    standard two-phase: per-bucket window + a broadcast frame of
    higher-bucket maxima. Exact integers (cents, yyyymmdd keys);
    equal-in-both-dimensions pairs are mutually non-dominating and
    both survive, pinned identically in the oracle.

    100 TB: one distinct aggregation, bucket-bounded windows, an
    O(buckets) broadcast — the skyline itself is output-sized."""
    o = load_table(spark, sf_dir, "orders").select(
        cents("o_totalprice").alias("p"),
        (F.year(F.to_date("o_orderdate")) * 10000
         + F.month(F.to_date("o_orderdate")) * 100
         + F.dayofmonth(F.to_date("o_orderdate"))).alias("d"),
    )
    pairs = o.groupBy("p", "d").agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    pairs = pairs.withColumn("b", F.expr("p div 1000000"))
    wv = (
        Window.partitionBy("b")
        .orderBy(F.desc("p"), F.desc("d"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bmax = pairs.groupBy("b").agg(F.max("d").alias("bd"))
    wo = Window.orderBy(F.desc("b")).rowsBetween(Window.unboundedPreceding, -1)
    offsets = bmax.select(
        "b", F.coalesce(F.max("bd").over(wo), F.lit(-1)).alias("off")
    )
    scored = (
        pairs.withColumn("prev_in", F.coalesce(F.max("d").over(wv), F.lit(-1)))
        .join(F.broadcast(offsets), "b")
        .where(F.col("d") > F.greatest(F.col("prev_in"), F.col("off")))
    )
    return scored.select(
        F.col("p").alias("price_cents"), F.col("d").alias("date_key"), "n_orders"
    )


QUERIES["pareto_front_orders"] = pareto_front_orders
ORACLES["pareto_front_orders"] = """
    WITH o AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p,
               year(CAST(o_orderdate AS DATE)) * 10000
                   + month(CAST(o_orderdate AS DATE)) * 100
                   + day(CAST(o_orderdate AS DATE)) AS d
        FROM orders
    ),
    pairs AS (SELECT p, d, COUNT(*)::BIGINT AS n_orders FROM o GROUP BY p, d),
    scored AS (
        SELECT p, d, n_orders,
               COALESCE(MAX(d) OVER (ORDER BY p DESC, d DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) AS prev_max
        FROM pairs
    )
    SELECT p AS price_cents, d AS date_key, n_orders
    FROM scored WHERE d > prev_max
"""


# --- 34. group-median imputation -----------------------------------------------------------------
def median_impute_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-value repair by group statistics: customers with
    negative balances (the corpus's 'unknown' convention) are imputed
    to their segment's exact median of the VALID balances — the median
    found by the two-phase rank walk, never a sort — and the query
    reports, per segment, the valid/imputed split and the exact sums
    before and after repair (integer cents end to end). The standard
    cleaning op ahead of any model consuming the column.

    100 TB: a distinct-value rank walk per segment (domain-bounded) +
    two aggregations."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        cents("c_acctbal").alias("bal"),
    )
    valid = c.where(F.col("bal") >= 0)
    per_v = valid.groupBy("c_mktsegment", "bal").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).withColumn("bk", F.expr("bal div 100000"))
    wv = (
        Window.partitionBy("c_mktsegment", "bk")
        .orderBy("bal")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sizes = per_v.groupBy("c_mktsegment", "bk").agg(F.sum("cnt").alias("cb"))
    wo = (
        Window.partitionBy("c_mktsegment")
        .orderBy("bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        "c_mktsegment", "bk",
        F.coalesce(F.sum("cb").over(wo), F.lit(0)).alias("off"),
    )
    cum = (
        per_v.withColumn("c_in", F.sum("cnt").over(wv))
        .join(F.broadcast(offsets), ["c_mktsegment", "bk"])
        .select("c_mktsegment", "bal", (F.col("c_in") + F.col("off")).alias("cum"))
    )
    nv = valid.groupBy("c_mktsegment").agg(F.count(F.lit(1)).cast("long").alias("n_valid"))
    med = (
        cum.join(F.broadcast(nv), "c_mktsegment")
        .where(2 * F.col("cum") >= F.col("n_valid"))
        .groupBy("c_mktsegment")
        .agg(F.min("bal").alias("median_cents"))
    )
    rep = (
        c.join(F.broadcast(med), "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((F.col("bal") < 0).cast("long")).alias("n_imputed"),
            F.sum("bal").cast("long").alias("sum_before_cents"),
            F.sum(
                F.when(F.col("bal") < 0, F.col("median_cents")).otherwise(F.col("bal"))
            ).cast("long").alias("sum_after_cents"),
        )
    )
    return rep.join(F.broadcast(med), "c_mktsegment").select(
        "c_mktsegment", "n", "n_imputed", "median_cents",
        "sum_before_cents", "sum_after_cents",
    )


QUERIES["median_impute_acctbal"] = median_impute_acctbal
ORACLES["median_impute_acctbal"] = """
    WITH c AS (
        SELECT c_mktsegment,
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal
        FROM customer
    ),
    valid AS (SELECT * FROM c WHERE bal >= 0),
    per_v AS (
        SELECT c_mktsegment, bal, COUNT(*)::BIGINT AS cnt
        FROM valid GROUP BY 1, 2
    ),
    cum AS (
        SELECT c_mktsegment, bal,
               SUM(cnt) OVER (PARTITION BY c_mktsegment ORDER BY bal)::BIGINT AS cum
        FROM per_v
    ),
    nv AS (SELECT c_mktsegment, COUNT(*)::BIGINT AS n_valid FROM valid GROUP BY 1),
    med AS (
        SELECT cum.c_mktsegment, MIN(bal) AS median_cents
        FROM cum JOIN nv USING (c_mktsegment)
        WHERE 2 * cum >= n_valid
        GROUP BY 1
    )
    SELECT c.c_mktsegment,
           COUNT(*)::BIGINT AS n,
           SUM(CASE WHEN bal < 0 THEN 1 ELSE 0 END)::BIGINT AS n_imputed,
           MIN(m.median_cents) AS median_cents,
           SUM(bal)::BIGINT AS sum_before_cents,
           SUM(CASE WHEN bal < 0 THEN m.median_cents ELSE bal END)::BIGINT
               AS sum_after_cents
    FROM c JOIN med m ON c.c_mktsegment = m.c_mktsegment
    GROUP BY c.c_mktsegment
"""


# --- 35. trimmed mean ---------------------------------------------------------------------------
def trimmed_mean_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% two-sided trimmed mean of order value per priority — the
    robust location estimate between the mean and the median — EXACT
    via order-statistic range sums: with k = ⌊n/10⌋, the trimmed sum
    is S(n−k) − S(k) where S(r) = Σ of the r smallest values, computed
    from the distinct-value cumulative (count, value·count) pair as
    S(r) = valsum(v_r) − (cum(v_r) − r)·v_r (v_r = the value whose
    cumulative count first reaches r — the tied-run overshoot
    correction). Two-phase bucketed cumsums; integers end to end.

    100 TB: the rank walk runs over the distinct-value relation; the
    boundary picks are two O(groups) lookups."""
    x = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        cents("o_totalprice").alias("v"),
    )
    per_v = x.groupBy("o_orderpriority", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).withColumn("b", F.expr("v div 1000000"))
    wv = (
        Window.partitionBy("o_orderpriority", "b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sizes = per_v.groupBy("o_orderpriority", "b").agg(
        F.sum("c").alias("cb"),
        F.sum(F.col("v") * F.col("c")).alias("sb"),
    )
    wo = (
        Window.partitionBy("o_orderpriority")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        "o_orderpriority", "b",
        F.coalesce(F.sum("cb").over(wo), F.lit(0)).alias("coff"),
        F.coalesce(F.sum("sb").over(wo), F.lit(0)).alias("soff"),
    )
    cum = (
        per_v.withColumn("c_in", F.sum("c").over(wv))
        .withColumn("s_in", F.sum(F.col("v") * F.col("c")).over(wv))
        .join(F.broadcast(offsets), ["o_orderpriority", "b"])
        .select(
            "o_orderpriority", "v",
            (F.col("c_in") + F.col("coff")).alias("cum"),
            (F.col("s_in") + F.col("soff")).alias("vsum"),
        )
    )
    stats = x.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).withColumn("k", F.expr("n div 10"))
    j = cum.join(F.broadcast(stats), "o_orderpriority")

    def boundary(frame, rank_col: str, out: str):
        """The (v_r, cum, vsum) triple at v_r = min v with cum ≥ r —
        the inputs of S(r) = vsum − (cum − r)·v_r."""
        picked = (
            frame.where(F.col("cum") >= F.col(rank_col))
            .groupBy("o_orderpriority")
            .agg(F.min(F.struct("v", "cum", "vsum")).alias("r"))
        )
        return picked.select(
            "o_orderpriority",
            F.col("r.vsum").alias(out + "_vsum"),
            F.col("r.cum").alias(out + "_cum"),
            F.col("r.v").alias(out + "_v"),
        )

    lo = boundary(j, "k", "lo")
    hi_rank = stats.select("o_orderpriority", (F.col("n") - F.col("k")).alias("hk"))
    hi = boundary(cum.join(F.broadcast(hi_rank), "o_orderpriority"), "hk", "hi")
    out = (
        stats.join(lo, "o_orderpriority").join(hi, "o_orderpriority")
        .select(
            "o_orderpriority", "n", "k",
            (
                (F.col("hi_vsum") - (F.col("hi_cum") - (F.col("n") - F.col("k"))) * F.col("hi_v"))
                - (F.col("lo_vsum") - (F.col("lo_cum") - F.col("k")) * F.col("lo_v"))
            ).alias("trimmed_sum_cents"),
        )
    )
    tm = F.col("trimmed_sum_cents").cast("double") / (
        (F.col("n") - 2 * F.col("k")).cast("double")
    )
    return out.select(
        "o_orderpriority", "n", "k", "trimmed_sum_cents",
        _q6(tm / 100).alias("trimmed_mean_dollars"),
    )


QUERIES["trimmed_mean_orders"] = trimmed_mean_orders
ORACLES["trimmed_mean_orders"] = """
    WITH x AS (
        SELECT o_orderpriority,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        FROM orders
    ),
    per_v AS (
        SELECT o_orderpriority, v, COUNT(*)::BIGINT AS c FROM x GROUP BY 1, 2
    ),
    cum AS (
        SELECT o_orderpriority, v,
               SUM(c) OVER (PARTITION BY o_orderpriority ORDER BY v)::BIGINT AS cum,
               SUM(v * c) OVER (PARTITION BY o_orderpriority ORDER BY v)::BIGINT AS vsum
        FROM per_v
    ),
    stats AS (
        SELECT o_orderpriority, COUNT(*)::BIGINT AS n, COUNT(*) // 10 AS k
        FROM x GROUP BY 1
    ),
    lo AS (
        SELECT c.o_orderpriority,
               arg_min(vsum, v) - (arg_min(cum, v) - MIN(s.k)) * MIN(v) AS s_lo
        FROM cum c JOIN stats s USING (o_orderpriority)
        WHERE c.cum >= s.k
        GROUP BY c.o_orderpriority
    ),
    hi AS (
        SELECT c.o_orderpriority,
               arg_min(vsum, v) - (arg_min(cum, v) - MIN(s.n - s.k)) * MIN(v) AS s_hi
        FROM cum c JOIN stats s USING (o_orderpriority)
        WHERE c.cum >= s.n - s.k
        GROUP BY c.o_orderpriority
    )
    SELECT s.o_orderpriority, s.n, s.k,
           (h.s_hi - l.s_lo)::BIGINT AS trimmed_sum_cents,
           FLOOR(CAST(h.s_hi - l.s_lo AS DOUBLE)
                 / CAST(s.n - 2 * s.k AS DOUBLE) / 100 * 1000000 + 0.5) / 1000000
               AS trimmed_mean_dollars
    FROM stats s JOIN lo l USING (o_orderpriority) JOIN hi h USING (o_orderpriority)
"""


# --- 36. binary-segmentation changepoints ---------------------------------------------------------
def binseg_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary segmentation — the classic multiple-changepoint search:
    the CUSUM argmax splits the daily series once (level 0), then the
    same statistic runs INSIDE each half (level 1), giving up to three
    ordered changepoints from two rounds. Everything is the exact
    integer statistic |n_seg·P_t − t·S_seg| with earliest-day
    tie-breaks; the oracle recomputes both levels, so the recursion is
    hash-certified, not just the first split.

    100 TB: the series is the calendar-bounded daily aggregate;
    level-1 windows partition by segment id — each level is O(days)
    window math, and deeper levels would reuse the same plan."""
    from etl_extractor_spark.plans.inference import _daily_counts

    daily = _daily_counts(spark, sf_dir)
    w = Window.orderBy("d")
    base = daily.select(
        "d", "c",
        F.row_number().over(w).alias("rn"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("pfx"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("c").alias("s")
    )
    l0 = (
        base.crossJoin(F.broadcast(tot))
        .where(F.col("rn") < F.col("n"))
        .select(
            "d", "rn",
            F.abs(F.col("n") * F.col("pfx") - F.col("rn") * F.col("s")).alias("abs_t"),
        )
        .orderBy(F.desc("abs_t"), "d")
        .limit(1)
    )
    t1 = l0.select(F.col("rn").alias("t1"))
    segged = base.crossJoin(F.broadcast(t1)).withColumn(
        "seg", F.when(F.col("rn") <= F.col("t1"), F.lit("A")).otherwise(F.lit("B"))
    )
    seg_stats = segged.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("ns"),
        F.sum("c").alias("ss"),
        F.min("rn").alias("rn0"),
    )
    ws = (
        Window.partitionBy("seg")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    l1 = (
        segged.withColumn("pfx_s", F.sum("c").over(ws))
        .join(F.broadcast(seg_stats), "seg")
        .withColumn("t_loc", F.col("rn") - F.col("rn0") + 1)
        .where(F.col("t_loc") < F.col("ns"))
        .select(
            "seg", "d", "t_loc",
            F.abs(F.col("ns") * F.col("pfx_s") - F.col("t_loc") * F.col("ss")).alias(
                "abs_t"
            ),
        )
    )
    wpick = Window.partitionBy("seg").orderBy(F.desc("abs_t"), "d")
    l1_top = (
        l1.withColumn("pk", F.row_number().over(wpick))
        .where(F.col("pk") == 1)
        .select(
            F.concat(F.lit("1"), F.col("seg")).alias("level"),
            "d",
            F.col("t_loc").alias("t"),
            "abs_t",
        )
    )
    l0_row = l0.select(
        F.lit("0").alias("level"), "d", F.col("rn").alias("t"), "abs_t"
    )
    return l0_row.unionByName(l1_top)


QUERIES["binseg_changepoints"] = binseg_changepoints
ORACLES["binseg_changepoints"] = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*)::BIGINT AS c
        FROM orders GROUP BY 1
    ),
    base AS (
        SELECT d, c,
               ROW_NUMBER() OVER (ORDER BY d)::BIGINT AS rn,
               SUM(c) OVER (ORDER BY d)::BIGINT AS pfx
        FROM daily
    ),
    tot AS (SELECT COUNT(*)::BIGINT AS n, SUM(c)::BIGINT AS s FROM daily),
    l0 AS (
        SELECT d, rn, ABS(n * pfx - rn * s)::BIGINT AS abs_t
        FROM base CROSS JOIN tot
        WHERE rn < n
        ORDER BY abs_t DESC, d
        LIMIT 1
    ),
    segged AS (
        SELECT b.*, CASE WHEN b.rn <= l0.rn THEN 'A' ELSE 'B' END AS seg
        FROM base b CROSS JOIN l0
    ),
    seg_stats AS (
        SELECT seg, COUNT(*)::BIGINT AS ns, SUM(c)::BIGINT AS ss,
               MIN(rn)::BIGINT AS rn0
        FROM segged GROUP BY seg
    ),
    l1 AS (
        SELECT g.seg, g.d, g.rn - st.rn0 + 1 AS t_loc,
               ABS(st.ns * SUM(g.c) OVER (PARTITION BY g.seg ORDER BY g.rn)
                   - (g.rn - st.rn0 + 1) * st.ss)::BIGINT AS abs_t
        FROM segged g JOIN seg_stats st USING (seg)
    ),
    l1_top AS (
        SELECT '1' || seg AS level, d, t_loc AS t, abs_t,
               ROW_NUMBER() OVER (PARTITION BY seg ORDER BY abs_t DESC, d) AS pk
        FROM l1 WHERE t_loc < (SELECT ns FROM seg_stats s2 WHERE s2.seg = l1.seg)
    )
    SELECT '0' AS level, d, rn AS t, abs_t FROM l0
    UNION ALL
    SELECT level, d, t, abs_t FROM l1_top WHERE pk = 1
"""
