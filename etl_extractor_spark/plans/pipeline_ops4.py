"""Round-7 wave: error-contract rows that close the rows-only tail
(simhash pair audit, IVF recall, HLL distinct-count bound), and a set
of exact-arithmetic analytics operators (sweep-line max concurrency,
running-max drawdown, rank-biased overlap, cumulative-gains deciles,
linear multi-touch attribution).

Reference provenance: the reference pipeline (nilfredb/ETL-Extractor,
extract/*.py + main.py) has no analytics layer; these are the
standard operators a 100 TB curation/experimentation stack layers on
its ETL surface, built Spark-first with the repo's cross-engine
arithmetic conventions (integer sufficient statistics, floor
half-up quantization, multiply-before-divide, integer floor division
via div///, IEEE-exact float only after identical integer inputs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_extractor_spark.functions.quantize import cents
from etl_extractor_spark.sources.parquet import load_table

QUERIES: dict = {}
ORACLES: dict = {}


# --- 2. SimHash banding completeness/precision contract (r6 task 5) ----------
#
# dedup_simhash stays rows-only (xxhash64 signatures are
# engine-specific), but its STRUCTURAL guarantee is auditable: with 4
# bands of 16 bits, any pair at hamming ≤ 3 shares ≥ 1 band
# (pigeonhole) — banding must therefore find EVERY qualifying pair,
# and exact bit_count verification must admit NO spurious one. The
# audit brute-forces all pairs inside a deterministic md5-gated doc
# subset and set-compares them with the banded operator's output
# restricted to the same subset. The subset is rate-gated here so the
# audit scales with the test corpus; at 100 TB the audit set is a
# fixed-size benchmark artifact (the gate modulus grows with the
# corpus), keeping the brute-force side a vanishing fraction of one
# corpus scan.
# CORPUS-ADAPTIVE gate (r7 verdict task 3 — the pinned mod 4 made the
# brute side corpus-quadratic): subset size targets 8·√n docs, i.e.
# modulus m = max(4, n div (8·⌊√n⌋)). Sizing by measurement (the
# set-space lesson, probe /tmp/simhash_gate2.py):
#   · expected in-subset pair yield is ≈ c·s²/n with measured
#     c ∈ [0.065, 0.13] on this corpus — so a FIXED audit-set size is
#     provably vacuous one decade up (a 1210-doc subset at 500k docs
#     holds ZERO qualifying pairs, measured), while s = 8√n keeps the
#     expected yield constant at c·64 ≈ 4–8 pairs: measured 2/2/6/3/16
#     pairs at n = 500/500/5k/50k/500k, all ≥ the non-vacuity floor.
#   · audit cost: s²/2 = 32·n pair-evals — the SAME asymptotic as the
#     banded operator's O(n) signature pass, so the audit stays a
#     constant fraction of the operator it certifies (at 10^10 docs:
#     an ~13 MB signature broadcast + 3.2e11 distributed codegen
#     evals), instead of the (n/4)² blow-up the pinned gate had.
# The floor of 4 preserves the measured mod-4 behavior at the driver's
# compare scales (n = 500 → mod 4 → 2 pairs, unchanged since r7).
# sqrt is IEEE-754 correctly rounded (NOT in the sin/cos/ln
# never-floor class), so Python's math.floor(math.sqrt(n)) and
# DuckDB's floor(sqrt(n)) agree bit-for-bit; the derived modulus is
# published as an output column so the driver hash cross-certifies it.


def _simhash_audit_mod(n_docs: int) -> int:
    import math

    return max(4, n_docs // (8 * math.floor(math.sqrt(n_docs))))


def simhash_pair_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-certifiable audit of dedup_simhash's banding: over the
    md5-gated subset, banded-pairs == brute-force-pairs exactly
    (ok_recall: none missed; ok_precision: none spurious). The gate
    count, corpus count and derived modulus are oracle-exact (hex→int
    md5 idiom + integer floor division); the oracle pins both ok bits
    at literal 1."""
    from etl_extractor_spark.operators import dedup as D

    d = load_table(spark, sf_dir, "documents")
    audit_mod = _simhash_audit_mod(d.count())
    gate = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("long") % audit_mod == 0
    )
    from etl_extractor_spark.operators.checkpoints import reliable_checkpoint

    # one corpus-scale signature pass, materialized — it feeds the
    # brute-force side, the subset ids AND the banded operator
    sigs = reliable_checkpoint(D.simhash_signatures(d, "doc_id", "text"))
    sub = sigs.join(
        d.filter(gate).select("doc_id"), "doc_id", "left_semi"
    ).select("doc_id", "simhash")
    brute = (
        sub.alias("a")
        .join(
            F.broadcast(sub.alias("b")),
            F.col("a.doc_id") < F.col("b.doc_id"),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", F.lit(1).alias("in_brute"))
    )
    sub_ids = sub.select("doc_id")
    rep = (
        # reuse the signature pass computed above (review catch: the
        # operator recomputes the corpus-scale signature aggregation
        # internally unless handed the frame)
        D.simhash_near_pairs(d, "doc_id", "text", max_hamming=3, sigs=sigs)
        .join(sub_ids.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi")
        .join(sub_ids.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
        .select("id_a", "id_b", F.lit(1).alias("in_rep"))
    )
    diff = brute.join(rep, ["id_a", "id_b"], "full_outer").agg(
        F.sum(F.when(F.col("in_rep").isNull(), 1).otherwise(0)).alias("missed"),
        F.sum(F.when(F.col("in_brute").isNull(), 1).otherwise(0)).alias("spurious"),
    )
    counts = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(gate.cast("long")).cast("long").alias("n_audit_docs"),
    )
    return counts.crossJoin(F.broadcast(diff)).select(
        "n_docs",
        "n_audit_docs",
        F.lit(audit_mod).cast("long").alias("audit_mod"),
        (F.coalesce(F.col("missed"), F.lit(0)) == 0).cast("long").alias("ok_recall"),
        (F.coalesce(F.col("spurious"), F.lit(0)) == 0)
        .cast("long")
        .alias("ok_precision"),
    )


QUERIES["simhash_pair_contract"] = simhash_pair_contract
# The oracle re-derives the corpus-adaptive modulus with the same
# integer formula (greatest/floor-div; IEEE-exact sqrt), so the hash
# match certifies the gate itself, not just the counts under it.
ORACLES["simhash_pair_contract"] = """
    WITH p AS (
      SELECT greatest(4, count(*) // (8 * CAST(floor(sqrt(CAST(count(*) AS DOUBLE)))
                                              AS BIGINT))) AS m
      FROM documents
    )
    SELECT count(*)::BIGINT AS n_docs,
           CAST(sum(CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                                   AS BIGINT) % (SELECT m FROM p) = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_audit_docs,
           (SELECT m FROM p)::BIGINT AS audit_mod,
           1::BIGINT AS ok_recall,
           1::BIGINT AS ok_precision
    FROM documents
"""


# --- 3. HLL approximate-distinct error contract (r6 task 5) -------------------
def approx_distinct_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-certifiable twin of ``approx_distinct_tokens`` (rows-only
    HLL++): the rsd=0.01 estimate over the IDENTICAL token set must
    land within max(5, 5% of exact) of the exact distinct count —
    a 5σ bound at the configured rsd, stable across sessions. The
    comparison is pure BIGINT (multiply-before-divide):
    100·|est − exact| ≤ 5·exact + 500. Exact distinct and total token
    counts are oracle-exact; the oracle pins ok_hll at literal 1.

    100 TB: the exact side is one shuffle on the token; the HLL side
    is mergeable per-partition state — this is the audit you run on a
    sample before trusting persisted HLL state for corpus stats."""
    from etl_extractor_spark.functions import textstats as ts

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(ts.tokens("text")).alias("token"))
    agg = toks.agg(
        F.approx_count_distinct("token", rsd=0.01).alias("est"),
        F.countDistinct("token").cast("long").alias("exact_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
    )
    # the documented bound is max(5, 5% of exact) — spelled with
    # greatest, not 5%·exact + 5, which is strictly looser for every
    # exact > 0 (review catch: code must enforce the bound the
    # contract documents)
    ok = (
        100 * F.abs(F.col("est") - F.col("exact_tokens"))
        <= F.greatest(F.lit(500), 5 * F.col("exact_tokens"))
    )
    return agg.select("exact_tokens", "n_tokens", ok.cast("long").alias("ok_hll"))


QUERIES["approx_distinct_contract"] = approx_distinct_contract
ORACLES["approx_distinct_contract"] = r"""
    WITH t AS (
      SELECT unnest(string_split(trim(regexp_replace(CAST(text AS VARCHAR),
                                                     '\s+', ' ', 'g')), ' ')) AS token
      FROM documents
    )
    SELECT count(DISTINCT token)::BIGINT AS exact_tokens,
           count(*)::BIGINT AS n_tokens,
           1::BIGINT AS ok_hll
    FROM t
"""


# --- 4. IVF-KMeans recall contract (r6 task 5) -------------------------------
def ivf_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-certifiable twin of ``knn_ivf_kmeans`` (rows-only:
    learned centroids are engine-specific): single-probe IVF recall@5
    against the exact brute force must clear the same floor the
    recall pytest enforces (avg recall ≥ 0.2 — single-probe over
    random vectors; the pair share the vid % 100 == 0 query gate).
    Integer comparison: 1000·hits ≥ 200·(5·n_queries). n_queries is
    oracle-exact; the oracle pins ok_recall at literal 1."""
    from etl_extractor_spark.plans.similarity import (
        knn_ivf_kmeans,
        knn_topk_cosine,
    )

    approx = knn_ivf_kmeans(spark, sf_dir).select("query_id", "neighbor_id")
    exact = knn_topk_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    hits = approx.join(exact, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    nq = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 100 == 0)
        .agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    )
    return nq.crossJoin(F.broadcast(hits)).select(
        "n_queries",
        F.lit(5).cast("long").alias("k"),
        (1000 * F.col("n_hits") >= 200 * 5 * F.col("n_queries"))
        .cast("long")
        .alias("ok_recall"),
    )


QUERIES["ivf_recall_contract"] = ivf_recall_contract
ORACLES["ivf_recall_contract"] = """
    SELECT count(*)::BIGINT AS n_queries,
           5::BIGINT AS k,
           1::BIGINT AS ok_recall
    FROM embeddings WHERE vec_id % 100 = 0
"""


# --- 5. Sweep-line max concurrency --------------------------------------------
def max_concurrent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation, the maximum number of SIMULTANEOUSLY open orders —
    an order is open from o_orderdate through its last line shipment.
    The classic interval-concurrency question answered by a sweep
    line, not an interval self-join: +1 at open, −1 the day after
    close, per-day delta aggregation, then one running sum per nation.

    100 TB: two shuffles total (order→last-ship agg, then
    (nation, day) delta agg with map-side combine); the running-sum
    window partitions by nation over ~thousands of distinct days —
    bounded state, no O(n²) interval join anywhere. Pure integer."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.to_date("o_orderdate").alias("d0")
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("sd")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    last_ship = l.groupBy("l_orderkey").agg(F.max("sd").alias("d1_raw"))
    # Clamp the close to >= the open: the synthetic data has orders
    # whose last shipment PREDATES the order date (291/1500 at
    # sf0.001), and an inverted span would put the sweep's −1 before
    # its +1 — the running sum dips negative and concurrency
    # undercounts. Caught by this wave's independent brute-force test
    # (the oracle shared the bug — same window formulation).
    spans = (
        o.join(last_ship, o["o_orderkey"] == last_ship["l_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])  # SF-scaled: AQE decides
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select("n_name", "d0", F.greatest("d0", "d1_raw").alias("d1"))
    )
    deltas = (
        spans.select("n_name", F.col("d0").alias("d"), F.lit(1).alias("delta"))
        .unionByName(
            spans.select(
                "n_name", F.date_add("d1", 1).alias("d"), F.lit(-1).alias("delta")
            )
        )
        .groupBy("n_name", "d")
        .agg(F.sum("delta").cast("long").alias("dd"))
    )
    w = (
        Window.partitionBy("n_name")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        deltas.withColumn("open_now", F.sum("dd").over(w))
        .groupBy("n_name")
        .agg(F.max("open_now").cast("long").alias("max_concurrent"))
        .orderBy("n_name")
    )


QUERIES["max_concurrent_orders"] = max_concurrent_orders
ORACLES["max_concurrent_orders"] = """
    WITH spans0 AS (
      SELECT n.n_name,
             CAST(o.o_orderdate AS DATE) AS d0,
             (SELECT CAST(max(l.l_shipdate) AS DATE)
              FROM lineitem l WHERE l.l_orderkey = o.o_orderkey) AS d1_raw
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    ), spans AS (
      -- drop order-less spans FIRST (matches the Spark inner join),
      -- then clamp inverted spans (last ship before order date exists
      -- in the data) or the sweep's -1 lands before its +1
      SELECT n_name, d0, greatest(d0, d1_raw) AS d1
      FROM spans0 WHERE d1_raw IS NOT NULL
    ), deltas AS (
      SELECT n_name, d, CAST(sum(delta) AS BIGINT) AS dd FROM (
        SELECT n_name, d0 AS d, 1 AS delta FROM spans
        UNION ALL
        SELECT n_name, d1 + INTERVAL 1 DAY, -1 FROM spans
      ) GROUP BY 1, 2
    ), running AS (
      SELECT n_name,
             sum(dd) OVER (PARTITION BY n_name ORDER BY d
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS open_now
      FROM deltas
    )
    SELECT n_name, CAST(max(open_now) AS BIGINT) AS max_concurrent
    FROM running GROUP BY n_name ORDER BY n_name
"""


# --- 6. Running-max drawdown ---------------------------------------------------
def revenue_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation, the maximum drawdown of the DAILY revenue series:
    max over days of (running peak − today) in exact cents — the
    standard worst-drop metric, one window pass after the daily
    aggregation. Integer end to end (DECIMAL cents), so the hash
    compares exactly.

    100 TB: daily pre-aggregation shrinks the window input to
    (nations × days) rows; the running max is a single ordered pass
    per nation partition — no self-join over days."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        cents("o_totalprice").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        o.join(c, o["o_custkey"] == c["c_custkey"])  # SF-scaled: AQE decides
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", "d")
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    w = (
        Window.partitionBy("n_name")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        daily.withColumn("peak", F.max("rev").over(w))
        .groupBy("n_name")
        .agg(
            F.max(F.col("peak") - F.col("rev")).cast("long").alias("max_drawdown_cents")
        )
        .orderBy("n_name")
    )


QUERIES["revenue_max_drawdown"] = revenue_max_drawdown
ORACLES["revenue_max_drawdown"] = """
    WITH daily AS (
      SELECT n.n_name, CAST(o.o_orderdate AS DATE) AS d,
             CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    )
    SELECT n_name,
           CAST(max(peak - rev) AS BIGINT) AS max_drawdown_cents
    FROM (
      SELECT n_name, rev,
             max(rev) OVER (PARTITION BY n_name ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS peak
      FROM daily
    )
    GROUP BY n_name ORDER BY n_name
"""


# --- 8. Rank-biased overlap (RBO) between two rankers --------------------------
#
# Pinned p=0.9 weights as integer micro-literals (floor(0.9^(d-1)·1e6))
# — constants shared verbatim by both engines, so no transcendental is
# evaluated at query time (the sin/cos/ln lesson: never floor
# engine-computed transcendentals at fine grain).
_RBO_W = [1000000, 900000, 810000, 729000, 656100,
          590490, 531441, 478296, 430467, 387420]
_RBO_DEPTH = len(_RBO_W)


def rbo_rank_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) at depth 10, p = 0.9,
    between two document rankers: A = alpha-ratio quality score,
    B = raw length (n_chars) — the ranking-drift metric that, unlike
    Spearman, weights the TOP of the list (what retrieval/eval cares
    about). Prefix agreements inter_d are exact integers; the weighted
    sum uses multiply-before-divide floor terms, so the whole row is
    BIGINT-exact cross-engine. RBO_min = (1−p)/1e7 · rbo_wsum.

    100 TB: both top-10s come from orderBy().limit() — map-side
    partial top-k, one tiny final merge; the agreement join is
    10×10."""
    d = load_table(spark, sf_dir, "documents")
    alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z ]", ""))
    score = F.floor(
        alpha.cast("double") / (F.length("text").cast("double") + 1.0) * 1000000
    ).cast("long")
    scored = d.select("doc_id", score.alias("s"), "n_chars")
    top_a = (
        scored.orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(_RBO_DEPTH)
        .select("doc_id", F.row_number().over(
            Window.orderBy(F.desc("s"), F.asc("doc_id"))
        ).alias("ra"))
    )
    top_b = (
        scored.orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(_RBO_DEPTH)
        .select("doc_id", F.row_number().over(
            Window.orderBy(F.desc("n_chars"), F.asc("doc_id"))
        ).alias("rb"))
    )
    j = top_a.join(top_b, "doc_id").select(
        F.greatest("ra", "rb").alias("dmin")
    )
    # coalesce: when the two top-10s are DISJOINT the join is empty and
    # a bare sum would publish NULL for every column (both engines —
    # the hash would stay green on the wrong row); RBO of disjoint
    # rankings is 0 (review catch)
    inters = [
        F.coalesce(F.sum((F.col("dmin") <= d_).cast("long")), F.lit(0))
        .cast("long")
        .alias(f"inter_{d_}")
        for d_ in range(1, _RBO_DEPTH + 1)
    ]
    agg = j.agg(*inters)
    wsum = None
    for d_ in range(1, _RBO_DEPTH + 1):
        term = F.expr(
            f"CAST({_RBO_W[d_ - 1]}L * inter_{d_} * 10 div {d_} AS BIGINT)"
        )
        wsum = term if wsum is None else wsum + term
    return agg.select(
        *[F.col(f"inter_{d_}").cast("long") for d_ in range(1, _RBO_DEPTH + 1)],
        wsum.cast("long").alias("rbo_wsum"),
    )


QUERIES["rbo_rank_overlap"] = rbo_rank_overlap
_RBO_INTER_SQL = ",\n           ".join(
    f"CAST(coalesce(sum(CASE WHEN dmin <= {d_} THEN 1 ELSE 0 END), 0) AS BIGINT)"
    f" AS inter_{d_}"
    for d_ in range(1, _RBO_DEPTH + 1)
)
_RBO_WSUM_SQL = " + ".join(
    f"({_RBO_W[d_ - 1]} * coalesce(sum(CASE WHEN dmin <= {d_} THEN 1 ELSE 0 END), 0)"
    f" * 10 // {d_})"
    for d_ in range(1, _RBO_DEPTH + 1)
)
ORACLES["rbo_rank_overlap"] = f"""
    WITH scored AS (
      SELECT doc_id,
             CAST(FLOOR(CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
                  / (CAST(length(text) AS DOUBLE) + 1.0) * 1000000) AS BIGINT) AS s,
             n_chars
      FROM documents
    ), top_a AS (
      SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS ra
      FROM scored ORDER BY s DESC, doc_id ASC LIMIT {_RBO_DEPTH}
    ), top_b AS (
      SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rb
      FROM scored ORDER BY n_chars DESC, doc_id ASC LIMIT {_RBO_DEPTH}
    ), j AS (
      SELECT greatest(ra, rb) AS dmin FROM top_a JOIN top_b USING (doc_id)
    )
    SELECT {_RBO_INTER_SQL},
           CAST({_RBO_WSUM_SQL} AS BIGINT) AS rbo_wsum
    FROM j
"""


# --- 9. Cumulative gains / lift deciles ----------------------------------------
def cumulative_gains_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gains table for the alpha-ratio quality score against
    the lang='en' label: rank all docs by score (doc_id tiebreak),
    split into 10 equal-rank deciles, and report cumulative captured
    positives plus gains (share of all positives) and lift (vs the
    base rate) in exact milli-units — the model-eval curve behind
    'how much of the good data does the top decile hold'.

    Integer discipline: decile = (rn−1)·10 div n; gains =
    cum_pos·1000 div total_pos; lift = cum_pos·n·1000 div
    (total_pos·cum_n) — multiply-before-divide, int64 headroom to
    ~sf100 documented (cum_pos·n·1000 < 2^63 up to ~3e7 docs with
    ~3e7 positives; coarsen to micro→milli beyond).

    100 TB: NO data-scaled global sort — the exact global rank comes
    from the repo's two-phase bucketed form (the ks_two_sample
    pattern): a bounded score-band bucket prefix (101 buckets over the
    [0, 1e6] score domain) plus a within-bucket row_number, windows
    partitioned per bucket."""
    from etl_extractor_spark.operators.checkpoints import reliable_checkpoint

    d = load_table(spark, sf_dir, "documents")
    alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z ]", ""))
    score = F.floor(
        alpha.cast("double") / (F.length("text").cast("double") + 1.0) * 1000000
    ).cast("long")
    scored = d.select(
        "doc_id", score.alias("s"), (F.col("lang") == "en").cast("long").alias("y")
    )
    # two-phase exact global rank over (s DESC, doc_id ASC): bucket by
    # score band, prefix-count the rows in HIGHER bands (bounded —
    # ≤101 buckets), then row_number only within each band.
    # MATERIALIZED once: the first cut re-executed the corpus regexp
    # pass ~5× through the bcounts/offsets/tot/deciles branches and
    # went 12.7× superlinear at the 500k-doc decade probe (147 s);
    # with the checkpoint + bucket-derived totals it is one text pass.
    bucketed = reliable_checkpoint(
        scored.select("doc_id", "s", "y", F.expr("CAST(s div 10000 AS BIGINT)").alias("b"))
    )
    bstats = bucketed.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("bn"),
        F.sum("y").cast("long").alias("bpos"),
    )
    wpfx = (
        Window.orderBy(F.desc("b"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bstats.select(
        "b", F.coalesce(F.sum("bn").over(wpfx), F.lit(0)).cast("long").alias("off")
    )
    # global totals from the bucket stats (bounded), never a second
    # pass over the ranked corpus
    tot = bstats.agg(
        F.sum("bn").cast("long").alias("n"),
        F.sum("bpos").cast("long").alias("pos"),
    )
    win_b = Window.partitionBy("b").orderBy(F.desc("s"), F.asc("doc_id"))
    ranked = (
        bucketed.join(F.broadcast(offsets), "b")
        .select(
            "y",
            (F.col("off") + F.row_number().over(win_b)).cast("long").alias("rn"),
        )
    )
    deciles = (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.expr("CAST((rn - 1) * 10 div n AS BIGINT) + 1").alias("decile"),
            "y",
            "n",
            "pos",
        )
        .groupBy("decile", "n", "pos")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("y").cast("long").alias("d_pos"),
        )
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    # pos = 0 guard (review catch): Spark div would return NULL while
    # DuckDB // raises — the divergent-failure-mode class; an
    # all-negative corpus legitimately has gains/lift = 0
    gains = "CAST(CASE WHEN pos = 0 THEN 0 ELSE cum_pos * 1000 div pos END AS BIGINT)"
    lift = (
        "CAST(CASE WHEN pos = 0 THEN 0 "
        "ELSE cum_pos * n * 1000 div (pos * cum_n) END AS BIGINT)"
    )
    return (
        deciles.withColumn("cum_n", F.sum("n_rows").over(wc).cast("long"))
        .withColumn("cum_pos", F.sum("d_pos").over(wc).cast("long"))
        .select(
            "decile",
            "n_rows",
            "cum_pos",
            F.expr(gains).alias("gains_milli"),
            F.expr(lift).alias("lift_milli"),
        )
        .orderBy("decile")
    )


QUERIES["cumulative_gains_deciles"] = cumulative_gains_deciles
ORACLES["cumulative_gains_deciles"] = """
    WITH scored AS (
      SELECT doc_id,
             CAST(FLOOR(CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
                  / (CAST(length(text) AS DOUBLE) + 1.0) * 1000000) AS BIGINT) AS s,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ), ranked AS (
      SELECT y, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rn FROM scored
    ), tot AS (
      SELECT count(*)::BIGINT AS n, CAST(sum(y) AS BIGINT) AS pos FROM ranked
    ), deciles AS (
      SELECT ((rn - 1) * 10 // n) + 1 AS decile, n, pos,
             count(*)::BIGINT AS n_rows, CAST(sum(y) AS BIGINT) AS d_pos
      FROM ranked, tot GROUP BY 1, 2, 3
    )
    SELECT CAST(decile AS BIGINT) AS decile, n_rows,
           CAST(sum(d_pos) OVER wc AS BIGINT) AS cum_pos,
           CAST(CASE WHEN pos = 0 THEN 0
                ELSE sum(d_pos) OVER wc * 1000 // pos END AS BIGINT) AS gains_milli,
           CAST(CASE WHEN pos = 0 THEN 0
                ELSE sum(d_pos) OVER wc * n * 1000
                     // (pos * sum(n_rows) OVER wc) END AS BIGINT) AS lift_milli
    FROM deciles
    WINDOW wc AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY decile
"""


# --- 10. Linear multi-touch attribution -----------------------------------------
def linear_attribution_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-split) multi-touch attribution: each purchase's
    1000 milli-credits split equally across the user's touches since
    their previous purchase (the conversion window), aggregated per
    channel. Complements ``purchase_attribution`` (first/last-touch
    counting, plans/analytics3.py): same window machinery, fractional
    credit model.

    Conversion windows WITHOUT an interval join: p_after = running
    purchase count from the stream's END (one descending-order window
    per user) — touches and their converting purchase share the same
    (user, p_after) key, so a groupBy sizes each window and an integer
    1000 div k split credits it. Two shuffles on user_id total; at
    100 TB this is the attribution pattern that avoids per-purchase
    rescans of history."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    wdesc = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = e.withColumn(
        "p_after",
        F.sum((F.col("event_type") == "purchase").cast("long")).over(wdesc),
    ).filter(F.col("p_after") > 0)
    touches = tagged.filter(F.col("event_type") != "purchase")
    ksize = touches.groupBy("user_id", "p_after").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    return (
        touches.join(ksize, ["user_id", "p_after"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.sum(F.expr("CAST(1000 div k AS BIGINT)")).cast("long").alias(
                "credit_milli"
            ),
        )
        .orderBy("event_type")
    )


QUERIES["linear_attribution_credit"] = linear_attribution_credit
ORACLES["linear_attribution_credit"] = """
    WITH tagged AS (
      SELECT user_id, event_type,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_after
      FROM events
    ), touches AS (
      SELECT user_id, event_type, p_after FROM tagged
      WHERE p_after > 0 AND event_type <> 'purchase'
    ), ksize AS (
      SELECT user_id, p_after, count(*)::BIGINT AS k
      FROM touches GROUP BY 1, 2
    )
    SELECT t.event_type,
           count(*)::BIGINT AS n_touches,
           CAST(sum(1000 // k) AS BIGINT) AS credit_milli
    FROM touches t JOIN ksize USING (user_id, p_after)
    GROUP BY t.event_type ORDER BY t.event_type
"""


# --- 13. Isotonic calibration via the PAVA closed form -------------------------
# score_micro div 5000 -> <=201 bins (runs lattice <=201² — bounded).
# Width chosen by MEASUREMENT (the set-space rule): this corpus's
# alpha-ratio scores all land in [975k, 1000k], so a 50k-wide bin put
# the whole corpus in ONE bin at every SF (vacuous PAVA); 5k-wide bins
# give 5+ bins with genuinely non-monotone rates (bin 195 runs ~0.73
# positive rate vs ~0.41 above it at sf1 — real violators to pool).
_ISO_BINS_DIV = 5000


def isotonic_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of the
    alpha-ratio score against the lang='en' label, via the pool-
    adjacent-violators CLOSED FORM over score bins: iso(b) =
    max_{i≤b} min_{j≥i} rate(i..j), where rate is the pooled positive
    rate of bins i..j. PAVA itself is sequential; the max-min form is
    a bounded O(B²) computation over B ≤ 201 bins — the distributable
    shape (one corpus pass to bin, then constant-size arithmetic).
    Rates are milli-quantized with multiply-before-divide floor
    division on both engines BEFORE the min/max lattice, so the whole
    row is integer-exact (a floor-quantized PAVA variant — the
    max_{i≤b} structure guarantees monotonicity regardless of inner
    quantization). The eval-suite calibration closer next to
    calibration_reliability (binned) and the stump/LOO encoders."""
    d = load_table(spark, sf_dir, "documents")
    alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z ]", ""))
    score = F.floor(
        alpha.cast("double") / (F.length("text").cast("double") + 1.0) * 1000000
    ).cast("long")
    bins = (
        d.select(
            score.alias("s"), (F.col("lang") == "en").cast("long").alias("y")
        )
        .select(F.expr(f"CAST(s div {_ISO_BINS_DIV} AS BIGINT)").alias("b"), "y")
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_b"),
            F.sum("y").cast("long").alias("pos_b"),
        )
    )
    wpf = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    pref = bins.select(
        "b",
        "n_b",
        "pos_b",
        F.sum("n_b").over(wpf).cast("long").alias("cn"),
        F.sum("pos_b").over(wpf).cast("long").alias("cp"),
    )
    i = pref.select(
        F.col("b").alias("i"),
        (F.col("cn") - F.col("n_b")).alias("cn0"),
        (F.col("cp") - F.col("pos_b")).alias("cp0"),
    )
    j = pref.select(
        F.col("b").alias("j"), F.col("cn").alias("cnj"), F.col("cp").alias("cpj")
    )
    # pooled milli-rate for every i<=j bin run (<=20301 rows at the
    # 201-bin cap), then the
    # min-over-suffix / max-over-prefix lattice
    runs = (
        i.join(j, F.col("i") <= F.col("j"))
        .select(
            "i",
            "j",
            F.expr(
                "CAST((cpj - cp0) * 1000 div (cnj - cn0) AS BIGINT)"
            ).alias("rate_milli"),
        )
    )
    minj = runs.groupBy("i").agg(F.min("rate_milli").alias("mi"))
    iso = (
        pref.select("b", "n_b", "pos_b")
        .join(minj, F.col("i") <= F.col("b"))
        .groupBy("b", "n_b", "pos_b")
        .agg(F.max("mi").cast("long").alias("iso_milli"))
    )
    return iso.orderBy("b")


QUERIES["isotonic_calibration_bins"] = isotonic_calibration_bins
ORACLES["isotonic_calibration_bins"] = f"""
    WITH scored AS (
      SELECT CAST(FLOOR(CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
                 / (CAST(length(text) AS DOUBLE) + 1.0) * 1000000) AS BIGINT)
                 // {_ISO_BINS_DIV} AS b,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ), bins AS (
      SELECT b, count(*)::BIGINT AS n_b, CAST(sum(y) AS BIGINT) AS pos_b
      FROM scored GROUP BY b
    ), pref AS (
      SELECT b, n_b, pos_b,
             CAST(sum(n_b) OVER w AS BIGINT) AS cn,
             CAST(sum(pos_b) OVER w AS BIGINT) AS cp
      FROM bins
      WINDOW w AS (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), runs AS (
      SELECT i.b AS i, jj.b AS j,
             CAST((jj.cp - (i.cp - i.pos_b)) * 1000
                  // (jj.cn - (i.cn - i.n_b)) AS BIGINT) AS rate_milli
      FROM pref i JOIN pref jj ON i.b <= jj.b
    ), minj AS (
      SELECT i, min(rate_milli) AS mi FROM runs GROUP BY i
    )
    SELECT p.b, p.n_b, p.pos_b,
           CAST(max(m.mi) AS BIGINT) AS iso_milli
    FROM pref p JOIN minj m ON m.i <= p.b
    GROUP BY p.b, p.n_b, p.pos_b
    ORDER BY p.b
"""


# --- 14. percentile_approx (GK) rank-audit contract ----------------------------
def percentile_approx_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-certifiable rank audit of Spark's ``percentile_approx``
    (the Greenwald-Khanna-style sketch behind most production
    percentile dashboards — a DIFFERENT sketch from the KLL family
    already certified by kll_quantile_contract): per event_type, the
    p50/p95/p99 estimates at accuracy=10000 must sit at an exact
    normalized rank within 1% of target, in the tie-robust INTERVAL
    form: the estimate's tie group spans ranks [lt+1, le], and the
    contract holds iff that span intersects [p·n − 1%·n, p·n + 1%·n]
    — all BIGINT (GK guarantees ≤ 1/accuracy = 0.01% rank error for
    SOME rank of the returned value, which with duplicated values is
    any rank inside the tie group, hence the interval test; a
    max-rank-only audit false-fails on a boundary tie). Completes the
    every-approx-function-certified story: approx_count_distinct,
    sampleBy, HLL/KLL/Theta, now percentile_approx."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    est = e.groupBy("event_type").agg(
        F.percentile_approx(
            "value", [p / 100.0 for p in (50, 95, 99)], 10000
        ).alias("q"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).select(
        "event_type",
        "n",
        *[F.element_at("q", k + 1).alias(f"e{p}") for k, p in enumerate((50, 95, 99))],
    )
    joined = e.join(F.broadcast(est), "event_type")

    def ok(p: int):
        # The estimate's TIE GROUP occupies ranks [lt+1, le]; GK
        # guarantees some rank in that span is within ε·n of p·n, so
        # the contract is INTERVAL intersection — auditing only the
        # max-rank (value <= est) breaks whenever a duplicated value
        # with multiplicity near the tolerance sits at the boundary
        # (review catch: 'view' already has a 1.06% tie at sf0.001 vs
        # the 1% tolerance).
        le = F.sum((F.col("value") <= F.col(f"e{p}")).cast("long"))
        lt = F.sum((F.col("value") < F.col(f"e{p}")).cast("long"))
        n = F.max("n")
        return (
            ((100 * le >= (p - 1) * n) & (100 * (lt + 1) <= (p + 1) * n))
            .cast("long")
            .alias(f"ok_p{p}")
        )

    return joined.groupBy("event_type").agg(
        F.max("n").alias("n_events"), ok(50), ok(95), ok(99)
    )


QUERIES["percentile_approx_contract"] = percentile_approx_contract
ORACLES["percentile_approx_contract"] = """
    SELECT event_type,
           COUNT(*)::BIGINT AS n_events,
           1::BIGINT AS ok_p50, 1::BIGINT AS ok_p95, 1::BIGINT AS ok_p99
    FROM events GROUP BY event_type
"""


# --- 16. Join-key skew report ---------------------------------------------------
def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-join skew diagnostic that decides salting / AQE skew
    handling: for the orders.o_custkey join key, exact key-frequency
    statistics — key count, row count, the heaviest key's share, the
    exact MEDIAN key frequency (via the bounded counts-of-counts walk,
    never a sort over keys), and the max/mean skew ratio, all integer
    milli. At 100 TB this one-row report is what tells you whether
    the big join needs salting BEFORE you burn a shuffle discovering
    it — frequencies aggregate with map-side combine, and the
    counts-of-counts domain is tiny."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    freq = o.groupBy("o_custkey").agg(F.count(F.lit(1)).cast("long").alias("c"))
    coc = freq.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("nk"))
    wpf = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = coc.select("c", F.sum("nk").over(wpf).cast("long").alias("ck"))
    tot = freq.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("c").cast("long").alias("n_rows"),
        F.max("c").cast("long").alias("max_c"),
    )
    # exact median key frequency: smallest c whose cumulative key
    # count reaches ceil(n_keys / 2) — the repo's order-statistic rank
    # convention, walked over the bounded counts-of-counts domain
    med = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("ck") * 2 >= F.col("n_keys"))
        .agg(F.min("c").cast("long").alias("median_c"))
    )
    return (
        tot.crossJoin(F.broadcast(med))
        .select(
            "n_keys",
            "n_rows",
            "max_c",
            "median_c",
            F.expr("CAST(max_c * 1000 div median_c AS BIGINT)").alias(
                "max_over_median_milli"
            ),
            F.expr("CAST(max_c * n_keys * 1000 div n_rows AS BIGINT)").alias(
                "max_over_mean_milli"
            ),
            F.expr("CAST(max_c * 1000 div n_rows AS BIGINT)").alias(
                "top_key_share_milli"
            ),
        )
    )


QUERIES["join_key_skew_report"] = join_key_skew_report
ORACLES["join_key_skew_report"] = """
    WITH freq AS (
      SELECT o_custkey, count(*)::BIGINT AS c FROM orders GROUP BY o_custkey
    ), coc AS (
      SELECT c, count(*)::BIGINT AS nk FROM freq GROUP BY c
    ), cum AS (
      SELECT c, CAST(sum(nk) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS ck
      FROM coc
    ), tot AS (
      SELECT count(*)::BIGINT AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
             CAST(max(c) AS BIGINT) AS max_c
      FROM freq
    ), med AS (
      SELECT CAST(min(c) AS BIGINT) AS median_c
      FROM cum, tot WHERE ck * 2 >= n_keys
    )
    SELECT n_keys, n_rows, max_c, median_c,
           CAST(max_c * 1000 // median_c AS BIGINT) AS max_over_median_milli,
           CAST(max_c * n_keys * 1000 // n_rows AS BIGINT) AS max_over_mean_milli,
           CAST(max_c * 1000 // n_rows AS BIGINT) AS top_key_share_milli
    FROM tot, med
"""


# --- 17. Nelson-Aalen cumulative hazard ----------------------------------------
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator H(t) = Σ_{t_j≤t}
    d_j/n_j over the customer-churn spans — the hazard-scale
    companion to km_survival_curve (KM estimates survival as a
    product; NA estimates cumulative hazard as a SUM, the form
    additive-risk models and hazard plots consume). Hangs off the
    SHARED _risk_table (which itself builds on _survival_spans), so
    neither the censoring definition nor the (t, d_events, censored,
    n_risk) machinery can drift from the KM/log-rank pair (the r5
    review lesson; the r7 review caught the first-cut copy and this
    now uses the extracted helper). ENTIRELY integer — each d_j/n_j
    term is floor-quantized to micro-units before the cumulative sum
    (no ln anywhere, so unlike KM there is no sentinel class at all).

    100 TB: one groupBy(customer), one bounded per-event-time walk
    (distinct durations ≤ dataset span in days — O(days) window, never
    O(customers))."""
    from etl_extractor_spark.plans.pipeline_ops import _risk_table

    wc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = _risk_table(spark, sf_dir)
    term = F.expr("CAST(d_events * 1000000 div n_risk AS BIGINT)")
    return (
        risk.withColumn("term_micro", term)
        .withColumn(
            "na_hazard_micro", F.sum("term_micro").over(wc).cast("long")
        )
        .filter(F.col("d_events") > 0)
        .select("t", "n_risk", "d_events", "na_hazard_micro")
        .orderBy("t")
    )


QUERIES["nelson_aalen_hazard"] = nelson_aalen_hazard


def _na_oracle() -> str:
    from etl_extractor_spark.plans.pipeline_ops import _survival_cte

    return f"""
    WITH spans AS ({_survival_cte()}),
    by_t AS (
      SELECT t, CAST(sum(event) AS BIGINT) AS d_events,
             CAST(sum(1 - event) AS BIGINT) AS censored
      FROM spans GROUP BY t
    ), tot AS (SELECT count(*)::BIGINT AS n_total FROM spans),
    risk AS (
      SELECT t, d_events,
             n_total - coalesce(sum(d_events + censored)
                 OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS n_risk
      FROM by_t, tot
    )
    SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d_events,
           CAST(sum(d_events * 1000000 // n_risk)
                OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS BIGINT) AS na_hazard_micro
    FROM risk
    QUALIFY d_events > 0
    ORDER BY t
"""


ORACLES["nelson_aalen_hazard"] = _na_oracle()


# --- 18. Sequential probability ratio test (SPRT) ------------------------------
#
# Wald's SPRT for a Bernoulli rate, H0: p = 0.40 vs H1: p = 0.50 at
# α = β = 0.05, over the daily click/purchase stream (success =
# purchase; measured purchase share ≈ 0.497 at every SF, so the test
# DECIDES H1 at each scale — non-vacuity by measurement). The whole
# statistic is integer: per-trial log-likelihood increments are
# PINNED micro-nat literals computed offline (ln(p1/p0), ln(q1/q0) —
# no engine-side transcendental, the RBO-weights discipline), so
# LLR_n = k·A + (n−k)·B is exact BIGINT, compared against the pinned
# Wald thresholds ±ln((1−β)/α)·1e6.
_SPRT_A = 223143  # floor(ln(0.50/0.40) * 1e6)
_SPRT_B = -182322  # floor(ln(0.50/0.60) * 1e6)  (floor of a negative)
_SPRT_BOUND = 2944438  # floor(ln(0.95/0.05) * 1e6)


def sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-by-day Wald SPRT trace: cumulative trials (click+purchase
    events), successes (purchases), the exact integer LLR, and the
    per-day decision flag (+1 accept H1, −1 accept H0, 0 continue) —
    the sequential-experimentation closer next to the fixed-horizon
    z/χ²/CUPED suite (peeking-safe early stopping is the point of
    SPRT).

    100 TB: one map-side-combined (day) aggregation over a filtered
    event scan, then an O(days) cumulative window — bounded state."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("trials"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("conv"),
    )
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    llr = (
        F.col("cum_conv") * F.lit(_SPRT_A)
        + (F.col("cum_trials") - F.col("cum_conv")) * F.lit(_SPRT_B)
    )
    decision = (
        F.when(F.col("llr_micro") >= _SPRT_BOUND, 1)
        .when(F.col("llr_micro") <= -_SPRT_BOUND, -1)
        .otherwise(0)
    )
    return (
        daily.withColumn("cum_trials", F.sum("trials").over(wc).cast("long"))
        .withColumn("cum_conv", F.sum("conv").over(wc).cast("long"))
        .withColumn("llr_micro", llr.cast("long"))
        .select(
            "day",
            "cum_trials",
            "cum_conv",
            "llr_micro",
            decision.cast("long").alias("decision"),
        )
        .orderBy("day")
    )


QUERIES["sprt_sequential_test"] = sprt_sequential_test
ORACLES["sprt_sequential_test"] = f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             count(*)::BIGINT AS trials,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS conv
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1
    ), cum AS (
      SELECT day,
             CAST(sum(trials) OVER w AS BIGINT) AS cum_trials,
             CAST(sum(conv) OVER w AS BIGINT) AS cum_conv
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT day, cum_trials, cum_conv,
           CAST(cum_conv * {_SPRT_A} + (cum_trials - cum_conv) * ({_SPRT_B})
                AS BIGINT) AS llr_micro,
           CAST(CASE WHEN cum_conv * {_SPRT_A} + (cum_trials - cum_conv) * ({_SPRT_B})
                          >= {_SPRT_BOUND} THEN 1
                     WHEN cum_conv * {_SPRT_A} + (cum_trials - cum_conv) * ({_SPRT_B})
                          <= -{_SPRT_BOUND} THEN -1
                     ELSE 0 END AS BIGINT) AS decision
    FROM cum ORDER BY day
"""
