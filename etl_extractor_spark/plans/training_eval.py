"""Training-corpus evaluation & preparation operators (round 5).

Metrics a large-scale training-data pipeline runs AFTER the dedup /
filter / split stages to certify what it built: corpus novelty,
class balance, pairwise overlap (ROUGE-style), sketch-accuracy audit,
and tokenizer fertility. All pure Catalyst (no Python in the hot
path), each with an exact DuckDB oracle; ratio outputs are quantized
with the integer floor(2a+b)/(2b) half-up idiom so both engines round
identically (no float-tie hazard).

Reference provenance: the reference ETL (nilfredb/ETL-Extractor,
transform/clean_data.py) normalizes/dedups text but has no corpus
analytics; these extend SURVEY §2's text surface the way its tests
extend cleaning — same normalize_text token contract
(functions/text.py:19), new aggregate semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_extractor_spark.functions import textstats as ts
from etl_extractor_spark.sources.parquet import load_table

# Shared DuckDB token idiom (ASCII \s collapse + trim + split) — the
# exact twin of functions/text.normalize_text + textstats.tokens.
_TOKS = (
    r"string_split(trim(regexp_replace(CAST(text AS VARCHAR), '\s+', ' ', 'g')), ' ')"
)

QUERIES: dict = {}
ORACLES: dict = {}


def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram NOVELTY: the fraction of a doc's distinct
    bigrams whose FIRST corpus occurrence (minimum doc_id) is this doc
    — the standard freshness metric when appending a new crawl slice
    to an existing corpus (novelty ~0 ⇒ the slice adds nothing).

    Plan shape at 100 TB: distinct (doc, bigram) pairs explode once;
    the global first-claim is a groupBy(bigram).min(doc_id) with
    map-side partial min; the claim table joins back on the SAME
    bigram key (one shuffle reused), then a per-doc count/sum — no
    window, no collect, cardinality bounded by distinct bigrams.
    Novelty rate is emitted in basis points via integer half-up
    division (engine-identical)."""
    d = load_table(spark, sf_dir, "documents")
    toks = ts.tokens("text")
    n = F.size(toks)
    pairs = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("w1"),
        F.slice(toks, 2, n - 1).alias("w2"),
    )
    grams = (
        d.select("doc_id", F.explode(pairs).alias("p"))
        .select(
            "doc_id",
            F.concat_ws(" ", F.col("p.w1"), F.col("p.w2")).alias("gram"),
        )
        .filter((F.length("p.w1") > 0) & (F.length("p.w2") > 0))
        .distinct()
    )
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    # SMJ pin: Catalyst sizes the exploded relations at PRE-explode file
    # size and would broadcast the corpus-scaled first-claim table
    return (
        grams.join(first.hint("merge"), "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum((F.col("doc_id") == F.col("first_doc")).cast("long")).alias(
                "n_novel"
            ),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_novel",
            F.expr("(2 * n_novel * 10000 + n_bigrams) div (2 * n_bigrams)").alias(
                "novelty_bps"
            ),
        )
    )


NGRAM_NOVELTY_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         generate_subscripts({_TOKS}, 1) AS i,
         unnest({_TOKS}) AS tok
  FROM documents
), grams AS (
  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok AS gram
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
  WHERE len(a.tok) > 0 AND len(b.tok) > 0
), first_claim AS (
  SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram
)
SELECT g.doc_id,
       count(*) AS n_bigrams,
       CAST(sum(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       (2 * CAST(sum(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END) AS BIGINT)
          * 10000 + count(*)) // (2 * count(*)) AS novelty_bps
FROM grams g JOIN first_claim f USING (gram)
GROUP BY g.doc_id
"""

QUERIES["ngram_novelty_score"] = ngram_novelty_score
ORACLES["ngram_novelty_score"] = NGRAM_NOVELTY_SQL


def class_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: keep exactly K docs per language,
    K = the minority class size, selected by a deterministic md5 rank
    (uniform, engine-identical) — the standard rebalancing step before
    training a classifier on skewed label distributions.

    Scale: the per-class rank is a window over (lang), which shuffles
    once on the class key; K arrives as a broadcast 1-row aggregate
    (no driver round-trip, no collect). Hot classes are bounded by the
    window's streaming rank (no per-class materialization)."""
    d = load_table(spark, sf_dir, "documents")
    k = F.broadcast(
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.min("n").alias("k"))
    )
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10).cast(
        "long"
    )
    w = Window.partitionBy("lang").orderBy(F.col("h"), F.col("doc_id"))
    return (
        d.select("doc_id", "lang", h.alias("h"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .join(k, F.col("rnk") <= F.col("k"))
        .select("doc_id", "lang", "rnk")
    )


CLASS_BALANCED_SQL = """
WITH k AS (
  SELECT min(n) AS k FROM (SELECT count(*) AS n FROM documents GROUP BY lang)
), ranked AS (
  SELECT doc_id, lang,
         CAST(row_number() OVER (
           PARTITION BY lang
           ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                         AS BIGINT), doc_id) AS BIGINT) AS rnk
  FROM documents
)
SELECT doc_id, lang, rnk FROM ranked, k WHERE rnk <= k.k
"""

QUERIES["class_balanced_sample"] = class_balanced_sample
ORACLES["class_balanced_sample"] = CLASS_BALANCED_SQL


def rouge1_adjacent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 (distinct-unigram precision/recall/F1) between the docs
    of each (2k, 2k+1) doc_id pair — the summarization/paraphrase
    overlap metric, here over synthetic pairs so the contract is
    oracle-exact. P = |A∩B|/|A| (candidate 2k), R = |A∩B|/|B|,
    F1 = 2PR/(P+R); all three emitted in basis points via integer
    half-up division (F1 = 2·i·10000 / (|A|+|B|) after simplifying
    with distinct-set sizes — exact integer arithmetic, no float).

    Scale: distinct token sets explode once; the intersection is one
    equi-join on (pair, token) with map-side distinct; per-pair sizes
    come from the same exploded relation — two shuffles total on keys
    that scale with distinct tokens, never |A|×|B|."""
    d = load_table(spark, sf_dir, "documents")
    grams = (
        d.select(
            F.expr("doc_id div 2").alias("pair_id"),
            (F.col("doc_id") % 2).alias("side"),
            F.explode(ts.tokens("text")).alias("tok"),
        )
        .filter(F.length("tok") > 0)
        .distinct()
    )
    sizes = (
        grams.groupBy("pair_id")
        .pivot("side", [0, 1])
        .agg(F.count(F.lit(1)))
        .select(
            "pair_id",
            F.col("0").alias("n_a"),
            F.col("1").alias("n_b"),
        )
        .filter(F.col("n_a").isNotNull() & F.col("n_b").isNotNull())
    )
    inter = (
        grams.filter(F.col("side") == 0)
        .select("pair_id", "tok")
        .join(
            grams.filter(F.col("side") == 1)
            .select("pair_id", "tok")
            .hint("merge"),  # exploded side: pre-explode size misestimate
            ["pair_id", "tok"],
        )
        .groupBy("pair_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        sizes.join(inter.hint("merge"), "pair_id", "left")
        .select(
            "pair_id",
            "n_a",
            "n_b",
            F.coalesce("i", F.lit(0)).alias("overlap"),
            F.expr(
                "(2 * coalesce(i, 0) * 10000 + n_a) div (2 * n_a)"
            ).alias("p_bps"),
            F.expr(
                "(2 * coalesce(i, 0) * 10000 + n_b) div (2 * n_b)"
            ).alias("r_bps"),
            F.expr(
                "(2 * 2 * coalesce(i, 0) * 10000 + (n_a + n_b)) div (2 * (n_a + n_b))"
            ).alias("f1_bps"),
        )
    )


ROUGE1_SQL = f"""
WITH grams AS (
  SELECT DISTINCT doc_id // 2 AS pair_id, doc_id % 2 AS side, tok
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
  WHERE len(tok) > 0
), sizes AS (
  SELECT pair_id,
         count(*) FILTER (side = 0) AS n_a,
         count(*) FILTER (side = 1) AS n_b
  FROM grams GROUP BY pair_id
  HAVING count(*) FILTER (side = 0) > 0 AND count(*) FILTER (side = 1) > 0
), inter AS (
  SELECT a.pair_id, count(*) AS i
  FROM grams a JOIN grams b
    ON a.pair_id = b.pair_id AND a.tok = b.tok AND a.side = 0 AND b.side = 1
  GROUP BY a.pair_id
)
SELECT s.pair_id, s.n_a, s.n_b,
       coalesce(i.i, 0) AS overlap,
       (2 * coalesce(i.i, 0) * 10000 + s.n_a) // (2 * s.n_a) AS p_bps,
       (2 * coalesce(i.i, 0) * 10000 + s.n_b) // (2 * s.n_b) AS r_bps,
       (2 * 2 * coalesce(i.i, 0) * 10000 + (s.n_a + s.n_b))
         // (2 * (s.n_a + s.n_b)) AS f1_bps
FROM sizes s LEFT JOIN inter i USING (pair_id)
"""

QUERIES["rouge1_adjacent_pairs"] = rouge1_adjacent_pairs
ORACLES["rouge1_adjacent_pairs"] = ROUGE1_SQL


MINHASH_AUDIT_SEEDS = 16


def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy AUDIT: for each (2k, 2k+1) doc pair, the
    16-seed MinHash Jaccard estimate (fraction of seeds whose min-hash
    collides) against the EXACT distinct-unigram Jaccard, with the
    absolute error in micro-units — the measurement a pipeline runs on
    a sample to certify its LSH dedup threshold before a 100 TB sweep.
    Both the estimator and the truth are engine-identical integer
    arithmetic (md5-48bit mins; half-up integer division), so the
    driver hash-checks the sketch's ERROR itself, not just its output.

    Scale: seeds explode ×16 on the already-distinct (doc, token)
    relation (map-only), per-(doc, seed) min is one partial-agg
    shuffle; everything downstream is per-pair-sized."""
    d = load_table(spark, sf_dir, "documents")
    grams = (
        d.select(
            F.expr("doc_id div 2").alias("pair_id"),
            (F.col("doc_id") % 2).alias("side"),
            F.explode(ts.tokens("text")).alias("tok"),
        )
        .filter(F.length("tok") > 0)
        .distinct()
    )
    seeded = grams.select(
        "pair_id",
        "side",
        F.explode(F.sequence(F.lit(0), F.lit(MINHASH_AUDIT_SEEDS - 1))).alias("seed"),
        "tok",
    ).select(
        "pair_id",
        "side",
        "seed",
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("seed").cast("string"), F.col("tok"))),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    mins = seeded.groupBy("pair_id", "side", "seed").agg(F.min("h").alias("mh"))
    est = (
        mins.groupBy("pair_id", "seed")
        .pivot("side", [0, 1])
        .agg(F.first("mh"))
        .filter(F.col("0").isNotNull() & F.col("1").isNotNull())
        .groupBy("pair_id")
        .agg(F.sum((F.col("0") == F.col("1")).cast("long")).alias("seeds_match"))
    )
    inter = (
        grams.filter(F.col("side") == 0)
        .select("pair_id", "tok")
        .join(
            grams.filter(F.col("side") == 1)
            .select("pair_id", "tok")
            .hint("merge"),  # exploded side: pre-explode size misestimate
            ["pair_id", "tok"],
        )
        .groupBy("pair_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sizes = (
        grams.groupBy("pair_id")
        .agg(
            F.sum((F.col("side") == 0).cast("long")).alias("n_a"),
            F.sum((F.col("side") == 1).cast("long")).alias("n_b"),
        )
        .filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
    )
    k = MINHASH_AUDIT_SEEDS
    return (
        sizes.join(inter.hint("merge"), "pair_id", "left")
        .join(est.hint("merge"), "pair_id")  # est is pair-count-scaled
        .select(
            "pair_id",
            "seeds_match",
            F.coalesce("i", F.lit(0)).alias("inter_sz"),
            (F.col("n_a") + F.col("n_b") - F.coalesce("i", F.lit(0))).alias("union_sz"),
        )
        .select(
            "pair_id",
            "seeds_match",
            "inter_sz",
            "union_sz",
            F.expr(f"seeds_match * 1000000 div {k}").alias("est_micro"),
            F.expr(
                "(2 * inter_sz * 1000000 + union_sz) div (2 * union_sz)"
            ).alias("exact_micro"),
            F.abs(
                F.expr(f"seeds_match * 1000000 div {k}")
                - F.expr("(2 * inter_sz * 1000000 + union_sz) div (2 * union_sz)")
            ).alias("err_micro"),
        )
    )


MINHASH_AUDIT_SQL = f"""
WITH grams AS (
  SELECT DISTINCT doc_id // 2 AS pair_id, doc_id % 2 AS side, tok
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
  WHERE len(tok) > 0
), seeded AS (
  SELECT pair_id, side, s.seed,
         CAST(('0x' || substr(md5(CAST(s.seed AS VARCHAR) || ':' || tok), 1, 12))
              AS BIGINT) AS h
  FROM grams, (SELECT unnest(range({MINHASH_AUDIT_SEEDS})) AS seed) s
), mins AS (
  SELECT pair_id, side, seed, min(h) AS mh FROM seeded GROUP BY 1, 2, 3
), est AS (
  SELECT a.pair_id,
         CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
           AS seeds_match
  FROM mins a JOIN mins b
    ON a.pair_id = b.pair_id AND a.seed = b.seed AND a.side = 0 AND b.side = 1
  GROUP BY a.pair_id
), inter AS (
  SELECT a.pair_id, count(*) AS i
  FROM grams a JOIN grams b
    ON a.pair_id = b.pair_id AND a.tok = b.tok AND a.side = 0 AND b.side = 1
  GROUP BY a.pair_id
), sizes AS (
  SELECT pair_id,
         count(*) FILTER (side = 0) AS n_a,
         count(*) FILTER (side = 1) AS n_b
  FROM grams GROUP BY pair_id
  HAVING count(*) FILTER (side = 0) > 0 AND count(*) FILTER (side = 1) > 0
)
SELECT s.pair_id, e.seeds_match,
       coalesce(i.i, 0) AS inter_sz,
       s.n_a + s.n_b - coalesce(i.i, 0) AS union_sz,
       e.seeds_match * 1000000 // {MINHASH_AUDIT_SEEDS} AS est_micro,
       (2 * coalesce(i.i, 0) * 1000000 + (s.n_a + s.n_b - coalesce(i.i, 0)))
         // (2 * (s.n_a + s.n_b - coalesce(i.i, 0))) AS exact_micro,
       abs(e.seeds_match * 1000000 // {MINHASH_AUDIT_SEEDS}
           - (2 * coalesce(i.i, 0) * 1000000
              + (s.n_a + s.n_b - coalesce(i.i, 0)))
             // (2 * (s.n_a + s.n_b - coalesce(i.i, 0)))) AS err_micro
FROM sizes s LEFT JOIN inter i USING (pair_id) JOIN est e USING (pair_id)
"""

QUERIES["minhash_estimate_error"] = minhash_estimate_error
ORACLES["minhash_estimate_error"] = MINHASH_AUDIT_SQL


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language: BPE-ish regex tokens per
    whitespace word (in basis points) plus chars-per-word — the
    standard multilingual tokenizer-cost report (a language whose
    fertility is 2× trains at half the effective context). Pure
    Catalyst: two regex/array expressions per row, one partial-agg
    shuffle on lang; integer half-up ratios keep the oracle exact."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.col("text").cast("string"), r"\s+", " "))
    return (
        d.select(
            "lang",
            ts.token_count("text").alias("ws"),
            ts.bpe_token_count("text").alias("bpe"),
            F.length(norm).alias("chars"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws").alias("ws_tokens"),
            F.sum("bpe").alias("bpe_tokens"),
            F.sum("chars").alias("n_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "ws_tokens",
            "bpe_tokens",
            F.expr(
                "(2 * bpe_tokens * 10000 + ws_tokens) div (2 * ws_tokens)"
            ).alias("fertility_bps"),
            F.expr("(2 * n_chars * 10000 + ws_tokens) div (2 * ws_tokens)").alias(
                "chars_per_word_bps"
            ),
        )
    )


TOKENIZER_FERTILITY_SQL = rf"""
WITH per_doc AS (
  SELECT lang,
         CAST(len({_TOKS}) AS BIGINT) AS ws,
         CAST(len(regexp_extract_all(CAST(text AS VARCHAR),
                  '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS bpe,
         CAST(len(trim(regexp_replace(CAST(text AS VARCHAR), '\s+', ' ', 'g')))
              AS BIGINT) AS chars
  FROM documents
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(ws) AS BIGINT) AS ws_tokens,
       CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
       (2 * CAST(sum(bpe) AS BIGINT) * 10000 + CAST(sum(ws) AS BIGINT))
         // (2 * CAST(sum(ws) AS BIGINT)) AS fertility_bps,
       (2 * CAST(sum(chars) AS BIGINT) * 10000 + CAST(sum(ws) AS BIGINT))
         // (2 * CAST(sum(ws) AS BIGINT)) AS chars_per_word_bps
FROM per_doc
GROUP BY lang
"""

QUERIES["tokenizer_fertility"] = tokenizer_fertility
ORACLES["tokenizer_fertility"] = TOKENIZER_FERTILITY_SQL


CMS_DEPTH = 4
CMS_WIDTH = 256


def _cms_bucket_expr(seed_col: str, tok_col: str) -> F.Column:
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col(seed_col).cast("string"), F.col(tok_col))),
                1,
                12,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(CMS_WIDTH),
    )


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan '05), deterministic
    and therefore hash-certifiable: a depth-4 × width-256 counter grid
    over md5-derived bucket hashes (engine-identical both sides), point
    estimates for the exact top-20 tokens as min-over-rows, and the
    sketch's signature one-sided error (estimate ≥ truth) surfaced as
    ``overestimate``. The sketch table is 1024 cells REGARDLESS of
    corpus size — the mergeable, map-side-combinable shape that lets a
    1000-executor job keep per-token counts in constant memory; the
    estimate lookup is a broadcast join against those 1024 cells. The
    oracle rebuilds grid and minima from scratch in SQL, so the driver
    certifies the ESTIMATOR (including its collisions), not just the
    counts."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(F.explode(ts.tokens("text")).alias("tok"))
        .filter(F.length("tok") > 0)
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_count"))
    top = (
        exact.orderBy(F.desc("exact_count"), F.asc("tok"))
        .limit(20)
        .select("tok", "exact_count")
    )
    seeds = F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("seed")
    cms = (
        toks.select("tok", seeds)
        .select("seed", _cms_bucket_expr("seed", "tok").alias("bucket"))
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("cell"))
    )
    probes = top.select("tok", "exact_count", seeds).select(
        "tok", "exact_count", "seed", _cms_bucket_expr("seed", "tok").alias("bucket")
    )
    return (
        probes.join(F.broadcast(cms), ["seed", "bucket"])
        .groupBy("tok", "exact_count")
        .agg(F.min("cell").alias("cms_estimate"))
        .select(
            "tok",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
        )
        .orderBy(F.desc("exact_count"), F.asc("tok"))
    )


CMS_SQL = f"""
WITH toks AS (
  SELECT unnest({_TOKS}) AS tok FROM documents
), toks_f AS (
  SELECT tok FROM toks WHERE len(tok) > 0
), exact_counts AS (
  SELECT tok, count(*) AS exact_count FROM toks_f GROUP BY tok
), top AS (
  SELECT tok, exact_count FROM exact_counts
  ORDER BY exact_count DESC, tok ASC LIMIT 20
), cms AS (
  SELECT s.seed,
         CAST(('0x' || substr(md5(CAST(s.seed AS VARCHAR) || ':' || tok), 1, 12))
              AS BIGINT) % {CMS_WIDTH} AS bucket,
         count(*) AS cell
  FROM toks_f, (SELECT unnest(range({CMS_DEPTH})) AS seed) s
  GROUP BY 1, 2
), probes AS (
  SELECT t.tok, t.exact_count, s.seed,
         CAST(('0x' || substr(md5(CAST(s.seed AS VARCHAR) || ':' || t.tok), 1, 12))
              AS BIGINT) % {CMS_WIDTH} AS bucket
  FROM top t, (SELECT unnest(range({CMS_DEPTH})) AS seed) s
)
SELECT p.tok, p.exact_count, min(c.cell) AS cms_estimate,
       min(c.cell) - p.exact_count AS overestimate
FROM probes p JOIN cms c ON p.seed = c.seed AND p.bucket = c.bucket
GROUP BY p.tok, p.exact_count
ORDER BY p.exact_count DESC, p.tok ASC
"""

QUERIES["cms_heavy_hitters"] = cms_heavy_hitters
ORACLES["cms_heavy_hitters"] = CMS_SQL


def streaming_cms_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow replay of the STREAMING count-min sketch
    (``streaming/events_stream.streaming_cms_grid``: per-seed
    width-long counter-array state, folded per micro-batch with one
    bincount): the final grid must equal the batch sketch cell for
    cell, so this query shares the batch grid's oracle arithmetic.
    Final-state selection is algebraic — cells only grow, so max per
    (seed, bucket) IS the last emission across however many
    micro-batches availableNow produced. Sixth driver-certified
    streaming query; proves the MERGEABLE-sketch state contract (the
    100 TB shape: constant-size state per key, merge-any-time) live
    under the driver, not just in pytest."""
    from etl_extractor_spark.streaming import events_stream as SE

    emitted = SE.run_to_memory(
        SE.streaming_cms_grid(SE.documents_stream(spark, sf_dir)),
        output_mode="update",
        state_partitions=SE.state_partitions_for(spark, sf_dir, table="documents"),
    )
    return (
        emitted.groupBy("seed", "bucket")
        .agg(F.max("cell").alias("cell"))
        .orderBy("seed", "bucket")
    )


STREAMING_CMS_SQL = f"""
WITH toks AS (
  SELECT unnest({_TOKS}) AS tok FROM documents
)
SELECT s.seed,
       CAST(('0x' || substr(md5(CAST(s.seed AS VARCHAR) || ':' || tok), 1, 12))
            AS BIGINT) % {CMS_WIDTH} AS bucket,
       count(*) AS cell
FROM toks, (SELECT unnest(range({CMS_DEPTH})) AS seed) s
WHERE len(tok) > 0
GROUP BY 1, 2
ORDER BY 1, 2
"""

QUERIES["streaming_cms_replay"] = streaming_cms_replay
ORACLES["streaming_cms_replay"] = STREAMING_CMS_SQL
