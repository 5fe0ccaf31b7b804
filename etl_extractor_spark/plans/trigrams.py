"""Word-trigram text queries: one feature space, eight queries.

The decision this module owns is the feature space. A document's text
is normalized (``functions/text.normalize_text``: cast, collapse
whitespace, trim), lower-cased, split on ' ' and shingled into word
3-grams, duplicates kept (``_text_trigrams``). Docs under 3 tokens
have no grams. Every query reads its grams from there, and every
oracle mirrors it in DuckDB (the shared ``_G3_SQL`` CTE, or a
DISTINCT variant where the query works on gram sets).

Trigrams, not tokens, by the corpus's measured stats: 235 word types
at sf1 with median posting 3885 docs, against 255k trigram types with
median posting 10. Token postings degenerate to O(corpus); trigram
postings keep set joins, inverted indexes and low-count tails
meaningful at every SF.

- bloom_prefilter_decontaminate : broadcast Bloom-filter prefilter +
                          exact verify for eval-set decontamination
- jaccard_prefix_filter_join : PPJoin-style prefix-filtered set-
                          similarity self-join (exact, no all-pairs)
- tfidf_cosine_topk     : top-20 TF-IDF cosine pairs from a df-capped
                          inverted index
- tfidf_incremental_postings : the same top-20 from an index
                          maintained by an appended delta
- tfidf_incremental_deletes : the same top-20 after merge-on-read
                          equality deletes (oracle: filtered rebuild)
- tfidf_postings_compaction : the same after compaction absorbs the
                          deletes
- good_turing_smoothing : counts-of-counts smoothing of trigram counts
- streaming_ngram_counts_replay : the same table from a streaming
                          counter replay

The three incremental TF-IDF queries maintain the index and re-answer
the top-k (the pattern of "Incremental Based Framework for Efficient
Top-K Similarity Search in Interactive Data Analysis Sessions", EDBT
2020); each oracle is the batch query's SQL, so a hash match proves
maintenance ≡ rebuild.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_extractor_spark.functions.text import normalize_text
from etl_extractor_spark.operators.checkpoints import reliable_checkpoint
from etl_extractor_spark.operators.common import fan_out, pid_scratch_dir
from etl_extractor_spark.sinks import manifest as MF
from etl_extractor_spark.sources.parquet import load_table

QUERIES: dict = {}
ORACLES: dict = {}


# --- The feature space ------------------------------------------------


def _norm_toks(text):
    """Lowercased whitespace tokens on the shared F1 normalization
    (``functions/text.normalize_text`` — the same cast/collapse/trim
    every corpus-side oracle in this repo mirrors); lower() commutes
    with whitespace handling, so the SQL twin is
    ``string_split(lower(trim(regexp_replace(...))), ' ')``."""
    return F.split(F.lower(normalize_text(text)), " ")


def _trigram_col(toks):
    """Word-3-gram array in token order, duplicates kept ('a b c a b c'
    gives 'a b c' twice); empty for docs under 3 tokens (the
    sequence guard avoids Spark's descending-sequence surprise). The
    TF-IDF term frequencies count the duplicates; the set queries
    apply ``array_distinct`` themselves.

    ``toks`` is BOUND as a lambda variable through a 1-element array
    wrapper before anything indexes it (r10): the gram lambda and the
    two size() guards otherwise re-evaluate the whole ``toks``
    EXPRESSION tree per reference — and when a consumer's filter
    pushdown duplicates the projection, a caller passing the
    normalize+split tree paid it per gram (measured 3.67 s → 0.54 s
    on the 5000-doc jaccard substrate at sf0.1, same output)."""

    def _grams_of(tk):
        g = F.transform(
            F.sequence(F.lit(1), F.size(tk) - 2),
            lambda i: F.concat_ws(" ", F.slice(tk, i, 3)),
        )
        return F.when(F.size(tk) >= 3, g).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(F.transform(F.array(toks), _grams_of), 1)


def _text_trigrams() -> Column:
    """The trigram array of a frame's ``text`` column."""
    return _trigram_col(_norm_toks(F.col("text")))


# The DuckDB twin of _text_trigrams, one (doc_id, g) row per gram
# occurrence: the opening CTEs of the TF-IDF and Good-Turing oracles.
_G3_SQL = r"""
    WITH rawtoks AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(CAST(text AS VARCHAR), '\s+', ' ', 'g'))), ' ') AS w
      FROM documents
    ), g3 AS (
      SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g
      FROM rawtoks, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)
      WHERE len(w) >= 3
    )"""


# --- Bloom-prefilter decontamination ----------------------------------

BLOOM_M = 1 << 16          # bits in the filter (1024 longs)
BLOOM_K = 4                # hash functions
EVAL_MOD = 97              # doc_id % EVAL_MOD == 0 -> "eval benchmark" doc


def bloom_prefilter_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination with a broadcast Bloom prefilter — the
    standard 100 TB shape: the benchmark/eval n-gram set is a small
    bounded artifact, so its Bloom bitmap (m=2^16 bits, k=4, built
    DISTRIBUTED via bit_or and collected as <=1024 longs — constant
    size regardless of SF) ships to every executor as a literal and
    the corpus-side membership test is MAP-ONLY: no shuffle touches
    the full corpus gram set. Only grams surviving the filter (true
    hits + ~m/16-rate false positives) reach the exact verify join, so
    the shuffled volume is O(contamination), not O(corpus). Bloom has
    no false negatives by construction (same xxhash64 seeds build and
    probe), and the exact verify removes false positives — the result
    is EXACT, which is what lets the straight semi-join oracle pin it.
    Output: per contaminated corpus doc, distinct-3-gram contamination
    count and rate (4-decimal half-up). The scan is fanned out before
    the trigram HOFs — the per-row normalize/split/shingle compute is
    the dominant cost and a small parquet input arrives few-
    partitioned (sf1: 46 s on 2 partitions → ~8 s on 32)."""
    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", _text_trigrams().alias("grams")
    )
    evl = (
        d.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    # distributed bitmap build: constant-bounded collect (<= m/64 rows)
    seeds = F.array(*[F.lit(i) for i in range(BLOOM_K)])
    pos = F.pmod(F.xxhash64("gram", F.col("seed")), F.lit(BLOOM_M))
    words = (
        evl.select(F.explode(seeds).alias("seed"), "gram")
        .select(
            (pos / F.lit(64)).cast("long").alias("w"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
            ).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    bitmap = [0] * (BLOOM_M // 64)
    for r in words:
        bitmap[int(r["w"])] = int(r["bits"])
    bits_lit = F.lit(bitmap)

    # The corpus gram relation feeds BOTH the per-doc denominator and
    # the Bloom-gated verify branch; persist it so the trigram HOF pass
    # (the dominant cost) runs once, not once per branch. At cluster
    # scale this is the same decision as checkpointing a shared scan.
    corpus = (
        d.filter(F.col("doc_id") % EVAL_MOD != 0)
        .select("doc_id", F.explode(F.array_distinct("grams")).alias("gram"))
        .persist()
    )
    member = None
    for i in range(BLOOM_K):
        p = F.pmod(F.xxhash64("gram", F.lit(i)), F.lit(BLOOM_M))
        hit = (
            F.element_at(bits_lit, (p / F.lit(64)).cast("int") + 1).bitwiseAND(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
                )
            )
            != 0
        )
        member = hit if member is None else (member & hit)
    n_grams = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        corpus.filter(member)                      # map-only Bloom gate
        .join(F.broadcast(evl), "gram")            # exact verify
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    # Quantization mirrors the oracle's op ORDER exactly (multiply
    # before divide): floor((c/n)*1e4+0.5) and floor(c*1e4/n+0.5)
    # differ by one ulp for real count pairs (e.g. 57/800) — the
    # order-dependent-float hash-mismatch class.
    rate_q = F.floor(
        F.col("n_contaminated") * F.lit(10000.0) / F.col("n_grams") + F.lit(0.5)
    )
    return (
        hits.join(n_grams, "doc_id")
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated",
            (rate_q / 10000).alias("contamination_rate"),
        )
        .orderBy("doc_id")
    )


BLOOM_DECONTAMINATE_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(CAST(text AS VARCHAR), '\\s+', ' ', 'g'))), ' ') AS t
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS gram
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)
  WHERE len(t) >= 3
), evl AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % {EVAL_MOD} = 0
), corpus AS (
  SELECT doc_id, gram FROM grams WHERE doc_id % {EVAL_MOD} <> 0
), ng AS (
  SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY 1
), hits AS (
  SELECT c.doc_id, count(*) AS n_contaminated
  FROM corpus c JOIN evl e USING (gram)
  GROUP BY 1
)
SELECT h.doc_id,
       ng.n_grams,
       h.n_contaminated,
       floor(h.n_contaminated * 10000.0 / ng.n_grams + 0.5) / 10000
         AS contamination_rate
FROM hits h JOIN ng USING (doc_id)
ORDER BY doc_id
"""

QUERIES["bloom_prefilter_decontaminate"] = bloom_prefilter_decontaminate
ORACLES["bloom_prefilter_decontaminate"] = BLOOM_DECONTAMINATE_SQL


# --- PPJoin-style prefix-filtered set-similarity self-join ------------

PFX_THRESHOLD = 0.8


def jaccard_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard self-join >= 0.8 via PREFIX FILTERING
    (Chaudhuri et al. SSJoin / Bayardo et al. All-Pairs): order every
    doc's distinct trigram set by a global rarity rank (document
    frequency asc, gram asc), keep only the first n - ceil(t*n) + 1
    grams as the candidate-generating prefix — J(A,B) >= t forces the
    two prefixes to share an element under ANY consistent global
    order, so recall is guaranteed while the self-join touches prefix
    grams (the RAREST ones) instead of all grams, and never goes
    all-pairs. Candidates are verified EXACTLY with array_intersect
    over the full gram sets, so false candidates die and the quadratic
    oracle pins the result.
    Token-set prefix postings would degenerate to O(corpus) here (the
    join exploded past 9 min at sf1); trigram postings keep prefix
    filtering's rare-element assumption (see the module docstring).
    100 TB: the explode/join volume is sum(prefix lengths) weighted by
    posting size; both exploded sides carry merge hints against the
    pre-explode size misestimate; the scan is fanned out before
    shingling (few-partition parquet input)."""
    # persist: the shingling pass (the dominant cost) feeds THREE
    # branches (postings, sets_a, sets_b) — repeated HOF trees are not
    # collapsed by subexpression elimination (gotcha list).
    #
    # Grams are xxhash64-encoded the moment they exist (r10: shuffle
    # lightweight proxies, not payloads): every
    # downstream stage — document frequencies, the (df, gram) rarity
    # sort, the prefix explode + self-join shuffle, and the verify
    # arrays carried through TWO joins — moves 8-byte longs instead of
    # ~25-byte gram strings. Result-preserving: the prefix filter only
    # needs SOME consistent global order (hash order is one), recall
    # is unchanged, the exact verify uses intersection/size COUNTS
    # which are hash-invariant, and 64-bit collisions are the repo's
    # accepted substitution convention (cf. common_paragraph_filter).
    # (A word-hash-triple gram id was tried and REJECTED: 3 interpreted
    # element_at calls per gram measured 2.5× slower than the
    # slice+concat_ws string build it replaced — probe in
    # OPTIMIZATION_r10.md.)
    d = (
        fan_out(load_table(spark, sf_dir, "documents"))
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(_text_trigrams(), lambda g: F.xxhash64(g))
            ).alias("toks"),
        )
        .filter(F.size("toks") > 0)
        .persist()
    )
    # Eager materialization: the three consuming branches plus AQE's
    # concurrent broadcast-subtree jobs otherwise RACE the cold cache
    # and re-evaluate the gram tree from lineage — profiled at up to
    # 351 s of duplicated executor CPU in one rep (and once on a
    # single AQE-coalesced partition: 74 s on 1 task). One count()
    # builds the cache exactly once, in parallel.
    d.count()

    # Global order = (document frequency asc, gram asc) — used as a
    # sort KEY directly (no global row_number: a single-partition rank
    # window would bottleneck the vocabulary at scale, and prefix
    # filtering only needs SOME consistent total order).
    tok = d.select("doc_id", F.explode("toks").alias("tok"))
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        tok.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "tok"))).alias("ordered"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    pfx_len = (F.col("n") - F.ceil(F.col("n") * PFX_THRESHOLD) + 1).cast("int")
    # persist: the SELF-join below would otherwise evaluate this whole
    # subtree TWICE (df-count agg, its broadcast join, and the
    # ObjectHashAggregate collect_list rank sort — the two dominant
    # node times in the SQL-tab profile, r10) — once per join side.
    # The prefix relation is tiny (≈0.2·|grams| rows of (long, long));
    # it carries each doc's set size n for the length filter below.
    prefixes = ranked.select(
        "doc_id",
        F.explode(F.slice("ordered", 1, pfx_len).tok).alias("tok"),
        "n",
    ).persist()
    prefixes.count()  # same cold-cache race as `d` — build once, now
    # LENGTH FILTER (r11, the All-Pairs/SSJoin standard):
    # J(A,B) ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|), so candidate pairs
    # whose set sizes differ by more than the threshold ratio cannot
    # qualify. Applied INSIDE the prefix self-join, it drops 63% of
    # candidate pairs (118,649 → 43,440 at sf0.1) before the distinct
    # and before the two array-carrying verify joins. The bound uses
    # t−1e-5, strictly below the threshold, so a pair sitting exactly
    # at min = t·max (possible: A ⊂ B with J = t) can never be
    # excluded by float rounding — recall is preserved and the exact
    # verify still decides every kept pair.
    _t_loose = PFX_THRESHOLD - 1e-5
    cands = (
        prefixes.alias("a")
        .hint("merge")
        .join(prefixes.alias("b").hint("merge"), "tok")
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n") >= F.col("a.n") * _t_loose)
            & (F.col("a.n") >= F.col("b.n") * _t_loose)
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    sets_a = d.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
    sets_b = d.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size("ta") + F.size("tb") - inter
    jac = inter / union
    # multiply-before-divide mirrors the oracle's floor(c*1e4/u+0.5)
    # op order — (c/u)*1e4 rounds differently by one ulp for real
    # pairs (e.g. 16017/20000); the filter uses plain c/u on both
    # sides, which IS order-identical.
    jac_q = F.floor(inter * F.lit(10000.0) / union + F.lit(0.5))
    return (
        cands.join(sets_a.hint("merge"), "id_a")
        .join(sets_b.hint("merge"), "id_b")
        .filter(jac >= PFX_THRESHOLD)
        .select("id_a", "id_b", (jac_q / 10000).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


JACCARD_PFX_SQL = f"""
WITH rawtoks AS (
  SELECT doc_id,
         string_split(lower(trim(regexp_replace(CAST(text AS VARCHAR), '\\s+', ' ', 'g'))), ' ') AS w
  FROM documents
), g3 AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
  FROM rawtoks, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)
  WHERE len(w) >= 3
), nz AS (
  SELECT doc_id, list(g) AS t FROM g3 GROUP BY doc_id
), tk AS (
  SELECT doc_id, g AS tok FROM g3
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM tk a JOIN tk b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       floor(c * 10000.0 / (len(sa.t) + len(sb.t) - c) + 0.5) / 10000 AS jaccard
FROM pairs
JOIN nz sa ON id_a = sa.doc_id
JOIN nz sb ON id_b = sb.doc_id
WHERE c * 1.0 / (len(sa.t) + len(sb.t) - c) >= {PFX_THRESHOLD}
ORDER BY id_a, id_b
"""

QUERIES["jaccard_prefix_filter_join"] = jaccard_prefix_filter_join
ORACLES["jaccard_prefix_filter_join"] = JACCARD_PFX_SQL


# --- TF-IDF cosine top-k via df-capped inverted index -----------------
# The sparse-vector similarity join between the dense-embedding kNN
# family (operators/similarity.py) and the set-Jaccard family
# (jaccard_prefix_filter_join): weighted terms, dot products via
# term-at-a-time postings, never all-pairs. Feature space = word
# trigrams with document frequency in [2, 32]: df=1 grams cannot pair
# (dropped from the space, not approximated), and the df cap bounds
# every posting's self-join at 32² — the standard stop-feature cut
# that makes inverted-index similarity O(sum df²) instead of
# O(corpus²).
_TFIDF_DF_MIN, _TFIDF_DF_MAX = 2, 32
_TFIDF_TOPK = 20


def _doc_trigram_tf(d: DataFrame) -> DataFrame:
    """Per-(doc, trigram) term frequencies — the ONLY corpus-scale text
    pass of the TF-IDF family (fanned out ahead of the explode).
    Shared by the batch flagship and the r7 incremental-maintenance
    twin so the feature space cannot drift between them.

    r11 note (probe, REJECTED): xxhash64-encoding the
    trigrams at this source (the jaccard_prefix int64-gram trick) was
    A/B'd interleaved in one session at sf0.1 — substrate build was a
    wash (0.97 s vs 0.96 s min-of-4) and the postings/pair phase was
    ~15% SLOWER with hashed keys (1.48 s vs 1.74 s min-of-4), so the
    change was reverted: here the gram strings feed ONE aggregation
    immediately (unlike jaccard_prefix where they traverse rarity
    sort + explode + three joins), and the random 64-bit keys lose
    the sorted-run locality the string domain gives the merge joins.
    Keep grams as strings until a measurement at larger SF says
    otherwise."""
    return (
        fan_out(d)
        .select("doc_id", F.explode(_text_trigrams()).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def _tfidf_topk_pairs(tf: DataFrame, n_docs: DataFrame) -> DataFrame:
    """df-cap → integer milli-idf → postings self-join → top-k cosine,
    all from a materialized (doc_id, g, tf) postings frame. Index-
    scale arithmetic only: no pass over raw text happens here, which
    is what makes the incremental twin's merge-then-requery cheap."""
    dfreq = tf.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("df"))
    kept = (
        dfreq.filter(F.col("df").between(_TFIDF_DF_MIN, _TFIDF_DF_MAX))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "g",
            F.floor(
                F.log(F.col("n_docs") * F.lit(1.0) / F.col("df")) * 1000
            ).alias("idf"),
        )
    )
    w = tf.join(kept, "g").select(
        "doc_id", "g", (F.col("tf") * F.col("idf")).alias("w")
    )
    norms = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("nn"))
    dots = (
        w.alias("a")
        .hint("merge")
        .join(w.alias("b").hint("merge"), "g")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    cos = F.floor(
        F.col("dot").cast("double")
        * 10000.0
        / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
        + 0.5
    ) / 10000
    return (
        dots.join(norms.select(F.col("doc_id").alias("id_a"), F.col("nn").alias("na")), "id_a")
        .join(norms.select(F.col("doc_id").alias("id_b"), F.col("nn").alias("nb")), "id_b")
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "id_a", "id_b")
        .limit(_TFIDF_TOPK)
    )


def tfidf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most TF-IDF-cosine-similar document pairs. Exact under
    the DEFINED feature space (trigrams, 2 <= df <= 32; weights
    tf * floor(ln(N/df)*1000) — integer milli-idf per the repo's
    log-quantization convention, so dot products and norms are exact
    BIGINT sums and the final cosine is one identical IEEE
    multiply-divide-sqrt sequence on both engines).

    100 TB: the only O(corpus) passes are the shingle explode (fanned
    out) and two hash aggregations; the pair space is sum(df²) <= 32 ×
    sum(df) — df-capped postings, never all-pairs; exploded join sides
    carry merge hints against the pre-explode size misestimate."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    # Materialized once (feeds df-counts, postings and norms) via a
    # reliable checkpoint, NOT .persist(): a persisted corpus-scale
    # frame stays pinned in executor storage for the session (it adds
    # up across a 339-query sweep), while checkpoint
    # storage is reclaimed by the checkpoint-lifecycle discipline
    # (cleanCheckpoints in repo sessions; atexit/pid cleanup otherwise).
    tf = reliable_checkpoint(_doc_trigram_tf(d))
    return _tfidf_topk_pairs(tf, n_docs)


QUERIES["tfidf_cosine_topk"] = tfidf_cosine_topk
ORACLES["tfidf_cosine_topk"] = f"""{_G3_SQL}, tf AS (
      SELECT doc_id, g, count(*)::BIGINT AS tf FROM g3 GROUP BY 1, 2
    ), dfreq AS (
      SELECT g, count(*)::BIGINT AS df FROM tf GROUP BY 1
    ), kept AS (
      -- CAST before the joins/sums: DuckDB floor() returns DOUBLE, so
      -- without it w and the dot/norm sums would accumulate in floating
      -- point (exact only below 2^53) while Spark sums exact BIGINTs —
      -- the advisor-caught divergence risk at large SF. With the cast
      -- both engines sum exact integers (advice r6).
      SELECT g,
             CAST(floor(ln((SELECT count(*) FROM documents) * 1.0 / df) * 1000)
                  AS BIGINT) AS idf
      FROM dfreq WHERE df BETWEEN {_TFIDF_DF_MIN} AND {_TFIDF_DF_MAX}
    ), wt AS (
      SELECT tf.doc_id, tf.g, tf.tf * kept.idf AS w
      FROM tf JOIN kept USING (g)
    ), norms AS (
      SELECT doc_id, sum(w * w)::BIGINT AS nn FROM wt GROUP BY 1
    ), dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w)::BIGINT AS dot
      FROM wt a JOIN wt b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           floor(CAST(dot AS DOUBLE) * 10000.0
                 / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)) + 0.5) / 10000
               AS cos_sim
    FROM dots
    JOIN norms na ON id_a = na.doc_id
    JOIN norms nb ON id_b = nb.doc_id
    ORDER BY cos_sim DESC, id_a, id_b
    LIMIT {_TFIDF_TOPK}
"""



# --- Incremental TF-IDF postings maintenance --------------------------
#
# tfidf_cosine_topk rebuilds its postings from the full corpus on every
# run. Production corpora GROW: the expensive pass — shingling raw
# text — should touch only the new documents, with the index itself
# maintained as appended delta postings. This query certifies exactly
# that: base postings are committed to a manifest-backed table
# (snapshot 1), the delta batch's postings are APPENDED (snapshot 2 —
# base files untouched, the merge is the table format's append), and
# df/idf/df-cap are re-derived from the merged postings (index-scale
# arithmetic, no text pass). The oracle is the BATCH full-corpus SQL —
# a driver hash match proves incremental maintenance ≡ full rebuild,
# including grams whose df crossed the [2, 32] cap boundary when the
# delta landed.
_TIP_MOD = 10  # delta batch = doc_id % 10 == 0 (~10% of the corpus)


def tfidf_incremental_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained TF-IDF inverted index: shingle ONLY the
    delta docs, append their postings to the committed base index, then
    answer the flagship top-20 cosine query from the merged postings.

    100 TB: the text pass is O(delta), the index merge is an append
    commit (no base-file rewrite), and df/idf re-derivation plus the
    df-capped pair join are index-scale — the same sum(df²) ≤ 32·sum(df)
    bound as the batch flagship. Min/max doc_id file stats on the
    postings table keep per-doc delete/requery pruned."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.filter(F.col("doc_id") % _TIP_MOD != 0)
    delta = d.filter(F.col("doc_id") % _TIP_MOD == 0)
    path = pid_scratch_dir("spark_graft_tfidf_idx_")
    # snapshot 1: the standing index; snapshot 2: delta postings appended
    MF.write_with_manifest(
        spark, _doc_trigram_tf(base), path, stats_cols=["doc_id"],
        mode="overwrite",
    )
    MF.write_with_manifest(
        spark, _doc_trigram_tf(delta), path, stats_cols=["doc_id"],
        mode="append",
    )
    # one materialization of the merged index, exactly like the batch
    # flagship checkpoints its tf frame: the pair join's tail reads the
    # postings 4× (dfreq, both self-join sides, norms), and re-decoding
    # parquet each time measured 61.0 s vs 42.3 s checkpointed at 500k
    # docs
    tf = reliable_checkpoint(MF.read_table(spark, path))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return _tfidf_topk_pairs(tf, n_docs)


QUERIES["tfidf_incremental_postings"] = tfidf_incremental_postings
# Same oracle as the batch flagship: incremental maintenance must be
# indistinguishable from a full rebuild.
ORACLES["tfidf_incremental_postings"] = ORACLES["tfidf_cosine_topk"]


# --- Delete-aware maintenance, then compaction ------------------------
#
# Completes the index-maintenance story: tfidf_incremental_postings
# proves APPEND maintenance ≡ rebuild; tfidf_incremental_deletes proves
# DELETE maintenance — GDPR erasure, spam takedowns, dedup retractions
# — via the lakehouse layer's merge-on-read equality deletes: the
# postings index commits ONE delete file keyed by doc_id (O(deleted
# keys), zero data-file rewrites), readers subtract it at scan time,
# and df/idf/norms are re-derived from the subtracted postings.
# tfidf_postings_compaction then absorbs the delete file physically.
# Both oracles are the batch flagship SQL over the SURVIVING documents
# — a driver hash match proves delete-aware maintenance ≡ a full
# rebuild without the deleted docs, including grams whose df dropped
# back inside the [2, 32] cap when the deletions landed.
_TID_DEL_MOD = 50  # delete doc_id % 50 == 0 (~2% of the corpus)


def _postings_with_deletes(
    spark: SparkSession, sf_dir: str, prefix: str
) -> tuple[str, DataFrame]:
    """Commit the full corpus's postings to a fresh manifest table under
    ``prefix``, then an equality delete of every doc_id % _TID_DEL_MOD
    == 0. Returns the table's path and a 1-row n_docs frame counting
    the surviving documents."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = pid_scratch_dir(prefix)
    MF.write_with_manifest(
        spark, _doc_trigram_tf(d), path, stats_cols=["doc_id"],
        mode="overwrite",
    )
    MF.write_equality_deletes(
        spark, path,
        d.filter(F.col("doc_id") % _TID_DEL_MOD == 0).select("doc_id"),
    )
    n_docs = d.filter(F.col("doc_id") % _TID_DEL_MOD != 0).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return path, n_docs


def tfidf_incremental_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 TF-IDF cosine pairs answered from a postings index that
    had ~2% of its documents ERASED by a merge-on-read equality-delete
    commit (no text re-pass, no data-file rewrite — the delete is one
    keys-file commit; the reader anti-joins it at scan time).

    100 TB: erasure cost is O(deleted keys) + one broadcast anti-join
    per uncompacted delete file at read time; the text pass never
    re-runs, and a later compaction absorbs the delete physically
    (compaction_roundtrip covers that path). Index-scale df/idf
    re-derivation is the same sum(df²) ≤ 32·sum(df) bound as the
    flagship."""
    path, n_docs = _postings_with_deletes(spark, sf_dir, "spark_graft_tfidf_del_")
    tf = reliable_checkpoint(MF.read_merge_on_read(spark, path))
    return _tfidf_topk_pairs(tf, n_docs)


QUERIES["tfidf_incremental_deletes"] = tfidf_incremental_deletes
# The batch flagship SQL over the SURVIVING documents: both of its
# `FROM documents` references (the trigram base AND the idf corpus
# count) swap to the filtered relation, so the oracle IS "full rebuild
# without the deleted docs".
ORACLES["tfidf_incremental_deletes"] = ORACLES["tfidf_cosine_topk"].replace(
    "FROM documents",
    f"FROM (SELECT * FROM documents WHERE doc_id % {_TID_DEL_MOD} != 0)",
)


def tfidf_postings_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last step of the incremental-postings lifecycle: top-20
    TF-IDF cosine pairs answered from a postings index that was
    delete-committed (merge-on-read, ~2% of docs erased) and then
    COMPACTED — ``compact_with_manifest`` reads through the MOR
    reader, physically materializes the subtraction, and drops the
    delete files, so this query's read pays ZERO anti-joins (plan-
    guarded in tests) while hash-matching the same filtered-rebuild
    oracle as tfidf_incremental_deletes. Together the pair certifies:
    delete commit ≡ filtered rebuild (MOR read) AND compaction ≡ the
    same subtraction made physical (plain read).

    The compaction itself is answer-only-preserving if the rewrite
    reads the MOR view — reading raw data files would silently
    RESURRECT the deleted rows (the bug the r9 compact_with_manifest
    fix removes); this oracle match is the regression certificate.

    100 TB: compaction is the O(table) maintenance job you schedule
    when the per-read anti-join tax (O(delete files) broadcasts per
    scan) exceeds the one-time rewrite — measured on the 500 k-doc
    probe: MOR read tax ~1.6 s/read vs one compaction rewrite at
    ~bootstrap cost; reads after compaction return to the pre-delete
    baseline (BASELINE.md round-9 row)."""
    from etl_extractor_spark.sinks.compact import compact_with_manifest

    path, n_docs = _postings_with_deletes(spark, sf_dir, "spark_graft_tfidf_cpt_")
    compact_with_manifest(spark, path, sort_col="doc_id")
    # post-compaction read: plain manifest-tracked data files, no
    # delete files left to apply (read_merge_on_read degenerates to
    # read_table; tests assert the anti-join is gone from the plan).
    # r11: NO reliable_checkpoint here — unlike the incremental-deletes
    # twin (whose MOR read carries a delete anti-join worth
    # materializing once), this read is already a bare scan of the
    # freshly compacted files; checkpointing it re-wrote the whole
    # table a second time in row-serialized form and every consumer
    # then deserialized FULL rows where the parquet scans prune to the
    # columns each one needs (A/B min-of-3 interleaved: 4.19 s -> 4.03,
    # means 5.4 -> 4.5; at scale it removes one O(table) write).
    tf = MF.read_merge_on_read(spark, path)
    return _tfidf_topk_pairs(tf, n_docs)


QUERIES["tfidf_postings_compaction"] = tfidf_postings_compaction
# Same filtered-rebuild oracle as tfidf_incremental_deletes: compaction
# must not change answers, only the physical file set.
ORACLES["tfidf_postings_compaction"] = ORACLES["tfidf_incremental_deletes"]


# --- Good-Turing counts-of-counts smoothing ---------------------------
_GT_MAX_R = 10


def _gt_table(counts: DataFrame) -> DataFrame:
    """Good-Turing N_r / r* derivation from a (g, r) type-count frame —
    shared verbatim by the batch query and the streaming-counter replay
    so the two stay hash-identical by construction (the anti-drift
    extraction pattern, like inference's _risk_table)."""
    coc = (
        counts.groupBy("r")
        .agg(F.count(F.lit(1)).cast("long").alias("n_r"))
        .filter(F.col("r") <= _GT_MAX_R + 1)
    )
    nxt = coc.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1"))
    return (
        coc.filter(F.col("r") <= _GT_MAX_R)
        .join(F.broadcast(nxt), "r", "left")
        .select(
            "r",
            "n_r",
            F.expr(
                "CAST((r + 1) * coalesce(n_r1, 0) * 1000 div n_r AS BIGINT)"
            ).alias("gt_star_milli"),
        )
        .orderBy("r")
    )


def good_turing_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency smoothing over the word-TRIGRAM counts:
    for r = 1..10, N_r (how many trigram types occur exactly r times)
    and the smoothed count r* = (r+1)·N_{r+1}/N_r in exact milli-units
    (integer floor division on both engines — the repo's div // idiom).
    The r*=0 rows where N_{r+1} is empty stay 0 (the estimator is
    undefined there; production backs off to r).

    Over unigram tokens the low-count tail (r ≤ 10) is EMPTY at sf1
    (235 word types) and the estimator would certify nothing; the
    trigram space keeps every N_r populated at every SF.

    100 TB: trigram counts are one fanned-out explode + shuffle with
    map-side combine; counts-of-counts is a second aggregation over
    the TYPE space (vocab-sized, not corpus-sized); the N_{r+1} lookup
    is a broadcast self-join on an ≤10-row frame."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        fan_out(d)
        .select(F.explode(_text_trigrams()).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
    )
    return _gt_table(counts)


QUERIES["good_turing_smoothing"] = good_turing_smoothing
ORACLES["good_turing_smoothing"] = f"""{_G3_SQL}, counts AS (
      SELECT g, count(*)::BIGINT AS r FROM g3 GROUP BY g
    ), coc AS (
      SELECT r, count(*)::BIGINT AS n_r FROM counts
      WHERE r <= {_GT_MAX_R + 1} GROUP BY r
    )
    SELECT c.r, c.n_r,
           CAST((c.r + 1) * coalesce(nx.n_r, 0) * 1000 // c.n_r AS BIGINT)
               AS gt_star_milli
    FROM coc c LEFT JOIN coc nx ON nx.r = c.r + 1
    WHERE c.r <= {_GT_MAX_R}
    ORDER BY c.r
"""


# --- Streaming n-gram-counter replay ----------------------------------


def streaming_ngram_counts_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow replay of a streaming-maintained n-gram (word
    trigram) counter: documents stream → trigram explode →
    ``foreachBatch`` into the incremental-aggregate sink
    (sinks/incremental.apply_batch) — each micro-batch PARTIAL-counts
    itself (map-side combine, shuffle O(types-in-batch)) and merges
    into a persistent parquet state table keyed by trigram. The
    registered projection derives the Good-Turing counts-of-counts
    table from that state table. Shares ``good_turing_smoothing``'s
    oracle — a hash match certifies the streaming counter replay ≡
    the batch n-gram pass, through the full N_r / r* derivation.

    100 TB (a complete-mode memory sink, the first cut, restates the
    full type space through DRIVER memory every trigger; trigram type
    spaces grow Heaps-law with real corpora, so that sink is a
    multi-GB driver collect at 100×): state lives in an
    executor-written parquet table bounded by the type space, no
    streaming state store (the groupBy happens per batch, inside
    foreachBatch, as a batch plan), and nothing routes through the
    driver. The batch-id watermark makes a replayed uncommitted batch
    a no-op (exactly-once), and the GT derivation reads only the
    state table. This is the live-corpus form of the batch query: the
    counter absorbs new documents incrementally at per-batch cost."""
    from etl_extractor_spark.sinks.incremental import read_state
    from etl_extractor_spark.streaming import events_stream as SE

    base = pid_scratch_dir("spark_graft_ngram_replay_")
    state_path = f"{base}/state"
    # streaming analog of operators/common.fan_out: a one-file micro-
    # batch arrives as ONE partition, which would serialize the
    # row-multiplying trigram explode on a single core (measured 47 s
    # vs ~11 s batch at sf1); repartition the stream BEFORE the explode
    grams = (
        SE.documents_stream(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(F.explode(_text_trigrams()).alias("g"))
    )
    SE.run_streaming_incremental_agg(
        grams, state_path, f"{base}/ckpt", keys=["g"],
        measures={"r": ("count", "*")},
    )
    counts = read_state(spark, state_path).select("g", F.col("r").cast("long"))
    return _gt_table(counts)


QUERIES["streaming_ngram_counts_replay"] = streaming_ngram_counts_replay
ORACLES["streaming_ngram_counts_replay"] = ORACLES["good_turing_smoothing"]
