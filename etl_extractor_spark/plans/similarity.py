"""Similarity-search queries over the embeddings table.

- knn_topk_cosine   : exact top-5 cosine neighbors for the query subset
                      (vec_id % 100 == 0) — brute-force baseline
- sim_histogram     : within-block (IVF-style) pair-similarity histogram
- embedding_near_dup: within-block near-duplicate pairs (cos ≥ 0.95)
- ann_lsh_buckets   : 16-bit random-hyperplane signatures — the
                      approximate bucketing path, oracle-pinned because
                      the hyperplanes are shared literal constants
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_extractor_spark.operators import similarity as S
from etl_extractor_spark.sources.parquet import load_table


def knn_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 100 == 0)
    return S.topk_cosine(e, queries, k=5)


KNN_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(
           list_transform(q.qv, x -> CAST(x AS DOUBLE)),
           list_transform(e.embedding, x -> CAST(x AS DOUBLE))) AS c
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, c,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(c, 4) AS cos_sim, rank
FROM ranked WHERE rank <= 5
"""


def knn_topk_cosine_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/numpy variant of knn_topk_cosine — same query set, same
    oracle: the sequential-cumsum scoring is bit-identical to the
    declarative fold, proving the vectorized fast path computes exactly
    the declared semantics."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 100 == 0)
    return S.topk_cosine_np(e, queries, k=5)


def sim_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    pairs = S.blocked_pairs_cosine(e)
    return (
        pairs.select(
            "block", F.floor(F.col("cos_raw") * 10).cast("long").alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


SIM_HISTOGRAM_SQL = """
WITH pairs AS (
  SELECT CAST(floor(list_cosine_similarity(
           list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
           list_transform(b.embedding, x -> CAST(x AS DOUBLE))) * 10) AS BIGINT) AS bin
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT bin, count(*) AS n_pairs FROM pairs GROUP BY bin
"""


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    pairs = S.blocked_pairs_cosine(e)
    return pairs.filter(F.col("cos_raw") >= 0.95).select(
        "block",
        "id_a",
        "id_b",
        F.round("cos_raw", 4).alias("cos_sim"),
    )


EMBEDDING_NEAR_DUP_SQL = """
SELECT a.label AS block, a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(
         list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
         list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 4) AS cos_sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(
        list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
        list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.95
"""


def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.lsh_buckets(e)


def knn_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-centroid IVF ANN: top-5 within the query's KMeans
    cluster (rows-only; recall bounded against brute force in tests)."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.ivf_kmeans_topk(e, lambda vid: vid % 100 == 0)


def _plane_sql_literal(plane: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in plane) + "]"


ANN_LSH_SQL = (
    "SELECT vec_id, CAST(("
    + " + ".join(
        f"CASE WHEN list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), "
        f"{_plane_sql_literal(plane)}) > 0 THEN {1 << b} ELSE 0 END"
        for b, plane in enumerate(S.PLANES)
    )
    + ") AS BIGINT) AS bucket FROM embeddings"
)


import math as _math

# SemDeDup centroids: literal constants shared verbatim by both engines
# (argmax assignment is oracle-checkable only because the "model" is a
# pinned literal, same trick as the LSH hyperplanes above).
SEMDEDUP_K = 4
SEMDEDUP_DIM = 64
SEMDEDUP_TAU = 0.30
SEMDEDUP_CENTROIDS = [
    [round(_math.sin(0.7 * (c * SEMDEDUP_DIM + d) + 0.3), 6) for d in range(SEMDEDUP_DIM)]
    for c in range(SEMDEDUP_K)
]


def semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., 2023, arXiv:2303.09540): semantic
    dedup = cluster embeddings around K centroids, then drop any vector
    that has a sufficiently-cosine-similar neighbor WITHIN its cluster
    (the parallel relaxation: dominated-by-smaller-id, no sequential
    scan order). Pairwise work is bounded per cluster — the property
    that makes semantic dedup feasible at 100 TB where corpus-wide
    pairwise cosine is not.

    Output: (vec_id, cluster_id, is_kept).
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # centroid assignment: argmax of cos(v, c_k); norms via the same
    # left-to-right fold DuckDB's list aggregates use
    dots = [
        F.aggregate(
            F.zip_with(
                "v", F.array(*[F.lit(x) for x in SEMDEDUP_CENTROIDS[k]]),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.lit(_math.sqrt(sum(x * x for x in SEMDEDUP_CENTROIDS[k])))
        for k in range(SEMDEDUP_K)
    ]
    best = F.greatest(*dots)
    cluster = F.lit(None).cast("long")
    for k in reversed(range(SEMDEDUP_K)):
        cluster = F.when(dots[k] == best, F.lit(k)).otherwise(cluster)
    assigned = e.select("vec_id", "v", cluster.alias("cluster_id"))
    a = assigned.alias("a")
    b = assigned.alias("b")
    vnorm = lambda col: F.sqrt(  # noqa: E731
        F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    cos = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / (vnorm(F.col("a.v")) * vnorm(F.col("b.v")))
    dominated = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .filter(cos >= SEMDEDUP_TAU)
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(dominated.withColumn("_dom", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.coalesce(~F.col("_dom"), F.lit(True)).alias("is_kept"),
        )
    )


def _centroid_sql(k: int) -> str:
    return "[" + ", ".join(repr(x) for x in SEMDEDUP_CENTROIDS[k]) + "]"


SEMDEDUP_SQL = (
    """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), dots AS (
  SELECT vec_id, v, """
    + ", ".join(
        f"list_dot_product(v, {_centroid_sql(k)}) / "
        f"{_math.sqrt(sum(x * x for x in SEMDEDUP_CENTROIDS[k]))!r} AS d{k}"
        for k in range(SEMDEDUP_K)
    )
    + """
  FROM v
), assigned AS (
  SELECT vec_id, v,
         CASE """
    + " ".join(
        f"WHEN d{k} = greatest(d0, d1, d2, d3) THEN {k}"
        for k in range(SEMDEDUP_K)
    )
    + """ END AS cluster_id
  FROM dots
), dominated AS (
  SELECT DISTINCT a.vec_id
  FROM assigned a JOIN assigned b
    ON a.cluster_id = b.cluster_id AND b.vec_id < a.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= """
    + repr(SEMDEDUP_TAU)
    + """
)
SELECT s.vec_id, CAST(s.cluster_id AS BIGINT) AS cluster_id,
       d.vec_id IS NULL AS is_kept
FROM assigned s LEFT JOIN dominated d ON s.vec_id = d.vec_id
"""
)


QUERIES = {
    "knn_topk_cosine": knn_topk_cosine,
    "knn_topk_cosine_np": knn_topk_cosine_np,
    "sim_histogram": sim_histogram,
    "embedding_near_dup": embedding_near_dup,
    "ann_lsh_buckets": ann_lsh_buckets,
    "knn_ivf_kmeans": knn_ivf_kmeans,
    # knn_ivf_kmeans: rows-only (learned KMeans centroids, not SQL)
    "semdedup_keep": semdedup_keep,
}

ORACLES = {
    "knn_topk_cosine": KNN_SQL,
    "knn_topk_cosine_np": KNN_SQL,
    "sim_histogram": SIM_HISTOGRAM_SQL,
    "embedding_near_dup": EMBEDDING_NEAR_DUP_SQL,
    "ann_lsh_buckets": ANN_LSH_SQL,
    "semdedup_keep": SEMDEDUP_SQL,
}


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the 4×
    storage/bandwidth compression every 100 TB vector corpus applies
    before indexing. Per vector: scale = max|x|/127, q_i = round-half-up
    of x_i/scale (floor(v + 0.5) — spelled explicitly so Spark and the
    oracle share ONE rounding rule; both engines' bare round() differ on
    ties). Output pins the whole codebook: scale, position-weighted
    checksum of the int8 codes, and the code extremes.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    absmax = F.array_max(F.transform("v", lambda x: F.abs(x)))
    scale = absmax / F.lit(127.0)
    q = F.transform(
        "v", lambda x: F.floor(x / F.col("_scale") + F.lit(0.5)).cast("long")
    )
    return (
        e.withColumn("_scale", scale)
        .withColumn("_q", q)
        .select(
            "vec_id",
            F.round("_scale", 6).alias("scale_r6"),
            F.aggregate(
                F.zip_with(
                    "_q",
                    F.sequence(F.lit(1), F.size("_q")).cast("array<long>"),
                    lambda a, b: a * b,
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("checksum"),
            F.array_min("_q").alias("q_min"),
            F.array_max("_q").alias("q_max"),
        )
    )


EMBEDDING_QUANTIZE_SQL = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM v
), q AS (
  SELECT vec_id, scale,
         list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS q
  FROM s
)
SELECT vec_id, round(scale, 6) AS scale_r6,
       CAST(list_sum(list_transform(range(1, len(q) + 1),
            i -> q[i] * i)) AS BIGINT) AS checksum,
       list_min(q) AS q_min,
       list_max(q) AS q_max
FROM q
"""

QUERIES["embedding_quantize_int8"] = embedding_quantize_int8
ORACLES["embedding_quantize_int8"] = EMBEDDING_QUANTIZE_SQL


def knn_ivf_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with PINNED literal centroids — the oracle-checkable
    deterministic twin of ``knn_ivf_kmeans`` (same trick as
    ``ann_lsh_buckets``'s pinned hyperplanes and SemDeDup's pinned
    centroids): coarse assignment is argmax cosine over the
    SEMDEDUP_CENTROIDS literals, then exact scoring ONLY within the
    query's cluster and a per-query top-5. DuckDB recomputes the whole
    index + search from the same literals, so a hash match certifies
    the IVF plan shape (assign → within-cluster score → rank) exactly;
    recall-vs-brute-force properties live on the learned variant."""
    import math as _m

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    dots = [
        F.aggregate(
            F.zip_with(
                "v",
                F.array(*[F.lit(x) for x in SEMDEDUP_CENTROIDS[k]]),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.lit(_m.sqrt(sum(x * x for x in SEMDEDUP_CENTROIDS[k])))
        for k in range(SEMDEDUP_K)
    ]
    best = F.greatest(*dots)
    cluster = F.lit(None).cast("long")
    for k in reversed(range(SEMDEDUP_K)):
        cluster = F.when(dots[k] == best, F.lit(k)).otherwise(cluster)
    assigned = e.select("vec_id", "v", cluster.alias("cluster_id"))
    q = F.broadcast(
        assigned.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("cluster_id").alias("qc"),
        )
    )
    scored = (
        assigned.join(
            q,
            (F.col("cluster_id") == F.col("qc"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            S.cosine(F.col("qv"), F.col("v")).alias("_cos"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("_cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.round("_cos", 4).alias("cos_sim"),
            "rank",
        )
    )


KNN_IVF_FIXED_SQL = (
    """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), dots AS (
  SELECT vec_id, v, """
    + ", ".join(
        f"list_dot_product(v, {_centroid_sql(k)}) / "
        f"{_math.sqrt(sum(x * x for x in SEMDEDUP_CENTROIDS[k]))!r} AS d{k}"
        for k in range(SEMDEDUP_K)
    )
    + """
  FROM v
), assigned AS (
  SELECT vec_id, v,
         CASE """
    + " ".join(
        f"WHEN d{k} = greatest(d0, d1, d2, d3) THEN {k}"
        for k in range(SEMDEDUP_K)
    )
    + """ END AS cluster_id
  FROM dots
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, c.v) AS cos
  FROM assigned q JOIN assigned c
    ON q.cluster_id = c.cluster_id AND c.vec_id <> q.vec_id
  WHERE q.vec_id % 100 = 0
), ranked AS (
  SELECT query_id, neighbor_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos, 4) AS cos_sim, rank
FROM ranked WHERE rank <= 5
"""
)

QUERIES["knn_ivf_fixed"] = knn_ivf_fixed
ORACLES["knn_ivf_fixed"] = KNN_IVF_FIXED_SQL


def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation: per-query recall@5 of the pinned
    IVF index (``knn_ivf_fixed``) against the exact brute-force top-5
    (``knn_topk_cosine``) — the accuracy/cost dial every ANN deployment
    reports. Both legs are independently oracle-pinned; this query
    certifies the EVALUATION join itself (hit counting, zero-recall
    queries kept via left join). Integer output (hits, basis points)
    — no float aggregation to drift.

    100 TB shape: ground truth is computed for a SAMPLED query set
    (vec_id % 100) by contract — recall eval never brute-forces the
    full corpus; the hits join is on (query_id, neighbor_id), both
    legs already partitioned by query_id from their own top-k windows."""
    bf = knn_topk_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = knn_ivf_fixed(spark, sf_dir).select("query_id", "neighbor_id")
    hits = (
        ivf.join(bf, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        bf.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n"), F.lit(0)) * 2000)
            .cast("long")
            .alias("recall_bps"),
        )
    )


ANN_RECALL_SQL = (
    "WITH bf AS (\n" + KNN_SQL + "\n), ivf AS (\n" + KNN_IVF_FIXED_SQL + """
), hits AS (
  SELECT bf.query_id, count(*) AS n
  FROM ivf JOIN bf USING (query_id, neighbor_id)
  GROUP BY 1
)
SELECT q.query_id,
       CAST(coalesce(n, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(n, 0) * 2000 AS BIGINT) AS recall_bps
FROM (SELECT DISTINCT query_id FROM bf) q LEFT JOIN hits USING (query_id)
"""
)

QUERIES["ann_recall_at_k"] = ann_recall_at_k
ORACLES["ann_recall_at_k"] = ANN_RECALL_SQL


def knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space label-consistency audit: for each sampled query
    vector, the fraction of its exact 5-NN sharing its label — the
    standard training-data diagnostic for mislabeled examples and
    class overlap (low agreement ⇒ label noise or boundary points).
    Integer output (hits, basis points); reuses the oracle-pinned
    brute-force kNN leg, so this query certifies the label join +
    agreement rollup."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    nn = knn_topk_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    return (
        nn.join(e.withColumnsRenamed({"vec_id": "query_id", "label": "q_label"}), "query_id")
        .join(e.withColumnsRenamed({"vec_id": "neighbor_id", "label": "n_label"}), "neighbor_id")
        .groupBy("query_id", "q_label")
        .agg(
            F.sum((F.col("n_label") == F.col("q_label")).cast("long")).alias(
                "n_agree"
            )
        )
        .select(
            "query_id",
            "q_label",
            F.col("n_agree").cast("long").alias("n_agree"),
            (F.col("n_agree") * 2000).cast("long").alias("agree_bps"),
        )
    )


KNN_LABEL_AGREEMENT_SQL = (
    "WITH nn AS (\n" + KNN_SQL + """
)
SELECT nn.query_id,
       CAST(q.label AS BIGINT) AS q_label,
       CAST(sum(CASE WHEN n.label = q.label THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       CAST(sum(CASE WHEN n.label = q.label THEN 1 ELSE 0 END) * 2000 AS BIGINT) AS agree_bps
FROM nn
JOIN embeddings q ON q.vec_id = nn.query_id
JOIN embeddings n ON n.vec_id = nn.neighbor_id
GROUP BY 1, 2
"""
)

QUERIES["knn_label_agreement"] = knn_label_agreement
ORACLES["knn_label_agreement"] = KNN_LABEL_AGREEMENT_SQL


# ------------------------------------------------ product quantization

PQ_NSUB = 8  # subspaces (64-dim -> 8 x 8)
PQ_DSUB = 8  # dims per subspace
PQ_KCODE = 16  # codes per subspace (4-bit)
PQ_QSCALE = 64  # int quantization: floor(x*64 + 0.5)


def _pq_int_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings with the integer-quantized view ``qv`` (and the raw
    double view ``v`` for coarse assignment)."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * PQ_QSCALE + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("qv"),
    )


def _pq_codes_col():
    """PQ encode expression over column ``qv`` -> array of 8 codes.
    argmin over 16 pinned centroids per subspace; array_position picks
    the FIRST min, so ties break to the lowest code like the oracle's
    (d, c) sort. The 16 per-code distances are a ``transform`` over the
    code index with the CLOSED-FORM centroid inside the lambda (not 16
    unrolled literal-array folds) — ~10x less generated code, which is
    what dominated this query's wall time at small SF."""

    def _sq(col):
        return col * col

    codes = []
    for s in range(PQ_NSUB):
        sub = F.slice("qv", s * PQ_DSUB + 1, PQ_DSUB)
        darr = F.transform(
            F.sequence(F.lit(0), F.lit(PQ_KCODE - 1)),
            lambda c: F.aggregate(
                F.zip_with(
                    sub,
                    F.sequence(F.lit(0), F.lit(PQ_DSUB - 1)),
                    lambda a, j: _sq(
                        a - ((F.lit(s * 73) + c * 37 + j * 17) % 25 - 12)
                    ),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        codes.append((F.array_position(darr, F.array_min(darr)) - 1).cast("long"))
    return F.array(*codes)


def _pq_adc_col(qq="qq", codes="codes"):
    """ADC expression between a query's int vector and a neighbor's PQ
    codes — centroid values reconstructed from the closed form inside
    the aggregate lambda, no codebook join."""

    def _sq(col):
        return col * col

    recon = lambda j, cod: (  # noqa: E731
        (j.cast("long") / PQ_DSUB).cast("long") * 73
        + F.element_at(cod, ((j / PQ_DSUB).cast("int")) + 1) * 37
        + (j % PQ_DSUB) * 17
    ) % 25 - 12
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(PQ_NSUB * PQ_DSUB - 1)),
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + _sq(
            F.element_at(F.col(qq), j.cast("int") + 1) - recon(j, F.col(codes))
        ),
    )


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-Quantization ANN with Asymmetric Distance Computation
    (Jegou et al., TPAMI 2011) — THE memory-side scale technique: 64
    float dims compress to 8 one-byte codes (32x), so a 100 TB vector
    corpus's index fits executor memory and ADC scans it without
    touching raw vectors. Codebooks here are PINNED closed-form
    literals (same deterministic-twin trick as ``knn_ivf_fixed``) and
    vectors are integer-quantized with the proven floor(x*S + 0.5)
    idiom, so encode -> ADC -> top-k is bit-exact and the DuckDB
    oracle recomputes the identical index end-to-end.

    Plan: encoding is map-only (argmin over 16 pinned centroids per
    subspace, all in whole-stage codegen); the query side (1% of rows
    by contract) broadcasts; ADC reconstructs centroid values from the
    closed form INSIDE the aggregate lambda — no codebook join, no
    shuffle until the per-query top-5 window. Compose with the IVF
    coarse filter (knn_ivf_fixed) for the full IVFPQ pipeline at
    scale; kept separate here so each stage has its own oracle.
    """
    from etl_extractor_spark.operators.common import fan_out

    enc = fan_out(_pq_int_vectors(spark, sf_dir)).select(
        "vec_id", "qv", _pq_codes_col().alias("codes")
    )
    q = F.broadcast(
        enc.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("query_id"), F.col("qv").alias("qq")
        )
    )
    x = enc.select(F.col("vec_id").alias("neighbor_id"), "codes")
    joined = x.join(q, F.col("neighbor_id") != F.col("query_id"))
    scored = joined.select(
        "query_id", "neighbor_id", _pq_adc_col().alias("adc_dist")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


PQ_ADC_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {PQ_QSCALE} + 0.5) AS BIGINT)) AS qv
  FROM embeddings
), comp AS (
  SELECT vec_id, j, qv[j + 1] AS qval, j // {PQ_DSUB} AS s, j % {PQ_DSUB} AS jj
  FROM q, LATERAL (SELECT unnest(generate_series(0, {PQ_NSUB * PQ_DSUB - 1})) AS j)
), cb AS (
  SELECT s, c, jj, (s * 73 + c * 37 + jj * 17) % 25 - 12 AS val
  FROM (SELECT unnest(generate_series(0, {PQ_NSUB - 1})) AS s),
       (SELECT unnest(generate_series(0, {PQ_KCODE - 1})) AS c),
       (SELECT unnest(generate_series(0, {PQ_DSUB - 1})) AS jj)
), sdist AS (
  SELECT comp.vec_id, comp.s, cb.c,
         sum((qval - val) * (qval - val)) AS d
  FROM comp JOIN cb ON cb.s = comp.s AND cb.jj = comp.jj
  GROUP BY 1, 2, 3
), codes AS (
  SELECT vec_id, s, c FROM (
    SELECT vec_id, s, c,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rn
    FROM sdist
  ) WHERE rn = 1
), recon AS (
  SELECT codes.vec_id, cb.s, cb.jj, cb.val
  FROM codes JOIN cb ON cb.s = codes.s AND cb.c = codes.c
), adc AS (
  SELECT qc.vec_id AS query_id, r.vec_id AS neighbor_id,
         sum((qc.qval - r.val) * (qc.qval - r.val)) AS a
  FROM comp qc
  JOIN recon r ON r.s = qc.s AND r.jj = qc.jj
  WHERE qc.vec_id % 100 = 0 AND r.vec_id <> qc.vec_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id,
       CAST(a AS BIGINT) AS adc_dist,
       CAST(rn AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY a, neighbor_id) AS rn
  FROM adc
) WHERE rn <= 5
"""

QUERIES["pq_adc_topk"] = pq_adc_topk
ORACLES["pq_adc_topk"] = PQ_ADC_SQL


def ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ pipeline (Jegou et al.) — the ANN architecture
    that actually runs at 100 TB: a coarse quantizer prunes the
    candidate set to the query's cluster (here nprobe=1 over the
    pinned SEMDEDUP centroids, the same assignment knn_ivf_fixed
    certifies), then PQ-ADC scores only those candidates from their
    8-byte codes. Per-query work drops from O(n) to O(n / k_coarse)
    and the scanned index is 32x smaller than the raw vectors — the
    two multiplicative wins compose. Both stages are individually
    oracle-certified (knn_ivf_fixed, pq_adc_topk); this query's oracle
    re-derives the COMPOSITION end-to-end in DuckDB, so the pruning
    and the compressed scoring are checked together.

    Plan: both quantizers are map-only codegen; queries (1%) broadcast
    with their cluster id; the candidate join is cluster-equality +
    ADC — one shuffle for the per-query top-5 window, nothing else.
    """
    from etl_extractor_spark.operators.common import fan_out

    enc = fan_out(_pq_int_vectors(spark, sf_dir))
    import math as _m

    dots = [
        F.aggregate(
            F.zip_with(
                "v",
                F.array(*[F.lit(x) for x in SEMDEDUP_CENTROIDS[k]]),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.lit(_m.sqrt(sum(x * x for x in SEMDEDUP_CENTROIDS[k])))
        for k in range(SEMDEDUP_K)
    ]
    best = F.greatest(*dots)
    cluster = F.lit(None).cast("long")
    for k in reversed(range(SEMDEDUP_K)):
        cluster = F.when(dots[k] == best, F.lit(k)).otherwise(cluster)
    enc = enc.select(
        "vec_id", "qv", cluster.alias("cluster_id"), _pq_codes_col().alias("codes")
    )
    q = F.broadcast(
        enc.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("qv").alias("qq"),
            F.col("cluster_id").alias("qc"),
        )
    )
    x = enc.select(F.col("vec_id").alias("neighbor_id"), "cluster_id", "codes")
    joined = x.join(
        q,
        (F.col("cluster_id") == F.col("qc"))
        & (F.col("neighbor_id") != F.col("query_id")),
    )
    scored = joined.select(
        "query_id", "neighbor_id", _pq_adc_col().alias("adc_dist")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


IVFPQ_ADC_SQL = (
    f"""
WITH q0 AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {PQ_QSCALE} + 0.5) AS BIGINT)) AS qv
  FROM embeddings
), dots AS (
  SELECT vec_id, qv, """
    + ", ".join(
        f"list_dot_product(v, {_centroid_sql(k)}) / "
        f"{_math.sqrt(sum(x * x for x in SEMDEDUP_CENTROIDS[k]))!r} AS d{k}"
        for k in range(SEMDEDUP_K)
    )
    + """
  FROM q0
), assigned AS (
  SELECT vec_id, qv,
         CASE """
    + " ".join(
        f"WHEN d{k} = greatest(d0, d1, d2, d3) THEN {k}"
        for k in range(SEMDEDUP_K)
    )
    + f""" END AS cluster_id
  FROM dots
), comp AS (
  SELECT vec_id, cluster_id, j, qv[j + 1] AS qval,
         j // {PQ_DSUB} AS s, j % {PQ_DSUB} AS jj
  FROM assigned,
       LATERAL (SELECT unnest(generate_series(0, {PQ_NSUB * PQ_DSUB - 1})) AS j)
), cb AS (
  SELECT s, c, jj, (s * 73 + c * 37 + jj * 17) % 25 - 12 AS val
  FROM (SELECT unnest(generate_series(0, {PQ_NSUB - 1})) AS s),
       (SELECT unnest(generate_series(0, {PQ_KCODE - 1})) AS c),
       (SELECT unnest(generate_series(0, {PQ_DSUB - 1})) AS jj)
), sdist AS (
  SELECT comp.vec_id, comp.s, cb.c,
         sum((qval - val) * (qval - val)) AS d
  FROM comp JOIN cb ON cb.s = comp.s AND cb.jj = comp.jj
  GROUP BY 1, 2, 3
), codes AS (
  SELECT vec_id, s, c FROM (
    SELECT vec_id, s, c,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rn
    FROM sdist
  ) WHERE rn = 1
), recon AS (
  SELECT codes.vec_id, a.cluster_id, cb.s, cb.jj, cb.val
  FROM codes
  JOIN cb ON cb.s = codes.s AND cb.c = codes.c
  JOIN assigned a ON a.vec_id = codes.vec_id
), adc AS (
  SELECT qc.vec_id AS query_id, r.vec_id AS neighbor_id,
         sum((qc.qval - r.val) * (qc.qval - r.val)) AS a
  FROM comp qc
  JOIN recon r ON r.s = qc.s AND r.jj = qc.jj
               AND r.cluster_id = qc.cluster_id
  WHERE qc.vec_id % 100 = 0 AND r.vec_id <> qc.vec_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id,
       CAST(a AS BIGINT) AS adc_dist,
       CAST(rn AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY a, neighbor_id) AS rn
  FROM adc
) WHERE rn <= 5
"""
)

QUERIES["ivfpq_adc_topk"] = ivfpq_adc_topk
ORACLES["ivfpq_adc_topk"] = IVFPQ_ADC_SQL


# ------------------------------------------------------------- DBSCAN

DBSCAN_TAU = 0.30  # cosine >= tau defines the eps-neighborhood
DBSCAN_MINPTS = 2  # neighbors (excl. self) required to be a core point


def embedding_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based clustering (DBSCAN, Ester et al. KDD'96) over the
    embeddings — completes the clustering family (centroid: IVF/
    KMeans; threshold: SemDeDup; density: this). The scalable
    decomposition: eps-neighbor pairs from the BLOCKED cosine join
    (never corpus all-pairs), core points by degree count, clusters =
    connected components over the core-core subgraph (the
    large-star/small-star operator — O(log n) rounds), border points
    attach to their minimum-labeled core neighbor, everything else is
    noise. Deterministic labels (component min), exact oracle via the
    same construction with a recursive-CTE closure.

    Output: (vec_id, role core/border/noise, cluster_id — null for
    noise)."""
    from etl_extractor_spark.operators.dedup import connected_components_star

    e = load_table(spark, sf_dir, "embeddings")
    pairs = (
        S.blocked_pairs_cosine(e)
        .filter(F.col("cos_raw") >= DBSCAN_TAU)
        .select("id_a", "id_b")
    )
    neigh = pairs.unionByName(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    deg = neigh.groupBy("id_a").agg(F.count(F.lit(1)).alias("n_nb"))
    core = deg.filter(F.col("n_nb") >= DBSCAN_MINPTS).select(
        F.col("id_a").alias("cid")
    )
    core_edges = (
        pairs.join(core.withColumnRenamed("cid", "id_a"), "id_a", "semi")
        .join(core.withColumnRenamed("cid", "id_b"), "id_b", "semi")
        .select("id_a", "id_b")
    )
    cc = connected_components_star(
        core.select(F.col("cid").cast("long")), core_edges
    ).select(F.col("node").alias("cid"), "cluster_id")
    # border: non-core vertices take the min cluster among core neighbors
    border = (
        neigh.join(core.withColumnRenamed("cid", "id_a"), "id_a", "anti")
        .join(
            cc.withColumnRenamed("cid", "id_b"), "id_b"
        )
        .groupBy("id_a")
        .agg(F.min("cluster_id").alias("b_cluster"))
    )
    out = (
        e.select(F.col("vec_id"))
        .join(cc.withColumnRenamed("cid", "vec_id"), "vec_id", "left")
        .join(border.withColumnRenamed("id_a", "vec_id"), "vec_id", "left")
    )
    return out.select(
        "vec_id",
        F.when(F.col("cluster_id").isNotNull(), F.lit("core"))
        .when(F.col("b_cluster").isNotNull(), F.lit("border"))
        .otherwise(F.lit("noise"))
        .alias("role"),
        F.coalesce("cluster_id", "b_cluster").alias("cluster_id"),
    )


EMBEDDING_DBSCAN_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(
          list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
          list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= {DBSCAN_TAU}
), neigh AS (
  SELECT id_a, id_b FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
), core AS (
  SELECT id_a AS cid FROM neigh GROUP BY 1 HAVING count(*) >= {DBSCAN_MINPTS}
), core_edges AS (
  SELECT id_a, id_b FROM pairs
  WHERE id_a IN (SELECT cid FROM core) AND id_b IN (SELECT cid FROM core)
), bidir AS (
  SELECT id_a AS a, id_b AS b FROM core_edges
  UNION
  SELECT id_b, id_a FROM core_edges
), reach(node, m) AS (
  SELECT cid, cid FROM core
  UNION
  SELECT e.a, r.m FROM bidir e JOIN reach r ON e.b = r.node
), cc AS (
  SELECT node AS cid, min(m) AS cluster_id FROM reach GROUP BY node
), border AS (
  SELECT n.id_a, min(c.cluster_id) AS b_cluster
  FROM neigh n JOIN cc c ON n.id_b = c.cid
  WHERE n.id_a NOT IN (SELECT cid FROM core)
  GROUP BY n.id_a
)
SELECT e.vec_id,
       CASE WHEN cc.cluster_id IS NOT NULL THEN 'core'
            WHEN border.b_cluster IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       coalesce(cc.cluster_id, border.b_cluster) AS cluster_id
FROM embeddings e
LEFT JOIN cc ON e.vec_id = cc.cid
LEFT JOIN border ON e.vec_id = border.id_a
"""

QUERIES["embedding_dbscan"] = embedding_dbscan
ORACLES["embedding_dbscan"] = EMBEDDING_DBSCAN_SQL


MAXSIM_GROUP = 8  # vectors per multi-vector "document"
MAXSIM_QVECS = 2  # query vectors per multi-vector query
MAXSIM_QMOD = 20  # every 20th group is a query
MAXSIM_K = 3


def maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction multi-vector retrieval (ColBERT-style MaxSim,
    Khattab & Zaharia SIGIR'20): documents are GROUPS of vectors
    (vec_id div 8), queries carry 2 vectors each, and the score is
    Σ_q max_d cos(q, d) — each query vector picks its best-matching
    doc vector, unlike single-vector retrieval which pools first and
    loses token-level alignment.

    Plan: the query side (2 vectors × |groups|/20) broadcasts; one
    cosine pass over (doc vector × query vector), a per-(query, doc,
    qvec) MAX, a per-(query, doc) SUM, then a per-query top-3 window —
    shuffles are bounded by |candidate scores|, never vectors². At
    100 TB the doc side streams; IVF pruning composes in front exactly
    as in ivfpq_adc_topk."""
    from etl_extractor_spark.operators.common import fan_out
    from etl_extractor_spark.operators.similarity import as_double, cosine
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    grouped = e.select(
        F.expr(f"vec_id div {MAXSIM_GROUP}").alias("grp"),
        "vec_id",
        as_double("embedding").alias("v"),
    )
    q = F.broadcast(
        grouped.filter(
            (F.col("grp") % MAXSIM_QMOD == 0)
            & (F.col("vec_id") % MAXSIM_GROUP < MAXSIM_QVECS)
        ).select(
            F.col("grp").alias("q_grp"),
            F.col("vec_id").alias("q_vec"),
            F.col("v").alias("qv"),
        )
    )
    c = fan_out(grouped).select(
        F.col("grp").alias("d_grp"), F.col("v").alias("dv")
    )
    per_qvec = (
        c.join(q, F.col("d_grp") != F.col("q_grp"))
        .select(
            "q_grp",
            "d_grp",
            "q_vec",
            cosine(F.col("qv"), F.col("dv")).alias("c"),
        )
        .groupBy("q_grp", "d_grp", "q_vec")
        .agg(F.max("c").alias("best"))
    )
    scored = per_qvec.groupBy("q_grp", "d_grp").agg(
        F.sum("best").alias("maxsim")
    )
    w = Window.partitionBy("q_grp").orderBy(F.desc("maxsim"), F.asc("d_grp"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= MAXSIM_K)
        .select(
            F.col("q_grp").alias("query_group"),
            F.col("d_grp").alias("doc_group"),
            F.round("maxsim", 4).alias("maxsim"),
            "rank",
        )
    )


MAXSIM_SQL = f"""
WITH g AS (
  SELECT vec_id // {MAXSIM_GROUP} AS grp, vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), q AS (
  SELECT grp AS q_grp, vec_id AS q_vec, v AS qv FROM g
  WHERE grp % {MAXSIM_QMOD} = 0 AND vec_id % {MAXSIM_GROUP} < {MAXSIM_QVECS}
), per_qvec AS (
  SELECT q.q_grp, g.grp AS d_grp, q.q_vec,
         max(list_cosine_similarity(q.qv, g.v)) AS best
  FROM g JOIN q ON g.grp <> q.q_grp
  GROUP BY 1, 2, 3
), scored AS (
  SELECT q_grp, d_grp, sum(best) AS maxsim FROM per_qvec GROUP BY 1, 2
), ranked AS (
  SELECT q_grp, d_grp, maxsim,
         CAST(row_number() OVER (PARTITION BY q_grp
                                 ORDER BY maxsim DESC, d_grp ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT q_grp AS query_group, d_grp AS doc_group, round(maxsim, 4) AS maxsim, rank
FROM ranked WHERE rank <= {MAXSIM_K}
"""

QUERIES["maxsim_multivector"] = maxsim_multivector
ORACLES["maxsim_multivector"] = MAXSIM_SQL


def maxsim_ivf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MaxSim with IVF coarse pruning — the 100 TB composition the
    brute variant's docstring promises: each multi-vector group gets a
    coarse cluster from its REPRESENTATIVE vector (the group's first,
    i.e. vec_id % group == 0 — this pinned HOF reference DEFINES its
    spec on the contiguous-id embeddings layout; the parameterized
    production operator ``operators/similarity.maxsim_ivf_topk`` uses
    the layout-independent min(vec_id)/rank forms, which coincide
    here; argmax cosine over the pinned SEMDEDUP centroids, exactly
    the knn_ivf_fixed quantizer), and late interaction runs only
    against same-cluster doc groups. Per-query candidate count drops by
    ~k_coarse (brute probe at 200k vectors: 425 s; pruning divides the
    interaction pair space by the cluster count), and both stages stay
    oracle-certified — DuckDB re-derives assignment + MaxSim from the
    same literals."""
    import math as _m

    from etl_extractor_spark.operators.common import fan_out
    from etl_extractor_spark.operators.similarity import as_double, cosine
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    grouped = e.select(
        F.expr(f"vec_id div {MAXSIM_GROUP}").alias("grp"),
        "vec_id",
        as_double("embedding").alias("v"),
    )
    reps = grouped.filter(F.col("vec_id") % MAXSIM_GROUP == 0)
    dots = [
        F.aggregate(
            F.zip_with(
                "v",
                F.array(*[F.lit(x) for x in SEMDEDUP_CENTROIDS[k]]),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.lit(_m.sqrt(sum(x * x for x in SEMDEDUP_CENTROIDS[k])))
        for k in range(SEMDEDUP_K)
    ]
    best = F.greatest(*dots)
    cl = F.lit(None).cast("long")
    for k in reversed(range(SEMDEDUP_K)):
        cl = F.when(dots[k] == best, F.lit(k)).otherwise(cl)
    clusters = reps.select("grp", cl.alias("cluster_id"))
    g = grouped.join(clusters, "grp")
    q = F.broadcast(
        g.filter(
            (F.col("grp") % MAXSIM_QMOD == 0)
            & (F.col("vec_id") % MAXSIM_GROUP < MAXSIM_QVECS)
        ).select(
            F.col("grp").alias("q_grp"),
            F.col("vec_id").alias("q_vec"),
            F.col("v").alias("qv"),
            F.col("cluster_id").alias("qc"),
        )
    )
    c = fan_out(g).select(
        F.col("grp").alias("d_grp"), F.col("v").alias("dv"), "cluster_id"
    )
    per_qvec = (
        c.join(
            q,
            (F.col("cluster_id") == F.col("qc"))
            & (F.col("d_grp") != F.col("q_grp")),
        )
        .select("q_grp", "d_grp", "q_vec", cosine(F.col("qv"), F.col("dv")).alias("c"))
        .groupBy("q_grp", "d_grp", "q_vec")
        .agg(F.max("c").alias("best"))
    )
    scored = per_qvec.groupBy("q_grp", "d_grp").agg(F.sum("best").alias("maxsim"))
    w = Window.partitionBy("q_grp").orderBy(F.desc("maxsim"), F.asc("d_grp"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= MAXSIM_K)
        .select(
            F.col("q_grp").alias("query_group"),
            F.col("d_grp").alias("doc_group"),
            F.round("maxsim", 4).alias("maxsim"),
            "rank",
        )
    )


MAXSIM_IVF_SQL = (
    f"""
WITH g AS (
  SELECT vec_id // {MAXSIM_GROUP} AS grp, vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), repdots AS (
  SELECT grp, """
    + ", ".join(
        f"list_dot_product(v, {_centroid_sql(k)}) / "
        f"{_math.sqrt(sum(x * x for x in SEMDEDUP_CENTROIDS[k]))!r} AS d{k}"
        for k in range(SEMDEDUP_K)
    )
    + f"""
  FROM g WHERE vec_id % {MAXSIM_GROUP} = 0
), clusters AS (
  SELECT grp, CASE """
    + " ".join(
        f"WHEN d{k} = greatest(d0, d1, d2, d3) THEN {k}"
        for k in range(SEMDEDUP_K)
    )
    + f""" END AS cluster_id
  FROM repdots
), gc AS (
  SELECT g.grp, g.vec_id, g.v, c.cluster_id FROM g JOIN clusters c USING (grp)
), q AS (
  SELECT grp AS q_grp, vec_id AS q_vec, v AS qv, cluster_id AS qc FROM gc
  WHERE grp % {MAXSIM_QMOD} = 0 AND vec_id % {MAXSIM_GROUP} < {MAXSIM_QVECS}
), per_qvec AS (
  SELECT q.q_grp, gc.grp AS d_grp, q.q_vec,
         max(list_cosine_similarity(q.qv, gc.v)) AS best
  FROM gc JOIN q ON gc.cluster_id = q.qc AND gc.grp <> q.q_grp
  GROUP BY 1, 2, 3
), scored AS (
  SELECT q_grp, d_grp, sum(best) AS maxsim FROM per_qvec GROUP BY 1, 2
), ranked AS (
  SELECT q_grp, d_grp, maxsim,
         CAST(row_number() OVER (PARTITION BY q_grp
                                 ORDER BY maxsim DESC, d_grp ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT q_grp AS query_group, d_grp AS doc_group, round(maxsim, 4) AS maxsim, rank
FROM ranked WHERE rank <= {MAXSIM_K}
"""
)

QUERIES["maxsim_ivf_pruned"] = maxsim_ivf_pruned
ORACLES["maxsim_ivf_pruned"] = MAXSIM_IVF_SQL


def maxsim_ivf_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION MaxSim-IVF path under the driver contract: the
    parameterized ``operators/similarity.maxsim_ivf_topk`` (Arrow
    pandas_udf codebook assignment — one numpy matmul per batch — the
    form the r5 coarse-k probe measured at 129× over brute with 93.6%
    recall@3 at k_coarse=256; BASELINE.md) instantiated on the SAME
    pinned SEMDEDUP centroids and literals as ``maxsim_ivf_pruned``.
    Its oracle is the layout-independent spec the operator actually
    implements — representative = min(vec_id) per group (arg_min),
    query vectors = the qvecs smallest vec_ids per query group — so
    plan and SQL state the SAME contract on any id layout (review
    catch: sharing the pruned twin's modulo-form SQL verbatim was
    correct only under contiguous ids). On this dataset the two specs
    coincide, so hash-equality ALSO certifies the vectorized
    assignment agrees with the HOF-expression reference cluster for
    cluster and score for score — the expression twin is the
    declarative-semantics reference, this is the hot path."""
    from etl_extractor_spark.operators.similarity import maxsim_ivf_topk

    e = load_table(spark, sf_dir, "embeddings")
    return maxsim_ivf_topk(
        e,
        SEMDEDUP_CENTROIDS,
        group=MAXSIM_GROUP,
        qmod=MAXSIM_QMOD,
        qvecs=MAXSIM_QVECS,
        k=MAXSIM_K,
        nprobe=1,
    )


QUERIES["maxsim_ivf_np"] = maxsim_ivf_np
# Layout-independent spec: arg_min representative + rank-based query
# vectors (matches maxsim_ivf_topk exactly; coincides with the
# modulo-form MAXSIM_IVF_SQL on this contiguous-id dataset).
MAXSIM_IVF_MINREP_SQL = (
    f"""
WITH g AS (
  SELECT vec_id // {MAXSIM_GROUP} AS grp, vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), reps AS (
  SELECT grp, arg_min(v, vec_id) AS v FROM g GROUP BY grp
), repdots AS (
  SELECT grp, """
    + ", ".join(
        f"list_dot_product(v, {_centroid_sql(k)}) / "
        f"{_math.sqrt(sum(x * x for x in SEMDEDUP_CENTROIDS[k]))!r} AS d{k}"
        for k in range(SEMDEDUP_K)
    )
    + f"""
  FROM reps
), clusters AS (
  SELECT grp, CASE """
    + " ".join(
        f"WHEN d{k} = greatest(d0, d1, d2, d3) THEN {k}"
        for k in range(SEMDEDUP_K)
    )
    + f""" END AS cluster_id
  FROM repdots
), gc AS (
  SELECT g.grp, g.vec_id, g.v, c.cluster_id FROM g JOIN clusters c USING (grp)
), q AS (
  SELECT q_grp, q_vec, qv, qc FROM (
    SELECT grp AS q_grp, vec_id AS q_vec, v AS qv, cluster_id AS qc,
           row_number() OVER (PARTITION BY grp ORDER BY vec_id) AS qr
    FROM gc WHERE grp % {MAXSIM_QMOD} = 0
  ) WHERE qr <= {MAXSIM_QVECS}
), per_qvec AS (
  SELECT q.q_grp, gc.grp AS d_grp, q.q_vec,
         max(list_cosine_similarity(q.qv, gc.v)) AS best
  FROM gc JOIN q ON gc.cluster_id = q.qc AND gc.grp <> q.q_grp
  GROUP BY 1, 2, 3
), scored AS (
  SELECT q_grp, d_grp, sum(best) AS maxsim FROM per_qvec GROUP BY 1, 2
), ranked AS (
  SELECT q_grp, d_grp, maxsim,
         CAST(row_number() OVER (PARTITION BY q_grp
                                 ORDER BY maxsim DESC, d_grp ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT q_grp AS query_group, d_grp AS doc_group, round(maxsim, 4) AS maxsim, rank
FROM ranked WHERE rank <= {MAXSIM_K}
"""
)
ORACLES["maxsim_ivf_np"] = MAXSIM_IVF_MINREP_SQL
