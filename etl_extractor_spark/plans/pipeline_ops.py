"""Round-5-late pipeline-operations wave.

Queries (each oracle-backed):

- shard_zip_members     : real PKZIP codec round-trip, 8 docs/shard
- shard_warc_gzip       : CommonCrawl-style .warc.gz — one gzip member
                          per WARC record, concatenated; member-split
                          reader
- unicode_nfc_dedup     : NFC normalization parity (Arrow UDF vs
                          DuckDB nfc_normalize) + normalized dedup
- mojibake_score        : ftfy-style mojibake / control-char detection
- incremental_agg_merge : manifest-snapshot delta aggregation merged
                          with a prior partial == full recompute
- ols_price_model       : closed-form 2-feature OLS via sufficient
                          statistics
- content_defined_chunks : FastCDC/Rabin-style rolling-hash chunk
                          boundaries, pure Catalyst HOFs
- embedding_centroid_drift : per-label centroid cosine between two
                          pseudo-snapshots, exact integer sums
- feature_correlation_matrix : Pearson r matrix from one-pass integer
                          sufficient statistics
- streaming_rate_limit_replay : 7th driver-certified streaming query —
                          stateful token-bucket throttle, availableNow
                          replay vs the batch window oracle
- dp_noisy_counts       : Laplace-mechanism count release with a
                          seeded deterministic draw (exact oracle)
- quantile_normalize_sources : per-source → global order-statistic
                          mapping, distributed two-phase ranks
- shard_bz2_multistream : Wikipedia-dump multistream bz2 members
- manifest_merge_on_read : Iceberg-style equality deletes + time
                          travel across delete commits
- unigram_lm_segment    : SentencePiece-style Viterbi DP as unrolled
                          codegen columns
- seasonal_decompose_daily : exact integer trend/weekday decomposition
- cuped_ab_adjustment   : CUPED variance-reduced A/B readout
- did_estimator         : difference-in-differences from the same
                          sufficient-stats machinery
- mann_whitney_u        : tie-exact doubled-integer rank-sum test,
                          two-phase cumulative counts
- km_survival_curve     : right-censored Kaplan-Meier churn curve,
                          integer log-sum product limit
- logrank_test          : two-group survival comparison, exact O-E
                          sums

Reference parity: nilfredb/ETL-Extractor has no shard/dedup/stats
layer (core is extractors/*.py + transformers/*.py, 828 LoC); these
are the at-scale generalizations its pipeline would need at 100 TB.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_extractor_spark.functions.quantize import cents, q6
from etl_extractor_spark.operators import multimodal as M
from etl_extractor_spark.sources.parquet import load_table
from etl_extractor_spark.operators.common import pid_scratch_dir
from etl_extractor_spark.plans.trigrams import _norm_toks

QUERIES: dict = {}
ORACLES: dict = {}


def shard_zip_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP shard ingestion, real end to end: 8 documents per shard are
    written into a genuine PKZIP archive (``operators/multimodal.
    encode_zip`` — local headers, DEFLATE method 8, CRC-32, central
    directory, EOCD; stdlib-``zipfile``-cross-validated both ways in
    pytest), then ``decode_zip`` parses the central directory back and
    CRC-verifies every member. applyInPandas groups by shard id (the
    one shuffle); pack → parse stays inside one Arrow batch per shard.
    The oracle re-derives member name, size and content digest per
    document, so a header-offset slip or CRC error hash-fails.
    100 TB: per-shard work is O(shard bytes) with no driver state;
    shards are the unit of parallelism, exactly like .zip/.tar corpus
    drops land in object storage."""
    import pandas as pd
    from pyspark.sql import types as T

    d = load_table(spark, sf_dir, "documents")
    schema = T.StructType(
        [
            T.StructField("shard_id", T.LongType()),
            T.StructField("member", T.StringType()),
            T.StructField("size_bytes", T.LongType()),
            T.StructField("content_md5", T.StringType()),
        ]
    )

    def pack_and_unpack(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib

        pdf = pdf.sort_values("doc_id")
        shard = int(pdf["shard_id"].iloc[0])
        members = [
            (f"doc{int(did)}.txt", str(text).encode())
            for did, text in zip(pdf["doc_id"], pdf["text"])
        ]
        rows = [
            (shard, name, len(data), hashlib.md5(data).hexdigest())
            for name, data in M.decode_zip(M.encode_zip(members))
        ]
        return pd.DataFrame(
            rows, columns=["shard_id", "member", "size_bytes", "content_md5"]
        )

    from etl_extractor_spark.operators.common import spread_groups

    return (
        spread_groups(
            d.select(F.expr("doc_id div 8").alias("shard_id"), "doc_id", "text"),
            "shard_id",
        )
        .groupBy("shard_id")
        .applyInPandas(pack_and_unpack, schema)
    )


SHARD_ZIP_SQL = """
SELECT doc_id // 8 AS shard_id,
       'doc' || doc_id || '.txt' AS member,
       CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes,
       md5(text) AS content_md5
FROM documents
"""

QUERIES["shard_zip_members"] = shard_zip_members
ORACLES["shard_zip_members"] = SHARD_ZIP_SQL


def shard_warc_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The .warc.gz shape CommonCrawl actually ships: each WARC record
    is an INDIVIDUAL gzip member and members are concatenated, so a
    reader can split records at gzip boundaries without inflating the
    whole shard (``operators/multimodal.decode_gzip_members`` chases
    ``unused_data`` across member boundaries; CRC-32/ISIZE trailer
    verified per member, stdlib-``gzip``-cross-validated in pytest).
    Each inflated member is then parsed as a WARC/1.0 record by the
    Content-Length-framed reader. The oracle re-derives record id,
    URI, size and digest from the raw documents — a member split one
    byte off or a bad trailer hash-fails the whole tail.
    100 TB: per-member decompression is the random-access contract
    that makes .warc.gz splittable work units."""
    import pandas as pd
    from pyspark.sql import types as T

    d = load_table(spark, sf_dir, "documents")
    schema = T.StructType(
        [
            T.StructField("shard_id", T.LongType()),
            T.StructField("record_id", T.StringType()),
            T.StructField("target_uri", T.StringType()),
            T.StructField("size_bytes", T.LongType()),
            T.StructField("content_md5", T.StringType()),
        ]
    )

    def pack_and_unpack(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib

        pdf = pdf.sort_values("doc_id")
        shard = int(pdf["shard_id"].iloc[0])
        # one gzip member per WARC record, concatenated
        shard_bytes = b"".join(
            M.encode_gzip_member(
                M.encode_warc(
                    [(f"doc-{int(did)}", f"corpus://{src}/{int(did)}", str(text).encode())]
                )
            )
            for did, src, text in zip(pdf["doc_id"], pdf["source"], pdf["text"])
        )
        rows = []
        for member in M.decode_gzip_members(shard_bytes):
            for rid, uri, data in M.decode_warc(member):
                rows.append(
                    (shard, rid, uri, len(data), hashlib.md5(data).hexdigest())
                )
        return pd.DataFrame(
            rows,
            columns=["shard_id", "record_id", "target_uri", "size_bytes", "content_md5"],
        )

    from etl_extractor_spark.operators.common import spread_groups

    return (
        spread_groups(
            d.select(
                F.expr("doc_id div 8").alias("shard_id"), "doc_id", "source", "text"
            ),
            "shard_id",
        )
        .groupBy("shard_id")
        .applyInPandas(pack_and_unpack, schema)
    )


QUERIES["shard_warc_gzip"] = shard_warc_gzip
# Same record identity/framing contract as the uncompressed WARC query
# — the gzip wrap must be TRANSPARENT, so sharing plans/multimodal's
# oracle verbatim is the point (one source of truth, review catch).
from etl_extractor_spark.plans.multimodal import SHARD_WARC_SQL as _WARC_SQL  # noqa: E402

ORACLES["shard_warc_gzip"] = _WARC_SQL


# --- Unicode NFC normalization parity ---------------------------------


def unicode_nfc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization — the text-pipeline step every multi-
    source 100 TB corpus needs before hashing/dedup, since NFC and NFD
    spellings of the same word hash differently. The corpus is ASCII,
    so the query first DECOMPOSES deterministically (every 'e' gains a
    combining acute U+0301 — regexp on both engines), then normalizes
    back to NFC with an Arrow-batched pandas UDF over stdlib
    ``unicodedata`` and emits byte/codepoint lengths plus the digest of
    the normalized text. DuckDB's native nfc_normalize() recomputes
    the identical transform, so the UDF's normalization is pinned
    cross-engine, not self-referential. Map-only: no shuffle, no
    collect; Python cost is one Arrow batch stream."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        return s.map(lambda v: unicodedata.normalize("NFC", v))

    d = load_table(spark, sf_dir, "documents")
    decomposed = F.regexp_replace(F.col("text").cast("string"), "e", "é")
    nfc_text = nfc(decomposed)
    return d.select(
        "doc_id",
        F.octet_length(decomposed).alias("bytes_decomposed"),
        F.octet_length(nfc_text).alias("bytes_nfc"),
        F.length(nfc_text).alias("chars_nfc"),
        F.md5(F.encode(nfc_text, "UTF-8")).alias("nfc_md5"),
    ).orderBy("doc_id")


UNICODE_NFC_SQL = """
WITH x AS (
  SELECT doc_id,
         regexp_replace(CAST(text AS VARCHAR), 'e', 'e' || chr(769), 'g') AS dec,
         nfc_normalize(regexp_replace(CAST(text AS VARCHAR), 'e', 'e' || chr(769), 'g')) AS nfc
  FROM documents
)
SELECT doc_id,
       CAST(strlen(dec) AS BIGINT) AS bytes_decomposed,
       CAST(strlen(nfc) AS BIGINT) AS bytes_nfc,
       CAST(length(nfc) AS BIGINT) AS chars_nfc,
       md5(nfc) AS nfc_md5
FROM x
ORDER BY doc_id
"""

QUERIES["unicode_nfc_dedup"] = unicode_nfc_dedup
ORACLES["unicode_nfc_dedup"] = UNICODE_NFC_SQL


# --- Mojibake / encoding-damage detection -----------------------------


def mojibake_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-style encoding-damage triage: UTF-8 bytes mis-decoded as
    Latin-1 leave the unmistakable 'Ã?' digraphs ('á'→'Ã¡',
    'ó'→'Ã³'). A deterministic corruption rule (docs with
    doc_id%7==0 get 'a'→'Ã¡', 'o'→'Ã³') simulates the damage on both
    engines; the DETECTOR — what a real pipeline runs — is a pure-
    Catalyst regexp count of mojibake digraphs per doc, scored per
    10k bytes. Map-only, whole-stage-codegen; the oracle applies the
    identical corruption + detector, so a detector that over- or
    under-matches hash-fails. At 100 TB this is a scan-rate filter:
    no shuffle, no UDF."""
    d = load_table(spark, sf_dir, "documents")
    corrupted = F.when(
        F.col("doc_id") % 7 == 0,
        F.regexp_replace(
            F.regexp_replace(F.col("text").cast("string"), "a", "Ã¡"),
            "o",
            "Ã³",
        ),
    ).otherwise(F.col("text").cast("string"))
    hits = F.regexp_count(corrupted, F.lit("Ã[¡³]"))
    return d.select(
        "doc_id",
        hits.alias("n_mojibake"),
        F.octet_length(corrupted).alias("n_bytes"),
        (
            F.floor(
                hits.cast("long") * 10000 * 10000 / F.octet_length(corrupted)
            )
            / 10000
        ).alias("per_10k_bytes"),
        (hits > 0).alias("damaged"),
    ).orderBy("doc_id")


MOJIBAKE_SQL = """
WITH x AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN regexp_replace(regexp_replace(CAST(text AS VARCHAR), 'a', chr(195) || chr(225), 'g'),
                                  'o', chr(195) || chr(243), 'g')
              ELSE CAST(text AS VARCHAR) END AS t
  FROM documents
), c AS (
  SELECT doc_id, t,
         CAST(len(regexp_extract_all(t, chr(195) || '[' || chr(225) || chr(243) || ']', 0)) AS BIGINT) AS n_mojibake
  FROM x
)
SELECT doc_id,
       n_mojibake,
       CAST(strlen(t) AS BIGINT) AS n_bytes,
       floor(n_mojibake * 10000 * 10000 / strlen(t)) / 10000 AS per_10k_bytes,
       n_mojibake > 0 AS damaged
FROM c
ORDER BY doc_id
"""

QUERIES["mojibake_score"] = mojibake_score
ORACLES["mojibake_score"] = MOJIBAKE_SQL


# --- Incremental aggregation via manifest snapshot deltas -------------


def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE 100 TB pattern: never recompute an aggregate over the whole
    table when a commit only ADDED files. Raw orders are committed in
    two manifest snapshots (pre-1997-07 overwrite, then the remainder
    appended); the incremental reader aggregates snapshot 1 once, then
    aggregates ONLY the delta files (snapshot-2 file set minus
    snapshot-1 file set — a pure manifest-metadata diff, no listing,
    no re-scan of old data) and merges the two partial aggregates
    algebraically (count/sum are commutative monoids). The oracle
    recomputes the same aggregate from ALL raw orders, so a wrong
    delta file set, a double-counted file or a non-algebraic merge
    hash-fails. Money stays DECIMAL-cents-exact end to end."""
    import os
    import tempfile

    from etl_extractor_spark.sinks import manifest as MF

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.to_date("o_orderdate").alias("d"),
        cents("o_totalprice").alias("cents"),
    )
    path = pid_scratch_dir("spark_graft_incr_agg_")
    MF.write_with_manifest(
        spark, o.filter(F.col("d") < "1997-07-01"), path,
        stats_cols=["cents"], mode="overwrite",
    )
    MF.write_with_manifest(
        spark, o.filter(F.col("d") >= "1997-07-01"), path,
        stats_cols=["cents"], mode="append",
    )

    m = MF.read_manifest(path)
    snaps = {s["id"]: set(s["files"]) for s in m["snapshots"]}
    v1, v2 = sorted(snaps)
    delta_files = sorted(snaps[v2] - snaps[v1])

    def partial(df):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )

    base = partial(MF.read_snapshot(spark, path, v1))
    delta = partial(
        spark.read.parquet(*[os.path.join(path, f) for f in delta_files])
    )
    return (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("sum_cents").cast("long").alias("sum_cents"),
        )
        .orderBy("o_orderpriority")
    )


INCR_AGG_SQL = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders
GROUP BY 1
ORDER BY 1
"""

QUERIES["incremental_agg_merge"] = incremental_agg_merge
ORACLES["incremental_agg_merge"] = INCR_AGG_SQL


# --- Closed-form OLS from integer sufficient statistics ---------------


def ols_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature ordinary least squares per l_returnflag — price
    (cents) regressed on quantity and discount (bps) — solved in
    CLOSED FORM from sufficient statistics: the map-side reduces the
    whole table to nine INTEGER sums per group (n, Σx1, Σx2, Σy,
    Σx1², Σx2², Σx1x2, Σx1y, Σx2y — all exact BIGINTs, so no float
    sum-order drift can touch the hash), and the 2×2 normal-equation
    solve happens on those scalars. This is the at-scale shape for
    any moment-based model: one aggregation pass, partial (map-side)
    combine, O(groups) driver-free math, identical in SQL for the
    oracle. Slopes/intercept/R² are floor-quantized to 1e-6 on both
    engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("x1"),
        (F.col("l_discount").cast("decimal(12,4)") * 10000)
        .cast("long")
        .alias("x2"),
        cents("l_extendedprice").alias("y"),
    )
    # Exact, order-independent accumulation: per-row products stay in
    # long range (y <= ~1e7 cents so y*y <= ~1e14) but their SUMS can
    # pass 2^63 at sf1+, so each sum runs in DECIMAL(38,0) — a
    # commutative exact integer monoid; the sums convert to double
    # identically on both engines (one IEEE round-to-nearest of the
    # same exact integer) before the closed-form solve.
    def dsum(c):
        return F.sum(c.cast("decimal(38,0)"))

    s = li.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("x1")).alias("s1"),
        dsum(F.col("x2")).alias("s2"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x1") * F.col("x1")).alias("s11"),
        dsum(F.col("x2") * F.col("x2")).alias("s22"),
        dsum(F.col("x1") * F.col("x2")).alias("s12"),
        dsum(F.col("x1") * F.col("y")).alias("s1y"),
        dsum(F.col("x2") * F.col("y")).alias("s2y"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")

    def d(name):
        return F.col(name).cast("double")

    c11 = d("s11") - d("s1") * d("s1") / n
    c22 = d("s22") - d("s2") * d("s2") / n
    c12 = d("s12") - d("s1") * d("s2") / n
    c1y = d("s1y") - d("s1") * d("sy") / n
    c2y = d("s2y") - d("s2") * d("sy") / n
    cyy = d("syy") - d("sy") * d("sy") / n
    det = c11 * c22 - c12 * c12
    b1 = (c22 * c1y - c12 * c2y) / det
    b2 = (c11 * c2y - c12 * c1y) / det
    b0 = (d("sy") - b1 * d("s1") - b2 * d("s2")) / n
    r2 = (b1 * c1y + b2 * c2y) / cyy

    return s.select(
        "flag",
        F.col("n").cast("long").alias("n"),
        q6(b1).alias("slope_qty"),
        q6(b2).alias("slope_disc_bps"),
        q6(b0).alias("intercept_cents"),
        q6(r2).alias("r2"),
    ).orderBy("flag")


OLS_SQL = """
WITH x AS (
  SELECT l_returnflag AS flag,
         CAST(l_quantity AS BIGINT) AS x1,
         CAST(CAST(l_discount AS DECIMAL(12,4)) * 10000 AS BIGINT) AS x2,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM lineitem
), s AS (
  SELECT flag, count(*) AS n,
         CAST(sum(x1) AS DOUBLE) AS s1, CAST(sum(x2) AS DOUBLE) AS s2,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x1*x1) AS DOUBLE) AS s11, CAST(sum(x2*x2) AS DOUBLE) AS s22,
         CAST(sum(x1*x2) AS DOUBLE) AS s12, CAST(sum(x1*y) AS DOUBLE) AS s1y,
         CAST(sum(x2*y) AS DOUBLE) AS s2y, CAST(sum(y*y) AS DOUBLE) AS syy
  FROM x GROUP BY 1
), c AS (
  SELECT flag, n,
         s11 - s1*s1 / CAST(n AS DOUBLE) AS c11,
         s22 - s2*s2 / CAST(n AS DOUBLE) AS c22,
         s12 - s1*s2 / CAST(n AS DOUBLE) AS c12,
         s1y - s1*sy / CAST(n AS DOUBLE) AS c1y,
         s2y - s2*sy / CAST(n AS DOUBLE) AS c2y,
         syy - sy*sy / CAST(n AS DOUBLE) AS cyy,
         s1, s2, sy
  FROM s
), b AS (
  SELECT flag, n, s1, s2, sy, c1y, c2y, cyy,
         (c22*c1y - c12*c2y) / (c11*c22 - c12*c12) AS b1,
         (c11*c2y - c12*c1y) / (c11*c22 - c12*c12) AS b2
  FROM c
)
SELECT flag,
       CAST(n AS BIGINT) AS n,
       floor(b1 * 1000000 + 0.5) / 1000000 AS slope_qty,
       floor(b2 * 1000000 + 0.5) / 1000000 AS slope_disc_bps,
       floor((sy - b1*s1 - b2*s2) / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000
         AS intercept_cents,
       floor((b1*c1y + b2*c2y) / cyy * 1000000 + 0.5) / 1000000 AS r2
FROM b
ORDER BY flag
"""

QUERIES["ols_price_model"] = ols_price_model
ORACLES["ols_price_model"] = OLS_SQL


# --- Content-defined chunking (FastCDC/Rabin-style) -------------------

CDC_CAP = 256        # chars of text hashed (capped-payload scale contract)
CDC_WINDOW = 16      # rolling window
CDC_BASE = 31        # polynomial base
CDC_MOD = 1 << 20    # hash modulus
CDC_MASK = 64        # boundary when h % CDC_MASK == 0 (expected ~64-char chunks)


def content_defined_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking — the storage-dedup primitive (Rabin
    fingerprinting / LBFS, FastCDC) that makes near-identical documents
    share chunk digests even after insertions shift every byte offset:
    a W=16 rolling polynomial hash over the character stream cuts a
    chunk wherever h % 64 == 0, so boundaries depend only on LOCAL
    content. Everything is Catalyst HOFs — the char-code array is
    materialized ONCE behind a projection boundary (repeated HOF trees
    are not collapsed by subexpression elimination), then one
    transform/aggregate pass computes all window hashes; map-only, no
    UDF, no shuffle. The oracle replays the identical fold in DuckDB
    (list_reduce's first-element seed == aggregate's zero seed since
    0*B+c = c), so one wrong rolling term shifts every boundary and
    hash-fails. Payload capped at 256 chars so per-row cost is bounded
    by the CONTRACT, not corpus bytes (the codec-query scale rule);
    the scan fans out before the per-char HOF work."""
    from etl_extractor_spark.operators.common import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    t = F.substring(F.col("text").cast("string"), 1, CDC_CAP)
    n = F.length(t)
    codes = F.transform(
        F.sequence(F.lit(1), n), lambda p: F.ascii(t.substr(p, F.lit(1)))
    )
    base = d.select("doc_id", t.alias("t"), n.alias("n"), codes.alias("codes"))
    h = lambda i: F.aggregate(  # noqa: E731
        F.slice("codes", i - CDC_WINDOW + 1, CDC_WINDOW),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * CDC_BASE + c.cast("long")) % CDC_MOD,
    )
    bounds = F.when(
        F.col("n") >= CDC_WINDOW,
        F.filter(
            F.transform(
                F.sequence(F.lit(CDC_WINDOW), F.col("n")),
                lambda i: F.when(h(i) % CDC_MASK == 0, i).otherwise(F.lit(-1)),
            ),
            lambda x: x != -1,
        ),
    ).otherwise(F.array().cast("array<int>"))
    withb = base.select("doc_id", "n", bounds.alias("b"))
    return withb.select(
        "doc_id",
        F.size("b").alias("n_boundaries"),
        (F.size("b") + 1).alias("n_chunks"),
        F.coalesce(F.try_element_at("b", F.lit(1)), F.col("n"))
        .cast("long")
        .alias("first_cut"),
        F.md5(F.concat_ws(",", F.col("b").cast("array<string>"))).alias("bounds_md5"),
    ).orderBy("doc_id")


CDC_SQL = f"""
WITH x AS (
  SELECT doc_id, substr(CAST(text AS VARCHAR), 1, {CDC_CAP}) AS t
  FROM documents
), c AS (
  SELECT doc_id, len(t) AS n,
         list_transform(generate_series(1, len(t)), p -> ascii(substr(t, p, 1))) AS codes
  FROM x
), b AS (
  SELECT doc_id, n,
         CASE WHEN n >= {CDC_WINDOW} THEN
           list_filter(
             list_transform(generate_series({CDC_WINDOW}, n),
               i -> CASE WHEN list_reduce(codes[i-{CDC_WINDOW - 1}:i],
                                          (acc, cc) -> (acc * {CDC_BASE} + cc) % {CDC_MOD})
                              % {CDC_MASK} = 0
                         THEN i ELSE -1 END),
             v -> v <> -1)
         ELSE [] END AS bl
  FROM c
)
SELECT doc_id,
       CAST(len(bl) AS INTEGER) AS n_boundaries,
       CAST(len(bl) + 1 AS INTEGER) AS n_chunks,
       CAST(coalesce(bl[1], n) AS BIGINT) AS first_cut,
       md5(coalesce(array_to_string(bl, ','), '')) AS bounds_md5
FROM b
ORDER BY doc_id
"""

QUERIES["content_defined_chunks"] = content_defined_chunks
ORACLES["content_defined_chunks"] = CDC_SQL


# --- Embedding centroid drift between snapshots -----------------------


def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor for embedding pipelines: split the
    corpus into two pseudo-snapshots (vec_id parity = "yesterday vs
    today"), compute each label's centroid in BOTH and report the
    cosine between them. Components are fixed-point quantized
    (floor(x*1e4), one identical IEEE op per element) so the per-dim
    sums are exact integers in DECIMAL(38,0) — no float sum-order
    sensitivity anywhere; and since cos(mean_a, mean_b) ==
    cos(sum_a, sum_b), the count divisions cancel and the cosine is
    computed straight from the exact sum vectors with one double
    conversion per scalar. Shape at 100 TB: posexplode → one
    (label, half, dim)-keyed partial agg (map-side combine), then an
    O(labels × dims) join — never a vector on the driver."""
    e = load_table(spark, sf_dir, "embeddings")
    q = (
        e.select(
            "label",
            (F.col("vec_id") % 2).alias("half"),
            F.posexplode("embedding").alias("dim", "x"),
        )
        .select(
            "label",
            "half",
            "dim",
            F.floor(F.col("x").cast("double") * 10000)
            .cast("decimal(38,0)")
            .alias("xq"),
        )
        .groupBy("label", "half", "dim")
        .agg(F.sum("xq").alias("s"))
    )
    a = q.filter(F.col("half") == 0).select("label", "dim", F.col("s").alias("sa"))
    b = q.filter(F.col("half") == 1).select("label", "dim", F.col("s").alias("sb"))
    j = a.join(b, ["label", "dim"]).groupBy("label").agg(
        F.sum(F.col("sa") * F.col("sb")).alias("dot"),
        F.sum(F.col("sa") * F.col("sa")).alias("naa"),
        F.sum(F.col("sb") * F.col("sb")).alias("nbb"),
    )
    counts = (
        e.select("label", (F.col("vec_id") % 2).alias("half"))
        .groupBy("label")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        )
    )
    cos = F.col("dot").cast("double") / F.sqrt(
        F.col("naa").cast("double") * F.col("nbb").cast("double")
    )
    return (
        j.join(counts, "label")
        .select(
            "label",
            "n_a",
            "n_b",
            (F.floor(cos * 1000000 + F.lit(0.5)) / 1000000).alias("centroid_cosine"),
        )
        .orderBy("label")
    )


EMB_DRIFT_SQL = """
WITH q AS (
  SELECT label, vec_id % 2 AS half, i AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000) AS HUGEINT) AS xq
  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
), s AS (
  SELECT label, half, dim, sum(xq) AS s FROM q GROUP BY 1, 2, 3
), j AS (
  SELECT a.label,
         sum(a.s * b.s) AS dot,
         sum(a.s * a.s) AS naa,
         sum(b.s * b.s) AS nbb
  FROM (SELECT * FROM s WHERE half = 0) a
  JOIN (SELECT * FROM s WHERE half = 1) b USING (label, dim)
  GROUP BY 1
), c AS (
  SELECT label,
         CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM embeddings GROUP BY 1
)
SELECT j.label, c.n_a, c.n_b,
       floor(CAST(dot AS DOUBLE) / sqrt(CAST(naa AS DOUBLE) * CAST(nbb AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS centroid_cosine
FROM j JOIN c USING (label)
ORDER BY label
"""

QUERIES["embedding_centroid_drift"] = embedding_centroid_drift
ORACLES["embedding_centroid_drift"] = EMB_DRIFT_SQL


# --- Pearson correlation matrix from the same sufficient statistics ---


def feature_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations (quantity, discount, price) per
    l_returnflag from the SAME one-pass integer sufficient statistics
    as ols_price_model — the feature-screening step before any model
    fit. One map-side-combined aggregation; r = c_xy/sqrt(c_xx*c_yy)
    on O(groups) scalars; 1e-6 floor-quantized on both engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("x1"),
        (F.col("l_discount").cast("decimal(12,4)") * 10000)
        .cast("long")
        .alias("x2"),
        cents("l_extendedprice").alias("y"),
    )

    def dsum(c):
        return F.sum(c.cast("decimal(38,0)"))

    s = li.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("x1")).alias("s1"),
        dsum(F.col("x2")).alias("s2"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x1") * F.col("x1")).alias("s11"),
        dsum(F.col("x2") * F.col("x2")).alias("s22"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
        dsum(F.col("x1") * F.col("x2")).alias("s12"),
        dsum(F.col("x1") * F.col("y")).alias("s1y"),
        dsum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    n = F.col("n").cast("double")

    def d(name):
        return F.col(name).cast("double")

    c11 = d("s11") - d("s1") * d("s1") / n
    c22 = d("s22") - d("s2") * d("s2") / n
    cyy = d("syy") - d("sy") * d("sy") / n
    c12 = d("s12") - d("s1") * d("s2") / n
    c1y = d("s1y") - d("s1") * d("sy") / n
    c2y = d("s2y") - d("s2") * d("sy") / n

    return s.select(
        "flag",
        F.col("n").cast("long").alias("n"),
        q6(c12 / F.sqrt(c11 * c22)).alias("r_qty_disc"),
        q6(c1y / F.sqrt(c11 * cyy)).alias("r_qty_price"),
        q6(c2y / F.sqrt(c22 * cyy)).alias("r_disc_price"),
    ).orderBy("flag")


CORR_SQL = """
WITH x AS (
  SELECT l_returnflag AS flag,
         CAST(l_quantity AS BIGINT) AS x1,
         CAST(CAST(l_discount AS DECIMAL(12,4)) * 10000 AS BIGINT) AS x2,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM lineitem
), s AS (
  SELECT flag, count(*) AS n,
         CAST(sum(x1) AS DOUBLE) AS s1, CAST(sum(x2) AS DOUBLE) AS s2,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x1*x1) AS DOUBLE) AS s11, CAST(sum(x2*x2) AS DOUBLE) AS s22,
         CAST(sum(y*y) AS DOUBLE) AS syy,
         CAST(sum(x1*x2) AS DOUBLE) AS s12, CAST(sum(x1*y) AS DOUBLE) AS s1y,
         CAST(sum(x2*y) AS DOUBLE) AS s2y
  FROM x GROUP BY 1
), c AS (
  SELECT flag, n,
         s11 - s1*s1 / CAST(n AS DOUBLE) AS c11,
         s22 - s2*s2 / CAST(n AS DOUBLE) AS c22,
         syy - sy*sy / CAST(n AS DOUBLE) AS cyy,
         s12 - s1*s2 / CAST(n AS DOUBLE) AS c12,
         s1y - s1*sy / CAST(n AS DOUBLE) AS c1y,
         s2y - s2*sy / CAST(n AS DOUBLE) AS c2y
  FROM s
)
SELECT flag,
       CAST(n AS BIGINT) AS n,
       floor(c12 / sqrt(c11*c22) * 1000000 + 0.5) / 1000000 AS r_qty_disc,
       floor(c1y / sqrt(c11*cyy) * 1000000 + 0.5) / 1000000 AS r_qty_price,
       floor(c2y / sqrt(c22*cyy) * 1000000 + 0.5) / 1000000 AS r_disc_price
FROM c
ORDER BY flag
"""

QUERIES["feature_correlation_matrix"] = feature_correlation_matrix
ORACLES["feature_correlation_matrix"] = CORR_SQL


# --- Streaming rate-limit replay (7th driver-certified stream) --------


def streaming_rate_limit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow replay of the stateful streaming token-bucket
    throttle (``streaming/events_stream.streaming_rate_limit``:
    applyInPandasWithState, O(1) (bucket, count) state per user,
    watermark-expired buckets dropped) registered under the driver's
    oracle contract. The kept (user_id, event_id) SET is compared
    event-for-event against the batch specification's window oracle —
    valid because a single availableNow batch processes each user's
    events in (ev_us, event_id) order, the same total order the batch
    row_number uses (pinned by
    tests/test_streaming.py::test_streaming_rate_limit_matches_batch).
    Lives in append mode: emitted rows are final — no final-state
    selection problem at all."""
    from etl_extractor_spark.streaming import events_stream as SE

    kept = SE.streaming_rate_limit(SE.events_stream(spark, sf_dir))
    return (
        SE.run_to_memory(
            kept,
            output_mode="append",
            state_partitions=SE.state_partitions_for(spark, sf_dir),
        )
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("event_id").cast("long").alias("event_id"),
        )
        .orderBy("user_id", "event_id")
    )


def _streaming_rl_sql() -> str:
    # single-sourced quota constant (operators/events.RL_MAX), same
    # daily bucket arithmetic as the batch events_rate_limit oracle
    from etl_extractor_spark.operators.events import RL_MAX

    return f"""
WITH ranked AS (
  SELECT user_id, event_id,
         row_number() OVER (
           PARTITION BY user_id, CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)
           ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(event_id AS BIGINT) AS event_id
FROM ranked WHERE rn <= {RL_MAX}
ORDER BY user_id, event_id
"""


STREAMING_RL_SQL = _streaming_rl_sql()

QUERIES["streaming_rate_limit_replay"] = streaming_rate_limit_replay
ORACLES["streaming_rate_limit_replay"] = STREAMING_RL_SQL


# --- Differential-privacy style noisy release (deterministic twin) ----

DP_EPS = 0.5          # epsilon: Laplace scale b = 1/eps for count queries
DP_SEED = 0xD9        # release-batch seed folded into the noise hash


def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (Laplace mechanism,
    sensitivity 1, b = 1/ε) with the repo's deterministic-twin
    discipline: the per-group noise draw comes from a SEEDED md5
    uniform (hash of group key + release seed → 48-bit fixed-point u ∈
    (0,1)) pushed through the Laplace inverse CDF
    -b·sgn(u-½)·ln(1-2|u-½|) — every arithmetic step is an identical
    IEEE double op in both engines, so the released (noisy) counts are
    exactly oracle-checkable while keeping the real mechanism's shape
    (per-release seed rotation = fresh independent draws). The
    privacy-accounting view: one release, ε per group, counts have
    sensitivity 1 under add/remove-one-row adjacency. Map-side
    combined count + O(groups) scalar math — nothing leaves the
    aggregate layer.
    u = (h+½)/2^48 sits strictly inside (0,1) so ln(1-2|u-½|) is
    always finite on both engines; released values are floor-quantized
    to 1e-4.

    NOT a real privacy mechanism — oracle-checkable twin ONLY. The
    "noise" is a deterministic function of the PUBLIC group key plus a
    constant in-repo seed (anyone can recompute and subtract it), and
    the output co-emits the true count next to the released one. A
    real ε-DP release needs true randomness (or a secret key), must
    not publish true_n, and needs composition accounting across
    releases. The query exists to pin the mechanism's exact arithmetic
    shape cross-engine, not to provide privacy."""
    o = load_table(spark, sf_dir, "orders")
    g = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    # (h + 0.5)/2^48 keeps u STRICTLY inside (0,1): the exact-zero
    # hash (p = 2^-48) would otherwise hit ln(0), where Spark returns
    # null but DuckDB returns -inf — a cross-engine landmine.
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("o_orderpriority"), F.lit(f"#{DP_SEED}"))),
                    1,
                    12,
                ),
                16,
                10,
            )
            .cast("long")
            .cast("double")
            + F.lit(0.5)
        )
        / F.lit(float(1 << 48))
    )
    # centered uniform in (-1/2, 1/2]; |c|<1/2 strictly except the
    # unreachable exact-zero hash, so the log argument stays positive
    c = u - F.lit(0.5)
    b = F.lit(1.0 / DP_EPS)
    noise = -b * F.signum(c) * F.log(1 - 2 * F.abs(c))
    released = F.col("n") + noise
    return g.select(
        "o_orderpriority",
        F.col("n").cast("long").alias("true_n"),
        (F.floor(released * 10000) / 10000).alias("released_n"),
    ).orderBy("o_orderpriority")


DP_NOISY_SQL = f"""
WITH g AS (
  SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1
), u AS (
  SELECT o_orderpriority, n,
         (CAST(('0x' || substr(md5(o_orderpriority || '#{DP_SEED}'), 1, 12)) AS BIGINT)
            + 0.5) / CAST({1 << 48} AS DOUBLE) - 0.5 AS c
  FROM g
)
SELECT o_orderpriority,
       CAST(n AS BIGINT) AS true_n,
       floor((n + -(1.0 / {DP_EPS}) * sign(c) * ln(1 - 2 * abs(c))) * 10000) / 10000
         AS released_n
FROM u
ORDER BY o_orderpriority
"""

QUERIES["dp_noisy_counts"] = dp_noisy_counts
ORACLES["dp_noisy_counts"] = DP_NOISY_SQL


# --- Quantile normalization across sources ----------------------------


def quantile_normalize_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of per-source document-length
    distributions — the batch-effect correction that makes quality
    thresholds comparable across crawl sources (every source's k-th
    order statistic maps to the GLOBAL k-th-quantile value). Pure
    rank arithmetic, exact in integers: rank within source (ties by
    doc_id), target global rank = the integer-scaled position
    ceil(rank_in_src * N_global / N_src), and the mapped value is the
    global order statistic at that rank — no interpolation, no
    floats.
    BOTH ranks are DISTRIBUTED two-phase (the shuffle_deterministic /
    pack_sequences pattern — never a single-partition global window):
    rows bucket by an order-aligned value prefix (v div 64, so every
    row in bucket i sorts before bucket i+1), rank within
    (partition-key, bucket) by a partitioned window, and the tiny
    bucket-size cumsum broadcasts back as offsets. Emits per doc:
    source, raw length, normalized length."""
    from pyspark.sql.window import Window

    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.col("n_chars").alias("v"),
            F.expr("n_chars div 64").alias("b"),
        )
        .persist()
    )
    # eager build (r11): the broadcast `offsets` subtrees below run as
    # concurrent AQE jobs — same cold-cache race class as
    # jaccard_prefix (r10); one count() builds the cache exactly once.
    d.count()

    def two_phase_rank(df, part_cols):
        """row_number over (part_cols ORDER BY v, doc_id) without a
        global window: rank within (part, bucket), plus broadcast
        per-part cumulative bucket offsets."""
        wb = Window.partitionBy(*(part_cols + ["b"])).orderBy("v", "doc_id")
        ranked = df.withColumn("rb", F.row_number().over(wb))
        sizes = df.groupBy(*(part_cols + ["b"])).agg(
            F.count(F.lit(1)).alias("n")
        )
        wo = (
            Window.partitionBy(*part_cols).orderBy("b")
            if part_cols
            else Window.orderBy("b")
        ).rowsBetween(Window.unboundedPreceding, -1)
        offsets = sizes.select(
            *(part_cols + ["b"]),
            F.coalesce(F.sum("n").over(wo), F.lit(0)).alias("off"),
        )
        return ranked.join(F.broadcast(offsets), part_cols + ["b"]).withColumn(
            "rk", F.col("off") + F.col("rb")
        )

    ranked = two_phase_rank(d, ["source"]).select("doc_id", "source", "v", "rk")
    n_src = d.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
    n_all = d.agg(F.count(F.lit(1)).alias("na"))
    glob = two_phase_rank(d, []).select(
        F.col("rk").alias("gr"), F.col("v").alias("gv")
    )
    target = (
        ranked.join(F.broadcast(n_src), "source")
        .join(F.broadcast(n_all), F.lit(True), "left")
        .select(
            "doc_id",
            "source",
            "v",
            # integer ceil division: (r*na + ns - 1) div ns
            F.expr("(rk * na + ns - 1) div ns").alias("gr"),
        )
    )
    return (
        target.join(glob, "gr")
        .select("doc_id", "source", F.col("v").alias("raw_len"),
                F.col("gv").alias("norm_len"))
        .orderBy("doc_id")
    )


QUANTILE_NORM_SQL = """
WITH d AS (
  SELECT doc_id, source, n_chars AS v FROM documents
), ranked AS (
  SELECT doc_id, source, v,
         row_number() OVER (PARTITION BY source ORDER BY v, doc_id) AS r
  FROM d
), ns AS (
  SELECT source, count(*) AS ns FROM d GROUP BY 1
), na AS (
  SELECT count(*) AS na FROM d
), gq AS (
  SELECT row_number() OVER (ORDER BY v, doc_id) AS gr, v AS gv FROM d
)
SELECT ranked.doc_id, ranked.source, ranked.v AS raw_len, gq.gv AS norm_len
FROM ranked
JOIN ns USING (source)
CROSS JOIN na
JOIN gq ON gq.gr = (ranked.r * na.na + ns.ns - 1) // ns.ns
ORDER BY ranked.doc_id
"""

QUERIES["quantile_normalize_sources"] = quantile_normalize_sources
ORACLES["quantile_normalize_sources"] = QUANTILE_NORM_SQL


# --- bz2 multistream shard (the Wikipedia-dump shape) -----------------


def shard_bz2_multistream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multistream bz2 shard ingestion — the Wikipedia-dump layout:
    each member is an INDEPENDENT bz2 stream (here one document per
    member, id-tagged), members are concatenated, and the reader
    splits members by chasing ``BZ2Decompressor.unused_data`` — the
    same member-boundary contract as the .warc.gz splitter, with a
    second real compressor (BWT entropy coder vs DEFLATE). Per-member
    independence is what lets a 100 TB dump fan out as per-member work
    units with no serial inflate. applyInPandas per 8-doc shard; the
    oracle re-derives the id tag, payload size and digest per
    document, so a member split one byte off hash-fails the tail."""
    import pandas as pd
    from pyspark.sql import types as T

    d = load_table(spark, sf_dir, "documents")
    schema = T.StructType(
        [
            T.StructField("shard_id", T.LongType()),
            T.StructField("member_tag", T.StringType()),
            T.StructField("size_bytes", T.LongType()),
            T.StructField("content_md5", T.StringType()),
        ]
    )

    def pack_and_unpack(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib

        pdf = pdf.sort_values("doc_id")
        shard = int(pdf["shard_id"].iloc[0])
        shard_bytes = b"".join(
            M.encode_bz2_member(f"doc{int(did)}\t{text}".encode())
            for did, text in zip(pdf["doc_id"], pdf["text"])
        )
        rows = []
        for member in M.decode_bz2_members(shard_bytes):
            tag, _, body = member.partition(b"\t")
            rows.append(
                (shard, tag.decode(), len(body), hashlib.md5(body).hexdigest())
            )
        return pd.DataFrame(
            rows, columns=["shard_id", "member_tag", "size_bytes", "content_md5"]
        )

    from etl_extractor_spark.operators.common import spread_groups

    return (
        spread_groups(
            d.select(F.expr("doc_id div 8").alias("shard_id"), "doc_id", "text"),
            "shard_id",
        )
        .groupBy("shard_id")
        .applyInPandas(pack_and_unpack, schema)
    )


SHARD_BZ2_SQL = """
SELECT doc_id // 8 AS shard_id,
       'doc' || doc_id AS member_tag,
       CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes,
       md5(text) AS content_md5
FROM documents
"""

QUERIES["shard_bz2_multistream"] = shard_bz2_multistream
ORACLES["shard_bz2_multistream"] = SHARD_BZ2_SQL


# --- Merge-on-read equality deletes under the driver oracle -----------


def manifest_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style MERGE-ON-READ deletes under the driver contract:
    commit orders as snapshot 0, then commit an EQUALITY-DELETE file
    (the o_orderkey set with status 'P') as snapshot 1 — an O(deletes)
    metadata commit that rewrites NO data files. The reader applies
    delete files as broadcast anti-joins at scan time
    (``sinks/manifest.read_merge_on_read``), and time travel composes:
    ``read_snapshot_mor(0)`` sees the pre-delete rows, snapshot 1 the
    subtraction. Emits per-priority (version, n_orders, sum_cents)
    for BOTH views; the oracle re-derives each from raw orders, so a
    wrong delete-key set, a non-applied delete or a time-travel leak
    changes a checksum and hash-fails. This is the at-scale GDPR /
    revocation shape: deletes cost O(keys) now and get absorbed
    physically by the next compaction."""
    import os
    import tempfile

    from etl_extractor_spark.sinks import manifest as MF

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_orderstatus",
        cents("o_totalprice").alias("cents"),
    )
    path = pid_scratch_dir("spark_graft_mor_")
    MF.write_with_manifest(spark, o, path, stats_cols=["o_orderkey"], mode="overwrite")
    MF.write_equality_deletes(
        spark,
        path,
        o.filter(F.col("o_orderstatus") == "P").select("o_orderkey"),
    )

    def agg(df, version):
        return df.groupBy("o_orderpriority").agg(
            F.lit(version).alias("version"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )

    pre = agg(MF.read_snapshot_mor(spark, path, 0), "v0_pre_delete")
    post = agg(MF.read_merge_on_read(spark, path), "v1_post_delete")
    return (
        pre.unionByName(post)
        .select("version", "o_orderpriority", "n_orders", "sum_cents")
        .orderBy("version", "o_orderpriority")
    )


MANIFEST_MOR_SQL = """
WITH base AS (
  SELECT o_orderkey, o_orderpriority, o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
)
SELECT 'v0_pre_delete' AS version, o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM base GROUP BY 2
UNION ALL
SELECT 'v1_post_delete' AS version, o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM base WHERE o_orderstatus <> 'P' GROUP BY 2
ORDER BY version, o_orderpriority
"""

QUERIES["manifest_merge_on_read"] = manifest_merge_on_read
ORACLES["manifest_merge_on_read"] = MANIFEST_MOR_SQL


# --- Unigram-LM Viterbi segmentation (SentencePiece-style) ------------

ULM_WORD_CAP = 10     # chars per word fed to the DP (cost contract)
ULM_WORDS_CAP = 20    # words per doc (cost contract)
ULM_PIECE_MAX = 3     # max piece length
ULM_TOP_GRAMS = 100   # bigram/trigram vocabulary per class
ULM_MISS = 50_000_000  # cost for out-of-vocab pieces (finite fallback)


def unigram_lm_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style unigram-LM Viterbi segmentation, pure
    Catalyst: induce a piece vocabulary from the corpus (every
    observed character + the top-100 char bigrams and trigrams, cost
    = floor(-ln(count/total)·1e6)), then segment each word by exact
    dynamic programming — combined_i = min over piece lengths L of
    combined_{i-L} + cost(piece)·1024 + 1, a SINGLE positive-integer
    DP whose low 10 bits count pieces and high bits carry the score,
    so (min cost, then fewest pieces) tie-breaking is lexicographic in
    one integer and every step is exact on both engines. The DP is
    unrolled over the 10-char word cap as plain chained column
    expressions — whole-stage-codegen arithmetic, no UDF, no loop.
    The vocabulary collect is bounded by CONSTANT caps (charset +
    2×100 grams), never by SF. The oracle replays the identical
    induction + DP in chained SQL CTEs with a map_from_entries
    literal; one wrong cost or step order breaks every segmentation
    downstream and hash-fails. Per doc: word count, total Viterbi
    cost (micro-nats), total piece count — the tokenizer-fertility
    metric a training pipeline tracks per source."""
    from etl_extractor_spark.operators.common import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = F.filter(_norm_toks(F.col("text")), lambda t: F.length(t) >= 1)
    words = d.select(
        "doc_id",
        F.explode(F.slice(toks, 1, ULM_WORDS_CAP)).alias("w0"),
    ).select(
        "doc_id", F.substring("w0", 1, ULM_WORD_CAP).alias("w")
    ).persist()
    # eager build: the 3-way vocab union below otherwise races the
    # cold cache and re-evaluates the normalize/explode tree per
    # branch (same class as the jaccard_prefix cache race, r10)
    words.count()

    # vocabulary induction over the SAME capped word stream
    def grams(length):
        return words.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.length("w") - (length - 1), F.lit(0))),
                    lambda i: F.col("w").substr(i, F.lit(length)),
                )
            ).alias("g")
        ).filter(F.length("g") == length)

    chars = grams(1).groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql.window import Window

    def topk(df):
        """Two-phase top-K: per-hash-bucket top-K (parallel windows)
        then a final window over the <= 16·K survivors — the global
        top-K never funnels the full gram vocabulary through one
        partition (the gram space grows with charset², not a constant).
        Same result set as a global window: the true top-K is a subset
        of the per-bucket top-Ks, so the ORACLE's plain global window
        is unchanged."""
        wb = Window.partitionBy("b").orderBy(F.desc("c"), F.asc("g"))
        survivors = (
            df.withColumn("b", F.pmod(F.xxhash64("g"), F.lit(16)))
            .withColumn("rk", F.row_number().over(wb))
            .filter(F.col("rk") <= ULM_TOP_GRAMS)
            .drop("rk", "b")
        )
        return (
            survivors.withColumn(
                "rk", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("g")))
            )
            .filter(F.col("rk") <= ULM_TOP_GRAMS)
            .drop("rk")
        )

    bi = topk(grams(2).groupBy("g").agg(F.count(F.lit(1)).alias("c")))
    tri = topk(grams(3).groupBy("g").agg(F.count(F.lit(1)).alias("c")))
    vocab = chars.unionByName(bi).unionByName(tri)
    # Collect the vocab WITH Spark-computed seeded hashes of each gram:
    # the DP's piece→cost lookup is rebuilt below as an O(1)
    # direct-address probe into literal ARRAYS (element_at by index),
    # replacing element_at on a ~300-entry literal MAP whose lookup is
    # a LINEAR key scan — profiled at ~95% of the DP stage (r10:
    # a worst-case 300-entry-map DP ran 23.7 s vs 1.5 s with constant
    # costs on the same 97k words). Hashes come from Spark itself so
    # the probe side (xxhash64(piece, seed)) sees identical values.
    _SEEDS = list(range(32))
    _M = 4096
    rows = vocab.select(
        "g", "c", *[F.xxhash64("g", F.lit(s)).alias(f"h{s}") for s in _SEEDS]
    ).collect()  # bounded: charset + 200 entries by cap
    total = sum(r["c"] for r in rows)
    import math

    cost = {
        r["g"]: int(math.floor(-math.log(r["c"] * 1.0 / total) * 1000000))
        for r in rows
    }

    # Per piece-LENGTH class, find a seed whose hashes are injective
    # mod M (M=4096 keeps the literal arrays small enough for the
    # vanilla 1g driver; 32 seed tries make fallback odds ~1e-5) and
    # lay the class out as (keys, vals) literal arrays;
    # empty slots hold vals=ULM_MISS so a freak sentinel-key match
    # still returns the out-of-vocab cost. Probe = one seeded hash,
    # one O(1) index into each array, one long compare.
    _probe: dict[int, tuple] = {}
    _fallback_pairs: list = []
    for L in (1, 2, 3):
        cls = [r for r in rows if len(r["g"]) == L]
        placed = None
        for s in _SEEDS:
            slots = {r[f"h{s}"] % _M for r in cls}
            if len(slots) == len(cls):
                placed = s
                break
        if placed is None:
            # true 64-bit hash collision inside the vocab (or all-seed
            # injectivity failure): fall back to the exact string map
            # for this class — correct, just slower
            _probe[L] = None
            for r in cls:
                _fallback_pairs += [F.lit(r["g"]), F.lit(cost[r["g"]])]
            continue
        keys = [0] * _M
        vals = [ULM_MISS] * _M
        for r in cls:
            h = r[f"h{placed}"]
            keys[h % _M] = h
            vals[h % _M] = cost[r["g"]]
        # ONE-node foldable literals: F.lit(list) builds CreateArray
        # with M child nodes, and the DP's 10 withColumn analyses
        # re-walk every child at every chained step (~17 s of pure
        # driver-side analysis measured); a foldable from_json over a
        # string literal is a single tree node that ConstantFolding
        # collapses to the same array exactly once.
        import json as _json

        _probe[L] = (
            placed,
            F.from_json(F.lit(_json.dumps(keys)), "array<bigint>"),
            F.from_json(F.lit(_json.dumps(vals)), "array<bigint>"),
        )
    cmap_fb = F.create_map(*_fallback_pairs) if _fallback_pairs else None

    def c_of(piece, L):
        # long from the start: cost*1024 exceeds int32 (15e6 * 1024)
        if _probe[L] is None:
            return F.coalesce(
                F.element_at(cmap_fb, piece), F.lit(ULM_MISS)
            ).cast("long")
        seed, keys_arr, vals_arr = _probe[L]
        h = F.xxhash64(piece, F.lit(seed))
        idx = (F.pmod(h, F.lit(_M)) + F.lit(1)).cast("int")
        return (
            F.when(F.element_at(keys_arr, idx) == h, F.element_at(vals_arr, idx))
            .otherwise(F.lit(ULM_MISS))
            .cast("long")
        )

    cur = words.withColumn("n", F.length("w")).withColumn(
        "b0", F.lit(0).cast("long")
    )
    for i in range(1, ULM_WORD_CAP + 1):
        cands = []
        for L in range(1, min(ULM_PIECE_MAX, i) + 1):
            piece = F.col("w").substr(i - L + 1, L)
            cands.append(
                F.col(f"b{i - L}") + c_of(piece, L) * 1024 + 1
            )
        step = cands[0] if len(cands) == 1 else F.least(*cands)
        cur = cur.withColumn(
            f"b{i}", F.when(F.col("n") >= i, step)
        )
    final = F.element_at(
        F.array(*[F.col(f"b{i}") for i in range(1, ULM_WORD_CAP + 1)]), F.col("n")
    )
    return (
        cur.select("doc_id", final.alias("f"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.expr("f div 1024")).cast("long").alias("total_cost_micro"),
            F.sum(F.col("f") % 1024).cast("long").alias("total_pieces"),
        )
        .orderBy("doc_id")
    )


def _ulm_sql() -> str:
    steps = []
    for i in range(1, ULM_WORD_CAP + 1):
        cands = []
        for L in range(1, min(ULM_PIECE_MAX, i) + 1):
            cands.append(
                f"b{i - L} + coalesce(m[substr(w,{i - L + 1},{L})][1], {ULM_MISS})*1024 + 1"
            )
        expr = cands[0] if len(cands) == 1 else "least(" + ", ".join(cands) + ")"
        steps.append(
            f", s{i} AS (SELECT *, CASE WHEN n >= {i} THEN {expr} END AS b{i} FROM s{i - 1})"
        )
    bsel = ", ".join(f"b{i}" for i in range(1, ULM_WORD_CAP + 1))
    return f"""
WITH toksrc AS (
  SELECT doc_id,
         list_filter(string_split(lower(trim(regexp_replace(CAST(text AS VARCHAR), '\\s+', ' ', 'g'))), ' '),
                     t -> len(t) >= 1) AS t
  FROM documents
), words AS (
  SELECT doc_id, substr(t[i], 1, {ULM_WORD_CAP}) AS w
  FROM toksrc, LATERAL (SELECT unnest(generate_series(1, least({ULM_WORDS_CAP}, len(t)))) AS i)
), g1 AS (
  SELECT substr(w, i, 1) AS g FROM words,
       LATERAL (SELECT unnest(generate_series(1, len(w))) AS i)
), g2 AS (
  SELECT substr(w, i, 2) AS g FROM words,
       LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i)
  WHERE len(w) >= 2
), g3 AS (
  SELECT substr(w, i, 3) AS g FROM words,
       LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)
  WHERE len(w) >= 3
), v1 AS (
  SELECT g, count(*) AS c FROM g1 GROUP BY 1
), v2 AS (
  SELECT g, c FROM (
    SELECT g, count(*) AS c,
           row_number() OVER (ORDER BY count(*) DESC, g ASC) AS rk
    FROM g2 GROUP BY g) WHERE rk <= {ULM_TOP_GRAMS}
), v3 AS (
  SELECT g, c FROM (
    SELECT g, count(*) AS c,
           row_number() OVER (ORDER BY count(*) DESC, g ASC) AS rk
    FROM g3 GROUP BY g) WHERE rk <= {ULM_TOP_GRAMS}
), vocab AS (
  SELECT g, c FROM v1 UNION ALL SELECT g, c FROM v2 UNION ALL SELECT g, c FROM v3
), tot AS (
  SELECT sum(c) AS total FROM vocab
), vm AS (
  SELECT map_from_entries(list({{'k': g, 'v': CAST(floor(-ln(c * 1.0 / total) * 1000000) AS BIGINT)}})) AS m
  FROM vocab CROSS JOIN tot
), s0 AS (
  SELECT doc_id, w, len(w) AS n, m, CAST(0 AS BIGINT) AS b0
  FROM words CROSS JOIN vm
){''.join(steps)}
SELECT doc_id,
       count(*) AS n_words,
       CAST(sum(list_value({bsel})[n] // 1024) AS BIGINT) AS total_cost_micro,
       CAST(sum(list_value({bsel})[n] % 1024) AS BIGINT) AS total_pieces
FROM s{ULM_WORD_CAP}
GROUP BY doc_id
ORDER BY doc_id
"""


QUERIES["unigram_lm_segment"] = unigram_lm_segment
ORACLES["unigram_lm_segment"] = _ulm_sql()


# --- Classical seasonal decomposition (trend / weekday / residual) ----


def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of daily revenue —
    trend = 7-day centered moving average, seasonal = per-weekday mean
    of the detrended series, residual = remainder — the decomposition
    behind anomaly alerts and seasonality-aware forecasts. EXACT in
    integers: money stays DECIMAL cents, the centered MA is carried as
    (window sum, window count), and the possibly-NEGATIVE seasonal
    mean uses the SIGN-SAFE floor division
    (s - ((s % n) + n) % n) div n — the numerator becomes exactly
    divisible, where truncation and floor agree, so the idiom is
    engine-version-proof (both engines' % is C-style truncating; an
    additive positivity offset was NOT safe: the per-weekday detrended
    SUM scales with the data and outgrew any fixed constant at sf1 —
    review catch, verified negative for 4 of 7 weekday groups). One
    date-grain aggregation, one ordered window, one weekday rollup;
    the windows are calendar-bounded. Emits per weekday: day count
    and the seasonal index in micro-cent units."""
    from pyspark.sql.window import Window

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(
                cents("o_totalprice")
            )
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    t = daily.select(
        "d",
        "cents",
        F.sum("cents").over(w).alias("s7"),
        F.count(F.lit(1)).over(w).alias("n7"),
    )
    # trend sums are non-negative: plain integer division IS floor
    trend = F.expr("(s7 * 1000000) div n7")
    det = t.select(
        "d",
        (F.col("cents") * 1000000 - trend).alias("det_micro"),
        F.dayofweek("d").alias("dow"),
    )
    return (
        det.groupBy("dow")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.expr(
                "(sum(det_micro) - ((sum(det_micro) % count(*)) + count(*))"
                " % count(*)) div count(*)"
            )
            .cast("long")
            .alias("seasonal_micro"),
        )
        .orderBy("dow")
    )


SEASONAL_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
), t AS (
  SELECT d, cents,
         CAST(sum(cents) OVER w AS BIGINT) AS s7,
         CAST(count(*) OVER w AS BIGINT) AS n7
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), det AS (
  SELECT d,
         cents * 1000000 - ((s7 * 1000000) // n7) AS det_micro,
         dayofweek(d) + 1 AS dow
  FROM t
)
SELECT dow,
       count(*) AS n_days,
       CAST((sum(det_micro) - ((sum(det_micro) % count(*)) + count(*)) % count(*))
            // count(*) AS BIGINT) AS seasonal_micro
FROM det
GROUP BY dow
ORDER BY dow
"""

QUERIES["seasonal_decompose_daily"] = seasonal_decompose_daily
ORACLES["seasonal_decompose_daily"] = SEASONAL_SQL


# --- shared derivations for the experimentation / survival suites -----


def _hash_parity(col):
    """Engine-identical md5-48bit parity assignment (the repo's
    standard deterministic unit-randomization idiom)."""
    return F.pmod(
        F.conv(F.substring(F.md5(col.cast("string")), 1, 12), 16, 10).cast(
            "long"
        ),
        F.lit(2),
    )


def _spend_by_customer(spark: SparkSession, sf_dir: str, grp_name: str) -> DataFrame:
    """Customer-grain 1996 (pre) / 1997 (post) spend in exact integer
    cents with intent-to-treat zero-fill, plus the hash-parity group
    column — shared by cuped_ab_adjustment and did_estimator so the
    paired estimators can never drift apart (review catch)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year(F.to_date("o_orderdate")).alias("yr"),
        cents("o_totalprice").alias("cents"),
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("yr") == 1996, F.col("cents"))), F.lit(0)
            ).cast("long").alias("pre"),
            F.coalesce(
                F.sum(F.when(F.col("yr") == 1997, F.col("cents"))), F.lit(0)
            ).cast("long").alias("post"),
        )
        .withColumn(grp_name, _hash_parity(F.col("c_custkey")))
    )


_SPEND_CTE = """
  SELECT c.c_custkey,
         CAST(coalesce(sum(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996
              THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) END), 0) AS BIGINT) AS pre,
         CAST(coalesce(sum(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1997
              THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) END), 0) AS BIGINT) AS post
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY 1
"""


# --- CUPED variance-reduced A/B readout -------------------------------


def cuped_ab_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et
    al. WSDM'13) — the industry-standard variance-reduction readout:
    θ = cov(X,Y)/var(X) over pre-period covariate X (1996 spend) and
    experiment metric Y (1997 spend), Y_adj = Y - θ(X - mean X), which
    preserves the treatment-effect estimate while shrinking variance
    by the squared X-Y correlation. Variant assignment is the
    engine-identical md5-48bit hash parity; every moment is an exact
    DECIMAL(38,0) integer sum (customers with no orders count as zero
    spend — intent-to-treat), so θ, the per-variant adjusted means and
    the variance-reduction ratio are each ONE identical double
    computation from identical integers. One aggregation pass over a
    customer-grain join; O(variants) scalar math; oracle replays the
    algebra verbatim."""
    spend = _spend_by_customer(spark, sf_dir, "variant").select(
        F.col("pre").alias("x"), F.col("post").alias("y"), "variant"
    )

    def dsum(col):
        return F.sum(col.cast("decimal(38,0)"))

    g = spend.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
    )
    v = spend.groupBy("variant").agg(
        F.count(F.lit(1)).alias("nv"),
        dsum(F.col("x")).alias("svx"),
        dsum(F.col("y")).alias("svy"),
    )
    j = v.join(F.broadcast(g), F.lit(True), "left")

    def d(name):
        return F.col(name).cast("double")

    n = d("n")
    cxx = d("sxx") - d("sx") * d("sx") / n
    cxy = d("sxy") - d("sx") * d("sy") / n
    cyy = d("syy") - d("sy") * d("sy") / n
    theta = cxy / cxx
    mean_x = d("sx") / n
    mean_y_v = d("svy") / d("nv")
    mean_adj_v = mean_y_v - theta * (d("svx") / d("nv") - mean_x)
    var_red = (cxy * cxy) / (cxx * cyy)

    return j.select(
        F.col("variant").cast("long").alias("variant"),
        F.col("nv").cast("long").alias("n_units"),
        q6(mean_y_v / 100).alias("mean_y"),
        q6(mean_adj_v / 100).alias("mean_y_cuped"),
        q6(theta).alias("theta"),
        q6(var_red).alias("variance_reduction"),
    ).orderBy("variant")


CUPED_SQL = f"""
WITH spend0 AS ({_SPEND_CTE}), spend AS (
  SELECT c_custkey, pre AS x, post AS y FROM spend0
), sv AS (
  SELECT c_custkey, x, y,
         CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12)) AS BIGINT) % 2 AS variant
  FROM spend
), g AS (
  SELECT count(*) AS n,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x*x) AS DOUBLE) AS sxx, CAST(sum(x*y) AS DOUBLE) AS sxy,
         CAST(sum(y*y) AS DOUBLE) AS syy
  FROM sv
), v AS (
  SELECT variant, count(*) AS nv,
         CAST(sum(x) AS DOUBLE) AS svx, CAST(sum(y) AS DOUBLE) AS svy
  FROM sv GROUP BY 1
), c2 AS (
  SELECT v.*, g.*,
         g.sxx - g.sx*g.sx / CAST(g.n AS DOUBLE) AS cxx,
         g.sxy - g.sx*g.sy / CAST(g.n AS DOUBLE) AS cxy,
         g.syy - g.sy*g.sy / CAST(g.n AS DOUBLE) AS cyy
  FROM v CROSS JOIN g
)
SELECT CAST(variant AS BIGINT) AS variant,
       CAST(nv AS BIGINT) AS n_units,
       floor(svy / CAST(nv AS DOUBLE) / 100 * 1000000 + 0.5) / 1000000 AS mean_y,
       floor((svy / CAST(nv AS DOUBLE)
              - cxy / cxx * (svx / CAST(nv AS DOUBLE) - sx / CAST(n AS DOUBLE)))
             / 100 * 1000000 + 0.5) / 1000000 AS mean_y_cuped,
       floor(cxy / cxx * 1000000 + 0.5) / 1000000 AS theta,
       floor(cxy * cxy / (cxx * cyy) * 1000000 + 0.5) / 1000000 AS variance_reduction
FROM c2
ORDER BY variant
"""

QUERIES["cuped_ab_adjustment"] = cuped_ab_adjustment
ORACLES["cuped_ab_adjustment"] = CUPED_SQL


# --- Difference-in-differences ----------------------------------------


def did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the quasi-experimental counterpart
    to cuped_ab_adjustment when assignment is not randomized: the
    2×2 (group × period) mean grid over integer cents, with
    DiD = (treat_post - treat_pre) - (control_post - control_pre).
    Group = md5-parity of custkey, periods = 1996 (pre) / 1997 (post);
    intent-to-treat zero-fill at customer grain. One aggregation pass,
    four exact integer sums, O(1) scalar math; the oracle replays the
    grid verbatim. Emits one row: the four cell means plus the DiD
    estimate (cents → currency units, 1e-6-quantized)."""
    spend = _spend_by_customer(spark, sf_dir, "treat")

    def dsum(col):
        return F.sum(col.cast("decimal(38,0)"))

    g = spend.groupBy("treat").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("pre")).alias("sp"),
        dsum(F.col("post")).alias("so"),
    )
    t = g.filter(F.col("treat") == 1).select(
        F.col("n").alias("nt"), F.col("sp").alias("tp"), F.col("so").alias("to")
    )
    ctl = g.filter(F.col("treat") == 0).select(
        F.col("n").alias("nc"), F.col("sp").alias("cp"), F.col("so").alias("co")
    )
    j = t.crossJoin(ctl)

    def m(s, n):
        return F.col(s).cast("double") / F.col(n).cast("double") / 100

    did = (m("to", "nt") - m("tp", "nt")) - (m("co", "nc") - m("cp", "nc"))
    return j.select(
        q6(m("tp", "nt")).alias("treat_pre"),
        q6(m("to", "nt")).alias("treat_post"),
        q6(m("cp", "nc")).alias("control_pre"),
        q6(m("co", "nc")).alias("control_post"),
        q6(did).alias("did"),
    )


DID_SQL = f"""
WITH spend AS ({_SPEND_CTE}), sv AS (
  SELECT pre, post,
         CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12)) AS BIGINT) % 2 AS treat
  FROM spend
), g AS (
  SELECT treat, count(*) AS n,
         CAST(sum(pre) AS DOUBLE) AS sp, CAST(sum(post) AS DOUBLE) AS so
  FROM sv GROUP BY 1
), t AS (SELECT n AS nt, sp AS tp, so AS "to" FROM g WHERE treat = 1),
c2 AS (SELECT n AS nc, sp AS cp, so AS co FROM g WHERE treat = 0)
SELECT floor(tp / CAST(nt AS DOUBLE) / 100 * 1000000 + 0.5) / 1000000 AS treat_pre,
       floor("to" / CAST(nt AS DOUBLE) / 100 * 1000000 + 0.5) / 1000000 AS treat_post,
       floor(cp / CAST(nc AS DOUBLE) / 100 * 1000000 + 0.5) / 1000000 AS control_pre,
       floor(co / CAST(nc AS DOUBLE) / 100 * 1000000 + 0.5) / 1000000 AS control_post,
       floor(((\"to\" / CAST(nt AS DOUBLE) / 100 - tp / CAST(nt AS DOUBLE) / 100)
              - (co / CAST(nc AS DOUBLE) / 100 - cp / CAST(nc AS DOUBLE) / 100))
             * 1000000 + 0.5) / 1000000 AS did
FROM t CROSS JOIN c2
"""

QUERIES["did_estimator"] = did_estimator
ORACLES["did_estimator"] = DID_SQL


# --- Mann-Whitney U (nonparametric two-sample test) -------------------


def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test on order value between two
    hash-assigned variants — the nonparametric two-sample test the
    stats suite lacked (robust where the t/z tests assume normality).
    EXACT pair counting without pairs: per distinct value v, with
    group counts na(v), nb(v) and the cumulative count CB<(v) of B
    values below v, 2·U_A = Σ_v na(v)·(2·CB<(v) + nb(v)) — ties
    contribute the half unit exactly in doubled-integer space, so U is
    an exact BIGINT however many ties exist. The cumulative walk runs
    over the DISTINCT-value relation, which is order-scaled, so it
    uses the two-phase bucket-cumsum (order-aligned v-buckets,
    broadcast offsets) — never a single-partition window over data
    that grows with SF. The normal-approximation z uses the no-tie
    variance na·nb·(n+1)/12 — a REPORTING convention pinned
    identically in the oracle. One row: na, nb, 2U_A, z (1e-6)."""
    from pyspark.sql.window import Window

    v = load_table(spark, sf_dir, "orders").select(
        cents("o_totalprice").alias("v"),
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 12),
                16,
                10,
            ).cast("long"),
            F.lit(2),
        ).alias("grp"),
    )
    per_v = v.groupBy("v").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("nb"),
    ).withColumn("b", F.expr("v div 1000000"))
    # two-phase cumulative nb strictly below v: within-bucket running
    # sum (exclusive) + broadcast per-bucket offsets
    wv = (
        Window.partitionBy("b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sizes = per_v.groupBy("b").agg(F.sum("nb").alias("nbb"))
    wo = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "b", F.coalesce(F.sum("nbb").over(wo), F.lit(0)).alias("off")
    )
    cum = (
        per_v.withColumn("cb_in", F.coalesce(F.sum("nb").over(wv), F.lit(0)))
        .join(F.broadcast(offsets), "b")
        .select(
            "v",
            "na",
            "nb",
            (F.col("cb_in") + F.col("off")).alias("cb_less"),
        )
    )
    agg = cum.agg(
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
        F.sum(
            (F.col("na") * (2 * F.col("cb_less") + F.col("nb"))).cast("decimal(38,0)")
        ).alias("u2"),
    )

    def d(name):
        return F.col(name).cast("double")

    mu2 = d("n_a") * d("n_b")                       # 2·E[U] = na·nb
    sd2 = F.sqrt(d("n_a") * d("n_b") * (d("n_a") + d("n_b") + 1) / 3.0)
    z = (d("u2") - mu2) / sd2                       # doubled space: var×4
    return agg.select(
        "n_a",
        "n_b",
        F.col("u2").cast("long").alias("two_u_a"),
        (F.floor(z * 1000000 + F.lit(0.5)) / 1000000).alias("z"),
    )


MWU_SQL = """
WITH x AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12)) AS BIGINT) % 2 AS grp
  FROM orders
), per_v AS (
  SELECT v,
         CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM x GROUP BY 1
), cum AS (
  SELECT v, na, nb,
         CAST(coalesce(sum(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb_less
  FROM per_v
), agg AS (
  SELECT CAST(sum(na) AS BIGINT) AS n_a,
         CAST(sum(nb) AS BIGINT) AS n_b,
         CAST(sum(na * (2 * cb_less + nb)) AS DOUBLE) AS u2d,
         CAST(sum(na * (2 * cb_less + nb)) AS BIGINT) AS u2
  FROM cum
)
SELECT n_a, n_b, u2 AS two_u_a,
       floor((u2d - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
             / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                    * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1) / 3.0)
             * 1000000 + 0.5) / 1000000 AS z
FROM agg
"""

QUERIES["mann_whitney_u"] = mann_whitney_u
ORACLES["mann_whitney_u"] = MWU_SQL


# --- shared survival derivation ---------------------------------------


def _survival_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer (custkey, duration days, event flag) with horizon
    censoring — shared by km_survival_curve and logrank_test so the
    paired estimators use one censoring definition (review catch)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d")
    )
    return (
        o.groupBy("o_custkey")
        .agg(F.min("d").alias("first_d"), F.max("d").alias("last_d"))
        .select(
            "o_custkey",
            F.datediff("last_d", "first_d").alias("t"),
            (F.col("last_d") < F.lit(KM_CENSOR_CUTOFF)).cast("long").alias("event"),
        )
    )


def _survival_cte() -> str:
    return f"""
  SELECT o_custkey, datediff('day', first_d, last_d) AS t,
         CAST(last_d < DATE '{KM_CENSOR_CUTOFF}' AS BIGINT) AS event
  FROM (SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS first_d,
               max(CAST(o_orderdate AS DATE)) AS last_d
        FROM orders GROUP BY 1)
"""


# --- Kaplan-Meier survival estimator ----------------------------------

KM_CENSOR_CUTOFF = "1998-03-01"  # last-order after this => censored


def _risk_table(spark: SparkSession, sf_dir: str):
    """The per-event-time risk table (t, d_events, censored, n_risk)
    every survival estimator hangs off — shared by km_survival_curve
    and nelson_aalen_hazard exactly like _survival_spans shares the
    censoring definition (the r5 review lesson: paired estimators on
    duplicated machinery drift silently; the r7 review caught the NA
    copy and prompted this extraction)."""
    from pyspark.sql.window import Window

    per_c = _survival_spans(spark, sf_dir).drop("o_custkey")
    total = per_c.agg(F.count(F.lit(1)).alias("n_total"))
    by_t = per_c.groupBy("t").agg(
        F.sum("event").cast("long").alias("d_events"),
        F.sum(1 - F.col("event")).cast("long").alias("censored"),
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    return by_t.join(F.broadcast(total), F.lit(True), "left").withColumn(
        "n_risk",
        F.col("n_total")
        - F.coalesce(
            F.sum(F.col("d_events") + F.col("censored")).over(w), F.lit(0)
        ),
    )


def km_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimation — the censoring-aware
    time-to-event family (retention/churn curves) the stats suite
    lacked. Per customer: duration = days between first and last
    order; customers still ordering near the dataset horizon (last
    order past the cutoff) are right-CENSORED — they contribute to
    the at-risk set without registering an event, the estimator's
    whole point. S(t) = Π_{t_j<=t} (1 - d_j/n_j) is carried in LOG
    space as a cumulative sum of per-time terms floor-quantized to
    integer micro-units BEFORE summation — products of rationals
    become order-independent integer sums (the repo's float-sum
    idiom), and each ln runs on the identical (n-d)/n double both
    engines derive from identical integer counts. The per-event-time
    walk is calendar-bounded (distinct durations ≤ dataset span in
    days), so its ordered window is O(days), never O(customers).
    Emits per event time: at-risk count, events, censored-at-t, the
    exact integer log-survival and the 1e-6-quantized KM curve."""
    from pyspark.sql.window import Window

    risk = _risk_table(spark, sf_dir)
    # n_risk == d_events (everyone at risk churns at t) sends the true
    # term to ln(0) = -inf — where Spark log() yields NULL (silently
    # dropped by sum) but DuckDB ln() RAISES. Pin an explicit floor
    # sentinel of -1e8 micro (exp(-100) ~ 4e-44 -> KM quantizes to 0)
    # identically on both engines (the dp_noisy_counts landmine class).
    term = F.when(
        (F.col("d_events") > 0) & (F.col("n_risk") > F.col("d_events")),
        F.floor(
            F.log(
                (F.col("n_risk") - F.col("d_events")).cast("double")
                / F.col("n_risk").cast("double")
            )
            * 1000000
        ),
    ).when(F.col("d_events") > 0, F.lit(-100000000)).otherwise(F.lit(0)).cast("long")
    wc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    curve = risk.withColumn("log_s_micro", F.sum(term).over(wc))
    km = F.floor(
        F.exp(F.col("log_s_micro").cast("double") / 1000000) * 1000000 + F.lit(0.5)
    ) / 1000000
    return curve.select(
        F.col("t").cast("long").alias("duration_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        "d_events",
        "censored",
        F.col("log_s_micro").cast("long").alias("log_surv_micro"),
        km.alias("km_survival"),
    ).orderBy("duration_days")


KM_SQL = f"""
WITH per_c AS ({_survival_cte()}), tot AS (
  SELECT count(*) AS n_total FROM per_c
), by_t AS (
  SELECT t, CAST(sum(event) AS BIGINT) AS d_events,
         CAST(sum(1 - event) AS BIGINT) AS censored
  FROM per_c GROUP BY 1
), risk AS (
  SELECT t, d_events, censored,
         n_total - CAST(coalesce(sum(d_events + censored) OVER
           (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS n_risk
  FROM by_t CROSS JOIN tot
), terms AS (
  SELECT *, CASE WHEN d_events > 0 AND n_risk > d_events
                 THEN CAST(floor(ln(CAST(n_risk - d_events AS DOUBLE)
                                    / CAST(n_risk AS DOUBLE)) * 1000000) AS BIGINT)
                 WHEN d_events > 0 THEN CAST(-100000000 AS BIGINT)
                 ELSE 0 END AS term
  FROM risk
), curve AS (
  SELECT *, CAST(sum(term) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS log_s_micro
  FROM terms
)
SELECT CAST(t AS BIGINT) AS duration_days,
       n_risk, d_events, censored,
       log_s_micro AS log_surv_micro,
       floor(exp(CAST(log_s_micro AS DOUBLE) / 1000000) * 1000000 + 0.5) / 1000000
         AS km_survival
FROM curve
ORDER BY duration_days
"""

QUERIES["km_survival_curve"] = km_survival_curve
ORACLES["km_survival_curve"] = KM_SQL


# --- Log-rank test (two-group survival comparison) --------------------


def logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test — does survival differ between two customer
    groups? (The hypothesis-test companion to km_survival_curve, and
    with it the standard churn-analysis pair.) Durations and horizon
    censoring as in the KM query; groups by the engine-identical md5
    parity. At each event time t: observed events in group 1 vs the
    hypergeometric expectation E = d_t·n1_t/n_t and variance
    V = d_t·(n1_t/n_t)·(1-n1_t/n_t)·(n_t-d_t)/(n_t-1). The at-risk
    walks are the same calendar-bounded cumulative windows as KM; the
    per-time E and V are each ONE double expression from identical
    integer counts, floor-quantized to micro-units BEFORE the final
    sums so the accumulations are order-independent integers; the
    chi-square statistic (O-E)²/V computes from those exact sums.
    Emits one row: totals, O, E (micro), V (micro), chi2 (1e-6)."""
    from pyspark.sql.window import Window

    per_c = _survival_spans(spark, sf_dir).withColumn(
        "grp", _hash_parity(F.col("o_custkey"))
    )
    by_t = per_c.groupBy("t").agg(
        F.sum("event").cast("long").alias("d_all"),
        F.sum(F.when(F.col("grp") == 1, F.col("event")).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.count(F.lit(1)).cast("long").alias("leave_all"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("leave1"),
    )
    totals = per_c.agg(
        F.count(F.lit(1)).alias("n_all_tot"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("n1_tot"),
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = by_t.join(F.broadcast(totals), F.lit(True), "left").select(
        "t",
        "d_all",
        "d1",
        (F.col("n_all_tot") - F.coalesce(F.sum("leave_all").over(w), F.lit(0))).alias(
            "n_all"
        ),
        (F.col("n1_tot") - F.coalesce(F.sum("leave1").over(w), F.lit(0))).alias("n1"),
    ).filter(F.col("d_all") > 0)

    def d(name):
        return F.col(name).cast("double")

    e_micro = F.floor(d("d_all") * d("n1") / d("n_all") * 1000000).cast("long")
    p1 = d("n1") / d("n_all")
    v_micro = F.when(
        F.col("n_all") > 1,
        F.floor(
            d("d_all") * p1 * (1 - p1) * (d("n_all") - d("d_all"))
            / (d("n_all") - 1)
            * 1000000
        ),
    ).otherwise(F.lit(0)).cast("long")
    agg = risk.agg(
        F.sum("d_all").cast("long").alias("events_total"),
        F.sum("d1").cast("long").alias("observed_g1"),
        F.sum(e_micro).cast("long").alias("expected_g1_micro"),
        F.sum(v_micro).cast("long").alias("variance_micro"),
    )
    chi2 = (
        (F.col("observed_g1") * 1000000 - F.col("expected_g1_micro")).cast("double")
        / 1000000
    ) ** 2 / (F.col("variance_micro").cast("double") / 1000000)
    return agg.select(
        "events_total",
        "observed_g1",
        "expected_g1_micro",
        "variance_micro",
        (F.floor(chi2 * 1000000 + F.lit(0.5)) / 1000000).alias("chi2"),
    )


LOGRANK_SQL = f"""
WITH per_c0 AS ({_survival_cte()}), per_c AS (
  SELECT t, event,
         CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12)) AS BIGINT) % 2 AS grp
  FROM per_c0
), by_t AS (
  SELECT t,
         CAST(sum(event) AS BIGINT) AS d_all,
         CAST(sum(CASE WHEN grp = 1 THEN event ELSE 0 END) AS BIGINT) AS d1,
         CAST(count(*) AS BIGINT) AS leave_all,
         CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS leave1
  FROM per_c GROUP BY 1
), tot AS (
  SELECT count(*) AS n_all_tot,
         CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1_tot
  FROM per_c
), risk AS (
  SELECT t, d_all, d1,
         n_all_tot - CAST(coalesce(sum(leave_all) OVER
           (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_all,
         n1_tot - CAST(coalesce(sum(leave1) OVER
           (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n1
  FROM by_t CROSS JOIN tot
), f AS (
  SELECT * FROM risk WHERE d_all > 0
), terms AS (
  SELECT d_all, d1,
         CAST(floor(CAST(d_all AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n_all AS DOUBLE) * 1000000) AS BIGINT) AS e_micro,
         CASE WHEN n_all > 1 THEN
           CAST(floor(CAST(d_all AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n_all AS DOUBLE))
                      * (1 - CAST(n1 AS DOUBLE) / CAST(n_all AS DOUBLE))
                      * (CAST(n_all AS DOUBLE) - CAST(d_all AS DOUBLE))
                      / (CAST(n_all AS DOUBLE) - 1) * 1000000) AS BIGINT)
         ELSE 0 END AS v_micro
  FROM f
), agg AS (
  SELECT CAST(sum(d_all) AS BIGINT) AS events_total,
         CAST(sum(d1) AS BIGINT) AS observed_g1,
         CAST(sum(e_micro) AS BIGINT) AS expected_g1_micro,
         CAST(sum(v_micro) AS BIGINT) AS variance_micro
  FROM terms
)
SELECT events_total, observed_g1, expected_g1_micro, variance_micro,
       floor(pow(CAST(observed_g1 * 1000000 - expected_g1_micro AS DOUBLE) / 1000000, 2)
             / (CAST(variance_micro AS DOUBLE) / 1000000) * 1000000 + 0.5) / 1000000 AS chi2
FROM agg
"""

QUERIES["logrank_test"] = logrank_test
ORACLES["logrank_test"] = LOGRANK_SQL
