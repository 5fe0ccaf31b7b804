"""Driver-checkable round-trips for the environmental operators.

SURVEY §2's source/sink ops (S1 CSV na_filter parity, S3 REST envelope
unwrap, S2/K3 JDBC read + bulk append) are exercised by pytest, but a
pytest pass is a weaker signal than the driver's DuckDB hash gate.
These queries make each leg a self-contained ``queries()`` entry: the
query WRITES through the engine's own sink, READS back through the
engine's own source, and the oracle states the expected rows in pure
SQL over the same sf_dir tables (plus literals for the null-semantics
rows) — so a hash match certifies the full write→read contract, not
just "it didn't throw".

Reference parity targets:
- CSV:  extract/csv_extractor.py:4-10 (``na_filter=False`` — empty
  cells are ``""``, never null, and flow through joins as keys)
- JSON: extract/api_extractor.py:12-28 (``{"data": [...]}`` envelope,
  nested objects flattened to dotted columns)
- JDBC: extract/db_extractor.py:6-14 + core/dw_repository.py:8-23
  (column-projecting SELECT read; batched bulk append) — executed
  against Apache Derby's embedded driver, which ships on Spark's
  default classpath.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_extractor_spark.functions.quantize import cents
from etl_extractor_spark.sources.csv import read_csv
from etl_extractor_spark.sources.jdbc import read_jdbc, write_jdbc
from etl_extractor_spark.sources.json_api import records_to_df
from etl_extractor_spark.sources.parquet import load_table
from etl_extractor_spark.operators.common import (
    pid_scratch_dir,
    process_scratch_dir,
    scratch_database,
)
from etl_extractor_spark.session import query_session

_DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 + K1: nation → CSV (engine writer) → read_csv (engine reader,
    na_filter=False parity). A literal row with a NULL name is unioned
    in before the write; the round-trip must surface it as ``''`` —
    the reference's empty-cell semantics — while the typed int columns
    keep their values exactly."""
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    extra = spark.createDataFrame(
        [(-1, None, -1)], "n_nationkey: int, n_name: string, n_regionkey: int"
    )
    out_dir = pid_scratch_dir("spark_graft_csv_roundtrip_")
    nation.unionByName(extra).coalesce(1).write.mode("overwrite").option(
        "header", True
    ).csv(out_dir)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return read_csv(spark, out_dir, schema=schema)


CSV_ROUNDTRIP_SQL = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
UNION ALL
SELECT -1, '', -1
"""


def json_envelope_unwrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: the reference's API envelope contract on a deterministic
    payload — ``{"data": [...]}`` unwrap, nested object flattened to a
    dotted column, non-dict entries dropped. The oracle restates the
    expected flat rows as literals."""
    payload = {
        "data": [
            {"id": 1, "name": "alpha", "meta": {"lang": "en", "score": 0.5}},
            {"id": 2, "name": "beta", "meta": {"lang": "es", "score": 1.5}},
            ["not", "a", "record"],  # dropped by the unwrap contract
            {"id": 3, "name": "gamma", "meta": {"lang": "en", "score": 2.5}},
        ]
    }
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("meta.lang", T.StringType()),
            T.StructField("meta.score", T.DoubleType()),
        ]
    )
    return records_to_df(spark, payload, schema=schema)


JSON_ENVELOPE_SQL = """
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), 'alpha', 'en', 0.5),
  (CAST(2 AS BIGINT), 'beta',  'es', 1.5),
  (CAST(3 AS BIGINT), 'gamma', 'en', 2.5)
) AS t(id, name, "meta.lang", "meta.score")
"""


def jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 + K3: region → Derby overwrite (K1 truncate+load), two
    literal rows bulk-appended (K3 batched INSERT), read back through
    the projecting JDBC source. Derby is the embedded driver on
    Spark's default classpath — a real format("jdbc") wire path."""
    region = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("int").alias("rk"),
        F.col("r_name").alias("rn"),
    )
    # fixed per-process Derby database, tables overwritten each run
    # (embedded Derby allows re-boot of the same db within one JVM)
    db = os.path.join(process_scratch_dir("spark_graft_jdbc_roundtrip_"), "db")
    url = f"jdbc:derby:{db};create=true"
    write_jdbc(region, url, "t_round", mode="overwrite", driver=_DERBY_DRIVER)
    extra = spark.createDataFrame(
        [(90, "EXTRA_A"), (91, "EXTRA_B")], "rk: int, rn: string"
    )
    write_jdbc(extra, url, "t_round", mode="append", driver=_DERBY_DRIVER)
    return read_jdbc(spark, url=url, table="t_round").select(
        F.col("rk").cast("int").alias("rk"), "rn"
    )


JDBC_ROUNDTRIP_SQL = """
SELECT CAST(r_regionkey AS INTEGER) AS rk, r_name AS rn FROM region
UNION ALL
SELECT * FROM (VALUES (90, 'EXTRA_A'), (91, 'EXTRA_B')) AS t(rk, rn)
"""


QUERIES = {
    "csv_roundtrip": csv_roundtrip,
    "json_envelope_unwrap": json_envelope_unwrap,
    "jdbc_roundtrip": jdbc_roundtrip,
}

ORACLES = {
    "csv_roundtrip": CSV_ROUNDTRIP_SQL,
    "json_envelope_unwrap": JSON_ENVELOPE_SQL,
    "jdbc_roundtrip": JDBC_ROUNDTRIP_SQL,
}


def pyds_envelope_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 scale path: the Python Data Source API (Spark 4) envelope
    reader. nation is dumped into three ``{"data": [...]}`` JSON files
    (driver-side — 25 rows, contract-small), with the region key nested
    one level to exercise the dotted-column flatten; the custom
    ``format("envelope_json")`` source then reads the directory with
    one InputPartition per file. Oracle = the same rows straight off
    the nation table."""
    import json

    from etl_extractor_spark.sources.pyds import register

    spark = query_session(spark)
    register(spark)
    rows = (
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()
    )
    out_dir = pid_scratch_dir("spark_graft_pyds_roundtrip_")
    os.makedirs(out_dir, exist_ok=True)
    for shard in range(3):
        recs = [
            {
                "n_nationkey": r.n_nationkey,
                "n_name": r.n_name,
                "region": {"key": r.n_regionkey},
            }
            for r in rows
            if r.n_nationkey % 3 == shard
        ]
        with open(os.path.join(out_dir, f"part{shard}.json"), "w") as fh:
            json.dump({"data": recs}, fh)
    return (
        spark.read.format("envelope_json")
        .schema("n_nationkey bigint, n_name string, `region.key` bigint")
        .option("path", out_dir)
        .load()
    )


PYDS_ENVELOPE_SQL = """
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
       n_name,
       CAST(n_regionkey AS BIGINT) AS "region.key"
FROM nation
"""

QUERIES["pyds_envelope_scan"] = pyds_envelope_scan
ORACLES["pyds_envelope_scan"] = PYDS_ENVELOPE_SQL


def parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/S4 schema evolution: a real table accretes columns over time
    — old files lack them, new files carry them — and the reader must
    union the generations with nulls for the missing column
    (``mergeSchema``), never failing or silently dropping. Generation
    1 (even doc_ids) is written WITHOUT ``score``; generation 2 (odd)
    WITH it; the merged read is rolled up per lang with the null
    accounting made explicit. The oracle rebuilds the same two
    generations from the documents table in SQL.

    100 TB note: mergeSchema=true scans file footers at planning time
    — on a huge table pin the merged schema explicitly (as catalogs
    do) and pay the footer sweep once, not per query; the read path
    itself is unchanged.
    """
    d = load_table(spark, sf_dir, "documents")
    base = pid_scratch_dir("spark_graft_parquet_evo_")
    d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "gen=1"))
    d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", F.col("n_chars").alias("score")
    ).write.mode("overwrite").parquet(os.path.join(base, "gen=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "gen=1"), os.path.join(base, "gen=2")
    )
    return (
        merged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("score").isNull().cast("long")).alias("n_legacy_rows"),
            F.sum(F.coalesce("score", F.lit(0))).alias("sum_score"),
        )
        .orderBy("lang")
    )


SCHEMA_EVOLUTION_SQL = """
WITH merged AS (
  SELECT doc_id, lang, NULL AS score FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, lang, n_chars AS score FROM documents WHERE doc_id % 2 = 1
)
SELECT lang,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN score IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy_rows,
       CAST(sum(coalesce(score, 0)) AS BIGINT) AS sum_score
FROM merged GROUP BY lang ORDER BY lang
"""

QUERIES["parquet_schema_evolution"] = parquet_schema_evolution
ORACLES["parquet_schema_evolution"] = SCHEMA_EVOLUTION_SQL


def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4-adjacent columnar-format parity: supplier → ORC → read back
    with a projection + predicate, proving the second columnar format
    end-to-end under the hash gate (pytest covers pushdown plans; this
    certifies values). ORC matters operationally as the interchange
    format of Hive-lineage warehouses — an engine claiming to replace
    one must round-trip it losslessly."""
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    out_dir = pid_scratch_dir("spark_graft_orc_roundtrip_")
    s.write.mode("overwrite").orc(out_dir)
    back = spark.read.orc(out_dir)
    return back.filter(F.col("s_acctbal") > 0).select(
        "s_suppkey",
        "s_name",
        "s_nationkey",
        F.round("s_acctbal", 2).alias("s_acctbal"),
    )


ORC_ROUNDTRIP_SQL = """
SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 2) AS s_acctbal
FROM supplier WHERE s_acctbal > 0
"""

QUERIES["orc_roundtrip"] = orc_roundtrip
ORACLES["orc_roundtrip"] = ORC_ROUNDTRIP_SQL


def dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic Partition Pruning, end to end: orders are written out
    PARTITIONED BY order year (the engine's own partitioned writer
    path), then joined to a filtered year dimension — at execution
    Spark builds the dim's year set first and PRUNES the fact's
    partition directories before scanning them (the `dynamicpruning`
    subquery in the plan; guarded in tests/test_plans.py). On a 100 TB
    date-partitioned fact this is the difference between scanning 7
    years and scanning the 2 the dim selects — the single most
    important optimizer behavior for star-schema scans. The oracle
    computes the same join from the raw table, certifying values."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        F.year(F.to_date("o_orderdate")).alias("yr"),
    )
    base = pid_scratch_dir("spark_graft_dpp_")
    o.write.mode("overwrite").partitionBy("yr").parquet(base)
    fact = spark.read.parquet(base)
    years = (
        load_table(spark, sf_dir, "orders")
        .select(F.year(F.to_date("o_orderdate")).alias("dim_yr"))
        .distinct()
        .filter(F.col("dim_yr") >= 2000)
    )
    return (
        fact.join(years, fact.yr == years.dim_yr)
        .groupBy("yr")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
    )


DPP_SQL = """
SELECT year(CAST(o_orderdate AS DATE)) AS yr,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders
WHERE year(CAST(o_orderdate AS DATE)) >= 2000
GROUP BY 1
"""

QUERIES["dpp_partitioned_join"] = dpp_partitioned_join
ORACLES["dpp_partitioned_join"] = DPP_SQL


def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4's big⋈big answer as a driver-checkable query: orders and
    customer are written BUCKETED on the join key (8 buckets each,
    sorted) into this call's own database, then joined — Spark reads
    matching buckets directly, so the join plan has NO Exchange on
    either input (guarded in tests/test_plans.py); the only shuffle
    left is the final segment rollup. On repeated 100 TB fact joins
    this is the single largest shuffle saving available. The database
    LOCATION is this call's scratch dir (``scratch_database``), so a
    vanilla driver session's in-memory catalog works, nothing lands in
    the driver's cwd, and no other call rewrites the tables."""
    db = scratch_database(spark, "graft_bkt", pid_scratch_dir("spark_graft_bkt_"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    from etl_extractor_spark.operators.bucketing import write_bucketed

    write_bucketed(o, f"{db}.orders_b", "o_custkey", 8)
    write_bucketed(c, f"{db}.customer_b", "c_custkey", 8)
    ob = spark.table(f"{db}.orders_b")
    cb = spark.table(f"{db}.customer_b")
    return (
        ob.join(cb, ob.o_custkey == cb.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
    )


BUCKETED_JOIN_SQL = """
SELECT c_mktsegment,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""

QUERIES["bucketed_join_colocated"] = bucketed_join_colocated
ORACLES["bucketed_join_colocated"] = BUCKETED_JOIN_SQL


def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3-adjacent line-delimited JSON parity: region through the
    engine's JSON writer and a schema-pinned read (schema pinned, not
    inferred — inference is a second full scan and a type lottery on
    big data). Value-certified by the hash gate."""
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    out_dir = pid_scratch_dir("spark_graft_jsonl_roundtrip_")
    r.write.mode("overwrite").json(out_dir)
    schema = T.StructType(
        [
            T.StructField("r_regionkey", T.LongType()),
            T.StructField("r_name", T.StringType()),
        ]
    )
    return spark.read.schema(schema).json(out_dir)


JSONL_ROUNDTRIP_SQL = "SELECT r_regionkey, r_name FROM region"

QUERIES["jsonl_roundtrip"] = jsonl_roundtrip
ORACLES["jsonl_roundtrip"] = JSONL_ROUNDTRIP_SQL


def compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-family small-file compaction under the hash gate: supplier is
    deliberately written as 8 fragment files (the streaming-ingest
    disease), compacted with the engine's compactor, and read back;
    output = the per-nation rollup PLUS a ``compaction_ok`` contract
    bit (post-compaction file count == the compactor's shared
    plan_file_count rule, computed Spark-side), so the oracle pins
    both the content (unchanged) and the layout claim at ANY scale
    factor. Small files are the #1
    silent performance killer of long-lived 100 TB tables — this makes
    the repair operation itself driver-verifiable."""
    from etl_extractor_spark.sinks.compact import compact_parquet, plan_file_count

    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", F.round("s_acctbal", 2).alias("bal")
    )
    path = pid_scratch_dir("spark_graft_compact_")
    s.repartition(8).write.mode("overwrite").parquet(path)
    # pin the compactor's CONTRACT, not a literal file count: expected
    # comes from the compactor's OWN shared sizing rule
    # (plan_file_count — ceil(bytes/target) floored at parallelism).
    # A hardcoded `1` broke the oracle the moment the table outgrew
    # one target file (ADVICE r3); an inline COPY of the rule broke
    # again when round 9 added the parallelism floor and only the
    # compactor changed (review catch — the copy silently pinned the
    # old rule, flipping compaction_ok at the SF where floor > size
    # term). Sharing the function makes expected-vs-achieved drift
    # structurally impossible; the bit still fails if the compactor
    # cannot ACHIEVE its plan (the review-confirmed coalesce-can't-
    # grow bug was exactly that failure, now fixed + tested). The
    # plan is evaluated ONCE and passed through (second review catch:
    # two independent evaluations read defaultParallelism at two
    # instants — dynamic executor allocation could move the floor
    # between them and flip the bit on a correct compaction).
    expected = plan_file_count(spark, path, target_file_mb=128)
    n_after = compact_parquet(spark, path, target_file_mb=128, n_files=expected)
    back = spark.read.parquet(path)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.round(F.sum("bal"), 2).alias("total_bal"),
        F.lit(bool(n_after == expected)).alias("compaction_ok"),
    )


COMPACTION_SQL = """
SELECT s_nationkey,
       count(*) AS n_suppliers,
       round(sum(round(s_acctbal, 2)), 2) AS total_bal,
       true AS compaction_ok
FROM supplier GROUP BY s_nationkey
"""

QUERIES["compaction_roundtrip"] = compaction_roundtrip
ORACLES["compaction_roundtrip"] = COMPACTION_SQL


def manifest_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Iceberg-lite table layer under the driver contract: commit
    per-priority revenue for pre-1998 orders as snapshot 1
    (``sinks/manifest.write_with_manifest``, per-file min/max stats),
    APPEND the 1998+ slice as snapshot 2, then time-travel —
    ``read_snapshot`` plans snapshot 1 from the manifest alone (no
    file listing) while ``read_table`` reads the current table with
    its committed schema. Emits (version, n_groups, sum_orders,
    sum_cents) for both views; the oracle re-derives each from the raw
    orders, so a manifest that plans the wrong file set for either
    version changes a checksum and hash-fails. DECIMAL cents keep the
    money sums exact in both engines."""
    import os
    import tempfile

    from etl_extractor_spark.sinks import manifest as MF

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.to_date("o_orderdate").alias("d"),
        cents("o_totalprice").alias("cents"),
    )

    def agg(df):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )

    path = pid_scratch_dir("spark_graft_time_travel_")
    MF.write_with_manifest(
        spark, agg(o.filter(F.col("d") < "1998-01-01")), path,
        stats_cols=["n_orders"], mode="overwrite",
    )
    MF.write_with_manifest(
        spark, agg(o.filter(F.col("d") >= "1998-01-01")), path,
        stats_cols=["n_orders"], mode="append",
    )
    ids = [h["id"] for h in MF.table_history(path)]
    v1 = MF.read_snapshot(spark, path, ids[0])
    v2 = MF.read_table(spark, path)

    def summarize(df, version):
        return df.agg(
            F.lit(version).cast("long").alias("version"),
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.coalesce(F.sum("n_orders"), F.lit(0)).cast("long").alias("sum_orders"),
            F.coalesce(F.sum("sum_cents"), F.lit(0)).cast("long").alias("sum_cents"),
        )

    return summarize(v1, 1).unionByName(summarize(v2, 2))


MANIFEST_TIME_TRAVEL_SQL = """
WITH base AS (
  SELECT o_orderpriority, o_orderdate AS d,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
), v1 AS (
  SELECT o_orderpriority, count(*) AS n, CAST(sum(cents) AS BIGINT) AS c
  FROM base WHERE d < DATE '1998-01-01' GROUP BY 1
), v2 AS (
  SELECT o_orderpriority, count(*) AS n, CAST(sum(cents) AS BIGINT) AS c
  FROM base WHERE d >= DATE '1998-01-01' GROUP BY 1
)
SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_groups,
       CAST(coalesce(sum(n), 0) AS BIGINT) AS sum_orders,
       CAST(coalesce(sum(c), 0) AS BIGINT) AS sum_cents
FROM v1
UNION ALL
SELECT CAST(2 AS BIGINT), (SELECT count(*) FROM v1) + (SELECT count(*) FROM v2),
       (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM v1)
         + (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM v2),
       (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM v1)
         + (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM v2)
"""

QUERIES["manifest_time_travel"] = manifest_time_travel
ORACLES["manifest_time_travel"] = MANIFEST_TIME_TRAVEL_SQL
