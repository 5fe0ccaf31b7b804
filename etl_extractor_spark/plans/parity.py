"""Reference-pipeline parity queries over the synthetic star schema.

Each query re-expresses one stage of the reference ETL (SURVEY §2/§3)
on the driver's testdata, using the FIXTURES.md mapping:
customer→dim_cliente, part→dim_producto, supplier→dim_fuente,
orders/lineitem dates→dim_fecha, orders+events conformed→fact.

Every query has an exact DuckDB oracle; these are the correctness
anchors for the operator inventory items S*, P*, J*, A*, O*, U*, F*.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_extractor_spark.functions.casts import to_double_or, to_string_or
from etl_extractor_spark.functions.dates import fecha_key
from etl_extractor_spark.functions.text import normalize_text, prefixed_key, truncate
from etl_extractor_spark.operators.dims import build_dim_date
from etl_extractor_spark.operators.facts import (
    conform_block,
    enrich_lookup,
    modulo_fk_fold,
    scalar_agg,
    union_blocks,
)
from etl_extractor_spark.sources.parquet import load_table


# --- dimensions ---------------------------------------------------------


def dim_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_cliente analog (reference main.py:101-116): prefixed business
    key (F9/F10), normalized text (F1), projection (P1), dedup (P5)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        prefixed_key("c_custkey", "C", 9).alias("cliente_id"),
        normalize_text("c_name").alias("nombre"),
        F.col("c_mktsegment").alias("segmento"),
    ).dropDuplicates()


DIM_CUSTOMER_SQL = """
SELECT DISTINCT
  'C' || lpad(CAST(CAST(c_custkey AS BIGINT) AS VARCHAR), 9, '0') AS cliente_id,
  regexp_replace(trim(CAST(c_name AS VARCHAR)), '\\s+', ' ', 'g') AS nombre,
  c_mktsegment AS segmento
FROM customer
"""


def dim_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_producto analog (reference main.py:121-139)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        prefixed_key("p_partkey", "P", 9).alias("producto_id"),
        normalize_text("p_name").alias("nombre"),
        F.col("p_type").alias("categoria"),
        F.col("p_brand").alias("marca"),
    ).dropDuplicates()


DIM_PRODUCT_SQL = """
SELECT DISTINCT
  'P' || lpad(CAST(CAST(p_partkey AS BIGINT) AS VARCHAR), 9, '0') AS producto_id,
  regexp_replace(trim(CAST(p_name AS VARCHAR)), '\\s+', ' ', 'g') AS nombre,
  p_type AS categoria,
  p_brand AS marca
FROM part
"""


def dim_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_fuente analog (reference main.py:144-159): rename + project +
    dedup, F### business keys."""
    s = load_table(spark, sf_dir, "supplier")
    return s.select(
        prefixed_key("s_suppkey", "F", 9).alias("fuente_id"),
        normalize_text("s_name").alias("nombre"),
        F.col("s_nationkey").cast("long").alias("nacion"),
    ).dropDuplicates()


DIM_SOURCE_SQL = """
SELECT DISTINCT
  'F' || lpad(CAST(CAST(s_suppkey AS BIGINT) AS VARCHAR), 9, '0') AS fuente_id,
  regexp_replace(trim(CAST(s_name AS VARCHAR)), '\\s+', ' ', 'g') AS nombre,
  CAST(s_nationkey AS BIGINT) AS nacion
FROM supplier
"""


def dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_fecha analog (F4; reference main.py:164-190): union of the
    date columns of two fact-side tables → parse → distinct → calendar
    attributes. Date surfaced as DATE for stable comparison."""
    o = load_table(spark, sf_dir, "orders").select("o_orderdate")
    l = load_table(spark, sf_dir, "lineitem").select("l_shipdate")
    dim = build_dim_date([o, l])
    return dim.select(
        "fecha_key",
        F.to_date("fecha").alias("fecha"),
        "anio",
        "mes",
        "dia",
        "trimestre",
        "mes_nombre",
        "dia_semana",
    )


DIM_DATE_SQL = """
WITH d AS (
  SELECT o_orderdate AS f FROM orders
  UNION ALL
  SELECT l_shipdate AS f FROM lineitem
), dd AS (SELECT DISTINCT f FROM d WHERE f IS NOT NULL)
SELECT CAST(strftime(f, '%Y%m%d') AS BIGINT) AS fecha_key,
       CAST(f AS DATE) AS fecha,
       CAST(year(f) AS BIGINT) AS anio,
       CAST(month(f) AS BIGINT) AS mes,
       CAST(day(f) AS BIGINT) AS dia,
       CAST(quarter(f) AS BIGINT) AS trimestre,
       monthname(f) AS mes_nombre,
       dayname(f) AS dia_semana
FROM dd
"""


# --- fact build ---------------------------------------------------------

_FACT_CANON = ("cliente_id", "producto_id", "fuente", "fecha_key", "puntaje", "texto")


def fact_conformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact conform+union (reference add_block at main.py:208-269 and
    union at main.py:289-303): two heterogeneous sources projected onto
    one canonical 7-column schema (source tag, string FKs, coerced
    score, yyyymmdd date key, truncated text) then unionByName."""
    o = load_table(spark, sf_dir, "orders")
    e = load_table(spark, sf_dir, "events")
    orders_block = conform_block(
        o,
        {
            "src": F.lit("orders"),
            "cliente_id": to_string_or("o_custkey", "-1"),
            "producto_id": F.lit("-1"),
            "fuente": F.col("o_orderpriority"),
            "fecha_key": fecha_key("o_orderdate"),
            "puntaje": to_double_or("o_totalprice", 0.0),
            "texto": truncate("o_orderstatus", 2000),
        },
    )
    events_block = conform_block(
        e,
        {
            "src": F.lit("events"),
            "cliente_id": to_string_or("user_id", "-1"),
            "fuente": F.col("event_type"),
            "fecha_key": fecha_key("ts"),
            "puntaje": to_double_or("value", 0.0),
            "texto": truncate("props", 2000),
        },
        defaults={"producto_id": F.lit("-1")},
    )
    fact = union_blocks([orders_block, events_block])
    return fact.select(
        "src",
        "cliente_id",
        "producto_id",
        "fuente",
        "fecha_key",
        F.round("puntaje", 4).alias("puntaje"),
        "texto",
    )


FACT_CONFORMED_SQL = """
SELECT 'orders' AS src,
       COALESCE(CAST(o_custkey AS VARCHAR), '-1') AS cliente_id,
       '-1' AS producto_id,
       o_orderpriority AS fuente,
       COALESCE(CAST(strftime(o_orderdate, '%Y%m%d') AS BIGINT), -1) AS fecha_key,
       round(COALESCE(CAST(o_totalprice AS DOUBLE), 0.0), 4) AS puntaje,
       substr(trim(CAST(o_orderstatus AS VARCHAR)), 1, 2000) AS texto
FROM orders
UNION ALL
SELECT 'events' AS src,
       COALESCE(CAST(user_id AS VARCHAR), '-1') AS cliente_id,
       '-1' AS producto_id,
       event_type AS fuente,
       COALESCE(CAST(strftime(ts, '%Y%m%d') AS BIGINT), -1) AS fecha_key,
       round(COALESCE(CAST(value AS DOUBLE), 0.0), 4) AS puntaje,
       substr(trim(CAST(props AS VARCHAR)), 1, 2000) AS texto
FROM events
"""


def fact_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 lookup-enrich with sentinel: events left-join customer on
    user_id=c_custkey (some user_ids have no customer at tiny SF → the
    '-1' sentinel path is exercised). Dim side broadcast."""
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    enriched = enrich_lookup(
        e.select(
            "event_id",
            F.col("user_id").cast("long").alias("user_id"),
            "event_type",
            F.col("value"),
        ),
        c.select(F.col("c_custkey").cast("long").alias("c_custkey"), "c_name", "c_mktsegment"),
        "user_id",
        "c_custkey",
        {"c_name": "cliente_nombre", "c_mktsegment": "segmento"},
        {
            "cliente_nombre": F.lit("-1"),
            "segmento": F.lit("-1"),
        },
    )
    return enriched.select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 4).alias("value"),
        "cliente_nombre",
        "segmento",
    )


FACT_ENRICHED_SQL = """
SELECT e.event_id,
       CAST(e.user_id AS BIGINT) AS user_id,
       e.event_type,
       round(e.value, 4) AS value,
       COALESCE(c.c_name, '-1') AS cliente_nombre,
       COALESCE(c.c_mktsegment, '-1') AS segmento
FROM events e
LEFT JOIN customer c ON CAST(e.user_id AS BIGINT) = CAST(c.c_custkey AS BIGINT)
"""


def fk_modulo_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/A1: scalar max over the dimension, then fold every lineitem
    part key into [1, max] (reference main.py:347-372). The scalar agg
    is the only driver-side materialization."""
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem")
    max_part = int(scalar_agg(p, F.max("p_partkey")))
    return (
        l.select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_partkey").cast("long").alias("l_partkey"),
            modulo_fk_fold("l_partkey", max_part).alias("partkey_folded"),
        )
    )


FK_MODULO_SQL = """
WITH m AS (SELECT max(p_partkey) AS mx FROM part)
SELECT l_orderkey, l_linenumber, CAST(l_partkey AS BIGINT) AS l_partkey,
       CAST((((CAST(l_partkey AS BIGINT) - 1) % mx + mx) % mx) + 1 AS BIGINT)
         AS partkey_folded
FROM lineitem, m
"""


def scalar_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/A3: min/max/count scalar aggregates in one plan."""
    c = load_table(spark, sf_dir, "customer")
    return c.agg(
        F.min("c_custkey").cast("long").alias("min_key"),
        F.max("c_custkey").cast("long").alias("max_key"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("c_mktsegment").alias("n_segments"),
    )


SCALAR_BOUNDS_SQL = """
SELECT CAST(min(c_custkey) AS BIGINT) AS min_key,
       CAST(max(c_custkey) AS BIGINT) AS max_key,
       count(*) AS n_rows,
       count(DISTINCT c_mktsegment) AS n_segments
FROM customer
"""


def surrogate_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/W1: deterministic surrogate keys — row_number over the natural
    key order, matching the reference's sort-then-IDENTITY
    (reference sync_dimensions_dw.py:33)."""
    s = load_table(spark, sf_dir, "supplier")
    w = Window.orderBy(F.col("s_suppkey"))
    return s.select(
        F.row_number().over(w).cast("long").alias("sk"),
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        F.col("s_name").alias("nombre"),
    )


SURROGATE_SQL = """
SELECT CAST(row_number() OVER (ORDER BY s_suppkey) AS BIGINT) AS sk,
       CAST(s_suppkey AS BIGINT) AS s_suppkey,
       s_name AS nombre
FROM supplier
"""


def window_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function: top-3 orders per customer by totalprice
    (partitioned window — shuffles once on the partition key; no global
    sort)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 4).alias("o_totalprice"),
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


WINDOW_TOP_SQL = """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS o_totalprice,
         CAST(row_number() OVER (
           PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
         ) AS BIGINT) AS rn
  FROM orders
) WHERE rn <= 3
"""


def orders_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% systematic sample by key modulo — the
    reproducible sampling primitive (hash/TABLESAMPLE variants are
    engine-specific; key-modulo is exact in both engines)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.pmod(F.col("o_orderkey"), F.lit(10)) == 0)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
    )


ORDERS_SAMPLE_SQL = """
SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 4) AS total
FROM orders
WHERE ((o_orderkey % 10) + 10) % 10 = 0
GROUP BY o_orderstatus
"""


def orders_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling (sampleBy): per-stratum fractions with a
    fixed seed — rows-only (Bernoulli draws are engine-specific); the
    driver checks shape, tests bound the per-stratum rates."""
    o = load_table(spark, sf_dir, "orders")
    fractions = {"F": 0.2, "O": 0.1, "P": 0.5}
    return (
        o.sampleBy("o_orderstatus", fractions, seed=42)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-quality profile of the orders table."""
    from etl_extractor_spark.operators.profile import profile_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    return profile_table(o)


PROFILE_ORDERS_SQL = """
SELECT 'o_orderkey' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       count(DISTINCT o_orderkey) AS n_distinct,
       CAST(min(o_orderkey) AS VARCHAR) AS min_value,
       CAST(max(o_orderkey) AS VARCHAR) AS max_value
FROM orders
UNION ALL
SELECT 'o_custkey', count(*),
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT o_custkey),
       CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus', count(*),
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT o_orderstatus),
       CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_totalprice', count(*),
       CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT o_totalprice),
       CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
FROM orders
"""


def star_join_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship analytical query shape verbatim
    (reference test.py:26-32): a ROW-LEVEL 4-way star join projecting
    attributes from the fact and every dimension — no aggregation —
    with a deterministic top-100 preview (test.py prints head())."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("o_orderkey").alias("id_opinion"),
            F.col("c_name").alias("cliente"),
            F.col("c_mktsegment").alias("segmento"),
            F.col("n_name").alias("nacion"),
            F.col("r_name").alias("region"),
            fecha_key("o_orderdate").alias("fecha_key"),
            F.round("o_totalprice", 4).alias("calificacion"),
            F.col("o_orderpriority").alias("fuente"),
            F.col("o_orderstatus").alias("comentario"),
        )
        .orderBy(F.desc("calificacion"), F.asc("id_opinion"))
        .limit(100)
    )


STAR_DETAIL_SQL = """
SELECT o_orderkey AS id_opinion,
       c_name AS cliente,
       c_mktsegment AS segmento,
       n_name AS nacion,
       r_name AS region,
       COALESCE(CAST(strftime(o_orderdate, '%Y%m%d') AS BIGINT), -1) AS fecha_key,
       round(o_totalprice, 4) AS calificacion,
       o_orderpriority AS fuente,
       o_orderstatus AS comentario
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
ORDER BY calificacion DESC, id_opinion ASC
LIMIT 100
"""


QUERIES = {
    "star_join_detail": star_join_detail,
    "profile_orders": profile_orders,
    "orders_systematic_sample": orders_systematic_sample,
    "orders_stratified_sample": orders_stratified_sample,
    "dim_customer": dim_customer,
    "dim_product": dim_product,
    "dim_source": dim_source,
    "dim_date": dim_date,
    "fact_conformed": fact_conformed,
    "fact_enriched": fact_enriched,
    "fk_modulo_fold": fk_modulo_fold,
    "scalar_bounds": scalar_bounds,
    "surrogate_suppliers": surrogate_suppliers,
    "window_top_orders": window_top_orders,
}

ORACLES = {
    "star_join_detail": STAR_DETAIL_SQL,
    "profile_orders": PROFILE_ORDERS_SQL,
    "orders_systematic_sample": ORDERS_SAMPLE_SQL,
    # orders_stratified_sample: rows-only (engine-specific Bernoulli)
    "dim_customer": DIM_CUSTOMER_SQL,
    "dim_product": DIM_PRODUCT_SQL,
    "dim_source": DIM_SOURCE_SQL,
    "dim_date": DIM_DATE_SQL,
    "fact_conformed": FACT_CONFORMED_SQL,
    "fact_enriched": FACT_ENRICHED_SQL,
    "fk_modulo_fold": FK_MODULO_SQL,
    "scalar_bounds": SCALAR_BOUNDS_SQL,
    "surrogate_suppliers": SURROGATE_SQL,
    "window_top_orders": WINDOW_TOP_SQL,
}


def orders_stratified_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic twin of ``orders_stratified_sample``: the same
    per-stratum rates ({F: 20%, O: 10%, P: 50%}) drawn by a
    cross-engine md5 bucket instead of engine-specific Bernoulli —
    keep the row iff bucket(md5(o_orderkey)) mod 1000 < rate_pm. Both
    engines compute the identical md5 hex, so membership (not just the
    rate) is exact and the driver hash-checks the full sample. At
    scale this IS the production sampler: reproducible across cluster
    sizes, re-runs, and engines, unlike seeded Bernoulli whose draws
    depend on partitioning."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
            16,
            10,
        ).cast("long"),
        F.lit(1000),
    )
    rate = (
        F.when(F.col("o_orderstatus") == "F", F.lit(200))
        .when(F.col("o_orderstatus") == "O", F.lit(100))
        .otherwise(F.lit(500))
    )
    return (
        o.filter(bucket < rate)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
    )


STRATIFIED_HASH_SQL = (
    """
WITH b AS (
  SELECT o_orderstatus, o_totalprice,
         ("""
  + " + ".join(
      f"(CAST(strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), {1 + j}, 1)) - 1 AS BIGINT) << {4 * (7 - j)})"
      for j in range(8)
  )
  + """) % 1000 AS bucket,
         CASE o_orderstatus WHEN 'F' THEN 200 WHEN 'O' THEN 100 ELSE 500 END AS rate
  FROM orders
)
SELECT o_orderstatus, count(*) AS n_sampled,
       round(sum(o_totalprice), 4) AS total
FROM b WHERE bucket < rate GROUP BY o_orderstatus
"""
)

QUERIES["orders_stratified_sample_hash"] = orders_stratified_sample_hash
ORACLES["orders_stratified_sample_hash"] = STRATIFIED_HASH_SQL
