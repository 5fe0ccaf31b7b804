"""The end-to-end ETL pipeline (X1/X2/X3 — reference pipeline.py:10-43,
main.py:417-431).

The reference runs extract → stage → dims → fact → DW-load as separate
OS processes handing data through a SQLite file. Spark-first, the whole
flow is ONE driver process and ONE SparkSession; stage boundaries are
durable parquet zones (staging / gold), and each stage is lazy
DataFrame composition with a single write action at its end — Catalyst
optimizes across each stage's full expression tree.

Stages hand frames to each other, not paths: every write returns a
``Landed`` table, the written zone read back with the writer's own
schema (no schema-inference job), plus the metrics observed on the
write pass itself. Row counts and the dims' FK bounds ride those writes
(``sinks.writers.write_observed``), so the only Spark jobs a run starts
are the ones that write data — the reference's per-stage ``len(df)``
logging (main.py:45…411) costs no extra job.

A stage's writes run as concurrent Spark jobs (``_land_all``, one
thread per table). The staging saves and dim writes are small jobs of a
task or a few, so landing them one at a time leaves most cores idle
while the driver waits for each job before it submits the next. The
pool's threads inherit the caller's Spark local properties and session
tags (job group, job description, scheduler pool), so their jobs are
grouped and described like the caller's own. Stages stay barriers: a
stage returns only once every one of its writes has ended.

Stage map (reference → here):
  read_sources   main.py:29-76     source registry, per-source isolation
  stage          main.py:82-93     overwrite-mode staging parquet
  build_dims     main.py:97-190    dim_cliente/producto/fuente/fecha,
                                   FK bounds observed on the dim writes
  build_fact     main.py:196-306   conform + union (lazy; per-source
                                   rows observed on the gold write)
  load_gold      main.py:323-411   surrogate FK resolve (modulo fold +
                                   broadcast date lookup), partitioned
                                   fact layout (K4 analog)
"""

from __future__ import annotations

import logging
import os
import time
from concurrent.futures import ThreadPoolExecutor
from logging.handlers import RotatingFileHandler
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from etl_extractor_spark.functions.casts import to_double_or
from etl_extractor_spark.functions.dates import fecha_key
from etl_extractor_spark.functions.text import normalize_text, prefixed_key, truncate
from etl_extractor_spark.operators.dims import add_surrogate_key, build_dim_date
from etl_extractor_spark.operators.facts import (
    conform_block,
    enrich_lookup,
    modulo_fk_fold,
    union_blocks,
)
from etl_extractor_spark.sinks.writers import write_observed


class Landed(NamedTuple):
    """A table written to a lake zone: the frame read back with the
    writer's schema, and the metrics observed on the write (``rows``
    always, plus any the stage asked for)."""

    df: DataFrame
    metrics: dict


def _land(
    df: DataFrame,
    path: str,
    metrics: dict | None = None,
    partition_by: list[str] | None = None,
) -> Landed:
    """Write ``df`` observed, then read it back with its own schema: a
    bare ``read.parquet`` would start a schema-inference job."""
    got = write_observed(df, path, metrics, partition_by=partition_by)
    return Landed(df.sparkSession.read.schema(df.schema).parquet(path), got)


def _land_all(
    spark: SparkSession, writes: dict[str, tuple[DataFrame, str, dict | None]]
) -> dict[str, Landed | Exception]:
    """``_land`` every ``name → (df, path, metrics)`` at once, one thread
    per table, and wait for all of them: each name maps to its
    ``Landed`` table or to the exception its write raised, in ``writes``
    order. Each target is wrapped when it is submitted, so every thread
    gets its own copy of the caller's local properties and tags."""
    with ThreadPoolExecutor(max_workers=len(writes) or 1) as pool:
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(_land), *args)
            for name, args in writes.items()
        }
    # leaving the pool waited for every write
    return {name: f.exception() or f.result() for name, f in futures.items()}


def get_logger(log_path: str | None = None) -> logging.Logger:
    """X3: rotating-file + console logging (reference core/logger.py)."""
    log = logging.getLogger("etl_extractor_spark.pipeline")
    if not log.handlers:
        log.setLevel(logging.INFO)
        fmt = logging.Formatter("%(asctime)s %(levelname)s %(message)s")
        sh = logging.StreamHandler()
        sh.setFormatter(fmt)
        log.addHandler(sh)
        if log_path:
            fh = RotatingFileHandler(log_path, maxBytes=2_000_000, backupCount=3)
            fh.setFormatter(fmt)
            log.addHandler(fh)
    return log


def stage_sources(
    spark: SparkSession, sources: dict[str, DataFrame], staging_dir: str, log: logging.Logger
) -> dict[str, Landed]:
    """K1: overwrite-write every source frame to the staging zone, all
    at once (``_land_all``). Idempotent by construction (fixes the reference's rerun-append
    duplication, SURVEY §4.2.5)."""
    landed = _land_all(
        spark,
        {
            name: (df, os.path.join(staging_dir, f"stg_{name}"), None)
            for name, df in sources.items()
        },
    )
    staged: dict[str, Landed] = {}
    for name, got in landed.items():
        # X2: per-source isolation — a bad source never kills the run
        if isinstance(got, Exception):
            log.warning("STAGING: stg_%s failed: %s", name, got)
            continue
        staged[name] = got
        log.info("STAGING: stg_%s written (%d rows)", name, got.metrics["rows"])
    return staged


def build_dimensions(
    spark: SparkSession, staged: dict[str, Landed], gold_dir: str, log
) -> dict[str, Landed]:
    """Dims from the staged star-schema sources (reference
    main.py:97-190; FIXTURES.md mapping customer/part/supplier/dates).
    Each dim's FK bound (``bound``) is observed on its own write, for
    load_gold's key fold."""
    read = lambda k: staged[k].df  # noqa: E731

    dim_cliente = (
        read("customer")
        .select(
            prefixed_key("c_custkey", "C", 9).alias("cliente_id"),
            normalize_text("c_name").alias("nombre"),
            F.col("c_mktsegment").alias("segmento"),
        )
        .dropDuplicates()
    )
    dim_producto = (
        read("part")
        .select(
            prefixed_key("p_partkey", "P", 9).alias("producto_id"),
            normalize_text("p_name").alias("nombre"),
            F.col("p_type").alias("categoria"),
        )
        .dropDuplicates()
    )
    dim_fuente = (
        read("supplier")
        .select(
            prefixed_key("s_suppkey", "F", 9).alias("fuente_id"),
            normalize_text("s_name").alias("nombre"),
        )
        .dropDuplicates()
    )
    # the reference unions the date columns of EVERY source feeding the
    # fact (main.py:164-190) — so the fact's date keys always resolve
    dim_fecha = build_dim_date(
        [
            read("orders").select("o_orderdate"),
            read("lineitem").select("l_shipdate"),
            read("events").select(F.to_date("ts").cast("timestamp").alias("ts")),
        ]
    )

    dims = {
        "dim_cliente": (
            add_surrogate_key(dim_cliente, "cliente_id", "IdCliente"), {"bound": F.max("IdCliente")}
        ),
        "dim_producto": (
            add_surrogate_key(dim_producto, "producto_id", "IdProducto"), {"bound": F.max("IdProducto")}
        ),
        "dim_fuente": (
            add_surrogate_key(dim_fuente, "fuente_id", "IdFuente"), {"bound": F.min("IdFuente")}
        ),
        "dim_fecha": (dim_fecha.withColumn("IdFecha", F.col("fecha_key")), None),
    }
    landed = _land_all(
        spark,
        {name: (df, os.path.join(gold_dir, name), metrics) for name, (df, metrics) in dims.items()},
    )
    for name, got in landed.items():  # fail fast: the first failure in dim order
        if isinstance(got, Exception):
            raise got
        log.info("DIM: %s built (%d rows)", name, got.metrics["rows"])
    return landed


def fact_blocks() -> dict[str, dict]:
    """The source blocks build_fact unions into the fact: each ``src``
    (also the staged source the block conforms) → its conform spec. The
    one place the block names live; load_gold observes each block's rows
    on its write under the same names."""
    return {
        "orders": {
            "cliente_key": F.col("o_custkey").cast("long"),
            "producto_key": F.lit(None).cast("long"),
            "fecha_key": fecha_key("o_orderdate"),
            "puntaje": to_double_or("o_totalprice", 0.0),
            "texto": truncate("o_orderpriority", 2000),
        },
        "events": {
            "cliente_key": F.col("user_id").cast("long"),
            "producto_key": F.lit(None).cast("long"),
            "fecha_key": fecha_key("ts"),
            "puntaje": to_double_or("value", 0.0),
            "texto": truncate("props", 2000),
        },
    }


def build_fact(spark: SparkSession, staged: dict[str, Landed], log) -> DataFrame:
    """Conform heterogeneous sources to the canonical opinion-like fact
    (reference add_block, main.py:208-269) and union them (U1). The
    fact stays lazy; load_gold observes each block's rows on its write."""
    blocks = [
        conform_block(staged[src].df, {"src": F.lit(src), **spec})
        for src, spec in fact_blocks().items()
    ]
    fact = union_blocks(blocks)
    log.info("FACT: conformed %d source blocks", len(blocks))
    return fact


def load_gold(
    spark: SparkSession, fact: DataFrame, dims: dict[str, Landed], gold_dir: str, log
) -> Landed:
    """FK resolution with the reference's never-drop-rows policy
    (main.py:323-411): modulo-fold out-of-range business keys into the
    dim key range (J5) by the bounds observed on the dim writes, resolve
    date keys via broadcast lookup (J3), sentinel-default what cannot
    match — then write the fact partitioned by year (K4: the Spark
    substitute for the reference's B-tree index on the date key is
    partition pruning). The write also observes the rows of each source
    block (``fact_blocks``)."""
    max_cliente = int(dims["dim_cliente"].metrics["bound"])
    max_producto = int(dims["dim_producto"].metrics["bound"])
    default_fuente = int(dims["dim_fuente"].metrics["bound"])

    resolved = (
        fact.withColumn(
            "IdCliente",
            modulo_fk_fold(F.coalesce(F.col("cliente_key"), F.lit(1)), max_cliente),
        )
        .withColumn(
            "IdProducto",
            modulo_fk_fold(F.coalesce(F.col("producto_key"), F.lit(1)), max_producto),
        )
        .withColumn("IdFuente", F.lit(default_fuente).cast("long"))
    )
    resolved = enrich_lookup(
        resolved,
        dims["dim_fecha"].df.select("fecha_key", "IdFecha"),
        "fecha_key",
        "fecha_key",
        {"IdFecha": "IdFecha"},
        {"IdFecha": F.lit(-1)},
    )
    gold_fact = resolved.select(
        "src",
        "IdCliente",
        "IdProducto",
        "IdFuente",
        F.col("IdFecha").cast("long").alias("IdFecha"),
        F.round("puntaje", 4).alias("Calificacion"),
        F.lit("").alias("Sentimiento"),  # reserved, reference main.py:392
        F.col("texto").alias("Comentario"),
        (F.col("fecha_key") / 10000).cast("int").alias("anio"),
    )
    per_src = {src: F.count_if(F.col("src") == src) for src in fact_blocks()}
    out = _land(gold_fact, os.path.join(gold_dir, "fact_opinion"), per_src, partition_by=["anio"])
    log.info("GOLD: fact_opinion loaded (%d rows)", out.metrics["rows"])
    return out


class RunCounts(dict):
    """run_pipeline's row-count reconciliation (table → rows), carrying
    the run record as ``record``: one ``{stage, rows_out, sec}`` entry
    per stage, where ``rows_out`` maps each table the stage produced to
    its rows (for the lazy build_fact, each source block's rows as
    observed on load_gold's write)."""

    record: list[dict]


def run_pipeline(
    spark: SparkSession,
    sources: dict[str, DataFrame],
    staging_dir: str,
    gold_dir: str,
    log_path: str | None = None,
) -> RunCounts:
    """X1: the orchestrator — sequential stages, fail-fast between
    stages, per-source isolation inside extraction/staging. Returns the
    row-count reconciliation the reference logs at every stage, taken
    from the metrics observed on the writes, with the run record
    attached (building it starts no Spark job)."""
    log = get_logger(log_path)
    t0 = time.perf_counter()
    staged = stage_sources(spark, sources, staging_dir, log)
    t1 = time.perf_counter()
    dims = build_dimensions(spark, staged, gold_dir, log)
    t2 = time.perf_counter()
    fact = build_fact(spark, staged, log)
    t3 = time.perf_counter()
    gold = load_gold(spark, fact, dims, gold_dir, log)
    t4 = time.perf_counter()
    counts = RunCounts({name: tbl.metrics["rows"] for name, tbl in dims.items()})
    counts["fact_opinion"] = gold.metrics["rows"]
    log.info("PIPELINE DONE: %s", counts)
    counts.record = [
        {"stage": stage, "rows_out": rows, "sec": round(sec, 3)}
        for stage, rows, sec in (
            ("stage_sources", {name: tbl.metrics["rows"] for name, tbl in staged.items()}, t1 - t0),
            ("build_dimensions", {name: counts[name] for name in dims}, t2 - t1),
            ("build_fact", {src: gold.metrics[src] for src in fact_blocks()}, t3 - t2),
            ("load_gold", {"fact_opinion": counts["fact_opinion"]}, t4 - t3),
        )
    ]
    return counts
