"""End-to-end pipeline test (reference §5 log-based reconciliation,
re-expressed as assertions): run the full ETL on sf0.001 into a temp
lakehouse, check dimension/fact counts and FK invariants."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from etl_extractor_spark.pipeline import run_pipeline
from etl_extractor_spark.sources.parquet import load_table


@pytest.fixture(scope="module")
def lake(spark, sf_dir):
    with tempfile.TemporaryDirectory() as tmp:
        sources = {
            name: load_table(spark, sf_dir, name)
            for name in ("customer", "part", "supplier", "orders", "lineitem", "events")
        }
        counts = run_pipeline(
            spark,
            sources,
            staging_dir=os.path.join(tmp, "staging"),
            gold_dir=os.path.join(tmp, "gold"),
        )
        yield spark, tmp, counts


def test_dimension_counts_match_sources(lake, spark, sf_dir):
    _, _, counts = lake
    assert counts["dim_cliente"] == load_table(spark, sf_dir, "customer").count()
    assert counts["dim_producto"] == load_table(spark, sf_dir, "part").count()
    assert counts["dim_fuente"] == load_table(spark, sf_dir, "supplier").count()


def test_fact_is_union_of_sources(lake, spark, sf_dir):
    _, _, counts = lake
    expected = (
        load_table(spark, sf_dir, "orders").count()
        + load_table(spark, sf_dir, "events").count()
    )
    assert counts["fact_opinion"] == expected  # never-drop-rows policy


def test_fk_invariants(lake):
    sp, tmp, counts = lake
    fact = sp.read.parquet(os.path.join(tmp, "gold", "fact_opinion"))
    dimc = sp.read.parquet(os.path.join(tmp, "gold", "dim_cliente"))
    max_c = dimc.agg(F.max("IdCliente")).first()[0]
    bad = fact.filter((F.col("IdCliente") < 1) | (F.col("IdCliente") > max_c)).count()
    assert bad == 0  # modulo fold keeps every FK in range
    assert fact.filter(F.col("IdFecha") == -1).count() == 0  # all dates resolved


def test_partition_pruning_on_gold_fact(lake):
    """K4 analog: the year-partitioned layout must prune at scan time."""
    sp, tmp, _ = lake
    fact = sp.read.parquet(os.path.join(tmp, "gold", "fact_opinion"))
    years = [r["anio"] for r in fact.select("anio").distinct().collect()]
    one_year = fact.filter(F.col("anio") == years[0])
    plan = one_year._jdf.queryExecution().executedPlan().toString()
    # a pruned scan reads fewer files than the full table
    assert one_year.count() < fact.count() or len(years) == 1


def test_lake_is_zstd_parquet(lake):
    """Every column chunk the pipeline lands in staging and gold is
    zstd-compressed: the session factory sets the codec and no write
    site overrides it."""
    import glob

    import pyarrow.parquet as pq

    sp, tmp, _ = lake
    assert sp.conf.get("spark.sql.parquet.compression.codec") == "zstd"
    codecs: dict[str, set[str]] = {}
    for zone in ("staging", "gold"):
        for f in glob.glob(os.path.join(tmp, zone, "*", "**", "*.parquet"), recursive=True):
            table = os.path.relpath(f, tmp).split(os.sep)[1]
            meta = pq.ParquetFile(f).metadata
            codecs.setdefault(table, set()).update(
                meta.row_group(g).column(c).compression
                for g in range(meta.num_row_groups)
                for c in range(meta.num_columns)
            )
    assert len(codecs) == 11, sorted(codecs)  # 6 staged sources, 4 dims, the fact
    assert all(found == {"ZSTD"} for found in codecs.values()), codecs


def test_pipeline_idempotent(lake, spark, sf_dir):
    """Re-running overwrites, never duplicates (fixes SURVEY §4.2.5)."""
    sp, tmp, counts = lake
    sources = {
        name: load_table(spark, sf_dir, name)
        for name in ("customer", "part", "supplier", "orders", "lineitem", "events")
    }
    counts2 = run_pipeline(
        spark,
        sources,
        staging_dir=os.path.join(tmp, "staging"),
        gold_dir=os.path.join(tmp, "gold"),
    )
    assert counts2 == counts


def test_write_observed_metrics_ride_the_write(spark, sf_dir, tmp_path):
    """Observed metrics equal a separate recount — but came from the
    write job itself (no extra scan)."""
    from pyspark.sql import functions as F

    from etl_extractor_spark.sinks.writers import write_observed
    from etl_extractor_spark.sources.parquet import load_table

    orders = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "obs")
    got = write_observed(
        orders,
        out,
        metrics={
            "n_open": F.count_if(F.col("o_orderstatus") == "O"),
            "max_price": F.max("o_totalprice"),
        },
    )
    assert got["rows"] == orders.count()
    assert got["n_open"] == orders.filter("o_orderstatus = 'O'").count()
    assert got["max_price"] == orders.agg(F.max("o_totalprice")).first()[0]
    assert spark.read.parquet(out).count() == got["rows"]


SOURCES = ("customer", "part", "supplier", "orders", "lineitem", "events")


def test_pipeline_starts_only_write_jobs(spark, sf_dir, tmp_path):
    """Row counts and FK bounds ride the writes, and every re-read
    carries its schema: no count, first() or schema-inference job."""
    sources = {name: load_table(spark, sf_dir, name) for name in SOURCES}
    sc = spark.sparkContext
    sc.setJobGroup("pipeline-job-shape", "run_pipeline")
    try:
        run_pipeline(spark, sources, str(tmp_path / "staging"), str(tmp_path / "gold"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup("pipeline-job-shape")
    names = [
        st.getStageInfo(s).name
        for j in jobs
        for s in st.getJobInfo(j).stageIds
        if st.getStageInfo(s) is not None
    ]
    side = [n for n in names if n.startswith(("count at", "first at", "parquet at"))]
    assert not side, side
    # 6 staging saves + 11 dim jobs + 2 fact jobs. Under AQE a count of a
    # written table shows as two more shuffle-stage jobs, not by name. The
    # floor (6 staging + 4 dim + 1 fact write) fails if the threads that
    # land a stage's tables drop the caller's job group.
    assert 11 <= len(jobs) <= 19, len(jobs)


def test_counts_equal_gold_dirs(lake):
    sp, tmp, counts = lake
    got = {name: sp.read.parquet(os.path.join(tmp, "gold", name)).count() for name in counts}
    assert got == counts


def test_carried_schemas_match_inferred(spark, sf_dir, tmp_path):
    """Each stage's re-read carries the writer's schema instead of
    inferring one; it must match what Spark infers from the dir."""
    from etl_extractor_spark.pipeline import (
        build_dimensions,
        build_fact,
        get_logger,
        load_gold,
        stage_sources,
    )

    log = get_logger()
    sources = {name: load_table(spark, sf_dir, name) for name in SOURCES}
    staged = stage_sources(spark, sources, str(tmp_path / "staging"), log)
    dims = build_dimensions(spark, staged, str(tmp_path / "gold"), log)
    fact = build_fact(spark, staged, log)
    gold = load_gold(spark, fact, dims, str(tmp_path / "gold"), log)
    landed = {
        **{f"staging/stg_{n}": t for n, t in staged.items()},
        **{f"gold/{n}": t for n, t in dims.items()},
        "gold/fact_opinion": gold,
    }
    assert len(staged) == len(SOURCES)
    shape = lambda schema: [(f.name, f.dataType) for f in schema]  # noqa: E731
    for rel, table in landed.items():
        inferred = spark.read.parquet(str(tmp_path / rel)).schema
        assert shape(table.df.schema) == shape(inferred), rel


def test_cli_writes_run_record(spark, sf_dir, tmp_path, monkeypatch):
    """The CLI's run record: one {stage, rows_out, sec} entry per
    stage, rows taken from the observed writes."""
    import json

    from etl_extractor_spark.__main__ import main

    # main() re-applies the session factory's SQL confs to the shared
    # test session; keep its shuffle width the fixture's
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", spark.conf.get("spark.sql.shuffle.partitions"))
    assert main(["--sf-dir", sf_dir, "--out", str(tmp_path)]) == 0
    with open(tmp_path / "run_record.json") as f:
        record = json.load(f)

    assert [e["stage"] for e in record] == [
        "stage_sources", "build_dimensions", "build_fact", "load_gold",
    ]
    for entry in record:
        assert set(entry) == {"stage", "rows_out", "sec"}
        assert isinstance(entry["sec"], float) and entry["sec"] >= 0
        assert entry["rows_out"] and all(
            isinstance(k, str) and isinstance(v, int) for k, v in entry["rows_out"].items()
        )
    rows = {e["stage"]: e["rows_out"] for e in record}
    assert set(rows["stage_sources"]) == set(SOURCES)
    assert set(rows["build_dimensions"]) == {"dim_cliente", "dim_producto", "dim_fuente", "dim_fecha"}
    staged = rows["stage_sources"]
    assert rows["build_fact"] == {"orders": staged["orders"], "events": staged["events"]}
    assert rows["load_gold"] == {"fact_opinion": staged["orders"] + staged["events"]}
    assert staged["orders"] == load_table(spark, sf_dir, "orders").count()


def _no_active_jobs(spark) -> bool:
    """True when no Spark job runs: the status tracker reads the listener
    bus, so drain it first."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return not sc.statusTracker().getActiveJobsIds()


def test_stage_writes_are_in_flight_at_once(spark, sf_dir, tmp_path, monkeypatch):
    """Every write of a stage runs at the same time: the barrier breaks
    (and the stage loses its tables) unless all of them are in flight."""
    import threading

    from etl_extractor_spark import pipeline

    real = pipeline._land
    log = pipeline.get_logger()
    sources = {name: load_table(spark, sf_dir, name) for name in SOURCES}

    def through(barrier):
        def spy(*args, **kwargs):
            barrier.wait()
            return real(*args, **kwargs)

        return spy

    monkeypatch.setattr(pipeline, "_land", through(threading.Barrier(len(SOURCES), timeout=30)))
    staged = pipeline.stage_sources(spark, sources, str(tmp_path / "staging"), log)
    assert set(staged) == set(SOURCES)
    monkeypatch.setattr(pipeline, "_land", through(threading.Barrier(4, timeout=30)))
    dims = pipeline.build_dimensions(spark, staged, str(tmp_path / "gold"), log)
    assert list(dims) == ["dim_cliente", "dim_producto", "dim_fuente", "dim_fecha"]


def _failing(df, col: str, message: str):
    """``df`` with ``col`` replaced by an error raised in the write's tasks."""
    return df.withColumn(col, F.raise_error(F.lit(message)).cast("string"))


def test_failed_source_is_isolated_under_concurrency(spark, sf_dir, tmp_path, caplog):
    """A source whose write raises is logged and skipped; the other five
    land with their rows, in source order, and no write keeps running."""
    import logging

    from etl_extractor_spark.pipeline import get_logger, stage_sources

    sources = {name: load_table(spark, sf_dir, name) for name in SOURCES}
    sources["part"] = _failing(sources["part"], "p_name", "bad part source")
    with caplog.at_level(logging.INFO, logger="etl_extractor_spark.pipeline"):
        staged = stage_sources(spark, sources, str(tmp_path / "staging"), get_logger())
    assert _no_active_jobs(spark)
    good = [name for name in SOURCES if name != "part"]
    assert list(staged) == good
    for name in good:
        assert staged[name].metrics["rows"] == load_table(spark, sf_dir, name).count(), name
    warnings = [r.getMessage() for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1 and "stg_part" in warnings[0], warnings
    written = [r.getMessage().split()[1] for r in caplog.records if "written" in r.getMessage()]
    assert written == [f"stg_{name}" for name in good]


def test_failed_dim_raises_the_first_failure_in_dim_order(spark, sf_dir, tmp_path):
    """A dim write that raises fails the stage with that error, the first
    failure in dim order, after every write of the stage has ended."""
    from etl_extractor_spark.pipeline import (
        Landed,
        build_dimensions,
        get_logger,
        stage_sources,
    )

    log = get_logger()
    sources = {name: load_table(spark, sf_dir, name) for name in SOURCES}
    staged = stage_sources(spark, sources, str(tmp_path / "staging"), log)
    for name, col in (("customer", "c_name"), ("supplier", "s_name")):
        staged[name] = Landed(_failing(staged[name].df, col, f"bad {name} dim"), {})
    with pytest.raises(Exception, match="bad customer dim"):
        build_dimensions(spark, staged, str(tmp_path / "gold"), log)
    assert _no_active_jobs(spark)
