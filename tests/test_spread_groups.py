"""spread_groups (r11): explicit keyed repartition in front of the
CPU-heavy grouped-Python shard codecs.

The grouped-UDF stage's shuffle carries few bytes, so AQE's byte-based
coalescing used to collapse it to ~1 task and the Python codec work
ran serial (shard_warc_gzip 2.35 s -> 0.75 s at sf0.1/local[32] once
pinned to the core count). These tests pin the two properties the fix
rests on: the exchange is user-specified (exempt from AQE coalescing)
and it REPLACES the groupBy's exchange (no second shuffle), and the
rows are unchanged."""

from pyspark.sql import functions as F

from etl_extractor_spark.operators.common import spread_groups
from etl_extractor_spark.plans.pipeline_ops import SHARD_ZIP_SQL, shard_zip_members
from tests.oracle import compare, duckdb_con


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_shard_plan_has_one_user_specified_exchange(spark, sf_dir):
    plan = _plan(shard_zip_members(spark, sf_dir))
    # the keyed repartition is the ONLY exchange: hash partitioning on
    # the grouping key satisfies the groupBy's clustered-distribution
    # requirement, so no ENSURE_REQUIREMENTS shuffle is added above it
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "ENSURE_REQUIREMENTS" not in plan, plan
    assert plan.count(") Exchange") == 1, plan


def test_spread_groups_preserves_rows(spark, sf_dir):
    df = spark.range(0, 100).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    out = (
        spread_groups(df, "k")
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    expect = df.groupBy("k").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, expect.collect())
    )


def test_shard_zip_rows_unchanged_by_repartition(spark, sf_dir):
    # row for row against the oracle: the keyed repartition may move
    # groups between tasks but must not change a single member row
    compare(shard_zip_members(spark, sf_dir), duckdb_con(sf_dir), SHARD_ZIP_SQL)
