"""Session-timezone independence of epoch/date arithmetic.

The driver supplies its OWN SparkSession, which may run in any zone:
every query must produce identical results under UTC, a DST zone, and
a sub-hour-offset zone. Round-3 regression: ``events_gapfill_rollup``
bucketed on ``unix_micros(cast(ts as timestamp))`` — the NTZ→instant
cast reinterprets the wall clock in the session zone, shifting the
6-hour bucket grid (18150 vs 18000 rows under America/New_York).
Fixed via wall-clock NTZ arithmetic (functions/dates.py
``ntz_epoch_micros``/``ntz_from_epoch_micros``/``ntz_epoch_seconds``).
"""

from __future__ import annotations

import pytest

from etl_extractor_spark.plans.registry import all_oracles, all_queries
from tests.oracle import compare, duckdb_con

# the queries that do epoch bucketing / epoch diffs / range frames —
# the operations that break first under a session-zone reinterpretation
PROBE = (
    "events_gapfill_rollup",
    "events_user_lag_rolling",
    "customer_trailing_30d_spend",
    "dim_date",
    "events_tumbling",
)


@pytest.mark.parametrize("tz", ["America/New_York", "Asia/Kathmandu"])
def test_queries_session_tz_independent(spark, sf_dir, tz):
    qs, os_ = all_queries(), all_oracles()
    con = duckdb_con(sf_dir)
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        for name in PROBE:
            compare(qs[name](spark, sf_dir), con, os_[name])
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


@pytest.mark.parametrize("tz", ["America/New_York"])
def test_streaming_rate_limit_tz_independent(spark, sf_dir, tz):
    """The streaming token bucket must keep the SAME events as the
    batch spec under a non-UTC session: the batch buckets with
    F.window over NTZ (wall clock), so the stream must bucket on the
    source's ts_ntz wall clock, not instant micros (which inherit the
    session offset through the µs-file cast — round-3 review catch,
    same family as the gap-fill regression above)."""
    from pyspark.sql import functions as F

    from etl_extractor_spark.operators.events import rate_limit
    from etl_extractor_spark.sources.parquet import load_table
    import etl_extractor_spark.streaming.events_stream as SE

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        batch_kept = sorted(
            (r.user_id, r.event_id)
            for r in rate_limit(load_table(spark, sf_dir, "events"))
            .filter("is_kept")
            .select(
                F.col("user_id").cast("long"), F.col("event_id").cast("long")
            )
            .collect()
        )
        got = SE.run_to_memory(
            SE.streaming_rate_limit(SE.events_stream(spark, sf_dir)),
            output_mode="append",
        )
        stream_kept = sorted(
            (r.user_id, r.event_id)
            for r in got.select("user_id", "event_id").collect()
        )
        assert stream_kept == batch_kept
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
