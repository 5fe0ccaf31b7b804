"""Event-windowing queries over the events table.

Batch expressions of the streaming operator set (SURVEY §7.4): the
streaming twins in etl_extractor_spark/streaming run the SAME logical
expressions through Structured Streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_extractor_spark.operators import events as E
from etl_extractor_spark.sources.parquet import load_table

_SESSION_SQL = """
WITH x AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
               OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), y AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM x
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM y GROUP BY user_id, sid
"""


def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.tumbling_agg(load_table(spark, sf_dir, "events"))


EVENTS_TUMBLING_SQL = """
SELECT strftime(make_timestamp(CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) * 3600000000),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
"""


def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.sliding_agg(load_table(spark, sf_dir, "events"))


EVENTS_SLIDING_SQL = """
SELECT strftime(make_timestamp(CAST(floor(epoch_us(ts) / 1800000000) AS BIGINT) * 1800000000
                               - k * 1800000000),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events, (VALUES (0), (1)) AS offsets(k)
GROUP BY 1, 2
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.sessionize(load_table(spark, sf_dir, "events"))


def events_sessionize_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.sessionize_pandas(load_table(spark, sf_dir, "events"))


def events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.json_props_stats(load_table(spark, sf_dir, "events"))


EVENTS_JSON_SQL = """
SELECT event_type,
       count(*) AS n,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
"""


def events_totals_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe per-user totals: 15 users × ~6.6k events each is the
    toy version of a hot-key aggregation; the salted two-phase plan
    spreads each user over 16 reducers, with results identical to the
    plain GROUP BY (the oracle)."""
    from etl_extractor_spark.operators.skew import salted_sum_count

    e = load_table(spark, sf_dir, "events")
    # DECIMAL, not double: two-phase summation changes float addition
    # order vs the oracle's single pass (observed 1-ulp flip at a
    # round-half boundary). Decimal aggregation is exact and
    # order-independent — the correct type for money-like columns in
    # any distributed aggregation.
    out = salted_sum_count(
        e.select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("value").cast("decimal(18,2)").alias("value"),
            "event_id",
        ),
        ["user_id"],
        "value",
        salt_from="event_id",
    )
    # avg_value is derived (sum/count) and double-rounding of a .xxxx5
    # quotient differs between Spark (BigDecimal HALF_UP on shortest
    # repr) and DuckDB (scaled multiply) — exclude it from the oracle
    # comparison; sum & count pin it exactly.
    return out.drop("avg_value")


EVENTS_TOTALS_SALTED_SQL = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_value,
       count(*) AS n_rows,
       round(CAST(min(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS min_value,
       round(CAST(max(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS max_value
FROM events
GROUP BY user_id
"""


def events_asof_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: last click at or before each purchase, per user
    (oracle: DuckDB's native ASOF JOIN)."""
    return E.asof_join_last_event(load_table(spark, sf_dir, "events"))


EVENTS_ASOF_SQL = """
WITH p AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
)
SELECT CAST(p.user_id AS BIGINT) AS user_id,
       p.event_id AS purchase_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       c.event_id AS last_click_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS last_click_ts
FROM p ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND c.ts <= p.ts
"""


def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: clicks within 30 min before each purchase."""
    return E.interval_join_counts(load_table(spark, sf_dir, "events"))


EVENTS_INTERVAL_SQL = """
SELECT CAST(p.user_id AS BIGINT) AS user_id,
       p.event_id AS purchase_id,
       count(c.ts) AS n_clicks_30m
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 30 MINUTE
GROUP BY 1, 2
"""


def events_gapfill_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style dense rollup: per (user, 6-hour bucket) counts
    over the FULL time grid — buckets with no events appear with zero
    counts (gap filling). The grid is generated with sequence+explode
    (codegen) and cross-joined with the user dimension; the sparse
    aggregate left-joins onto it. At scale the grid is tiny relative to
    the events (|users| × |buckets|) and the join broadcasts."""
    from etl_extractor_spark.functions.dates import (
        ntz_epoch_micros,
        ntz_from_epoch_micros,
    )

    e = load_table(spark, sf_dir, "events")
    bucket_us = 6 * 3600 * 1_000_000
    # wall-clock epoch, NOT unix_micros(cast(ts as timestamp)): ts is
    # NTZ, and the cast reinterprets it in the session zone — bucket
    # boundaries would shift with the timezone (caught by the non-UTC
    # probe: 18150 vs 18000 grid rows under America/New_York).
    bucketed = e.select(
        F.col("user_id").cast("long").alias("user_id"),
        (F.floor(ntz_epoch_micros("ts") / bucket_us)).alias("b"),
        "value",
    )
    bounds = bucketed.agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("b")
    ).crossJoin(bucketed.select("user_id").distinct())
    agg = bucketed.groupBy("user_id", "b").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv")
    )
    return (
        grid.join(agg, ["user_id", "b"], "left")
        .select(
            "user_id",
            F.date_format(
                ntz_from_epoch_micros(F.col("b") * bucket_us),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("bucket_start"),
            F.coalesce("cnt", F.lit(0)).alias("n_events"),
            F.round(F.coalesce("sv", F.lit(0.0)), 4).alias("sum_value"),
        )
    )


EVENTS_GAPFILL_SQL = """
WITH b AS (
  SELECT CAST(user_id AS BIGINT) AS user_id,
         CAST(floor(epoch_us(ts) / 21600000000) AS BIGINT) AS b,
         value
  FROM events
), bounds AS (
  SELECT min(b) AS lo, max(b) AS hi FROM b
), grid AS (
  SELECT u.user_id, g.b
  FROM (SELECT DISTINCT user_id FROM b) u,
       (SELECT unnest(generate_series(lo, hi)) AS b FROM bounds) g
), agg AS (
  SELECT user_id, b, count(*) AS cnt, sum(value) AS sv FROM b GROUP BY 1, 2
)
SELECT grid.user_id,
       strftime(make_timestamp(grid.b * 21600000000), '%Y-%m-%d %H:%M:%S') AS bucket_start,
       COALESCE(cnt, 0) AS n_events,
       round(COALESCE(sv, 0.0), 4) AS sum_value
FROM grid LEFT JOIN agg ON grid.user_id = agg.user_id AND grid.b = agg.b
"""


QUERIES = {
    "events_tumbling": events_tumbling,
    "events_totals_salted": events_totals_salted,
    "events_asof_click": events_asof_click,
    "events_interval_join": events_interval_join,
    "events_gapfill_rollup": events_gapfill_rollup,
    "events_sliding": events_sliding,
    "events_sessionize": events_sessionize,
    "events_sessionize_pandas": events_sessionize_pandas,
    "events_json_stats": events_json_stats,
}

ORACLES = {
    "events_tumbling": EVENTS_TUMBLING_SQL,
    "events_totals_salted": EVENTS_TOTALS_SALTED_SQL,
    "events_asof_click": EVENTS_ASOF_SQL,
    "events_interval_join": EVENTS_INTERVAL_SQL,
    "events_gapfill_rollup": EVENTS_GAPFILL_SQL,
    "events_sliding": EVENTS_SLIDING_SQL,
    "events_sessionize": _SESSION_SQL,
    "events_sessionize_pandas": _SESSION_SQL,
    "events_json_stats": EVENTS_JSON_SQL,
}


def hll_user_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting (Apache DataSketches HLL via
    Spark's hll_sketch_agg/hll_union_agg): per event_type DAILY user
    sketches are built first, then UNIONED into the full-range reach —
    the shape that matters at 100 TB, where per-partition sketch state
    is persisted once and re-merged for any date range instead of
    rescanning raw events. Rows-only driver check (sketch binaries are
    engine-specific); the error bound and merge-consistency are pinned
    in tests/test_operators.py.
    """
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select("event_type", F.to_date("ts").alias("day"), "user_id")
        .groupBy("event_type", "day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .select("event_type", "approx_users", F.col("n_days").cast("long").alias("n_days"))
    )


QUERIES["hll_user_reach"] = hll_user_reach
# hll_user_reach: rows-only (DataSketches binaries are engine-specific;
# error bound + merge-consistency asserted in tests)


def events_asof_click_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a merge_asof-style TOLERANCE: the carried click
    must be within 60 minutes of the purchase or the match is null —
    same single-shuffle carry-forward plan, one extra row-local
    predicate (tolerance costs nothing at scale, unlike re-joining)."""
    return E.asof_join_last_event(
        load_table(spark, sf_dir, "events"), tolerance_minutes=60
    )


EVENTS_ASOF_TOL_SQL = """
WITH p AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
), m AS (
  SELECT p.user_id, p.event_id AS purchase_id, p.ts AS pts,
         c.event_id AS cid, c.ts AS cts
  FROM p ASOF LEFT JOIN c
    ON p.user_id = c.user_id AND c.ts <= p.ts
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       purchase_id,
       strftime(pts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       CASE WHEN cts >= pts - INTERVAL 60 MINUTE THEN cid END AS last_click_id,
       CASE WHEN cts >= pts - INTERVAL 60 MINUTE
            THEN strftime(cts, '%Y-%m-%d %H:%M:%S') END AS last_click_ts
FROM m
"""

QUERIES["events_asof_click_tol"] = events_asof_click_tol
ORACLES["events_asof_click_tol"] = EVENTS_ASOF_TOL_SQL


def events_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for the semi-structured ``props`` column:
    ``parse_json`` parses each payload ONCE into the binary Variant
    encoding, then ``variant_get`` does typed field extraction — at
    100 TB this beats per-field ``get_json_object`` (which re-parses
    the JSON text for every extracted field) and stays entirely inside
    the JVM. Same rollup as ``events_json_stats`` (its oracle pins the
    semantics), so the two queries certify that the VARIANT path and
    the string-JSON path agree byte-for-byte."""
    e = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


QUERIES["events_variant_stats"] = events_variant_stats
ORACLES["events_variant_stats"] = EVENTS_JSON_SQL


def events_asof_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: first click at-or-after each purchase. The oracle
    is an independent argmin formulation (min next ts per purchase,
    then min click id at that ts), not a mirror of the carry plan."""
    return E.asof_join_next_event(load_table(spark, sf_dir, "events"))


EVENTS_ASOF_NEXT_SQL = """
WITH p AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
), nxt AS (
  SELECT p.user_id, p.event_id AS purchase_id, p.ts AS pts,
         min(c.ts) FILTER (WHERE c.ts >= p.ts) AS nts
  FROM p LEFT JOIN c USING (user_id)
  GROUP BY p.user_id, p.event_id, p.ts
)
SELECT CAST(n.user_id AS BIGINT) AS user_id,
       n.purchase_id,
       strftime(n.pts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       min(c.event_id) AS next_click_id,
       strftime(n.nts, '%Y-%m-%d %H:%M:%S') AS next_click_ts
FROM nxt n LEFT JOIN c ON c.user_id = n.user_id AND c.ts = n.nts
GROUP BY n.user_id, n.purchase_id, n.pts, n.nts
"""

QUERIES["events_asof_next_click"] = events_asof_next_click
ORACLES["events_asof_next_click"] = EVENTS_ASOF_NEXT_SQL


def events_asof_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of (merge_asof direction="nearest"): closest click in
    either direction, earlier side on ties. Oracle is an independent
    argmin-by-side formulation over the raw events."""
    return E.asof_join_nearest_event(load_table(spark, sf_dir, "events"))


EVENTS_ASOF_NEAREST_SQL = """
WITH p AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
), b AS (
  SELECT p.user_id, p.event_id AS purchase_id, p.ts AS pts,
         max(c.ts) FILTER (WHERE c.ts <= p.ts) AS bts,
         min(c.ts) FILTER (WHERE c.ts >= p.ts) AS nts
  FROM p LEFT JOIN c USING (user_id)
  GROUP BY p.user_id, p.event_id, p.ts
), ids AS (
  SELECT b.*,
         (SELECT max(c2.event_id) FROM c c2
           WHERE c2.user_id = b.user_id AND c2.ts = b.bts) AS b_id,
         (SELECT min(c3.event_id) FROM c c3
           WHERE c3.user_id = b.user_id AND c3.ts = b.nts) AS f_id
  FROM b
), pick AS (
  SELECT *,
         bts IS NOT NULL AND (nts IS NULL
             OR epoch(pts) - epoch(bts) <= epoch(nts) - epoch(pts)) AS take_prev
  FROM ids
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       purchase_id,
       strftime(pts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       CASE WHEN take_prev THEN b_id ELSE f_id END AS nearest_click_id,
       strftime(CASE WHEN take_prev THEN bts ELSE nts END,
                '%Y-%m-%d %H:%M:%S') AS nearest_click_ts
FROM pick
"""

QUERIES["events_asof_nearest_click"] = events_asof_nearest_click
ORACLES["events_asof_nearest_click"] = EVENTS_ASOF_NEAREST_SQL


def kll_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketches (DataSketches KLL — Karnin, Lang &
    Liberty, FOCS'16 — native in Spark 4.1): per event_type DAILY sketches over ``value`` are merged into
    range-level p50/p95/p99 — like ``hll_user_reach``, the persist-
    daily/merge-any-range pattern that replaces rescanning raw events
    for every percentile dashboard at 100 TB. Rows-only driver check
    (sketch internals are engine-specific); the rank-error contract vs
    the exact percentile is pinned in tests/test_properties.py."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select("event_type", F.to_date("ts").alias("day"), "value")
        .groupBy("event_type", "day")
        .agg(F.kll_sketch_agg_double("value").alias("sk"))
    )
    # kll_sketch_merge_double is a BINARY scalar (no merge-aggregate in
    # 4.1): fold the per-day sketch array with a higher-order reduce —
    # |days| is bounded, so the collected array is small by contract
    per_type = daily.groupBy("event_type").agg(
        F.collect_list("sk").alias("sks"),
        F.count(F.lit(1)).alias("n_days"),
    )
    merged = per_type.select(
        "event_type",
        F.reduce(
            F.slice(F.col("sks"), 2, F.size("sks")),
            F.element_at("sks", 1),
            lambda acc, x: F.kll_sketch_merge_double(acc, x),
        ).alias("sk"),
        "n_days",
    )
    q = lambda p: F.round(  # noqa: E731
        F.kll_sketch_get_quantile_double("sk", F.lit(p)), 4
    )
    return merged.select(
        "event_type",
        q(0.5).alias("p50_est"),
        q(0.95).alias("p95_est"),
        q(0.99).alias("p99_est"),
        F.col("n_days").cast("long").alias("n_days"),
    )


QUERIES["kll_value_quantiles"] = kll_value_quantiles
# kll_value_quantiles: rows-only (sketch internals engine-specific;
# rank-error + merge contracts pinned in tests)


def theta_funnel_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation cardinalities on Theta sketches (Spark 4.1): how
    many distinct users BOTH clicked and purchased (intersection), and
    how many clicked but never purchased (difference) — the funnel
    numbers an exact count(DISTINCT) cannot answer from pre-aggregated
    state. Sketches are mergeable per partition/day, so at 100 TB the
    funnel is a sketch-algebra query over persisted state, never a
    re-scan. Rows-only driver check; error contract vs exact set ops
    pinned in tests/test_properties.py."""
    e = load_table(spark, sf_dir, "events")
    sk = (
        e.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.theta_sketch_agg("user_id").alias("sk"))
    )
    c = sk.filter(F.col("event_type") == "click").select(F.col("sk").alias("ck"))
    p = sk.filter(F.col("event_type") == "purchase").select(F.col("sk").alias("pk"))
    both = c.crossJoin(p)  # two 1-row frames
    return both.select(
        F.round(F.theta_sketch_estimate(F.theta_intersection("ck", "pk")), 1).alias(
            "users_click_and_purchase_est"
        ),
        F.round(F.theta_sketch_estimate(F.theta_difference("ck", "pk")), 1).alias(
            "users_click_no_purchase_est"
        ),
    )


QUERIES["theta_funnel_overlap"] = theta_funnel_overlap
# theta_funnel_overlap: rows-only (sketch internals engine-specific;
# set-op error contract pinned in tests)


PATH_K = 3  # leading events per session that define the journey


def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session journeys: the first 3 event types of every
    30-minute session, joined 'a>b>c' — the path-analysis rollup
    product teams run on clickstreams. Sessions come from the same
    gaps-and-islands definition the sessionize twins pin; the ordered
    path is built with sort_array(collect_list(struct(rn, ·))) —
    deterministic without a per-session sort pass, and the (user, sid)
    aggregation reuses the window's partitioning. All timestamps stay
    TIMESTAMP_NTZ end-to-end (subtraction on NTZ is exact and
    session-timezone-independent — same frame as the DuckDB oracle)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_s = F.when(
        F.lag("ts").over(w).isNull()
        | (F.col("ts") - F.lag("ts").over(w) >= F.expr("INTERVAL 30 MINUTES")),
        1,
    ).otherwise(0)
    sid = F.sum(new_s).over(
        Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    )
    paths = (
        e.withColumn("sid", sid)
        .withColumn("rn", rn)
        .filter(F.col("rn") <= PATH_K)
        .groupBy("user_id", "sid")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("rn", "event_type"))),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    wr = Window.orderBy(F.desc("n_sessions"), F.asc("path"))
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .withColumn("rk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rk") <= 20)
    )


TOP_PATHS_SQL = f"""
WITH x AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
               OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), y AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM x
), r AS (
  SELECT user_id, sid, event_type,
         row_number() OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS rn
  FROM y
), p AS (
  SELECT user_id, sid, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM r WHERE rn <= {PATH_K} GROUP BY 1, 2
)
SELECT path, count(*) AS n_sessions,
       CAST(row_number() OVER (ORDER BY count(*) DESC, path ASC) AS BIGINT) AS rk
FROM p GROUP BY path QUALIFY rk <= 20
"""

QUERIES["top_session_paths"] = top_session_paths
ORACLES["top_session_paths"] = TOP_PATHS_SQL


# shared quota contract — single definition in operators/events (the
# streaming twin derives its state bucket from the same values)
RL_WINDOW = E.RL_WINDOW
RL_MAX = E.RL_MAX


def events_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ingestion throttle audit: how much of each user's
    traffic survives a 2-events-per-day quota (abuse control /
    API metering — also the dedup-adjacent 'burst collapse' cleaning
    step for event-derived training data). Batch spec of the
    streaming token bucket; one (user, bucket) shuffle then a user
    fold that rides the same partitioning prefix."""
    ev = E.rate_limit(
        load_table(spark, sf_dir, "events"),
        window=RL_WINDOW,
        max_per_window=RL_MAX,
    )
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("is_kept").cast("long")).alias("n_kept"),
        F.sum((~F.col("is_kept")).cast("long")).alias("n_dropped"),
    )


EVENTS_RATE_LIMIT_SQL = f"""
WITH ranked AS (
  SELECT user_id,
         row_number() OVER (
           PARTITION BY user_id, CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)
           ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CASE WHEN rn <= {RL_MAX} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rn > {RL_MAX} THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM ranked GROUP BY 1
"""

QUERIES["events_rate_limit"] = events_rate_limit
ORACLES["events_rate_limit"] = EVENTS_RATE_LIMIT_SQL


COVER_WINDOW_MIN = 10  # each event opens a 10-minute activity interval


def user_active_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-UNION length per user: each event opens a 10-minute
    activity interval; overlapping intervals must count once (the
    union, not the sum) — the measure behind 'active minutes',
    ad-exposure dedup, and SLA uptime. Classic sweep: order by start
    per user, carry the running max end, an interval contributes
    ``min(len, start - prev_max_end)`` clipped at zero — one window
    pass over one user-key shuffle, pure integer-seconds arithmetic
    (wall-clock NTZ epoch, session-tz-independent)."""
    from etl_extractor_spark.functions.dates import ntz_epoch_seconds

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        ntz_epoch_seconds("ts").alias("s0"),
    )
    w = Window.partitionBy("user_id").orderBy("s0", "user_id")
    L = COVER_WINDOW_MIN * 60
    prev_end = F.max(F.col("s0") + L).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = F.when(prev_end.isNull(), F.lit(L)).otherwise(
        F.greatest(
            F.lit(0),
            F.least(F.lit(L), F.col("s0") + L - prev_end),
        )
    )
    return (
        ev.withColumn("c", contrib)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("c").alias("covered_seconds"),
        )
    )


USER_COVERAGE_SQL = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS s0 FROM events
), sweep AS (
  SELECT user_id,
         CASE WHEN max(s0 + {COVER_WINDOW_MIN * 60}) OVER (
                PARTITION BY user_id ORDER BY s0, user_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              THEN {COVER_WINDOW_MIN * 60}
              ELSE greatest(0, least({COVER_WINDOW_MIN * 60},
                s0 + {COVER_WINDOW_MIN * 60} - max(s0 + {COVER_WINDOW_MIN * 60}) OVER (
                  PARTITION BY user_id ORDER BY s0, user_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)))
         END AS c
  FROM ev
)
SELECT user_id, count(*) AS n_events,
       CAST(sum(c) AS BIGINT) AS covered_seconds
FROM sweep GROUP BY user_id
"""

QUERIES["user_active_coverage"] = user_active_coverage
ORACLES["user_active_coverage"] = USER_COVERAGE_SQL


# ---------------------------------------------------------------------------
# Round-4 deterministic sketch twins (VERDICT r3 task 3). Each rows-only
# sketch query above keeps its error/merge contract in pytest; these
# twins express the SAME analytical question through a deterministic,
# DuckDB-oracle-checkable estimator (md5 is identical in both engines),
# so the driver hash-certifies the algebra end to end.

KMV_REACH_K = 64  # < per-type user count at sf0.01 (150) → estimator path
_HASH_SPAN = 1 << 48  # 12 hex digits; both engines parse exactly


def kmv_user_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic KMV (k-minimum-values, Beyer et al. SIGMOD'07)
    distinct-user estimate per event_type — the oracle-backed twin of
    ``hll_user_reach``. h = first 48 bits of md5(user_id) is uniform on
    [0, 2^48); keeping the K smallest distinct hashes per type, the
    estimator is (K-1)·2^48 / h_K (exact k_eff when fewer than K
    distinct users exist — the sf0.001 path). md5 ordering is engine-
    independent, so unlike HLL binaries this estimate hash-matches
    DuckDB bit for bit. At 100 TB the k-min pass is the same mergeable
    partial-state shape as the sketch: map-side distinct, then a
    two-phase (salted sliver → re-rank) top-k, never a global sort.
    """
    e = load_table(spark, sf_dir, "events")
    hashed = (
        e.select(
            "event_type",
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10)
            .cast("long")
            .alias("h"),
        )
        .distinct()
    )
    # two-phase k-min: 16 parallel slivers per type, then re-rank the
    # ≤16K survivors — identical result to one window per type without
    # a single task scanning a type's whole distinct-hash set.
    w1 = Window.partitionBy("event_type", F.pmod("h", F.lit(16))).orderBy("h")
    pre = (
        hashed.withColumn("r", F.row_number().over(w1))
        .filter(F.col("r") <= KMV_REACH_K)
        .drop("r")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    kmin = (
        pre.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= KMV_REACH_K)
    )
    return (
        kmin.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("k_eff"), F.max("h").alias("kth_hash"))
        .select(
            "event_type",
            "k_eff",
            "kth_hash",
            F.expr(
                f"case when k_eff < {KMV_REACH_K} then k_eff "
                f"else {(KMV_REACH_K - 1) * _HASH_SPAN} div kth_hash end"
            )
            .cast("long")
            .alias("est_users"),
        )
    )


KMV_REACH_SQL = f"""
WITH hashed AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h
  FROM events
), kmin AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
    FROM hashed
  ) WHERE r <= {KMV_REACH_K}
)
SELECT event_type,
       count(*) AS k_eff,
       max(h) AS kth_hash,
       CAST(CASE WHEN count(*) < {KMV_REACH_K} THEN count(*)
                 ELSE {(KMV_REACH_K - 1) * _HASH_SPAN} // max(h) END AS BIGINT)
         AS est_users
FROM kmin GROUP BY event_type
"""

QUERIES["kmv_user_reach"] = kmv_user_reach
ORACLES["kmv_user_reach"] = KMV_REACH_SQL


def streaming_kmv_reach_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming path under the driver contract: replay the
    events table through the stateful KMV stream
    (``streaming/events_stream.streaming_kmv_reach`` —
    applyInPandasWithState, O(K) mergeable per-type state, update
    mode) with an availableNow trigger, then reduce the per-micro-batch
    emissions to the FINAL state per type. Because the KMV k-min set is
    a true mergeable sketch, the final streaming state equals the batch
    ``kmv_user_reach`` exactly, so this query shares its DuckDB oracle
    — a driver-visible, hash-certified proof of the streaming engine's
    replay semantics (not just pytest). Final-state selection is
    algebraic, not positional: k_eff is non-decreasing across batches
    and, once saturated, kth_hash is non-increasing, so (max k_eff,
    min kth_hash) IS the last emission even if availableNow splits the
    input into several micro-batches. At 100 TB the same query runs
    unchanged against a live file/Kafka source with per-key state that
    never exceeds K longs."""
    from etl_extractor_spark.streaming import events_stream as SE

    emitted = SE.run_to_memory(
        SE.streaming_kmv_reach(SE.events_stream(spark, sf_dir)),
        output_mode="update",
        state_partitions=SE.state_partitions_for(spark, sf_dir),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("k_eff").desc(), F.col("kth_hash").asc()
    )
    return (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", "k_eff", "kth_hash", "est_users")
    )


QUERIES["streaming_kmv_reach_replay"] = streaming_kmv_reach_replay
ORACLES["streaming_kmv_reach_replay"] = KMV_REACH_SQL


def streaming_tumbling_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow replay of the native streaming tumbling-window
    aggregation (``streaming/events_stream.streaming_tumbling``,
    watermarked, complete mode) — shares the batch ``events_tumbling``
    oracle, so the driver hash-certifies that the streaming windowed
    state machine converges to the batch GROUP BY over the same file.
    Complete mode re-emits the final table, so no last-emission
    selection is needed."""
    from etl_extractor_spark.streaming import events_stream as SE

    return SE.run_to_memory(
        SE.streaming_tumbling(SE.events_stream(spark, sf_dir)),
        output_mode="complete",
        state_partitions=SE.state_partitions_for(spark, sf_dir),
    )


QUERIES["streaming_tumbling_replay"] = streaming_tumbling_replay
ORACLES["streaming_tumbling_replay"] = EVENTS_TUMBLING_SQL


def streaming_sessionize_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow replay of the native streaming session windows
    (``streaming/events_stream.streaming_sessionize``: session_window
    + watermark, complete mode) — shares the batch
    ``events_sessionize`` oracle, proving the streaming gap-merge
    state machine equals the batch session assignment row for row
    under the driver contract (pytest pinned this; now the driver
    does)."""
    from etl_extractor_spark.streaming import events_stream as SE

    return SE.run_to_memory(
        SE.streaming_sessionize(SE.events_stream(spark, sf_dir)),
        output_mode="complete",
        state_partitions=SE.state_partitions_for(spark, sf_dir),
    )


QUERIES["streaming_sessionize_replay"] = streaming_sessionize_replay
ORACLES["streaming_sessionize_replay"] = _SESSION_SQL


def value_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order-statistic p50/p95/p99 per event_type — the
    oracle-backed twin of ``kll_value_quantiles``. The quantile is the
    ACTUAL data value at rank ceil(p·n) (no interpolation), so both
    engines select the identical element and the driver hash matches
    exactly; the KLL sketch's rank-error contract against this exact
    answer stays pinned in pytest. One shuffle (window by type), no
    collect."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = e.select("event_type", "value", "event_id").withColumn(
        "rn", F.row_number().over(w)
    ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("event_type")))
    pick = lambda p: F.max(  # noqa: E731
        F.when(F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("long"), F.col("value"))
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.round(pick(0.5), 4).alias("p50"),
            F.round(pick(0.95), 4).alias("p95"),
            F.round(pick(0.99), 4).alias("p99"),
            F.max("n").cast("long").alias("n_events"),
        )
    )


VALUE_QUANTILES_EXACT_SQL = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       round(max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN value END), 4) AS p50,
       round(max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN value END), 4) AS p95,
       round(max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END), 4) AS p99,
       CAST(max(n) AS BIGINT) AS n_events
FROM ranked GROUP BY event_type
"""

QUERIES["value_quantiles_exact"] = value_quantiles_exact
ORACLES["value_quantiles_exact"] = VALUE_QUANTILES_EXACT_SQL


def funnel_overlap_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact funnel set-operation counts — the oracle-backed twin of
    ``theta_funnel_overlap``: distinct users who BOTH clicked and
    purchased, clicked but never purchased, and purchased without a
    click. One groupBy(user) flag pass then a single global agg — the
    exact plan you'd run when the sketch estimate needs an audit, and
    the number the Theta error contract in pytest is measured against."""
    e = load_table(spark, sf_dir, "events")
    flags = (
        e.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.max(F.col("event_type") == "click").alias("c"),
            F.max(F.col("event_type") == "purchase").alias("p"),
        )
    )
    return flags.agg(
        F.sum((F.col("c") & F.col("p")).cast("long")).alias("users_click_and_purchase"),
        F.sum((F.col("c") & ~F.col("p")).cast("long")).alias("users_click_no_purchase"),
        F.sum((~F.col("c") & F.col("p")).cast("long")).alias("users_purchase_no_click"),
    )


FUNNEL_OVERLAP_EXACT_SQL = """
WITH flags AS (
  SELECT user_id,
         max(event_type = 'click') AS c,
         max(event_type = 'purchase') AS p
  FROM events
  WHERE event_type IN ('click', 'purchase')
  GROUP BY user_id
)
SELECT CAST(sum(CASE WHEN c AND p THEN 1 ELSE 0 END) AS BIGINT) AS users_click_and_purchase,
       CAST(sum(CASE WHEN c AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS users_click_no_purchase,
       CAST(sum(CASE WHEN NOT c AND p THEN 1 ELSE 0 END) AS BIGINT) AS users_purchase_no_click
FROM flags
"""

QUERIES["funnel_overlap_exact"] = funnel_overlap_exact
ORACLES["funnel_overlap_exact"] = FUNNEL_OVERLAP_EXACT_SQL


def streaming_interval_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow replay of the STREAM-STREAM interval join
    (``streaming/events_stream.streaming_interval_join``: purchases ⋈
    clicks of the same user within the preceding 30 minutes, both
    sides watermarked so join state is bounded). Inner stream-stream
    joins emit on match in append mode, so the replay must equal the
    batch time-range join pair for pair — the oracle re-derives every
    (purchase, click) pair with plain SQL. This is the fourth
    driver-certified streaming query, covering the join (not just
    aggregation/state) side of the streaming engine."""
    from etl_extractor_spark.streaming import events_stream as SE

    return SE.run_to_memory(
        SE.streaming_interval_join(spark, sf_dir),
        output_mode="append",
        # volume-sized state partitioning: stream-stream joins pay a
        # state store per shuffle partition per side per epoch —
        # measured 5.26 s → 1.94 s at bench scale (BASELINE r9)
        state_partitions=SE.state_partitions_for(spark, sf_dir),
    )


STREAMING_INTERVAL_PAIRS_SQL = """
SELECT CAST(p.user_id AS BIGINT) AS user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 30 MINUTE
"""

QUERIES["streaming_interval_join_replay"] = streaming_interval_join_replay
ORACLES["streaming_interval_join_replay"] = STREAMING_INTERVAL_PAIRS_SQL


def streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow replay of the streaming exact-dedup
    (``streaming/events_stream.streaming_dedup_exact``: global
    dropDuplicates state on the content hash, the streaming twin of
    the batch exact-dedup normalization). WHICH physical row survives
    per hash is task-order-dependent, so the registered projection is
    the deterministic part — the distinct content-hash set — which
    must equal the batch normalization's distinct set exactly."""
    from etl_extractor_spark.streaming import events_stream as SE

    deduped = SE.streaming_dedup_exact(SE.documents_stream(spark, sf_dir))
    return SE.run_to_memory(
        deduped.select("content_hash"),
        output_mode="append",
        state_partitions=SE.state_partitions_for(spark, sf_dir, table="documents"),
    ).select("content_hash").orderBy("content_hash")


STREAMING_DEDUP_SQL = r"""
SELECT DISTINCT md5(
    trim(regexp_replace(lower(CAST(text AS VARCHAR)), '\s+', ' ', 'g'))
  ) AS content_hash
FROM documents
ORDER BY content_hash
"""

QUERIES["streaming_dedup_replay"] = streaming_dedup_replay
ORACLES["streaming_dedup_replay"] = STREAMING_DEDUP_SQL
