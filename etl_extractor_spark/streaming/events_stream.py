"""Structured Streaming twins of the batch event operators.

The logical expressions are shared with operators/events.py — the same
tumbling/session aggregations run incrementally over a file stream with
watermark-based state cleanup. On a cluster this is the continuous
ingestion path: the file source is swapped for Kafka/queue sources with
no change to the aggregation expressions.

Also includes ``applyInPandasWithState`` custom stateful operators:
running session accumulation per user, and an event-time TIMER
EVICTION shape (``streaming_user_timeout_totals``) — the
``transformWithState`` pattern. (Spark 4's first-class
``transformWithStateInPandas`` API needs the ``protobuf`` Python
package for its driver-side runner, absent in this environment;
the GroupState formulation expresses the same state + timer
semantics and is what the tests pin.)
"""

from __future__ import annotations

import threading
import uuid
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from etl_extractor_spark.operators import events as _E
from etl_extractor_spark.operators.events import TS_FMT
from etl_extractor_spark.sources.parquet import load_table


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table.

    The stream's read schema and the ts conversion are derived from the
    file's ACTUAL parquet type (probed with a batch read), never
    assumed: TIMESTAMP(NANOS) files surface ts as raw long nanos (via
    ``nanosAsLong``) and are floor-divided to µs; µs/ms files surface
    as TIMESTAMP_NTZ and are cast to TIMESTAMP — watermarks require an
    instant type (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE rejects NTZ),
    and under the UTC session the wall clock matches the batch NTZ
    path exactly.
    """
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    ts_type = raw_schema["ts"].dataType
    raw = (
        spark.readStream.schema(raw_schema)
        .parquet(f"{sf_dir}/events.[p]arquet")  # glob ⇒ basePath = sf_dir (file source needs a directory basePath)
    )
    if isinstance(ts_type, T.LongType):
        # TIMESTAMP(NANOS) read as raw long nanos → truncate to µs via
        # INTEGER floor division (double division truncates 1 µs low
        # within ~128 ns of a boundary once nanos exceed 2^53 — review
        # catch). ts_ntz carries the TRUE wall clock (pure epoch
        # arithmetic); ts is the instant the watermark machinery
        # requires.
        from etl_extractor_spark.functions.dates import ntz_from_epoch_micros

        micros = F.expr("ts div 1000")
        raw = raw.withColumn("ts_ntz", ntz_from_epoch_micros(micros)).withColumn(
            "ts", F.timestamp_micros(micros)
        )
    elif isinstance(ts_type, T.TimestampNTZType):
        # keep the file's wall clock BEFORE the session-zone instant
        # cast — operators whose semantics are wall-clock (rate-limit
        # buckets) must not inherit the session offset.
        raw = raw.withColumn("ts_ntz", F.col("ts")).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
    elif isinstance(ts_type, T.TimestampType):
        # plain TIMESTAMP (instant, adjusted-to-UTC): recover the UTC
        # wall clock from the epoch micros, session-zone-independent —
        # without this branch ts_ntz is simply absent and every
        # wall-clock operator fails with an unresolved column (review
        # catch).
        from etl_extractor_spark.functions.dates import ntz_from_epoch_micros

        raw = raw.withColumn("ts_ntz", ntz_from_epoch_micros(F.unix_micros("ts")))
    else:
        raise TypeError(
            f"events ts column has unsupported type {ts_type}; expected "
            "LongType (raw nanos), TIMESTAMP_NTZ, or TIMESTAMP"
        )
    return raw


def streaming_tumbling(stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Incremental tumbling aggregation with late-data watermark: state
    for windows older than the watermark is dropped, which is what
    bounds memory on an unbounded stream."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_sessionize(stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Native streaming session windows (same expression as batch)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.date_format(F.col("w.start"), TS_FMT).alias("session_start"),
            F.date_format(F.col("w.end"), TS_FMT).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


_STATE_SCHEMA = "start long, last long, n long, total double"
_OUT_SCHEMA = (
    "user_id long, session_start string, session_end string, "
    "n_events long, sum_value double"
)
_GAP_US = 30 * 60 * 1_000_000


def _fmt_us(us: int) -> str:
    return pd.Timestamp(us, unit="us").strftime("%Y-%m-%d %H:%M:%S")


def _sessionize_with_state(key, pdfs, state: GroupState):
    """Custom stateful session accumulator: keeps the open session in
    GroupState, emits sessions as they close (gap exceeded within the
    batch). Semantics match sessionize(): gap ≥ threshold splits."""
    (user_id,) = key
    if state.exists:
        start, last, n, total = state.get
    else:
        start = last = -1
        n, total = 0, 0.0
    out = []
    for pdf in pdfs:
        pdf = pdf.sort_values("ts", kind="mergesort")
        # normalize to µs regardless of the Arrow-to-pandas unit (ns or µs)
        ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
        for ts, value in zip(ts_us, pdf["value"]):
            ts = int(ts)
            if start < 0:
                start, last, n, total = ts, ts, 1, float(value)
            elif ts - last >= _GAP_US:
                out.append((user_id, _fmt_us(start), _fmt_us(last + _GAP_US), n, round(total, 4)))
                start, last, n, total = ts, ts, 1, float(value)
            else:
                last, n, total = ts, n + 1, total + float(value)
    state.update((start, last, n, total))
    yield pd.DataFrame(
        out, columns=["user_id", "session_start", "session_end", "n_events", "sum_value"]
    )


def streaming_sessionize_stateful(stream: DataFrame) -> DataFrame:
    """applyInPandasWithState sessionization — emits CLOSED sessions;
    the open session per user stays in state until a later batch (or
    timeout) closes it."""
    return (
        stream.select("user_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_with_state,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_interval_join(
    spark: SparkSession, sf_dir: str, window_minutes: int = 30
) -> DataFrame:
    """Stream-stream inner join: purchases ⋈ clicks from the same user
    within the preceding window. Watermarks on BOTH sides + the time-
    range join condition bound the join state — without them a
    stream-stream join would buffer both streams forever."""
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("pt"),
        )
        .withWatermark("pt", "1 hour")
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("ct"),
        )
        .withWatermark("ct", "1 hour")
    )
    win = F.expr(f"INTERVAL {window_minutes} MINUTES")
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("ct") <= F.col("pt"))
        & (F.col("ct") > F.col("pt") - win),
        "inner",
    ).select(
        F.col("p_user").cast("long").alias("user_id"), "purchase_id", "click_id"
    )


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table."""
    return (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .parquet(f"{sf_dir}/documents.[p]arquet")
    )


def streaming_dedup_exact(stream: DataFrame) -> DataFrame:
    """Streaming exact dedup: first-seen row per content hash.

    State is the set of seen hashes; on an unbounded stream you bound it
    with a watermark on event time + dropDuplicatesWithinWatermark. The
    documents table has no event time, so this is the global-state form
    (dropDuplicates), the streaming twin of operators/dedup.exact_dedup_
    groups — same content-hash normalization."""
    from etl_extractor_spark.functions.text import normalize_text

    hashed = stream.withColumn(
        "content_hash", F.md5(F.lower(normalize_text("text")).cast("binary"))
    )
    return hashed.dropDuplicates(["content_hash"])


def run_foreach_batch_to_parquet(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
) -> int:
    """foreachBatch sink: write each micro-batch to a batch-id
    partition. Rerunning with the same checkpoint reprocesses nothing,
    and the partition overwrite makes the retry of an uncommitted batch
    idempotent (the exactly-once pattern for non-transactional sinks).
    Returns the number of batches written this run."""
    import os

    batches_written = {"n": 0}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )
        batches_written["n"] += 1

    run_foreach_batch(stream_df, write_batch, checkpoint_dir)
    return batches_written["n"]


def state_partitions_for(
    spark, sf_dir: str, floor: int = 4, table: str = "events"
) -> int:
    """Volume-sized state-partition count for a replay over the given
    source table: ceil(input bytes / 32 MB), clamped to
    [floor, defaultParallelism]. Stateful operators pay a state-store
    instance per shuffle partition PER EPOCH (commit + snapshot I/O),
    a fixed cost independent of data volume — measured on the
    stream-stream interval join at sf0.1: 5.26 s at 32 partitions →
    2.24 s at 8 → 1.94 s at 4 (min-of-3 each, BASELINE r9). At
    cluster scale the byte term dominates and this returns the
    parallelism cap; at bench scale it stops paying for empty
    stores. The cap WINS over the floor on a sub-4-core session
    (state stores beyond the core count only add commit I/O).

    The floor stays at 4 because the pandas-state replays need the
    parallelism. A floor of 1 (sf0.1, 4 vCPU, median of 3 interleaved
    runs) ran three fewer pandas workers, which cut the lakehouse_stream
    benchmark's peak RSS from 2947 to 2556 MB, but it slowed every
    replay in wall time: funnel 1.82 -> 3.33 s, rate_limit 1.98 ->
    3.95 s, interval_union 1.39 -> 3.09 s, cms 7.60 -> 12.60 s and
    sessionize 1.45 -> 2.34 s.

    Sizing walks the table's data files (sinks/compact.dir_bytes —
    a Spark-written table is a DIRECTORY of part files; a bare
    getsize would read the directory inode, ~4 KB, and silently
    floor every table — review catch). Unreadable/remote paths fall
    back to the floor; on a real cluster the input is sized by the
    source listing, not a local stat."""
    import math
    import os

    from etl_extractor_spark.sinks.compact import dir_bytes

    try:
        nbytes = dir_bytes(os.path.join(sf_dir, f"{table}.parquet"))
    except OSError:
        nbytes = 0
    cap = spark.sparkContext.defaultParallelism
    return min(cap, max(floor, math.ceil(nbytes / (32 * 1024 * 1024))))


# A query reads its shuffle-partition (state-partition) count once, in
# start(): the swap covers only that call, and under this lock no other
# start() sees another replay's count or restores it.
_START_LOCK = threading.Lock()


def _run(
    stream_df: DataFrame,
    output_mode: str,
    state_partitions: int | None,
    sink: Callable,
) -> None:
    """Start ``stream_df`` under an availableNow trigger on the sink that
    ``sink(writer)`` sets, and wait for it to end; every stream in the
    package starts here. ``state_partitions`` (sized by
    state_partitions_for) is the shuffle-partition count the query
    starts with; results do not depend on it. A failed stream raises
    its StreamingQueryException."""
    spark = stream_df.sparkSession
    writer = sink(
        stream_df.writeStream.outputMode(output_mode).trigger(availableNow=True)
    )
    with _START_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        try:
            q = writer.start()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drive a streaming query to completion and return the
    materialized result (test/bench harness); ``state_partitions`` as in
    ``_run``. Each call names its own memory sink, so replays can run on
    several threads of one session; the temp view is dropped once the
    returned frame is resolved (the frame keeps the sink's rows)."""
    spark = stream_df.sparkSession
    name = f"mem_{uuid.uuid4().hex}"
    _run(
        stream_df,
        output_mode,
        state_partitions,
        lambda w: w.format("memory").queryName(name),
    )
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def run_foreach_batch(
    stream_df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str | None = None,
    output_mode: str = "append",
    state_partitions: int | None = None,
) -> None:
    """Drive a streaming query to completion through the foreachBatch
    sink ``fn(batch_df, batch_id)``. With ``checkpoint_dir`` the source
    offsets (and any state) commit per batch, so a rerun on the same
    checkpoint resumes after the last committed batch."""

    def sink(w):
        w = w.foreachBatch(fn)
        if checkpoint_dir is None:
            return w
        return w.option("checkpointLocation", checkpoint_dir)

    _run(stream_df, output_mode, state_partitions, sink)


def run_streaming_upsert(
    stream_df: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    key_cols: list,
    partition_col: str,
) -> int:
    """Streaming CDC sink: foreachBatch → partition-scoped MERGE
    (sinks/merge.py). Each micro-batch upserts by key into the parquet
    target, rewriting only the partitions the batch touches — the
    standard Structured-Streaming upsert pattern for non-transactional
    stores. Checkpointed offsets + idempotent per-key MERGE give
    effective exactly-once: replaying an uncommitted batch converges
    to the same table state. Returns batches applied this run."""
    from etl_extractor_spark.sinks.merge import merge_upsert_partitioned

    applied = {"n": 0}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # Latest row per key within the batch wins (micro-batches can
        # carry multiple updates for one key).
        merge_upsert_partitioned(
            batch_df.sparkSession, target_path,
            batch_df.dropDuplicates(key_cols), key_cols, partition_col,
        )
        applied["n"] += 1

    run_foreach_batch(stream_df, apply_batch, checkpoint_dir)
    return applied["n"]


def run_streaming_incremental_agg(
    stream_df: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    keys: list,
    measures: dict,
) -> int:
    """Streaming materialized aggregate: foreachBatch →
    sinks/incremental.apply_batch. Each micro-batch partial-aggregates
    itself and merges into the persistent aggregate state — per-batch
    cost scales with the batch + group count, never with history, and
    no unbounded streaming state lives in the query (the state IS the
    output table, bounded by group cardinality).

    Double safety net for exactly-once: checkpointed source offsets
    skip committed batches on restart, and the incremental sink's own
    batch-id watermark turns a replay of an uncommitted-but-applied
    batch into a no-op. Returns batches applied this run."""
    from etl_extractor_spark.sinks.incremental import apply_batch as _apply

    applied = {"n": 0}

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        _apply(
            batch_df.sparkSession, state_path, batch_df, keys, measures,
            batch_id=batch_id,
        )
        applied["n"] += 1

    run_foreach_batch(stream_df, on_batch, checkpoint_dir)
    return applied["n"]


def run_streaming_quarantine(
    stream_df: DataFrame,
    good_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    rules: list,
) -> dict:
    """Streaming quality gate: each micro-batch splits on the
    row-local expectation rules (operators/expectations.py) — passing
    rows land in the main table, violating rows in a quarantine table
    WITH a ``violated`` column naming the rules they broke. Nothing is
    dropped silently (the reference's coerce-don't-fail philosophy,
    reference main.py:326-327, made observable instead of invisible).

    Both sides write batch-id partitions under the same checkpoint, so
    retries overwrite in place (exactly-once per the foreachBatch
    pattern). One pass per batch: the rule tags are computed once and
    the split is two filters on the tagged frame.
    """
    import os

    from pyspark.sql import functions as F

    from etl_extractor_spark.operators.expectations import _row_violates

    counts = {"good": 0, "quarantined": 0, "batches": 0}

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        tags = F.array_compact(
            F.array(
                *[F.when(_row_violates(r), F.lit(r["name"])) for r in rules]
            )
        )
        tagged = batch_df.withColumn("violated", tags).persist()
        good = tagged.filter(F.size("violated") == 0).drop("violated")
        bad = tagged.filter(F.size("violated") > 0).withColumn(
            "violated", F.array_join("violated", ",")
        )
        good.write.mode("overwrite").parquet(
            os.path.join(good_dir, f"batch_id={batch_id}")
        )
        bad.write.mode("overwrite").parquet(
            os.path.join(quarantine_dir, f"batch_id={batch_id}")
        )
        counts["good"] += good.count()
        counts["quarantined"] += bad.count()
        counts["batches"] += 1
        tagged.unpersist()

    run_foreach_batch(stream_df, on_batch, checkpoint_dir)
    return counts


def run_streaming_minhash_dedup(
    stream_df: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> int:
    """Streaming near-dup detection at ingestion: each micro-batch of
    documents is deduped against itself AND the persistent MinHash band
    index (operators/dedup_incremental.py), pairs land in a batch-id
    partition, and the batch joins the index — per-batch cost scales
    with the batch, never the corpus. Checkpointed offsets + the
    index's own batch-id watermark give effective exactly-once.
    Returns batches applied this run."""
    import os

    from etl_extractor_spark.operators.dedup_incremental import ingest_batch

    applied = {"n": 0}

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        pairs = ingest_batch(
            batch_df.sparkSession, index_path, batch_df, id_col, text_col,
            threshold=threshold, batch_id=batch_id,
        )
        pairs.write.mode("overwrite").parquet(
            os.path.join(index_path, "pairs", f"batch_id={batch_id}")
        )
        applied["n"] += 1

    run_foreach_batch(stream_df, on_batch, checkpoint_dir)
    return applied["n"]


def run_streaming_jdbc_sink(
    stream_df: DataFrame,
    url: str,
    table: str,
    checkpoint_dir: str,
    driver: str | None = None,
) -> int:
    """Streaming → relational sink: foreachBatch append into a JDBC
    table (the continuous version of the reference's bulk load,
    core/dw_repository.py:8-23). foreachBatch is the supported bridge
    for sinks without a native streaming writer; checkpointed offsets
    make replays append the SAME batches, so a keyed target (or
    batch-id column, added here) dedupes on the warehouse side.
    Returns batches written this run."""
    from etl_extractor_spark.sources.jdbc import write_jdbc

    n = {"b": 0}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        write_jdbc(
            batch_df.withColumn("batch_id", F.lit(batch_id)),
            url,
            table,
            mode="append",
            driver=driver,
        )
        n["b"] += 1

    run_foreach_batch(stream_df, apply_batch, checkpoint_dir)
    return n["b"]


def streaming_enriched_totals(
    spark: SparkSession, sf_dir: str, window: str = "1 hour"
) -> DataFrame:
    """Stream-static join: the event stream enriched against a STATIC
    dimension (no watermark needed on the static side — Spark re-plans
    the broadcast per micro-batch, which is also how slowly-changing
    dims get picked up mid-stream). The static frame here derives a
    user-tier dim from the customer table; the join then feeds a
    watermarked tumbling aggregation per tier."""
    static_tiers = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.when(F.col("c_acctbal") >= 5000, "high")
            .when(F.col("c_acctbal") >= 0, "mid")
            .otherwise("low")
            .alias("tier"),
        )
    )
    ev = events_stream(spark, sf_dir)
    return (
        ev.join(static_tiers, "user_id", "inner")  # stream-static equijoin
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", window).alias("w"), "tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("window_start"),
            "tier",
            "n_events",
            "sum_value",
        )
    )


def streaming_interval_join_outer(
    spark: SparkSession, sf_dir: str, window_minutes: int = 30
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase, matched
    to same-user clicks from the preceding window, or null-padded when
    the click-side watermark has passed far enough that no matching
    click can still arrive. The outer semantics are exactly what makes
    the watermark load-bearing: an unmatched left row can only be
    emitted once the engine can PROVE no match is coming, so rows
    younger than (watermark) stay buffered in state — the test
    accounts for that held-back tail against the batch twin."""
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("pt"),
        )
        .withWatermark("pt", "1 hour")
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("ct"),
        )
        .withWatermark("ct", "1 hour")
    )
    win = F.expr(f"INTERVAL {window_minutes} MINUTES")
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("ct") <= F.col("pt"))
        & (F.col("ct") > F.col("pt") - win),
        "leftOuter",
    ).select(
        F.col("p_user").cast("long").alias("user_id"),
        "purchase_id",
        "click_id",
    )


_TIMEOUT_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("last_seen", T.StringType()),
    ]
)
_TIMEOUT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)

_INACTIVITY_GAP_MS = 60 * 60 * 1000  # 1 hour


def _totals_with_timer(key, pdfs, state: GroupState):
    """Timer-eviction stateful operator (the transformWithState
    pattern): accumulate per-user totals in state, EMIT ONLY when the
    event-time timer fires — i.e. the watermark has passed the user's
    last event + inactivity gap — then drop the state. Nothing is
    emitted on the data path; the timer IS the output trigger.
    """
    (user_id,) = key
    if state.hasTimedOut:
        last_us, n, total = state.get
        state.remove()
        yield pd.DataFrame(
            [(user_id, n, round(total, 4), _fmt_us(last_us))],
            columns=["user_id", "n_events", "sum_value", "last_seen"],
        )
        return
    if state.exists:
        last_us, n, total = state.get
    else:
        last_us, n, total = -1, 0, 0.0
    for pdf in pdfs:
        # ev_us is computed JVM-side (unix_micros of the instant) so it
        # is TRUE epoch in the watermark's frame. Reading pdf["ts"]
        # as naive datetimes here would yield wall-clock micros in the
        # SESSION zone — a timer armed from those fires hours early
        # under a non-UTC session (round-3 review catch).
        last_us = max(last_us, int(pdf["ev_us"].max()))
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((last_us, n, total))
    # arm the eviction timer: fire once the event-time watermark passes
    # last event + gap. Re-armed (overwritten) on every new batch that
    # touches this user — a sliding inactivity deadline.
    state.setTimeoutTimestamp(last_us // 1000 + _INACTIVITY_GAP_MS)
    # nothing yielded on the data path — the timer branch is the only
    # emitter (and an un-entered generator body is a valid empty batch)


def streaming_user_timeout_totals(
    stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Per-user running totals emitted purely by EVENT-TIME TIMER
    eviction (inactivity > 1 hour), the ``transformWithState``-style
    shape: state carries (last_ts, n, total); the data path only
    accumulates and re-arms the timer; output happens exclusively in
    the timed-out branch. Users still inside their inactivity window
    when the stream ends remain in state, unemitted — exactly the
    at-scale contract where the stream never ends."""
    return (
        stream.select(
            "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
        )
        # true epoch micros of the instant, computed JVM-side — the
        # value the timer must be armed with (the pandas-side ts column
        # arrives as session-zone wall clock, NOT epoch)
        .withColumn("ev_us", F.unix_micros("ts"))
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _totals_with_timer,
            outputStructType=_TIMEOUT_OUT_SCHEMA,
            stateStructType=_TIMEOUT_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_dedup_within_watermark(
    stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Watermark-BOUNDED streaming dedup (``dropDuplicatesWithinWatermark``):
    keeps the first event per event_id among events whose times are
    within the watermark of each other, and — unlike global
    ``dropDuplicates`` — EVICTS seen-key state once the watermark
    passes, which is what makes streaming dedup viable on an unbounded
    stream (global-state dedup grows without bound). The at-scale
    contract: duplicates are only ever near-in-time (retries, at-least-
    once sources), so bounded memory loses nothing."""
    return (
        stream.select(
            "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "value"
        )
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )


# ------------------------------------------------------ rate limiting

_RL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
    ]
)
_RL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)
# derived from the SAME constants as the batch operator and its oracle
# (operators/events.RL_WINDOW/RL_MAX) — a re-declared literal here
# would silently break the batch/stream equality the tests certify
def _window_to_micros(window: str) -> int:
    n, unit = window.split()
    per_us = {
        "second": 1_000_000,
        "minute": 60_000_000,
        "hour": 3_600_000_000,
        "day": 86_400_000_000,
    }[unit.rstrip("s")]
    return int(n) * per_us


_RL_BUCKET_US = _window_to_micros(_E.RL_WINDOW)
_RL_MAX = _E.RL_MAX


def _rate_limit_state(key, pdfs, state: GroupState):
    """Token-bucket quota per user: pass the first _RL_MAX events per
    daily bucket, drop the rest. State carries only (current
    bucket, count) — O(1) per key, the property that lets a quota
    layer hold 10^9 keys in executor memory. Rows are sorted by
    (ev_us, event_id) within the invocation, so with an in-order
    source the kept set equals the batch `operators/events.rate_limit`
    exactly; events from buckets OLDER than the state's current bucket
    are watermark-expired and dropped explicitly (their bucket's quota
    state is gone — charging them to the current bucket would throttle
    live traffic for late stragglers; pinned by
    tests/test_streaming.py::test_rate_limit_state_multi_batch)."""
    import pandas as _pd

    (user_id,) = key
    if state.exists:
        bucket, n = state.get
    else:
        bucket, n = -1, 0
    rows = _pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ev_us", "event_id"], kind="mergesort")
    kept = []
    for ev_us, event_id in zip(rows["ev_us"], rows["event_id"]):
        b = int(ev_us) // _RL_BUCKET_US
        if b < bucket:
            continue  # late event from an expired bucket: drop
        if b > bucket:
            bucket, n = b, 0
        n += 1
        if n <= _RL_MAX:
            kept.append((user_id, int(event_id)))
    state.update((bucket, n))
    if kept:
        yield _pd.DataFrame(kept, columns=["user_id", "event_id"])


def streaming_rate_limit(stream: DataFrame) -> DataFrame:
    """Streaming twin of the batch per-user rate limit: emits the KEPT
    (user_id, event_id) pairs in append mode. ev_us is WALL-CLOCK
    micros from the source's ts_ntz column (pure epoch arithmetic,
    JVM-side) — the batch spec buckets with F.window over NTZ, which
    is wall-clock, so the twin must NOT bucket on instant micros: an
    instant inherits the session-zone offset through the µs-file cast
    and the daily quota windows would shift off-UTC (review catch)."""
    from etl_extractor_spark.functions.dates import ntz_epoch_micros

    return (
        stream.select(
            "user_id",
            "event_id",
            ntz_epoch_micros("ts_ntz").alias("ev_us"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _rate_limit_state,
            outputStructType=_RL_OUT_SCHEMA,
            stateStructType=_RL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ------------------------------------------------- streaming KMV reach

_KMV_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("k_eff", T.LongType()),
        T.StructField("kth_hash", T.LongType()),
        T.StructField("est_users", T.LongType()),
    ]
)
_KMV_STATE_SCHEMA = T.StructType(
    [T.StructField("mins", T.ArrayType(T.LongType()))]
)


def _kmv_state(key, pdfs, state: GroupState):
    """Mergeable KMV sketch as streaming state: the per-type state is
    the k smallest distinct md5-48bit user hashes seen so far — O(K)
    per key forever, and merging a micro-batch is set-union + re-sort
    + truncate. This is the sketch lifecycle the batch twin
    (plans/events.kmv_user_reach) certifies: persist tiny state,
    answer distinct-count queries without rescanning history."""
    import pandas as _pd

    from etl_extractor_spark.plans.events import KMV_REACH_K, _HASH_SPAN

    (event_type,) = key
    mins: list = list(state.get[0]) if state.exists else []
    s = set(mins)
    for pdf in pdfs:
        s.update(int(h) for h in pdf["h"])
    mins = sorted(s)[:KMV_REACH_K]
    state.update((mins,))
    k_eff = len(mins)
    kth = mins[-1] if mins else None
    est = (
        k_eff
        if k_eff < KMV_REACH_K
        else (KMV_REACH_K - 1) * _HASH_SPAN // kth
    )
    yield _pd.DataFrame(
        [(event_type, k_eff, kth, est)],
        columns=["event_type", "k_eff", "kth_hash", "est_users"],
    )


def streaming_kmv_reach(stream: DataFrame) -> DataFrame:
    """Streaming twin of the deterministic KMV distinct-user estimate:
    each micro-batch folds its user hashes into the per-type k-min
    state and emits the CURRENT estimate (update mode). After an
    availableNow replay of the full table, the final row per type
    equals the batch ``kmv_user_reach`` exactly (pinned in
    tests/test_streaming.py) — the persist-state/merge-any-time sketch
    contract, live."""
    hashed = stream.select(
        "event_type",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10)
        .cast("long")
        .alias("h"),
    )
    return hashed.groupBy("event_type").applyInPandasWithState(
        _kmv_state,
        outputStructType=_KMV_OUT_SCHEMA,
        stateStructType=_KMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_CMS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("seed", T.LongType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("cell", T.LongType()),
    ]
)
_CMS_STATE_SCHEMA = T.StructType(
    [T.StructField("cells", T.ArrayType(T.LongType()))]
)


def _cms_state(key, pdfs, state: GroupState):
    """Count-min row as streaming state: the per-seed state is the
    width-long counter array — constant size forever, merged into by
    each micro-batch with one bincount. The batch twin
    (plans/training_eval.cms_heavy_hitters) certifies the same grid
    algebra; this is its live form: keep a sketch online, answer
    point-estimate queries without rescanning history."""
    import numpy as np
    import pandas as _pd

    from etl_extractor_spark.plans.training_eval import CMS_WIDTH

    (seed,) = key
    cells = (
        np.array(state.get[0], dtype=np.int64)
        if state.exists
        else np.zeros(CMS_WIDTH, dtype=np.int64)
    )
    for pdf in pdfs:
        cells += np.bincount(
            pdf["bucket"].to_numpy(dtype="int64"), minlength=CMS_WIDTH
        )
    state.update((cells.tolist(),))
    nz = np.nonzero(cells)[0]
    yield _pd.DataFrame(
        {
            "seed": np.full(len(nz), seed, dtype="int64"),
            "bucket": nz.astype("int64"),
            "cell": cells[nz],
        }
    )


def streaming_cms_grid(stream: DataFrame) -> DataFrame:
    """Streaming count-min sketch: tokens explode against the seed
    range, the Catalyst bucket hash (shared with the batch twin) runs
    BEFORE the stateful op, and each of the CMS_DEPTH groups folds its
    micro-batch into a width-long counter array. Update mode emits the
    current nonzero grid; after an availableNow replay the final grid
    equals the batch sketch cell for cell."""
    from etl_extractor_spark.functions import textstats as ts
    from etl_extractor_spark.plans.training_eval import CMS_DEPTH, _cms_bucket_expr

    toks = stream.select(F.explode(ts.tokens("text")).alias("tok")).filter(
        F.length("tok") > 0
    )
    seeded = toks.select(
        "tok",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("seed"),
    ).select("seed", _cms_bucket_expr("seed", "tok").alias("bucket"))
    return seeded.groupBy("seed").applyInPandasWithState(
        _cms_state,
        outputStructType=_CMS_OUT_SCHEMA,
        stateStructType=_CMS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------- streaming funnel

_FUNNEL_STAGES = ("signup", "view", "click", "purchase")
_FUNNEL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("stage", T.IntegerType()),
        T.StructField("last_us", T.LongType()),
    ]
)
_FUNNEL_STATE_SCHEMA = T.StructType(
    [T.StructField("stage", T.IntegerType()), T.StructField("last_us", T.LongType())]
)


def _funnel_state(key, pdfs, state: GroupState):
    """Per-user ordered-funnel state machine: advance to stage k+1 on
    the first stage-(k+1) event STRICTLY after the stage-k time (first
    signup unconditioned). State is two scalars — O(1) per key, like
    the rate limiter. Greedy advance over (ev_us, event_id)-sorted
    rows equals the batch min-chain definition (plans/analytics3.
    event_funnel): the first qualifying event in time order IS
    min(ts > prev), and a same-µs next-stage event is rejected by the
    strict inequality exactly as the batch `>` is."""
    import pandas as _pd

    (user_id,) = key
    if state.exists:
        stage, last_us = state.get
    else:
        stage, last_us = 0, -1
    rows = _pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ev_us", "event_id"], kind="mergesort")
    for etype, ev_us in zip(rows["event_type"], rows["ev_us"]):
        if stage >= len(_FUNNEL_STAGES):
            break
        if etype == _FUNNEL_STAGES[stage] and (stage == 0 or int(ev_us) > last_us):
            stage += 1
            last_us = int(ev_us)
    state.update((stage, last_us))
    yield _pd.DataFrame(
        [(user_id, stage, last_us)], columns=["user_id", "stage", "last_us"]
    )


def streaming_funnel(stream: DataFrame) -> DataFrame:
    """Streaming twin of the batch 4-stage funnel — per-user stateful
    stage machine in update mode; stage is monotone non-decreasing so
    the final state per user is the algebraic max(struct(stage,
    last_us)) over emissions, even when availableNow splits the replay
    into several micro-batches (within-user event-time order across
    batches is the file source's per-file order here; a production
    deployment keys the same guarantee off watermark-ordered
    ingestion)."""
    from etl_extractor_spark.functions.dates import ntz_epoch_micros

    return (
        stream.select(
            "user_id",
            "event_type",
            "event_id",
            ntz_epoch_micros("ts_ntz").alias("ev_us"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _funnel_state,
            outputStructType=_FUNNEL_OUT_SCHEMA,
            stateStructType=_FUNNEL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ------------------------------------------------- streaming interval union

_IVU_SPAN_US = 30 * 60 * 1_000_000
_IVU_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("covered_us", T.LongType()),
        T.StructField("n_islands", T.LongType()),
    ]
)
_IVU_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cur_lo", T.LongType()),
        T.StructField("cur_hi", T.LongType()),
        T.StructField("closed_us", T.LongType()),
        T.StructField("closed_islands", T.LongType()),
    ]
)


def _interval_union_state(key, pdfs, state: GroupState):
    """Per-user union-of-intervals accumulator: state is one OPEN
    island (lo, hi) plus the closed total — O(1) per key. Each event
    opens [t, t+30min); overlapping/touching-at-a-point-in-time events
    extend the open island, a gap closes it. Emits the user's total
    coverage INCLUDING the open island — monotone non-decreasing
    across micro-batches, so the final state is the algebraic
    max(struct(covered_us, n_islands))."""
    import pandas as _pd

    (user_id,) = key
    if state.exists:
        cur_lo, cur_hi, closed_us, closed_n = state.get
    else:
        cur_lo, cur_hi, closed_us, closed_n = -1, -1, 0, 0
    rows = _pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["s", "event_id"], kind="mergesort")
    for s in rows["s"]:
        s = int(s)
        e = s + _IVU_SPAN_US
        if cur_lo < 0:
            cur_lo, cur_hi = s, e
        elif s > cur_hi:  # strict gap: close the island (batch parity)
            closed_us += cur_hi - cur_lo
            closed_n += 1
            cur_lo, cur_hi = s, e
        else:
            cur_hi = max(cur_hi, e)
    state.update((cur_lo, cur_hi, closed_us, closed_n))
    open_us = (cur_hi - cur_lo) if cur_lo >= 0 else 0
    open_n = 1 if cur_lo >= 0 else 0
    yield _pd.DataFrame(
        [(user_id, closed_us + open_us, closed_n + open_n)],
        columns=["user_id", "covered_us", "n_islands"],
    )


def streaming_interval_union(stream: DataFrame) -> DataFrame:
    """Streaming twin of the batch interval-union coverage
    (plans/pipeline_ops2.interval_union_coverage): the batch island
    rule starts a new island iff s > max(end) among earlier rows —
    exactly the strict-gap close here, so the replayed final state
    equals the batch per-user coverage event for event."""
    from etl_extractor_spark.functions.dates import ntz_epoch_micros

    return (
        stream.select(
            "user_id",
            "event_id",
            ntz_epoch_micros("ts_ntz").alias("s"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _interval_union_state,
            outputStructType=_IVU_OUT_SCHEMA,
            stateStructType=_IVU_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
