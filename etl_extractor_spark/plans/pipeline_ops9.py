"""Round-10 wave: fault-tolerance certification for the streaming
engine — a replay that CRASHES between micro-batches (after the sink
write, before the offset commit: the worst case of the at-least-once
window) and RESUMES from the checkpoint to the exact batch answer.
The 17 earlier certified streams prove the operators' semantics on
uninterrupted availableNow replays; this one proves the recovery
contract those semantics rest on: committed offsets are never
reprocessed, the uncommitted batch is reprocessed idempotently
(batch-id-keyed overwrite), and stateful aggregation state is
restored from the checkpoint rather than recomputed from zero.

Reference provenance: the reference pipeline (nilfredb/ETL-Extractor,
main.py:323-411) restarts from scratch on any failure — a full
reload. Checkpointed resume is the operator that replaces that
full-reload recovery model at warehouse scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_extractor_spark.functions.quantize import cents as _cents
from etl_extractor_spark.plans.pipeline_ops8 import _CENTS_SQL
from etl_extractor_spark.session import query_session
from etl_extractor_spark.sources.parquet import load_table

QUERIES: dict = {}
ORACLES: dict = {}


# --- 1. Crash-resume replay (18th certified stream) --------------------------


def _build_mod3_batches(
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    cols: tuple = ("event_id", "ts", "value"),
) -> str:
    """3-batch fixture split by event_id % 3 — every batch carries
    rows of every day/type, so cross-batch state built in batch 0
    MUST survive to the end for the totals to close (a split-by-day
    fixture would let a state-losing engine pass by accident). One
    parquet file per batch, pinned strictly increasing mtimes
    (file-source processing order)."""
    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.plans.pipeline_ops8 import _write_pinned_batches

    e = load_table(spark, sf_dir, "events").select(*cols)
    src = pid_scratch_dir(prefix)
    _write_pinned_batches(
        [e.filter(F.col("event_id") % 3 == k) for k in range(3)], src, "ev"
    )
    return src


class _InjectedCrash(RuntimeError):
    """Deliberate mid-replay failure; anything else must propagate."""


def streaming_crash_resume_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """18th certified stream: EXACTLY-ONCE recovery. A stateful daily
    aggregation (update mode, unwatermarked running count+sum — state
    is |days| rows) replays a pinned 3-batch file source through a
    foreachBatch parquet sink, and the sink RAISES after writing
    batch 1's output but before its offset commit — killing the query
    inside the at-least-once window where a non-idempotent sink would
    double-count. The query is then restarted with the SAME
    checkpoint: the file source resumes after the last committed
    offset (batch 0 is never re-read — asserted), batch 1 is
    reprocessed against the RECOVERED batch-0 state and its batch-id
    partition is overwritten (idempotent retry), batch 2 completes
    the replay. Final state per day is the emission with the highest
    batch id; the DuckDB oracle is the plain batch GROUP BY over the
    same events, so the driver hash certifies that crash + resume ==
    never crashed.

    100 TB: this is run_foreach_batch_to_parquet's recovery contract
    (streaming/events_stream.py) under test — the pattern every
    non-transactional production sink relies on. The restart cost is
    one re-executed micro-batch, never a replay from origin; state
    restore is a checkpoint read, O(|state|), not a recompute."""
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.streaming import events_stream as SE

    src = _build_mod3_batches(spark, sf_dir, "spark_graft_crash_src_")
    out_dir = pid_scratch_dir("spark_graft_crash_out_")
    ckpt = pid_scratch_dir("spark_graft_crash_ckpt_")

    schema = spark.read.parquet(src + "/ev-b0.parquet").schema

    def agg_stream() -> DataFrame:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/ev-*.parquet")
        )
        # Group on the NTZ wall clock directly (the fixture's ts is
        # TIMESTAMP_NTZ via load_table): no watermark is needed for an
        # unwatermarked update-mode aggregate, so no instant cast — a
        # cast would inherit the driver session's timezone offset and
        # shift day buckets under a non-UTC session (repo rule).
        return (
            stream.groupBy(F.to_date("ts").cast("string").alias("day"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum("value").alias("sv"),
            )
        )

    crash = {"armed": True, "batches": []}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )
        crash["batches"].append(batch_id)
        if batch_id == 1 and crash["armed"]:
            crash["armed"] = False
            raise _InjectedCrash(
                "injected: sink wrote batch 1, offset not committed"
            )

    n_state = SE.state_partitions_for(spark, sf_dir)
    try:
        SE.run_foreach_batch(agg_stream(), write_batch, ckpt, "update", n_state)
        raise AssertionError(
            "crash injection did not fire — fixture produced "
            f"batches {crash['batches']}, expected a failure at 1"
        )
    except StreamingQueryException as ex:
        if "injected" not in str(ex):
            raise
    SE.run_foreach_batch(agg_stream(), write_batch, ckpt, "update", n_state)
    # Recovery contract, asserted in-query so a silent from-origin
    # replay can never reach the (value-identical) result: batch 0
    # exactly once, batch 1 twice (the idempotent retry), batch 2 once.
    assert crash["batches"] == [0, 1, 1, 2], crash["batches"]

    emitted = spark.read.option("basePath", out_dir).parquet(
        out_dir + "/batch_id=*"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("day").orderBy(F.col("batch_id").desc())
    return (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "day",
            "n_events",
            F.round(F.col("sv"), 4).alias("sum_value"),
        )
        .orderBy("day")
    )


QUERIES["streaming_crash_resume_replay"] = streaming_crash_resume_replay
ORACLES["streaming_crash_resume_replay"] = """
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           count(*)::BIGINT AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1 ORDER BY day
"""


# --- 2. Shallow clone: zero-copy fork + divergence isolation -----------------


def manifest_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy SHALLOW CLONE with divergence isolation
    (``sinks/manifest.shallow_clone``): commit orders as a
    manifest-tracked table, clone it (one manifest write — no data
    bytes move, file refs are absolute paths into the source), then
    commit an equality-delete batch ON THE CLONE (o_orderkey % 13 = 0)
    and expire the clone's snapshots. The query returns both sides'
    aggregates; the oracle derives them from the raw table — the hash
    certifies that (a) the clone reads the source's files, (b) the
    clone's delete is visible only on the clone, and (c) expiry on the
    clone (which now references ONLY external files in its expired
    snapshots) removed nothing from the source — the expire guard
    refuses to unlink outside its table root, so a clone can never
    destroy source data (the Delta vacuum-on-shallow-clone rule,
    asserted in-query).

    100 TB: the instant dev-fork / safe-experiment primitive — clone
    cost is one manifest write at any table size, and the risky MERGE
    runs on the clone while the source serves traffic."""
    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.sinks import manifest as MF

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _cents("o_totalprice").alias("cents")
    )
    src = pid_scratch_dir("spark_graft_clone_src_")
    dst = pid_scratch_dir("spark_graft_clone_dst_")
    MF.write_with_manifest(spark, o, src, stats_cols=["o_orderkey"])
    MF.shallow_clone(src, dst)
    keys = (
        MF.read_table(spark, dst)
        .filter(F.col("o_orderkey") % 13 == 0)
        .select("o_orderkey")
    )
    MF.write_equality_deletes(spark, dst, keys)
    # COW-compact the clone (absorbs its delete into NEW local files),
    # then expire: the expired snapshots now reference ONLY the
    # source's files — the exact shape where an unguarded expiry
    # would unlink source data across the clone boundary.
    from etl_extractor_spark.sinks.compact import compact_copy_on_write

    compact_copy_on_write(spark, dst, n_files=4)
    res = MF.expire_snapshots(dst, keep_last=1)
    assert res["skipped_external"] and not res["removed_data"], res
    assert MF.read_table(spark, src).count() == o.count()

    def side_agg(df: DataFrame, side: str) -> DataFrame:
        return df.agg(
            F.lit(side).alias("side"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )

    return (
        side_agg(MF.read_table(spark, src), "source")
        .unionByName(side_agg(MF.read_merge_on_read(spark, dst), "clone"))
        .orderBy("side")
    )


QUERIES["manifest_shallow_clone"] = manifest_shallow_clone
ORACLES["manifest_shallow_clone"] = f"""
    SELECT 'clone' AS side,
           count(*)::BIGINT AS n_orders,
           CAST(sum({_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM orders WHERE o_orderkey % 13 != 0
    UNION ALL
    SELECT 'source', count(*)::BIGINT,
           CAST(sum({_CENTS_SQL}) AS BIGINT)
    FROM orders
    ORDER BY side
"""


# --- 3. Date-spine gap fill + linear interpolation ---------------------------


def gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap repair — the training-data-prep op for feeds
    with outage days: build the per-series date SPINE
    (``sequence(min_day, max_day)`` exploded — never a cross join
    against a global calendar), left-join the observed daily revenue,
    and LINEARLY interpolate the holes between the surrounding
    observations in exact integer cents. Outages are simulated
    deterministically (day-index % 7 == 3 withheld), so the oracle
    can re-derive every interpolated value.

    Interpolation is pure window algebra: previous/next observation
    via last/first(ignorenulls) over the spine order, and
    fill = (v_prev·(d_next−d) + v_next·(d−d_prev)) div (d_next−d_prev)
    — a convex combination of POSITIVE ints (multiply before divide;
    both engines' integer division agree on non-negative operands, so
    no truncate-vs-floor divergence is reachable). Spine endpoints
    are min/max of the OBSERVED days, so every gap has both
    neighbours by construction.

    100 TB: the spine is date-cardinality per series (bounded by the
    calendar, not the fact table); all windows partition by series.
    The heavy input collapses to |series|·|days| rows at the first
    groupBy — map-side combinable — and everything after is
    metadata-sized."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .join(
            load_table(spark, sf_dir, "customer").select(
                "c_custkey", "c_nationkey"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_name"
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.expr("datediff(o_orderdate, DATE'1990-01-01')")
            .cast("long")
            .alias("d"),
            _cents("o_totalprice").alias("cents"),
        )
        .groupBy("nation", "d")
        .agg(F.sum("cents").cast("long").alias("v"))
    )
    obs = daily.filter(F.col("d") % 7 != 3)
    spine = (
        obs.groupBy("nation")
        .agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
        .select(
            "nation",
            F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("d"),
        )
    )
    from pyspark.sql import Window

    j = spine.join(obs, ["nation", "d"], "left")
    w_prev = (
        Window.partitionBy("nation")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # the "next observation" frame runs over DESCENDING d with a
    # running (unboundedPreceding, 0) frame — same row set [d, end],
    # identical values — because Spark's (0, unboundedFollowing) frame
    # is NOT incremental: it re-scans the partition remainder per row,
    # O(rows²) per series (profiled: the two window stages were 2.9 s
    # single-task CPU vs 0.6 s as running frames, r10)
    w_next = (
        Window.partitionBy("nation")
        .orderBy(F.desc("d"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    v = F.col("v")
    marked = j.select(
        "nation",
        "d",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.max(F.when(v.isNotNull(), F.col("d"))).over(w_prev).alias("pd"),
        F.last("v", ignorenulls=True).over(w_next).alias("nv"),
        F.min(F.when(v.isNotNull(), F.col("d"))).over(w_next).alias("nd"),
    )
    filled = marked.select(
        "nation",
        v.isNull().alias("gap"),
        F.when(v.isNotNull(), v)
        .otherwise(
            F.expr("(pv * (nd - d) + nv * (d - pd)) div (nd - pd)")
        )
        .alias("fv"),
    )
    return (
        filled.groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(F.when(F.col("gap"), 1).otherwise(0))
            .cast("long")
            .alias("n_gaps"),
            F.sum(F.when(F.col("gap"), F.col("fv")).otherwise(0))
            .cast("long")
            .alias("gap_cents"),
            F.sum("fv").cast("long").alias("total_cents"),
        )
        .orderBy("nation")
    )


QUERIES["gap_fill_interpolate"] = gap_fill_interpolate
ORACLES["gap_fill_interpolate"] = f"""
    WITH j AS (
      SELECT n_name AS nation,
             date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS d,
             {_CENTS_SQL} AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    ), daily AS (
      SELECT nation, d, CAST(sum(cents) AS BIGINT) AS v
      FROM j GROUP BY 1, 2
    ), obs AS (
      SELECT * FROM daily WHERE d % 7 != 3
    ), bounds AS (
      SELECT nation, min(d) AS mn, max(d) AS mx FROM obs GROUP BY 1
    ), spine AS (
      SELECT nation, unnest(generate_series(mn, mx)) AS d FROM bounds
    ), joined AS (
      SELECT s.nation, s.d, o.v
      FROM spine s LEFT JOIN obs o ON s.nation = o.nation AND s.d = o.d
    ), w AS (
      SELECT nation, d, v,
        last_value(v IGNORE NULLS) OVER
          (PARTITION BY nation ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        max(CASE WHEN v IS NOT NULL THEN d END) OVER
          (PARTITION BY nation ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        first_value(v IGNORE NULLS) OVER
          (PARTITION BY nation ORDER BY d
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        min(CASE WHEN v IS NOT NULL THEN d END) OVER
          (PARTITION BY nation ORDER BY d
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM joined
    ), f AS (
      SELECT nation, v IS NULL AS gap,
             CASE WHEN v IS NOT NULL THEN v
                  ELSE (pv * (nd - d) + nv * (d - pd)) // (nd - pd)
             END AS fv
      FROM w
    )
    SELECT nation,
           count(*)::BIGINT AS n_days,
           sum(CASE WHEN gap THEN 1 ELSE 0 END)::BIGINT AS n_gaps,
           CAST(sum(CASE WHEN gap THEN fv ELSE 0 END) AS BIGINT) AS gap_cents,
           CAST(sum(fv) AS BIGINT) AS total_cents
    FROM f GROUP BY 1 ORDER BY nation
"""


# --- 4. Write-Audit-Publish append gate ---------------------------------------


def wap_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish ingestion gate (``sinks/manifest.wap_commit``):
    the pre-2000 orders are the committed table; the 2000+ tail
    arrives twice — once clean (audit passes → published as a new
    snapshot) and once corrupted (cents negated → audit fails → the
    stage is discarded and the table is untouched). The query returns
    the final table's per-year rollup; the oracle is the FULL orders
    rollup, so the hash certifies both gate directions at once: the
    clean batch is fully visible (no rows lost at the gate) and not
    one corrupted row leaked past a failing audit (any leak flips a
    year's sum negative-ward). In-query asserts pin the mechanics the
    values can't see: publish flags, zero orphan files after the
    rejected attempt (vacuum dry-run is empty), and snapshot history
    growing by exactly one.

    100 TB: THE production ingestion pattern — audit cost scans the
    batch, never the table; a reader can never observe a partial or
    unaudited batch because visibility is the atomic manifest
    commit."""
    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.sinks import manifest as MF

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", _cents("o_totalprice").alias("cents")
    )
    path = pid_scratch_dir("spark_graft_wap_")
    split = F.col("o_orderdate") < F.lit("2000-01-01")
    MF.write_with_manifest(
        spark, o.filter(split), path, stats_cols=["o_orderkey"]
    )

    def audit(df: DataFrame):
        n_bad = df.filter(
            (F.col("cents") <= 0) | F.col("o_orderkey").isNull()
        ).count()
        return n_bad == 0, {"violations": n_bad}

    tail = o.filter(~split)
    r_good = MF.wap_commit(spark, path, tail, audit)
    r_bad = MF.wap_commit(
        spark, path, tail.withColumn("cents", -F.col("cents")), audit
    )
    assert r_good["published"] and not r_bad["published"], (r_good, r_bad)
    assert MF.vacuum(path, dry_run=True) == []  # rejected stage left nothing
    assert len(MF.read_manifest(path)["snapshots"]) == 2  # base + good only

    return (
        MF.read_table(spark, path)
        .groupBy(
            F.col("o_orderdate").cast("string").substr(1, 4).alias("year")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("year")
    )


QUERIES["wap_audit_publish"] = wap_audit_publish
ORACLES["wap_audit_publish"] = f"""
    SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 4) AS year,
           count(*)::BIGINT AS n_orders,
           CAST(sum({_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM orders GROUP BY 1 ORDER BY year
"""


# --- 5. Dim-refresh stream (19th certified stream) ----------------------------


def streaming_dim_refresh_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """19th certified stream: the DIM-REFRESH enrichment pattern — a
    slowly-changing dimension that is UPDATED between micro-batches,
    with each batch joining the dim version current at its start.
    ``streaming_enrich_replay`` certified the static-dim join; real
    pipelines refresh the dim while the stream runs, and the
    correctness question is which version each batch observes. The
    production-robust form is certified here: foreachBatch re-reads
    the dim table per batch (a fresh ``spark.read`` = a fresh file
    listing — the plan-embedded static side caches its FileIndex at
    plan time and would serve a stale or deleted listing after an
    overwrite), joins, writes its batch-id partition, then commits
    the NEXT dim version. The fixture pins version k = factor (k+1)
    against the mod-3 batch split, so the oracle can state exactly
    which factor each event was enriched with — the hash certifies
    the versioning, not just the join.

    100 TB: dim re-read cost is per-BATCH and dim-sized (broadcast);
    this is the foreachBatch idiom Spark's own docs prescribe for
    mutable lookup data, here pinned by an oracle."""
    import os

    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.streaming import events_stream as SE

    src = _build_mod3_batches(
        spark,
        sf_dir,
        "spark_graft_dimref_src_",
        cols=("event_id", "ts", "value", "event_type"),
    )
    out_dir = pid_scratch_dir("spark_graft_dimref_out_")
    dim_dir = pid_scratch_dir("spark_graft_dimref_dim_")

    types = [
        r[0]
        for r in load_table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .collect()
    ]

    from etl_extractor_spark.operators.common import small_df

    def write_dim(version: int) -> None:
        small_df(
            spark,
            [(t, version + 1) for t in sorted(types)],
            "event_type string, factor long",
        ).write.mode("overwrite").parquet(dim_dir)

    write_dim(0)
    schema = spark.read.parquet(src + "/ev-b0.parquet").schema

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        dim = spark.read.parquet(dim_dir)  # fresh listing, current version
        out = batch_df.join(F.broadcast(dim), "event_type").select(
            "event_type", "value", "factor"
        )
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )
        write_dim(batch_id + 1)  # next version, visible to batch k+1

    SE.run_foreach_batch(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/ev-*.parquet"),
        handle,
    )

    enriched = spark.read.option("basePath", out_dir).parquet(
        out_dir + "/batch_id=*"
    )
    return (
        enriched.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum(F.col("value") * F.col("factor")), 4).alias(
                "weighted_value"
            ),
        )
        .orderBy("event_type")
    )


QUERIES["streaming_dim_refresh_replay"] = streaming_dim_refresh_replay
ORACLES["streaming_dim_refresh_replay"] = """
    SELECT event_type,
           count(*)::BIGINT AS n_events,
           round(sum(value * ((event_id % 3) + 1)), 4) AS weighted_value
    FROM events GROUP BY 1 ORDER BY event_type
"""


# --- 6. Runtime bloom-filter join pruning (Spark optimizer surface) -----------


_RF_CONFS = {
    # injection gates: the app-side scan must exceed this size for the
    # optimizer to bother — 0 makes the test-scale fact eligible (at
    # 100 TB the default 10 GB gate passes on its own)
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    # and the creation side must be under this — the filtered dim is
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    # a broadcast join IS already a filter — force the shuffle-join
    # shape the runtime filter exists for
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def runtime_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning (Spark's InjectRuntimeFilter):
    a selective dim predicate (customers with c_custkey % 97 = 0)
    joins the fact shuffle-side, and the optimizer injects a Bloom
    filter built from the dim keys as a ``might_contain`` predicate
    ON THE FACT SCAN — the fact side drops ~99% of its rows BEFORE
    the shuffle instead of shipping them to the join. The pytest
    guard pins the plan shape (BloomFilterAggregate on the dim side,
    might_contain above the fact scan); this query certifies the
    values are unchanged under the injection — the oracle is the
    plain join.

    100 TB: the semi-join reduction that keeps a selective dim⋈fact
    from shuffling the whole fact table; at production scan sizes the
    default thresholds enable it without any conf (the lowered gates
    here only make the test-scale fact eligible). The plan builds in a
    query_session with the gates lowered, so the frame runs the
    filtered plan whenever the caller acts on it."""
    spark = query_session(spark, _RF_CONFS)
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", _cents("o_totalprice").alias("cents")
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 97 == 0)
        .select("c_custkey", "c_nationkey")
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("nation")
    )


QUERIES["runtime_filter_join"] = runtime_filter_join
ORACLES["runtime_filter_join"] = f"""
    SELECT n_name AS nation,
           count(*)::BIGINT AS n_orders,
           CAST(sum({_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM orders
    JOIN customer ON o_custkey = c_custkey AND c_custkey % 97 = 0
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1 ORDER BY nation
"""


# --- 7. Deterministic tokenization with referential integrity -----------------


_TOKEN_SALT = "spark_graft_tok_v1"


def tokenize_referential_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudonymization that PRESERVES JOINABILITY — the privacy
    counterpart of ``pii_redaction``: customer keys are replaced by a
    salted-hash token (md5 of salt‖key — deterministic, so the same
    key tokenizes identically in every table, and keyless, so the raw
    id never leaves the engine) in BOTH the dim and the fact, and the
    downstream analytics join runs ON TOKENS ONLY. The oracle is the
    raw-key join: the hash match certifies referential integrity
    (every raw-key match is a token match) and injectivity at corpus
    scale (a token collision would merge two customers and shift a
    nation's counts — unreachable for md5 at any SF).

    100 TB: tokenize-at-ingest is how analytics zones avoid holding
    raw identifiers; the token is a map-side projection (no shuffle,
    no lookup table to secure), and every downstream join/groupBy
    behaves exactly as on raw keys."""
    tok = lambda c: F.md5(F.concat(F.lit(_TOKEN_SALT), F.col(c).cast("string")))  # noqa: E731
    c = load_table(spark, sf_dir, "customer").select(
        tok("c_custkey").alias("token"), "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select(
        tok("o_custkey").alias("token"), _cents("o_totalprice").alias("cents")
    )
    return (
        o.join(c, "token")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.countDistinct("token").cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("nation")
    )


QUERIES["tokenize_referential_join"] = tokenize_referential_join
ORACLES["tokenize_referential_join"] = f"""
    SELECT n_name AS nation,
           count(*)::BIGINT AS n_orders,
           count(DISTINCT o_custkey)::BIGINT AS n_customers,
           CAST(sum({_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1 ORDER BY nation
"""


# --- 8. AQE automatic skew-join split (the third skew remediation) ------------


_AQE_SKEW_CONFS = {
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # the fixture's hot partition is ~100s of KB compressed, not the
    # default 256 MB — lower the recognition gates so the optimizer
    # sees the skew the way it would see a real hot key at production
    # volume (probed: the hot partition's constant-key + sorted-long
    # blocks lz4-compress ~100× — 57k rows → 7.8 KB — so the gates sit
    # at 4 KB; recognition begins at sf0.01, and at sf0.001 the values
    # are simply correct without a split — the split is an optimization)
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    # no broadcast: AQE skew split only applies to shuffle joins
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def aqe_skew_join_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The THIRD skew remediation, completing the triad: manual
    salting (``salted_skew_join_revenue``), value-level two-phase
    rank (``skewed_exact_median_value``), and now AQE's AUTOMATIC
    skew-join split — OptimizeSkewedJoin slices the hot key's
    oversized shuffle partition into parallel sub-reads and replays
    the other side's matching partition against each slice. Same
    95%-hot-key fixture as the manual twin, same plain-SQL oracle:
    the hash certifies the split is answer-preserving (no row lost or
    double-joined across slice boundaries), and the pytest guard pins
    ``isSkew=true`` in the executed join node so the query can't
    silently certify an unsplit plan.

    100 TB: AQE handles the skew you didn't predict; the manual salt
    remains for the shapes AQE can't reach (agg-wrapped exchanges,
    sub-threshold partitions — measured in the salted twin's
    docstring). The plan builds in a query_session with the gates
    lowered, so the frame runs the split plan whenever the caller
    acts on it."""
    from etl_extractor_spark.operators.common import fan_out
    from etl_extractor_spark.plans.pipeline_ops5 import _skew_key

    spark = query_session(spark, _AQE_SKEW_CONFS)
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    # fan_out: a skewed reduce partition can only be split at
    # MAP-block granularity, and the test-scale lineitem file is ONE
    # row group = one map task = one unsplittable block. A production
    # scan has thousands of row groups; fan_out gives the join shuffle
    # the same multi-block map side here. Smaller input splits do not:
    # parquet assigns whole row groups (8 splits held rows
    # [0,0,0,60000,0,0,0,0] at sf0.01), and fan_out keeps 8 partitions.
    fact = fan_out(
        li.select(
            _skew_key("l_orderkey").alias("k"),
            _cents("l_extendedprice").alias("cents"),
        )
    )
    # The dim must reach the join as a PLAIN shuffle — the manual
    # twin's .distinct() puts an aggregate between the shuffle and
    # the join, and OptimizeSkewedJoin only matches SMJ(sort(
    # shuffle), sort(shuffle)) (probed: with the agg in between,
    # "number of skewed partitions: left 0, right 0"). The skew-key
    # domain is {0} ∪ {o_orderkey : %20=0}, which unions together
    # duplicate-free without aggregation (o_orderkey is unique;
    # key 0 is excluded from the filter arm and added once).
    dim = (
        o.filter((F.col("o_orderkey") % 20 == 0) & (F.col("o_orderkey") != 0))
        .select(F.col("o_orderkey").cast("long").alias("k"))
        .unionAll(spark.range(1).select(F.lit(0).cast("long").alias("k")))
        .select("k", (F.col("k") % 7).cast("long").alias("seg"))
    )
    return (
        fact.join(dim, "k")
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("seg")
    )


QUERIES["aqe_skew_join_split"] = aqe_skew_join_split
_SKEW_KEY_SQL = "CASE WHEN {c} % 20 != 0 THEN 0 ELSE {c} END"
ORACLES["aqe_skew_join_split"] = f"""
    WITH f AS (
      SELECT {_SKEW_KEY_SQL.format(c='l_orderkey')} AS k,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM lineitem
    ), d AS (
      SELECT DISTINCT {_SKEW_KEY_SQL.format(c='o_orderkey')} AS k
      FROM orders
    )
    SELECT CAST(d.k % 7 AS BIGINT) AS seg,
           count(*)::BIGINT AS n_items,
           CAST(sum(f.cents) AS BIGINT) AS revenue_cents
    FROM f JOIN d ON f.k = d.k
    GROUP BY 1 ORDER BY seg
"""


# --- 9. Crash-resume through CUSTOM state (20th certified stream) -------------


def _user_totals_with_state(key, pdf_iter, state):
    """Per-user running (count, sum) in a GroupState — the custom-
    state twin of the SQL aggregate the 18th stream recovers."""
    import pandas as pd  # noqa: F811 — worker-side import

    n, sv = state.get if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        sv += float(pdf["value"].sum())
    state.update((n, sv))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sv": [sv]}
    )


def streaming_crash_resume_custom_state(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """20th certified stream: crash-resume through the CUSTOM-state
    path. The 18th stream (``streaming_crash_resume_replay``)
    certifies checkpoint recovery of SQL aggregation state; this one
    pushes the same injected failure through
    ``applyInPandasWithState`` — per-user running (count, sum) held
    in a Python-defined GroupState — so what's recovered is the
    arbitrary-state store (state rows serialized by the Python state
    codec), not a Catalyst aggregate buffer. Same contract, asserted
    in-query: batch trace [0, 1, 1, 2] (batch 0 never re-read, batch
    1 retried idempotently), final per-user totals equal the plain
    batch GROUP BY oracle — crash + resume == never crashed, for
    state the engine cannot see inside.

    100 TB: every custom stateful operator in the repo's streaming
    surface (sessionize, rate-limit, funnel, KMV) rides this exact
    recovery path; this query is the certification that their state
    survives the restart their semantics assume."""
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql.streaming.state import GroupStateTimeout

    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.streaming import events_stream as SE

    src = _build_mod3_batches(
        spark,
        sf_dir,
        "spark_graft_crashst_src_",
        cols=("event_id", "ts", "value", "user_id"),
    )
    out_dir = pid_scratch_dir("spark_graft_crashst_out_")
    ckpt = pid_scratch_dir("spark_graft_crashst_ckpt_")
    schema = spark.read.parquet(src + "/ev-b0.parquet").schema

    def stateful_stream() -> DataFrame:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/ev-*.parquet")
        )
        return (
            stream.select("user_id", "value")
            .groupBy("user_id")
            .applyInPandasWithState(
                _user_totals_with_state,
                outputStructType="user_id long, n_events long, sv double",
                stateStructType="n long, sv double",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )

    crash = {"armed": True, "batches": []}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )
        crash["batches"].append(batch_id)
        if batch_id == 1 and crash["armed"]:
            crash["armed"] = False
            raise _InjectedCrash("injected: custom-state crash at batch 1")

    n_state = SE.state_partitions_for(spark, sf_dir)
    try:
        SE.run_foreach_batch(
            stateful_stream(), write_batch, ckpt, "update", n_state
        )
        raise AssertionError(f"crash injection did not fire: {crash['batches']}")
    except StreamingQueryException as ex:
        if "injected" not in str(ex):
            raise
    SE.run_foreach_batch(stateful_stream(), write_batch, ckpt, "update", n_state)
    assert crash["batches"] == [0, 1, 1, 2], crash["batches"]

    emitted = spark.read.option("basePath", out_dir).parquet(
        out_dir + "/batch_id=*"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("batch_id").desc())
    return (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round(F.col("sv"), 4).alias("sum_value"),
        )
        .orderBy("user_id")
    )


QUERIES["streaming_crash_resume_custom_state"] = streaming_crash_resume_custom_state
ORACLES["streaming_crash_resume_custom_state"] = """
    SELECT user_id,
           count(*)::BIGINT AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1 ORDER BY user_id
"""


# --- 9b. Row-level change data feed between snapshots ---------------------------


def snapshot_row_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CHANGE DATA FEED between table snapshots (Delta CDF /
    Iceberg changelog): after a delete commit and a WAP-published
    append, re-derive exactly which ROWS changed since snapshot 0 —
    from METADATA, never a table diff. Inserts are read from the
    files the later snapshots ADDED (manifest file-list set algebra
    picks them; only those files are scanned); deletes are the
    delete-file keys resolved against the base snapshot (broadcast
    semi-join, O(deletes) build side). The oracle re-derives both
    change sets from the fixture's deterministic rules, so the hash
    certifies the CDF against the logical truth, not against another
    engine diff.

    100 TB: this is how downstream consumers subscribe to a table —
    O(changes) per sync. The naive EXCEPT-between-snapshots form
    scans and shuffles the WHOLE table twice; this plan reads the
    added files + the delete keys and touches nothing else
    (asserted: the insert scan plans only the WAP-added files)."""
    import os

    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.sinks import manifest as MF

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", _cents("o_totalprice").alias("cents")
    )
    path = pid_scratch_dir("spark_graft_cdf_")
    split = F.col("o_orderdate") < F.lit("2001-01-01")
    base = o.filter(split)
    MF.write_with_manifest(spark, base, path, stats_cols=["o_orderkey"])  # s0
    MF.write_equality_deletes(
        spark,
        path,
        base.filter(F.col("o_orderkey") % 113 == 0).select("o_orderkey"),
    )  # s1
    MF.wap_commit(spark, path, o.filter(~split), lambda df: (True, {}))  # s2

    m = MF.read_manifest(path)
    snaps = m["snapshots"]
    s0_files = set(snaps[0]["files"])
    added = [n for n in snaps[-1]["files"] if n not in s0_files]
    assert added and all(n.startswith("wap-") for n in added), added
    inserts = spark.read.parquet(*[os.path.join(path, n) for n in added])
    (del_name,) = snaps[-1]["delete_files"]
    (entry,) = [d for d in m["delete_files"] if d["name"] == del_name]
    deleted_keys = MF.read_delete_file(spark, path, entry)
    deletes = MF.read_snapshot(spark, path, 0).join(
        F.broadcast(deleted_keys), "o_orderkey", "left_semi"
    )

    def classify(df: DataFrame, kind: str) -> DataFrame:
        return df.groupBy(
            F.lit(kind).alias("change_type"),
            F.col("o_orderdate").cast("string").substr(1, 4).alias("year"),
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("cents"),
        )

    return (
        classify(inserts, "insert")
        .unionByName(classify(deletes, "delete"))
        .orderBy("change_type", "year")
    )


QUERIES["snapshot_row_cdf"] = snapshot_row_cdf
ORACLES["snapshot_row_cdf"] = f"""
    WITH ins AS (
      SELECT 'insert' AS change_type,
             substr(CAST(o_orderdate AS VARCHAR), 1, 4) AS year,
             count(*)::BIGINT AS n_rows,
             CAST(sum({_CENTS_SQL}) AS BIGINT) AS cents
      FROM orders WHERE o_orderdate >= DATE '2001-01-01'
      GROUP BY 2
    ), del AS (
      SELECT 'delete' AS change_type,
             substr(CAST(o_orderdate AS VARCHAR), 1, 4) AS year,
             count(*)::BIGINT AS n_rows,
             CAST(sum({_CENTS_SQL}) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderdate < DATE '2001-01-01' AND o_orderkey % 113 = 0
      GROUP BY 2
    )
    SELECT * FROM ins UNION ALL SELECT * FROM del
    ORDER BY change_type, year
"""


# --- 10. Exchange reuse (compute-once certification) ---------------------------


def exchange_reuse_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-reuse certification: the classic argmax-via-self-
    reference shape — per-customer revenue joined to its own global
    max — contains the SAME aggregate subtree twice, and Spark's
    ReuseExchange rule must compute the underlying scan + shuffle +
    aggregate ONCE, feeding both branches from one exchange (pytest
    pins ``ReusedExchange`` in the plan). The oracle is the identical
    CTE self-reference in SQL.

    100 TB: self-referencing shapes (argmax, share-of-total, top-vs-
    rest) are everywhere in reporting; without exchange reuse each
    reference re-scans and re-shuffles the fact table. Reuse makes
    the second reference free — this query pins that the engine
    actually delivers it, so a refactor that breaks subtree identity
    (e.g. a stray alias) shows up as a plan regression."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", _cents("o_totalprice").alias("cents")
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.sum("cents").cast("long").alias("tot")
    )
    mx = per_cust.agg(F.max("tot").alias("mx"))
    return (
        per_cust.join(
            F.broadcast(mx), F.col("tot") == F.col("mx")
        )
        .select(
            F.col("o_custkey").alias("cust_key"),
            F.col("tot").alias("revenue_cents"),
        )
        .orderBy("cust_key")
    )


QUERIES["exchange_reuse_argmax"] = exchange_reuse_argmax
ORACLES["exchange_reuse_argmax"] = f"""
    WITH t AS (
      SELECT o_custkey,
             CAST(sum({_CENTS_SQL}) AS BIGINT) AS tot
      FROM orders GROUP BY 1
    )
    SELECT o_custkey AS cust_key, tot AS revenue_cents
    FROM t WHERE tot = (SELECT max(tot) FROM t)
    ORDER BY cust_key
"""


# --- 11. Hidden-partition pruning ----------------------------------------------


def hidden_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style HIDDEN partitioning (``sinks/hidden.py``): orders
    are written physically partitioned by an engine-owned month
    transform of ``o_orderdate``, and the range reader maps the
    caller's DATE predicate to partition bounds itself — the query
    author never mentions (or knows about) the partition column.
    Contrast with Hive-style layouts, where a date filter that
    forgets to also filter the partition column silently scans every
    directory — the classic 100 TB full-scan footgun this transform
    model exists to remove. The pytest guard pins PartitionFilters
    on the scan (out-of-range month dirs never read); the oracle is
    the plain date-range filter, certifying that pruning is
    answer-preserving including the boundary months the month
    transform over-covers."""
    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.sinks import hidden as H

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", _cents("o_totalprice").alias("cents")
    )
    path = pid_scratch_dir("spark_graft_hidden_")
    H.write_month_partitioned(spark, o, path, "o_orderdate")
    lo, hi = "1996-03-15", "1997-06-10"
    return (
        H.read_date_range(spark, path, lo, hi)
        .groupBy(
            F.col("o_orderdate").cast("string").substr(1, 7).alias("month")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("month")
    )


QUERIES["hidden_partition_pruning"] = hidden_partition_pruning
ORACLES["hidden_partition_pruning"] = f"""
    SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS month,
           count(*)::BIGINT AS n_orders,
           CAST(sum({_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM orders
    WHERE o_orderdate >= DATE '1996-03-15' AND o_orderdate <= DATE '1997-06-10'
    GROUP BY 1 ORDER BY month
"""


# --- 12. Bitemporal point query -------------------------------------------------


def bitemporal_point_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL dimension query — both time axes at once: VALID
    time (the SCD2 ``valid_from``/``valid_to`` interval: when a fact
    was true in the world) and TRANSACTION time (manifest snapshots:
    when the warehouse knew it). The fixture commits an SCD2
    dimension at snapshot 0, then applies a change batch (keys %7=0
    move to segment 'GOLD' on 2021-06-01) committed as snapshot 1.
    The query asks the same valid-time point question — 'what was
    each customer's segment ON 2021-09-15?' — AS OF both transaction
    times: snapshot 0 answers with the old segments (the warehouse
    had not yet learned of the change), the current snapshot answers
    with GOLD for the changed keys. The oracle derives both beliefs
    from the deterministic change rule, so the hash certifies the
    full axis separation: time travel never leaks future knowledge
    into past transaction states, and SCD2 history never rewrites
    closed intervals.

    100 TB: audit/compliance reads ('what did we report last quarter
    and why') are exactly this composition — snapshot read (metadata
    file-list planning) + valid-interval predicate; neither axis
    costs a table rewrite."""
    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.sinks import manifest as MF
    from etl_extractor_spark.sinks.merge import scd2_apply

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    dim0 = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("2020-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    path = pid_scratch_dir("spark_graft_bitemp_")
    MF.write_with_manifest(spark, dim0, path, stats_cols=["c_custkey"])  # s0
    changes = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", F.lit("GOLD").alias("segment")
    )
    dim1 = scd2_apply(
        MF.read_table(spark, path), changes, "c_custkey", ["segment"], "2021-06-01"
    )
    # commit the merged dimension as the NEXT transaction state via
    # copy-on-write replace: s0's files stay on disk, so snapshot 0
    # remains readable — REAL transaction-time travel, not a kept
    # in-memory frame
    MF.replace_table_cow(spark, path, dim1)  # s1

    def belief(df: DataFrame, label: str) -> DataFrame:
        at = (F.col("valid_from") <= "2021-09-15") & (
            F.col("valid_to").isNull() | (F.col("valid_to") > "2021-09-15")
        )
        return (
            df.filter(at)
            .groupBy(F.lit(label).alias("txn_time"), "segment")
            .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        )

    return (
        belief(MF.read_snapshot(spark, path, 0), "as_of_s0")
        .unionByName(belief(MF.read_table(spark, path), "current"))
        .orderBy("txn_time", "segment")
    )


QUERIES["bitemporal_point_query"] = bitemporal_point_query
ORACLES["bitemporal_point_query"] = """
    SELECT 'as_of_s0' AS txn_time, c_mktsegment AS segment,
           count(*)::BIGINT AS n_customers
    FROM customer GROUP BY 2
    UNION ALL
    SELECT 'current', seg, count(*)::BIGINT FROM (
      SELECT CASE WHEN c_custkey % 7 = 0 THEN 'GOLD'
                  ELSE c_mktsegment END AS seg
      FROM customer
    ) GROUP BY 2
    ORDER BY txn_time, segment
"""


# --- 13. Dim-driven file skipping (the third skipping trigger) -----------------


def manifest_dim_driven_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level DIM-DRIVEN skipping — completing the pruning trio
    with the partition-level (``dpp_partitioned_join``) and row-level
    (``runtime_filter_join``) forms: the filtered dimension's key
    BOUNDS are computed first (one bounded 2-scalar collect), the
    fact's manifest min/max stats plan the file subset that can
    intersect them, and the join scans only those files. Works
    because the fact is written RANGE-partitioned on the key (each
    file owns a key slice — a hash-distributed write makes every
    file span the domain and min/max prune nothing; that layout is
    what Z-order/``repartitionByRange`` exist for). Pruning
    effectiveness is asserted in-query; the oracle is the plain
    join, certifying no file the answer needed was skipped.

    100 TB: the dim-driven file prune costs one metadata pass and
    turns a 7-year fact scan into the 1-year slice the dim selects —
    on clusters where partition layout doesn't match the join key,
    this manifest form is the only skipping available."""
    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.sinks import manifest as MF

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", _cents("o_totalprice").alias("cents")
    )
    path = pid_scratch_dir("spark_graft_dimskip_")
    MF.write_with_manifest(
        spark,
        o.repartitionByRange(16, "o_custkey"),
        path,
        stats_cols=["o_custkey"],
    )
    mx = load_table(spark, sf_dir, "customer").agg(
        F.max("c_custkey")
    ).collect()[0][0]
    # the "dim": customers in the top ~10% of the keyspace
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") > (9 * mx) // 10)
        .select("c_custkey", "c_nationkey")
    )
    lo, hi = dim.agg(
        F.min("c_custkey"), F.max("c_custkey")
    ).collect()[0]
    fact, stats = MF.read_with_skipping(spark, path, "o_custkey", lo, hi)
    assert 0 < stats["files_read"] < stats["files_total"], stats
    return (
        fact.join(dim, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_nationkey").alias("nation_key"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("nation_key")
    )


QUERIES["manifest_dim_driven_skipping"] = manifest_dim_driven_skipping
ORACLES["manifest_dim_driven_skipping"] = f"""
    WITH mx AS (SELECT max(c_custkey) AS m FROM customer),
    dim AS (
      SELECT c_custkey, c_nationkey FROM customer, mx
      WHERE c_custkey > (9 * m) // 10
    )
    SELECT c_nationkey AS nation_key,
           count(*)::BIGINT AS n_orders,
           CAST(sum({_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM orders JOIN dim ON o_custkey = c_custkey
    GROUP BY 1 ORDER BY nation_key
"""


# --- 14. Metadata-only NDV estimate (per-file KMV sidecar) ----------------------


def metadata_ndv_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDV from METADATA alone (``sinks/ndv.py``): per-file KMV
    sketches built once at write time; the table-level distinct-count
    estimate is a driver-side merge of |files| k-long lists — no data
    read at query time. KMV is mergeable (k smallest of a union ⊆
    union of per-side k smallest), so the merged sketch is EXACTLY
    the sketch a single pass over the table would build — and because
    hashing is the engine-identical md5-fold, the DuckDB oracle
    recomputes the identical k-min set, kth hash and integer
    estimate: the driver hash-matches the estimator itself, not an
    error bound.

    100 TB: this is Iceberg's puffin-NDV pattern — the optimizer's
    join-size decisions read file stats, never the data; sketch
    build rides the write, merge cost is |files|·K longs."""
    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.sinks import ndv as NDV

    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    path = pid_scratch_dir("spark_graft_ndv_")
    o.repartition(8, "o_custkey").write.parquet(path)
    NDV.attach_ndv(spark, path, "o_custkey")
    est = NDV.estimate_ndv(path, "o_custkey")
    from etl_extractor_spark.operators.common import small_df

    return small_df(
        spark,
        [(est["k_eff"], est["kth_hash"], est["est_ndv"])],
        "k_eff long, kth_hash long, est_ndv long",
    )


from etl_extractor_spark.sinks.ndv import K as NDV_K  # noqa: E402

QUERIES["metadata_ndv_estimate"] = metadata_ndv_estimate
ORACLES["metadata_ndv_estimate"] = f"""
    WITH h AS (
      SELECT DISTINCT CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12))
             AS BIGINT) AS h
      FROM orders WHERE o_custkey IS NOT NULL
    ), kmin AS (
      SELECT h FROM h ORDER BY h LIMIT {NDV_K}
    )
    SELECT count(*)::BIGINT AS k_eff,
           max(h) AS kth_hash,
           CASE WHEN count(*) < {NDV_K} THEN count(*)
                ELSE ({NDV_K} - 1) * {2**48} // max(h)
           END::BIGINT AS est_ndv
    FROM kmin
"""


# --- 15. Table history as a queryable relation ----------------------------------


def table_history_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``.history`` metadata-table surface (Iceberg/Delta expose
    snapshots as queryable relations): after a deterministic commit
    sequence — base write (2 files), WAP append of the 2001 tail
    (1 file), an equality-delete commit — the snapshot log itself is
    the query result: (snapshot_id, n_data_files, n_delete_files,
    total_rows). The oracle recomputes every row from the fixture's
    rules, so the hash certifies the HISTORY BOOKKEEPING: appends
    extend the file list without touching prior entries, delete
    commits keep the data-file set and add delete refs, and
    total_rows tracks the data files (MOR subtraction is a read-time
    concern, recorded as delete refs — exactly Iceberg's model).

    100 TB: the history relation is the audit surface operators
    actually query ('what changed this week, how many files per
    commit') — metadata-sized at any table size."""
    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.sinks import manifest as MF

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", _cents("o_totalprice").alias("cents")
    )
    path = pid_scratch_dir("spark_graft_hist_")
    split = F.col("o_orderdate") < F.lit("2001-01-01")
    # repartition, not coalesce: coalesce only REDUCES, so a source
    # that already arrives single-partitioned writes 1 file and the
    # pinned history diverges
    MF.write_with_manifest(
        spark, o.filter(split).repartition(2), path, stats_cols=["o_orderkey"]
    )
    MF.wap_commit(
        spark, path, o.filter(~split).repartition(1), lambda df: (True, {})
    )
    MF.write_equality_deletes(
        spark,
        path,
        o.filter(split & (F.col("o_orderkey") % 113 == 0)).select(
            "o_orderkey"
        ),
    )
    hist = [
        (
            s["id"],
            len(s["files"]),
            len(s.get("delete_files", [])),
            s["total_rows"],
        )
        for s in MF.read_manifest(path)["snapshots"]
    ]
    from etl_extractor_spark.operators.common import small_df

    return small_df(
        spark,
        hist,
        "snapshot_id long, n_data_files long, n_delete_files long, total_rows long",
    ).orderBy("snapshot_id")


QUERIES["table_history_query"] = table_history_query
ORACLES["table_history_query"] = """
    WITH n AS (
      SELECT
        count(*) FILTER (o_orderdate < DATE '2001-01-01') AS n_base,
        count(*) FILTER (o_orderdate >= DATE '2001-01-01') AS n_tail
      FROM orders
    )
    SELECT 0::BIGINT AS snapshot_id, 2::BIGINT AS n_data_files,
           0::BIGINT AS n_delete_files, CAST(n_base AS BIGINT) AS total_rows
    FROM n
    UNION ALL
    SELECT 1, 3, 0, CAST(n_base + n_tail AS BIGINT) FROM n
    UNION ALL
    SELECT 2, 3, 1, CAST(n_base + n_tail AS BIGINT) FROM n
    ORDER BY snapshot_id
"""


# --- 16. Streaming WAP gate (21st certified stream) -----------------------------


def streaming_wap_gate_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """21st certified stream: the Write-Audit-Publish gate INSIDE a
    stream — every micro-batch stages, audits its own written bytes,
    and publishes only on a pass; a corrupted batch is rejected WHOLE
    (no partial rows) while the stream keeps running. The fixture
    corrupts batch 1 at build time (values negated for event_id % 5
    = 0 rows), so the audit ('no negative values') deterministically
    rejects exactly that batch; the published table is certified
    against the oracle's batch-rule derivation (all events with
    event_id % 3 != 1), proving both directions: clean batches fully
    visible, not one corrupted row leaked, and — unlike the batch WAP
    twin — that a mid-stream rejection neither stops the stream nor
    taints later commits.

    100 TB: this is how a streaming ingest enforces data contracts —
    per-batch audit cost, atomic manifest visibility, rejected
    batches quarantined for replay after upstream fixes. Composes
    ``sinks/manifest.wap_commit`` with the streaming engine
    unchanged."""
    import os

    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.plans.pipeline_ops8 import _write_pinned_batches
    from etl_extractor_spark.sinks import manifest as MF
    from etl_extractor_spark.streaming import events_stream as SE

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    corrupt = F.when(
        (F.col("event_id") % 3 == 1) & (F.col("event_id") % 5 == 0),
        -F.col("value"),
    ).otherwise(F.col("value"))
    src = pid_scratch_dir("spark_graft_swap_src_")
    _write_pinned_batches(
        [
            e.withColumn("value", corrupt).filter(F.col("event_id") % 3 == k)
            for k in range(3)
        ],
        src,
        "ev",
    )
    table = pid_scratch_dir("spark_graft_swap_tbl_")
    MF.write_with_manifest(
        spark,
        e.filter(F.lit(False)).repartition(1),
        table,
        stats_cols=["event_id"],
    )

    def audit(df: DataFrame):
        n_bad = df.filter(F.col("value") < 0).count()
        return n_bad == 0, {"violations": n_bad}

    results: list = []

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        res = MF.wap_commit(spark, table, batch_df, audit)
        results.append((batch_id, res["published"]))

    schema = spark.read.parquet(src + "/ev-b0.parquet").schema
    SE.run_foreach_batch(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/ev-*.parquet"),
        gate,
        os.path.join(table, "_stream_ckpt"),
    )
    assert results == [(0, True), (1, False), (2, True)], results
    assert MF.vacuum(table, dry_run=True) == []

    return (
        MF.read_table(spark, table)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


QUERIES["streaming_wap_gate_replay"] = streaming_wap_gate_replay
ORACLES["streaming_wap_gate_replay"] = """
    SELECT event_type,
           count(*)::BIGINT AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events WHERE event_id % 3 != 1
    GROUP BY 1 ORDER BY event_type
"""


# --- 17. SCD2 temporal join (historically accurate enrichment) ------------------


def scd2_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DW query SCD2 history EXISTS for — historically accurate
    fact enrichment: every order joins the dimension VERSION that was
    valid ON ITS ORDER DATE, not today's row. The dimension is built
    with two deterministic segment changes per affected key (%7 keys
    move to GOLD on 1997-01-01; %11-and-not-%7 keys to SILVER on
    1999-06-01), so pre-change orders enrich with the ORIGINAL
    segment and post-change orders with the new one — the oracle
    re-derives the version rule per order date, so the hash certifies
    interval-correct version resolution across both change dates and
    the open current interval.

    Plan: equi-join on the key plus the interval predicate — Spark
    executes the key join and filters versions (each key has ≤3
    versions, so the fan-out is bounded by history depth, not table
    size); no window, no as-of sort. At 100 TB this is one shuffle on
    the join key, the same cost as the naive (wrong) current-version
    join."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    v0 = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1990-01-01").alias("valid_from"),
        F.when(F.col("c_custkey") % 7 == 0, "1997-01-01")
        .when(F.col("c_custkey") % 11 == 0, "1999-06-01")
        .otherwise(None)
        .alias("valid_to"),
    )
    v1 = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.lit("GOLD").alias("segment"),
        F.lit("1997-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    v2 = c.filter(
        (F.col("c_custkey") % 11 == 0) & (F.col("c_custkey") % 7 != 0)
    ).select(
        "c_custkey",
        F.lit("SILVER").alias("segment"),
        F.lit("1999-06-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    dim = v0.unionByName(v1).unionByName(v2)
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("string").alias("d"),
        _cents("o_totalprice").alias("cents"),
    )
    j = o.join(
        dim,
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("valid_from") <= F.col("d"))
        & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("d"))),
    )
    return (
        j.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("segment")
    )


QUERIES["scd2_temporal_join"] = scd2_temporal_join
ORACLES["scd2_temporal_join"] = f"""
    SELECT CASE
             WHEN c_custkey % 7 = 0 AND o_orderdate >= DATE '1997-01-01'
               THEN 'GOLD'
             WHEN c_custkey % 11 = 0 AND c_custkey % 7 != 0
                  AND o_orderdate >= DATE '1999-06-01'
               THEN 'SILVER'
             ELSE c_mktsegment
           END AS segment,
           count(*)::BIGINT AS n_orders,
           CAST(sum({_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1 ORDER BY segment
"""


# --- 17b. Schema-compatibility audit ---------------------------------------------


def schema_compat_classify(old, new) -> list[tuple]:
    """Classify the field-level changes between two schemas by the
    standard data-contract rules (the check a WAP gate or a registry
    runs before accepting a producer's new schema):

    - widened numeric within a family (int→bigint, float→double):
      ``widened`` / compatible — old readers' values fit losslessly;
    - added NULLABLE field: ``added_nullable`` / compatible — old
      rows read as null;
    - added non-nullable field: ``added_required`` / BREAKING — old
      rows cannot satisfy it;
    - dropped field: ``dropped`` / BREAKING — consumers referencing
      it fail;
    - any other type change (narrowing, cross-family): ``retyped`` /
      BREAKING.

    Pure metadata logic (reuses the widening lattice of
    ``pipeline_ops7``) — runs on the driver at contract-check time,
    never touches data."""
    from etl_extractor_spark.plans.pipeline_ops7 import _widened_type

    old_f = {f.name: f for f in old.fields}
    new_f = {f.name: f for f in new.fields}
    out: list[tuple] = []
    for name in sorted(set(old_f) | set(new_f)):
        if name not in new_f:
            out.append((name, "dropped", "breaking"))
            continue
        if name not in old_f:
            kind = "added_nullable" if new_f[name].nullable else "added_required"
            out.append(
                (name, kind, "ok" if new_f[name].nullable else "breaking")
            )
            continue
        a, b = old_f[name].dataType.typeName(), new_f[name].dataType.typeName()
        if a == b:
            # nullability TIGHTENING on an existing field is breaking
            # for the same reason added_required is: old rows holding
            # nulls cannot satisfy it (review catch — this was
            # classified 'unchanged'/'ok')
            if old_f[name].nullable and not new_f[name].nullable:
                out.append((name, "required_tightened", "breaking"))
            else:
                out.append((name, "unchanged", "ok"))
            continue
        # ONE widening lattice for the whole repo (review catch: an
        # inline re-encoding of the family rule drifts from ops7's):
        # widened iff the lattice join is the NEW type.
        try:
            widened_to = _widened_type(a, b)
        except ValueError:
            out.append((name, "retyped", "breaking"))
            continue
        if widened_to == b:
            out.append((name, "widened", "ok"))
        else:
            out.append((name, "retyped", "breaking"))  # narrowing
    return out


def schema_compat_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract enforcement surface: a producer proposes schema
    v2 for the orders feed — one widened type (int→bigint), one new
    nullable column, one new REQUIRED column, one dropped column, one
    cross-family retype — and the audit classifies every field by the
    compatibility rules (``schema_compat_classify``). The oracle pins
    the classification literally, certifying the rule table the WAP
    gate would enforce. Pure metadata — the only Spark work is
    reading two schemas.

    100 TB: schema checks are what keep a thousand-producer lake from
    silently breaking consumers; the audit cost is independent of
    data volume by construction."""
    from pyspark.sql import types as T

    v1 = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("int").alias("o_orderkey"),
        "o_custkey",
        F.col("o_totalprice").cast("float").alias("o_totalprice"),
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        "o_orderstatus",
    ).schema
    v2 = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType(), True),  # widened
            T.StructField("o_custkey", T.LongType(), True),  # unchanged
            T.StructField("o_totalprice", T.StringType(), True),  # retyped
            T.StructField("o_orderdate", T.DateType(), False),  # tightened
            # o_orderstatus dropped
            T.StructField("o_channel", T.StringType(), True),  # + nullable
            T.StructField("o_tenant", T.StringType(), False),  # + required
        ]
    )
    from etl_extractor_spark.operators.common import small_df

    return small_df(
        spark,
        schema_compat_classify(v1, v2),
        "field string, change string, verdict string",
    ).orderBy("field")


QUERIES["schema_compat_audit"] = schema_compat_audit
ORACLES["schema_compat_audit"] = """
    SELECT * FROM (VALUES
      ('o_channel', 'added_nullable', 'ok'),
      ('o_custkey', 'unchanged', 'ok'),
      ('o_orderdate', 'required_tightened', 'breaking'),
      ('o_orderkey', 'widened', 'ok'),
      ('o_orderstatus', 'dropped', 'breaking'),
      ('o_tenant', 'added_required', 'breaking'),
      ('o_totalprice', 'retyped', 'breaking')
    ) AS t(field, change, verdict)
    ORDER BY field
"""


# --- 18. Target-file-size write (small-files prevention) ------------------------


def write_target_file_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-side small-files prevention — the sibling of compaction
    (which REPAIRS a bad layout after the fact): measure bytes/row
    with one bounded key-spread sample write of the PROJECTED data,
    plan the output file count from it, and write exactly that many
    files, each near the target. In-query asserts pin the layout
    contract: file count == the computed plan and no file beyond
    2× target. The
    oracle certifies the values survived the re-layout (read-back
    rollup == source rollup).

    100 TB: a 1000-executor job writing per-task files produces
    200k tiny files per table per day — the metadata death every
    lakehouse runbook warns about; sizing writes at the source keeps
    compaction for the delete-absorption path only."""
    import os

    from etl_extractor_spark.operators.common import pid_scratch_dir

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _cents("o_totalprice").alias("cents")
    )
    # Size from the WRITTEN projection, not the source table: the
    # projected row is a fraction of the source row and compresses
    # differently, so source bytes mis-size the plan (first cut used
    # dir_bytes(source) — 0 for single-file tables — and wrote one
    # 14.6 MB file at sf1 against a 256 KB target). Sample-write a
    # bounded row count once, measure bytes/row, extrapolate.
    target = 256 * 1024  # test-scale target; 128 MB in production
    sample_n = 10_000
    total_rows = o.count()
    probe = pid_scratch_dir("spark_graft_tfs_probe_")
    # spread the sample across the WHOLE table by key modulo — a
    # limit() sample reads only the first partitions, and a
    # better-compressing prefix (sorted/clustered head) would
    # under-size bpr and blow the 2× bound (review catch)
    step = max(1, total_rows // sample_n)
    sample = o.filter(F.col("o_orderkey") % step == 0)
    n_sampled = sample.count()
    if n_sampled == 0:  # degenerate tiny input: take it all
        sample, n_sampled = o, total_rows
    sample.coalesce(1).write.parquet(probe)
    sample_bytes = sum(
        os.path.getsize(os.path.join(probe, f))
        for f in os.listdir(probe)
        if f.endswith(".parquet")
    )
    bpr = sample_bytes / max(1, n_sampled)
    n_files = max(1, int(round(total_rows * bpr / target)))
    path = pid_scratch_dir("spark_graft_tfs_")
    o.repartition(int(n_files)).write.parquet(path)
    files = [
        f
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    assert len(files) == n_files, (len(files), n_files)
    sizes = [os.path.getsize(os.path.join(path, f)) for f in files]
    assert max(sizes) <= 2 * target, (max(sizes), target)
    return (
        spark.read.parquet(path)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )


QUERIES["write_target_file_size"] = write_target_file_size
ORACLES["write_target_file_size"] = f"""
    SELECT count(*)::BIGINT AS n_orders,
           CAST(sum({_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM orders
"""


# --- 19. Multi-table transaction with crash isolation ----------------------------


def txn_consistent_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-TABLE transactional consistency
    (``sinks/manifest.txn_commit``): two derived tables — per-year
    order counts and per-segment customer counts — must always be
    read AS A PAIR from the same transaction. Epoch 1 commits both
    (full data); epoch 2 begins by committing a NEW snapshot to the
    orders rollup (pre-2000 only) and then CRASHES before the second
    table and before the txn-log publish — exactly the torn state a
    two-table pipeline leaves on failure. The query reads both tables
    three ways and the oracle pins each: (a) txn_read after the torn
    write still serves epoch 1 for BOTH tables (the pointer set is
    atomic — the half-committed snapshot is invisible); (b) the
    NAIVE current-view read of the orders table sees the torn epoch-2
    data (demonstrating the inconsistency the log prevents); (c)
    after the retried transaction completes, txn_read serves epoch 2
    for both. Torn-state isolation is certified by VALUES, not just
    asserts.

    100 TB: cross-table atomicity is the catalog-level frontier
    (multi-table transactions); the cost model is per-table COW
    commits + one atomic pointer write, with crash recovery = retry
    the transaction."""
    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.sinks import manifest as MF

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", _cents("o_totalprice").alias("cents")
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    t_orders = pid_scratch_dir("spark_graft_txn_o_")
    t_cust = pid_scratch_dir("spark_graft_txn_c_")
    log_dir = pid_scratch_dir("spark_graft_txn_log_")

    def orders_rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.col("o_orderdate").cast("string").substr(1, 4).alias("year")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )

    cust_rollup = c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.lit(0).cast("long").alias("cents"),
    )
    # seed: tables must exist as manifest-tracked before COW commits
    MF.write_with_manifest(
        spark, orders_rollup(o).limit(0), t_orders, stats_cols=["n"]
    )
    MF.write_with_manifest(
        spark, cust_rollup.limit(0), t_cust, stats_cols=["n"]
    )
    # epoch 1: both tables, one transaction
    MF.txn_commit(
        spark, log_dir, {t_orders: orders_rollup(o), t_cust: cust_rollup}
    )
    # epoch 2 attempt: commit ONLY the orders table, then "crash"
    # (no second-table commit, no txn-log publish)
    epoch2_orders = orders_rollup(
        o.filter(F.col("o_orderdate") < F.lit("2000-01-01"))
    )
    MF.replace_table_cow(spark, t_orders, epoch2_orders)

    def tag(df: DataFrame, view: str, table: str) -> DataFrame:
        return df.groupBy(
            F.lit(view).alias("view"), F.lit(table).alias("rel")
        ).agg(
            F.sum("n").cast("long").alias("total_rows"),
            F.sum("cents").cast("long").alias("total_cents"),
        )

    torn = tag(MF.txn_read(spark, log_dir, t_orders), "txn_after_crash", "orders").unionByName(
        tag(MF.txn_read(spark, log_dir, t_cust), "txn_after_crash", "customer")
    )
    naive = tag(
        MF.read_table(spark, t_orders), "naive_after_crash", "orders"
    )
    # retry: the transaction completes (both tables + pointer publish)
    MF.txn_commit(
        spark, log_dir, {t_orders: epoch2_orders, t_cust: cust_rollup}
    )
    final = tag(MF.txn_read(spark, log_dir, t_orders), "txn_after_retry", "orders").unionByName(
        tag(MF.txn_read(spark, log_dir, t_cust), "txn_after_retry", "customer")
    )
    return torn.unionByName(naive).unionByName(final).orderBy("view", "rel")


QUERIES["txn_consistent_read"] = txn_consistent_read
ORACLES["txn_consistent_read"] = f"""
    WITH o AS (
      SELECT count(*)::BIGINT AS n,
             CAST(sum({_CENTS_SQL}) AS BIGINT) AS cents
      FROM orders
    ), o2 AS (
      SELECT count(*)::BIGINT AS n,
             CAST(sum({_CENTS_SQL}) AS BIGINT) AS cents
      FROM orders WHERE o_orderdate < DATE '2000-01-01'
    ), c AS (
      SELECT count(*)::BIGINT AS n FROM customer
    )
    SELECT 'naive_after_crash' AS view, 'orders' AS rel,
           o2.n AS total_rows, o2.cents AS total_cents FROM o2
    UNION ALL
    SELECT 'txn_after_crash', 'customer', c.n, 0 FROM c
    UNION ALL
    SELECT 'txn_after_crash', 'orders', o.n, o.cents FROM o
    UNION ALL
    SELECT 'txn_after_retry', 'customer', c.n, 0 FROM c
    UNION ALL
    SELECT 'txn_after_retry', 'orders', o2.n, o2.cents FROM o2
    ORDER BY view, rel
"""


# --- 20. Kappa backfill handoff ---------------------------------------------------


def backfill_stream_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch→stream HANDOFF (kappa-architecture migration): a
    historical BACKFILL covers everything before a cutoff day, a
    replayed stream covers the cutoff onward, and the certified
    property is the boundary discipline — no duplicate and no gap at
    the seam. The cutoff is derived from the data (first day of the
    last third of the date range); the backfill reads the table
    batch-side with ``ts < cutoff``, the stream replays pinned batch
    files pre-filtered to ``ts >= cutoff``, both land in one output
    via the same daily rollup, and the oracle is the WHOLE table's
    rollup: any seam duplicate or gap flips a day's count.

    100 TB: every stream adoption runs exactly this job once;
    getting the half-open interval right at the seam is the entire
    correctness content, and it is what the hash certifies."""
    import os

    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.plans.pipeline_ops8 import _write_pinned_batches
    from etl_extractor_spark.streaming import events_stream as SE

    e = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    days = e.select(F.to_date("ts").alias("d")).agg(
        F.min("d").alias("mn"), F.max("d").alias("mx")
    ).collect()[0]
    cutoff = str(days["mn"] + (days["mx"] - days["mn"]) * 2 // 3)
    batch_part = e.filter(F.to_date("ts") < F.lit(cutoff))
    stream_rows = e.filter(F.to_date("ts") >= F.lit(cutoff))
    src = pid_scratch_dir("spark_graft_handoff_src_")
    _write_pinned_batches(
        [stream_rows.filter(F.col("event_id") % 2 == k) for k in range(2)],
        src,
        "ev",
    )
    out_dir = pid_scratch_dir("spark_graft_handoff_out_")
    # backfill leg: plain batch write of the pre-cutoff rollup
    batch_part.groupBy(
        F.to_date("ts").cast("string").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("value").alias("sv"),
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "leg=backfill"))
    # stream leg: replay the post-cutoff files through the same rollup
    schema = spark.read.parquet(src + "/ev-b0.parquet").schema

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.groupBy(
            F.to_date("ts").cast("string").alias("day")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("value").alias("sv"),
        ).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"leg=stream-{batch_id}")
        )

    SE.run_foreach_batch(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/ev-*.parquet"),
        write_batch,
        os.path.join(out_dir, "_ckpt"),
    )
    merged = spark.read.parquet(out_dir + "/leg=*")
    return (
        merged.groupBy("day")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.round(F.sum("sv"), 4).alias("sum_value"),
        )
        .orderBy("day")
    )


QUERIES["backfill_stream_handoff"] = backfill_stream_handoff
ORACLES["backfill_stream_handoff"] = """
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           count(*)::BIGINT AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1 ORDER BY day
"""
