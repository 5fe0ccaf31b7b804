"""Incremental MERGE on plain parquet — Delta-style copy-on-write
without a transactional table format (none in this container).

The reference's only "merge" is truncate+load (reference
load/load_to_staging.py:4-5). Real warehouses need key-level upsert
with delete support; on parquet the efficient form is PARTITION-SCOPED
copy-on-write, exactly what Delta/Iceberg MERGE compiles to when the
join keys correlate with the partition column:

1. find the partitions the update batch touches (metadata-scale
   distinct, not a data collect),
2. rewrite ONLY those partitions (anti join old ∪ new),
3. dynamic partition overwrite leaves every untouched partition's
   files byte-identical on disk.

At 100 TB this is the difference between rewriting a few date
partitions and rewriting the table: cost scales with the update
batch's partition footprint, not table size. The rewrite join shuffles
only the touched slice, and the update side is typically small enough
to broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from etl_extractor_spark.operators.checkpoints import reliable_checkpoint


def merge_upsert_partitioned(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
) -> int:
    """MERGE INTO target USING updates ON keys (update-or-insert).

    Rows in `updates` replace target rows with the same key; new keys
    are inserted. A key's partition value may change (the old row is
    dropped from its old partition only if that partition is touched —
    callers moving rows across partitions should include both
    partitions in the batch, same contract as Hive dynamic overwrite).

    Returns the number of partitions rewritten.
    """
    touched = [
        r[0] for r in updates.select(partition_col).distinct().collect()
    ]  # metadata-scale: one value per touched partition, never row data
    if not touched:
        return 0

    target_slice = (
        spark.read.parquet(target_path)
        .filter(F.col(partition_col).isin(touched))  # partition-pruned scan
    )
    survivors = target_slice.join(
        F.broadcast(updates.select(*key_cols).distinct()), key_cols, "left_anti"
    )
    merged = survivors.unionByName(updates.select(*survivors.columns))
    # Break lineage before overwriting the path we just read — a lazy
    # plan reading its own output directory mid-overwrite is undefined.
    merged = reliable_checkpoint(merged)
    writer = merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    writer.partitionBy(partition_col).parquet(target_path)
    return len(touched)


def merge_cdc_apply(
    spark: SparkSession,
    target_path: str,
    cdc: DataFrame,
    key_cols: list[str],
    partition_col: str,
    op_col: str = "op",
    seq_col: str = "seq",
) -> int:
    """Apply a change-data-capture batch: rows tagged I/U/D with a
    monotonically increasing sequence. Per key, only the LATEST change
    wins (window dedup on seq); D deletes the key, I/U upsert it.

    Returns the number of partitions rewritten.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
    latest = (
        cdc.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    touched = [r[0] for r in latest.select(partition_col).distinct().collect()]
    if not touched:
        return 0

    target_slice = spark.read.parquet(target_path).filter(
        F.col(partition_col).isin(touched)
    )
    survivors = target_slice.join(
        F.broadcast(latest.select(*key_cols).distinct()), key_cols, "left_anti"
    )
    upserts = latest.filter(F.col(op_col) != "D").drop(op_col, seq_col)
    merged = survivors.unionByName(upserts.select(*survivors.columns))
    merged = reliable_checkpoint(merged)
    writer = merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    writer.partitionBy(partition_col).parquet(target_path)
    return len(touched)


def scd2_apply(
    target: DataFrame,
    changes: DataFrame,
    key: str,
    attr_cols: list[str],
    change_date: str,
) -> DataFrame:
    """Type-2 slowly-changing-dimension MERGE: close the current row
    of every key whose attributes actually changed (``valid_to`` =
    ``change_date``, ``is_current`` = false) and insert the new
    version (``valid_from`` = ``change_date``). Keys whose incoming
    attributes equal the current row are NO-OPS — re-delivering the
    same change produces zero new versions, which is what makes the
    merge idempotent under at-least-once upstream delivery.

    ``changes`` carries ``key`` + the same-named ``attr_cols``.
    History rows (``is_current`` = false) pass through untouched.

    The change comparison joins current rows to the (small) change
    batch — broadcast when the optimizer sees it small — and the
    output is a pure unionByName of four disjoint classes: history,
    unmatched/no-op current, closed, inserted. One shuffle-free pass
    over the dimension at cluster scale when the dim is
    key-partitioned (the reference's dims are full-reload,
    main.py:97-200; this is the upgrade that keeps their history).
    """
    # Identical redeliveries WITHIN one batch collapse here (the
    # at-least-once model); CONFLICTING same-key changes in one batch
    # need a sequence column — route those through merge_cdc_apply's
    # latest-wins dedup instead.
    # Dedup on the SEMANTIC change identity (key + attrs): callers may
    # pass extra columns (a sequence/ingest-ts), and a full-row
    # dropDuplicates would keep logically identical redeliveries apart
    # — the left join below would then fan out duplicate closed /
    # inserted rows.
    ch = changes.select(key, *attr_cols).dropDuplicates().select(
        key,
        F.lit(1).alias("_matched"),  # null-safe match marker: a change
        *[F.col(a).alias(f"_new_{a}") for a in attr_cols],  # may SET an attr to NULL
    )
    # NULL is_current rows (never-backfilled flags) pass through with
    # history — filter(col) AND filter(~col) would BOTH drop them.
    is_cur = F.coalesce(F.col("is_current"), F.lit(False))
    cur = target.filter(is_cur)
    hist = target.filter(~is_cur)
    # no broadcast HINT: change batches are usually small and the
    # optimizer broadcasts them from stats; a pinned hint would force
    # an OOM build side the day a backfill delivers an SF-scaled batch
    # (repo policy: no hints on potentially SF-scaled aliases).
    j = cur.join(ch, key, "left")
    differs = F.lit(False)
    for a in attr_cols:
        differs = differs | ~F.col(a).eqNullSafe(F.col(f"_new_{a}"))
    changed = F.col("_matched").isNotNull() & differs
    carried = j.filter(~changed).select(*target.columns)
    closed = (
        j.filter(changed)
        .select(*target.columns)
        .withColumn("valid_to", F.lit(change_date))
        .withColumn("is_current", F.lit(False))
    )
    inserted = (
        j.filter(changed)
        .select(
            key,
            *[F.col(f"_new_{a}").alias(a) for a in attr_cols],
            F.lit(change_date).alias("valid_from"),
            F.lit(None).cast("string").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
        .select(*target.columns)
    )
    return hist.unionByName(carried).unionByName(closed).unionByName(inserted)


def merge_full_sync(
    target: DataFrame,
    source: DataFrame,
    key: str,
    attr_cols: list[str],
    sync_id: int,
    meta_col: str = "first_seen",
) -> DataFrame:
    """FULL-SYNC merge (MERGE ... WHEN NOT MATCHED BY SOURCE THEN
    DELETE): the source is the complete desired key set — matched keys
    take the source's attributes but KEEP the target's engine-
    maintained metadata (``meta_col``, e.g. first-seen sync id), new
    keys enter with ``meta_col = sync_id``, and target keys absent
    from the source are DELETED. The dimension-synchronization mode
    the upsert family can't express: upserts never remove, so a
    source-side deletion would leave a zombie row forever.

    One outer join on the key; the result is the caller's to commit
    (replace_table_cow for history-preserving tables). Inner-join +
    anti-join formulation keeps every column resolution explicit —
    no full-outer null-disambiguation on the key.

    Duplicate keys RAISE (real MERGE semantics): a doubled target key
    would silently fan the join out and commit a duplicated dimension
    (review catch); a doubled source key is an upstream bug this merge
    must not launder into the target."""
    for side, df in (("target", target), ("source", source)):
        dup = (
            df.groupBy(key)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"merge_full_sync: duplicate {side} key {dup[0][0]!r} — "
                "MERGE requires unique keys on both sides"
            )
    t = target.select(key, meta_col)
    matched = source.join(t, key, "inner").select(
        key, *attr_cols, F.col(meta_col).cast("long").alias(meta_col)
    )
    fresh = source.join(t, key, "left_anti").select(
        key,
        *attr_cols,
        F.lit(sync_id).cast("long").alias(meta_col),
    )
    return matched.unionByName(fresh)
