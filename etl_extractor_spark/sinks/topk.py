"""Incrementally-maintained top-k tables.

Top-k by a metric is a mergeable summary: top_k(A ∪ B) =
top_k(top_k(A) ∪ top_k(B)). So a streaming "leaderboard" never needs
the full history — each batch reduces to its own top-k (one narrow
sort of k×partitions rows after a per-partition take), merges with the
k-row state, and rewrites k rows. State size is O(k) forever; per-batch
cost is O(batch + k). The same watermark file as sinks/incremental.py
makes replays no-ops.

Ordering is total (metric desc, then ``tiebreak`` asc), so the result
is deterministic and equal to a one-shot batch top-k — asserted in
tests/test_streaming.py.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_extractor_spark.operators.common import batch_watermark

_META = "_topk_meta.json"


def read_topk(spark: SparkSession, state_path: str) -> DataFrame | None:
    d = os.path.join(state_path, "data")
    return spark.read.parquet(d) if os.path.exists(d) else None


def _take_topk(df: DataFrame, metric: str, k: int, tiebreak: str) -> DataFrame:
    return df.orderBy(F.desc(metric), F.asc(tiebreak)).limit(k)


def apply_topk_batch(
    spark: SparkSession,
    state_path: str,
    delta: DataFrame,
    metric: str,
    k: int,
    tiebreak: str,
    batch_id: int,
) -> DataFrame:
    """Merge one batch into the k-row state; replays are no-ops."""
    current = read_topk(spark, state_path)
    if batch_id <= batch_watermark(state_path, _META):
        if current is None:
            raise RuntimeError("watermark exists but state is missing")
        return current

    candidates = _take_topk(delta, metric, k, tiebreak)
    merged = (
        candidates
        if current is None
        else _take_topk(current.unionByName(candidates), metric, k, tiebreak)
    )

    tmp, dst = os.path.join(state_path, "data.tmp"), os.path.join(state_path, "data")
    merged.coalesce(1).write.mode("overwrite").parquet(tmp)
    if os.path.exists(dst):
        shutil.rmtree(dst)
    os.rename(tmp, dst)
    with open(os.path.join(state_path, _META), "w") as fh:
        json.dump({"batch_id": batch_id}, fh)
    return spark.read.parquet(dst)


def run_streaming_topk(
    stream_df: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    metric: str,
    k: int,
    tiebreak: str,
) -> int:
    """Streaming leaderboard: foreachBatch → apply_topk_batch.
    Checkpointed offsets + the batch-id watermark give effective
    exactly-once; state stays k rows regardless of stream length.
    Returns batches applied this run."""
    from etl_extractor_spark.streaming.events_stream import run_foreach_batch

    applied = {"n": 0}

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_topk_batch(
            batch_df.sparkSession, state_path, batch_df, metric, k, tiebreak,
            batch_id=batch_id,
        )
        applied["n"] += 1

    run_foreach_batch(stream_df, on_batch, checkpoint_dir)
    return applied["n"]
