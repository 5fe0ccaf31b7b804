"""Incrementally-maintained aggregate tables (materialized-view merge).

Recomputing a grouped aggregate over 100 TB because one day of data
arrived is the canonical scale failure. The fix: persist the aggregate
STATE as mergeable partials (sum/count/min/max — any commutative
monoid), partial-aggregate each new batch (map-side combine, shuffle
O(groups-in-batch) not O(rows-ever)), and merge into the state. Cost
per batch scales with the batch + the group count, never with table
history. avg and friends derive from (sum, count) at read time;
count-distinct needs a mergeable sketch (see approx_distinct_tokens)
and is deliberately not offered exactly here.

Replay safety: each apply carries a monotonically increasing
``batch_id`` recorded in a watermark file next to the state. A replay
of an already-applied batch (at-least-once upstream delivery, retried
jobs) is a no-op — the same exactly-once recipe as the foreachBatch
sink in streaming/events_stream.py, usable from plain batch jobs.

The reference's analog is its append-duplication bug on rerun
(SURVEY §4.2.5, reference sync_dimensions_dw.py:43-49) — the watermark
is the fix we ship instead of copying the accident.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_extractor_spark.operators.common import batch_watermark

_META = "_incremental_meta.json"

# measure -> (partial expr builder, merge expr builder)
_MERGEABLE = {
    "sum": (F.sum, F.sum),
    "count": (lambda c: F.count(F.lit(1)), F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
    # bitwise-OR fold of 64-bit bitmap words — the mergeable state of
    # the exact-distinct bitmap family (plans/pipeline_ops7): OR is
    # associative + commutative + idempotent, so replayed batches and
    # reordered micro-batches converge like every other measure here.
    "bit_or": (F.bit_or, F.bit_or),
}


def read_state(spark: SparkSession, state_path: str) -> DataFrame | None:
    if not os.path.exists(os.path.join(state_path, "data")):
        return None
    return spark.read.parquet(os.path.join(state_path, "data"))


def apply_batch(
    spark: SparkSession,
    state_path: str,
    delta: DataFrame,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
    batch_id: int,
) -> DataFrame:
    """Merge one batch into the aggregate state and return the new
    state DataFrame.

    ``measures`` maps output column → (agg, source_col) with agg in
    {sum, count, min, max}; e.g. ``{"revenue": ("sum", "price"),
    "n": ("count", "*")}``. Batches with ``batch_id`` at or below the
    stored watermark are skipped (replay no-op).
    """
    unknown = {a for a, _ in measures.values()} - set(_MERGEABLE)
    if unknown:
        raise ValueError(f"non-mergeable aggregates: {sorted(unknown)}")

    current = read_state(spark, state_path)
    if batch_id <= batch_watermark(state_path, _META):
        if current is None:
            raise RuntimeError("watermark exists but state is missing")
        return current  # already applied — exactly-once replay guard

    partial = delta.groupBy(*keys).agg(
        *[
            _MERGEABLE[agg][0](src if src != "*" else F.lit(1)).alias(out)
            for out, (agg, src) in sorted(measures.items())
        ]
    )
    merged = (
        partial
        if current is None
        else current.unionByName(partial)
        .groupBy(*keys)
        .agg(
            *[
                _MERGEABLE[agg][1](out).alias(out)
                for out, (agg, _) in sorted(measures.items())
            ]
        )
    )

    # write-new-then-swap: readers never observe a half-written state
    tmp = os.path.join(state_path, "data.tmp")
    dst = os.path.join(state_path, "data")
    merged.write.mode("overwrite").parquet(tmp)
    if os.path.exists(dst):
        shutil.rmtree(dst)
    os.rename(tmp, dst)
    with open(os.path.join(state_path, _META), "w") as fh:
        json.dump({"batch_id": batch_id}, fh)
    return spark.read.parquet(dst)
