"""Sinks (K1-K4).

Reference parity: K1 replace-write ("upsert" that is truncate+load,
reference load/load_to_staging.py:4-5) → overwrite-mode parquet;
K2/K3 append writes → append mode; K4 index DDL → the Spark-native
analogs are partitioned layout and bucketing, which is what actually
accelerates key lookups on a cluster (there are no secondary indexes
in Spark).

All writers are idempotent in overwrite mode, which also fixes the
reference's rerun-duplication bug (SURVEY §4.2.5) by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_append(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    df.write.mode("append").format(fmt).save(path)


def write_observed(
    df: DataFrame,
    path: str,
    metrics: dict | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> dict:
    """Write with free metrics: attach an Observation so row counts
    (and any caller-supplied aggregate expressions) are collected ON
    the write pass itself — no second count() job over the data.

    This is the scale-correct version of the reference's per-stage
    ``len(df)`` logging (reference main.py:45,59,72,93,...,411 — SURVEY
    A3): at 100 TB a separate count re-scans the table; an observed
    metric rides the same task set for free. Returns the metrics dict
    (always includes ``rows``).

    ``partition_by`` is the K4 analog: physical layout keyed for
    partition pruning. A fact table partitioned by date key turns
    time-range scans into directory pruning — the 100 TB equivalent of
    the reference's B-tree index on fecha_key (reference
    load/load_to_staging.py:9-15).
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    exprs = [F.count(F.lit(1)).alias("rows")]
    for name, col in (metrics or {}).items():
        exprs.append(col.alias(name))
    writer = df.observe(obs, *exprs).write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
    return obs.get
