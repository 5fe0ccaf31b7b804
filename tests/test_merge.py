"""Partition-scoped copy-on-write MERGE: upsert, CDC apply, and the
untouched-partition-files-unchanged guarantee (the scale property —
rewrite cost ∝ touched partitions, not table size)."""

from __future__ import annotations

import glob
import os
import tempfile

from pyspark.sql import functions as F

from etl_extractor_spark.sinks.merge import merge_cdc_apply, merge_upsert_partitioned


def _base(spark, path):
    spark.createDataFrame(
        [
            (1, "a", 10.0, "2026-01-01"),
            (2, "b", 20.0, "2026-01-01"),
            (3, "c", 30.0, "2026-01-02"),
            (4, "d", 40.0, "2026-01-03"),
        ],
        ["id", "name", "amt", "dt"],
    ).write.mode("overwrite").partitionBy("dt").parquet(path)


def _files_with_mtime(path, part):
    return {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(path, f"dt={part}", "*.parquet"))
    }


def test_merge_upsert_rewrites_only_touched_partitions(spark):
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "t")
        _base(spark, path)
        untouched_before = _files_with_mtime(path, "2026-01-03")
        assert untouched_before

        updates = spark.createDataFrame(
            [
                (2, "b2", 21.0, "2026-01-01"),  # update existing key
                (5, "e", 50.0, "2026-01-01"),   # insert into existing partition
                (6, "f", 60.0, "2026-01-04"),   # insert into new partition
            ],
            ["id", "name", "amt", "dt"],
        )
        n = merge_upsert_partitioned(spark, path, updates, ["id"], "dt")
        assert n == 2  # 2026-01-01 and 2026-01-04

        got = {
            r["id"]: (r["name"], r["amt"], str(r["dt"]))
            for r in spark.read.parquet(path).collect()
        }
        assert got == {
            1: ("a", 10.0, "2026-01-01"),
            2: ("b2", 21.0, "2026-01-01"),
            3: ("c", 30.0, "2026-01-02"),
            4: ("d", 40.0, "2026-01-03"),
            5: ("e", 50.0, "2026-01-01"),
            6: ("f", 60.0, "2026-01-04"),
        }
        # copy-on-write guarantee: untouched partition's files untouched
        assert _files_with_mtime(path, "2026-01-03") == untouched_before


def test_merge_upsert_is_idempotent(spark):
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "t")
        _base(spark, path)
        updates = spark.createDataFrame(
            [(2, "b2", 21.0, "2026-01-01")], ["id", "name", "amt", "dt"]
        )
        merge_upsert_partitioned(spark, path, updates, ["id"], "dt")
        merge_upsert_partitioned(spark, path, updates, ["id"], "dt")
        df = spark.read.parquet(path)
        assert df.count() == 4
        assert df.filter(F.col("id") == 2).collect()[0]["name"] == "b2"


def test_merge_cdc_latest_change_wins_and_deletes(spark):
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "t")
        _base(spark, path)
        cdc = spark.createDataFrame(
            [
                # key 1: updated then deleted -> gone
                ("U", 1, 1, "a1", 11.0, "2026-01-01"),
                ("D", 2, 1, None, None, "2026-01-01"),
                # key 2: deleted then re-inserted -> present with new value
                ("D", 1, 2, None, None, "2026-01-01"),
                ("I", 2, 2, "b9", 29.0, "2026-01-01"),
                # key 9: fresh insert
                ("I", 1, 9, "i", 90.0, "2026-01-02"),
            ],
            ["op", "seq", "id", "name", "amt", "dt"],
        )
        n = merge_cdc_apply(spark, path, cdc, ["id"], "dt")
        assert n == 2

        got = {r["id"]: (r["name"], r["amt"]) for r in spark.read.parquet(path).collect()}
        assert 1 not in got
        assert got[2] == ("b9", 29.0)
        assert got[9] == ("i", 90.0)
        assert got[3] == ("c", 30.0)  # untouched partition intact
        assert got[4] == ("d", 40.0)


def test_partitioned_overwrite_after_merge_drops_stale_partitions(spark, tmp_path):
    """A merge overwrites dynamically for its own write only: a later
    partitioned overwrite in the session (as ``load_gold`` writes
    ``fact_opinion`` by ``anio``) replaces the whole table, so a
    partition missing from its new output is gone."""
    from etl_extractor_spark.sinks.writers import write_observed

    path = str(tmp_path / "t")
    _base(spark, path)
    updates = spark.createDataFrame([(2, "b2", 21.0, "2026-01-01")], ["id", "name", "amt", "dt"])
    merge_upsert_partitioned(spark, path, updates, ["id"], "dt")

    gold = str(tmp_path / "gold")
    facts = spark.createDataFrame([(1, 2023), (2, 2024)], ["id", "anio"])
    write_observed(facts, gold, partition_by=["anio"])
    write_observed(facts.filter(F.col("anio") == 2024), gold, partition_by=["anio"])
    assert [(r["id"], r["anio"]) for r in spark.read.parquet(gold).collect()] == [(2, 2024)]
