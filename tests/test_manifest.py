"""Manifest-based file skipping: stats harvest, pruning correctness
(results identical to a full scan), and the conservative no-stats /
non-clustered-column paths."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from etl_extractor_spark.sinks import manifest as M
from etl_extractor_spark.sources.parquet import load_table


@pytest.fixture(scope="module")
def orders_laid_out(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("manifest") / "orders_by_date")
    o = load_table(spark, sf_dir, "orders")
    laid = o.repartitionByRange(8, "o_orderdate").sortWithinPartitions("o_orderdate")
    man = M.write_with_manifest(
        spark, laid, path, stats_cols=["o_orderdate", "o_totalprice"]
    )
    return path, man


def test_manifest_written_with_stats(orders_laid_out, spark, sf_dir):
    path, man = orders_laid_out
    assert man["n_files"] == 8
    assert man["total_rows"] == load_table(spark, sf_dir, "orders").count()
    for e in man["files"]:
        assert set(e["stats"]) == {"o_orderdate", "o_totalprice"}
        assert e["stats"]["o_orderdate"]["min"] <= e["stats"]["o_orderdate"]["max"]
    assert os.path.exists(os.path.join(path, M.MANIFEST_NAME))


def test_range_predicate_prunes_files_and_matches_full_scan(orders_laid_out, spark):
    path, _ = orders_laid_out
    lo, hi = dt.datetime(1996, 1, 1), dt.datetime(1996, 6, 30)
    df, info = M.read_with_skipping(spark, path, "o_orderdate", lo, hi)
    assert info["files_read"] < info["files_total"], (
        "range-clustered layout must prune files for a narrow date range"
    )
    full = (
        spark.read.parquet(path)
        .filter((F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") <= F.lit(hi)))
    )
    got = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")).alias("s"),
    ).first()
    want = full.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")).alias("s"),
    ).first()
    assert got["n"] == want["n"] and got["n"] > 0
    assert got["s"] == want["s"]


def test_out_of_range_predicate_reads_zero_files(orders_laid_out, spark):
    path, _ = orders_laid_out
    df, info = M.read_with_skipping(
        spark, path, "o_orderdate", dt.datetime(2030, 1, 1), None
    )
    assert info["files_read"] == 0
    assert df.count() == 0
    assert "o_totalprice" in df.columns  # schema preserved for empty plan


def test_non_clustered_column_keeps_all_files_but_stays_correct(
    orders_laid_out, spark
):
    # o_totalprice is uncorrelated with the date layout: every file's
    # [min,max] spans the predicate, so nothing prunes — and nothing
    # may be wrongly dropped.
    path, _ = orders_laid_out
    df, info = M.read_with_skipping(spark, path, "o_totalprice", 400000.0, None)
    assert info["files_read"] == info["files_total"]
    full = spark.read.parquet(path).filter(F.col("o_totalprice") >= 400000.0)
    assert df.count() == full.count()


def test_append_mode_extends_manifest_incrementally(spark, sf_dir, tmp_path):
    path = str(tmp_path / "orders_inc")
    o = load_table(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).repartition(2)
    y96 = o.filter(F.year("o_orderdate") == 1996).repartition(2)
    m1 = M.write_with_manifest(spark, y95, path, ["o_orderdate"], mode="overwrite")
    m2 = M.write_with_manifest(spark, y96, path, ["o_orderdate"], mode="append")
    assert m2["n_files"] == m1["n_files"] + 2
    assert m2["total_rows"] == y95.count() + y96.count()
    # pruning on the append boundary: a 1996-only scan skips the 1995 files
    df, info = M.read_with_skipping(
        spark, path, "o_orderdate", dt.datetime(1996, 1, 1), None
    )
    assert info["files_read"] == 2
    assert df.count() == y96.count()


def test_missing_manifest_falls_back_to_full_scan(spark, sf_dir, tmp_path):
    path = str(tmp_path / "plain")
    load_table(spark, sf_dir, "orders").limit(100).write.parquet(path)
    df, info = M.read_with_skipping(
        spark, path, "o_orderdate", dt.datetime(1990, 1, 1), None
    )
    assert info == {"files_total": -1, "files_read": -1}
    assert df.count() == 100


def test_distributed_footer_harvest_matches_driver_path(spark, sf_dir, tmp_path, monkeypatch):
    path_a = str(tmp_path / "driver_side")
    path_b = str(tmp_path / "exec_side")
    o = load_table(spark, sf_dir, "orders").repartitionByRange(6, "o_orderdate")
    ma = M.write_with_manifest(spark, o, path_a, ["o_orderdate"])
    monkeypatch.setattr(M, "DISTRIBUTE_THRESHOLD", 0)
    mb = M.write_with_manifest(spark, o, path_b, ["o_orderdate"])
    sa = [e["stats"] for e in ma["files"]]
    sb = [e["stats"] for e in mb["files"]]
    assert sa == sb and ma["total_rows"] == mb["total_rows"]


def test_snapshot_history_and_time_travel(spark, sf_dir, tmp_path):
    """Three commits (overwrite + two appends) → three snapshots; each
    one stays readable as-of, planned purely from the manifest."""
    from pyspark.sql import functions as F

    from etl_extractor_spark.sinks.manifest import (
        read_snapshot,
        table_history,
        write_with_manifest,
    )

    orders = load_table(spark, sf_dir, "orders")
    b1 = orders.filter(F.year("o_orderdate") <= 1996)
    b2 = orders.filter(F.year("o_orderdate").isin(1997, 1998))
    b3 = orders.filter(F.year("o_orderdate") >= 1999)
    path = str(tmp_path / "tt")

    write_with_manifest(spark, b1, path, ["o_orderkey"], mode="overwrite")
    write_with_manifest(spark, b2, path, ["o_orderkey"], mode="append")
    write_with_manifest(spark, b3, path, ["o_orderkey"], mode="append")

    hist = table_history(path)
    assert [h["id"] for h in hist] == [0, 1, 2]
    n1, n2, n3 = b1.count(), b2.count(), b3.count()
    assert [h["total_rows"] for h in hist] == [n1, n1 + n2, n1 + n2 + n3]

    as_of_0 = read_snapshot(spark, path, 0)
    assert as_of_0.count() == n1
    # exactly the first batch, not merely the right cardinality
    assert as_of_0.exceptAll(b1).isEmpty() and b1.exceptAll(as_of_0).isEmpty()
    assert read_snapshot(spark, path, 1).count() == n1 + n2
    assert read_snapshot(spark, path, 2).count() == n1 + n2 + n3

    with pytest.raises(KeyError):
        read_snapshot(spark, path, 99)


def test_overwrite_resets_history(spark, sf_dir, tmp_path):
    from etl_extractor_spark.sinks.manifest import (
        table_history,
        write_with_manifest,
    )

    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "reset")
    write_with_manifest(spark, orders, path, ["o_orderkey"], mode="overwrite")
    write_with_manifest(spark, orders, path, ["o_orderkey"], mode="append")
    assert len(table_history(path)) == 2
    write_with_manifest(spark, orders, path, ["o_orderkey"], mode="overwrite")
    hist = table_history(path)
    assert len(hist) == 1 and hist[0]["id"] == 0


def test_compact_with_manifest_repairs_layout(spark, sf_dir, tmp_path):
    """Interleaved appends destroy range locality; compaction with a
    sort column restores file skipping, preserves every row, and
    restarts history at one snapshot (old files are gone)."""
    from etl_extractor_spark.sinks.compact import compact_with_manifest
    from etl_extractor_spark.sinks.manifest import (
        read_with_skipping,
        table_history,
        write_with_manifest,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    path = str(tmp_path / "cmp")
    # 3 appends, each internally range-laid-out → global ranges overlap
    for i, m in enumerate(["overwrite", "append", "append"]):
        batch = li.filter(F.pmod("l_orderkey", F.lit(3)) == i).repartitionByRange(
            4, "l_partkey"
        )
        write_with_manifest(spark, batch, path, ["l_partkey"], mode=m)
    before = M.read_manifest(path)
    assert before["n_files"] == 12
    total = spark.read.parquet(path).count()

    lo = li.agg(F.min("l_partkey")).first()[0]
    hi = li.agg(F.max("l_partkey")).first()[0]
    band = (lo + (hi - lo) * 2 // 5, lo + (hi - lo) * 3 // 5)
    _, overlapped = read_with_skipping(spark, path, "l_partkey", *band)
    # each append overlaps the band with ~half its files — the band
    # predicate must touch every append (no global locality)
    assert overlapped["files_read"] >= 3

    after = compact_with_manifest(spark, path, sort_col="l_partkey", n_files=4)
    assert after["n_files"] < before["n_files"]
    assert spark.read.parquet(path).count() == total
    pruned, info = read_with_skipping(spark, path, "l_partkey", *band)
    assert info["files_read"] < info["files_total"]  # locality restored
    assert info["files_read"] < overlapped["files_read"]  # strictly better
    full = spark.read.parquet(path).filter(
        (F.col("l_partkey") >= band[0]) & (F.col("l_partkey") <= band[1])
    )
    assert pruned.exceptAll(full).isEmpty() and full.exceptAll(pruned).isEmpty()
    hist = table_history(path)
    assert len(hist) == 1 and hist[0]["total_rows"] == total


def test_schema_evolution_on_append(spark, sf_dir, tmp_path):
    """Appending a batch with a new column evolves the manifest schema:
    reads resolve all columns from metadata (no mergeSchema sweep),
    old files yield nulls for the new column, skipping still works."""
    from etl_extractor_spark.sinks.manifest import (
        read_table,
        read_with_skipping,
        write_with_manifest,
    )

    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "evo")
    old_half = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    new_half = (
        orders.filter(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .withColumn("priority_band", F.lit("standard"))
    )
    write_with_manifest(spark, old_half, path, ["o_orderkey"], mode="overwrite")
    write_with_manifest(spark, new_half, path, ["o_orderkey"], mode="append")

    t = read_table(spark, path)
    assert "priority_band" in t.columns
    assert t.count() == orders.count()
    assert t.filter(F.col("priority_band").isNull()).count() == old_half.count()
    assert t.filter(F.col("priority_band") == "standard").count() == new_half.count()

    # plain single-footer read would have missed the evolved column on
    # half the files; skipping still plans from the same manifest
    _, info = read_with_skipping(spark, path, "o_orderkey", 0, 10)
    assert info["files_total"] > 0


def test_pruned_read_resolves_evolved_schema(spark, sf_dir, tmp_path):
    from etl_extractor_spark.sinks.manifest import (
        read_with_skipping,
        write_with_manifest,
    )

    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "evo2")
    write_with_manifest(
        spark,
        orders.select("o_orderkey", "o_totalprice"),
        path,
        ["o_orderkey"],
        mode="overwrite",
    )
    write_with_manifest(
        spark,
        orders.select("o_orderkey", "o_totalprice").withColumn(
            "band", F.lit("b")
        ),
        path,
        ["o_orderkey"],
        mode="append",
    )
    df, _ = read_with_skipping(spark, path, "o_orderkey", 0, 50)
    assert "band" in df.columns  # evolved column visible on pruned scans
    assert df.count() > 0


def test_layout_report_flags_imbalance(spark, sf_dir, tmp_path):
    from etl_extractor_spark.sinks.manifest import layout_report

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    even, skewed = str(tmp_path / "even"), str(tmp_path / "skewed")
    M.write_with_manifest(spark, li.repartition(8), even, ["l_orderkey"])
    # ~87% of rows land in one file
    M.write_with_manifest(
        spark,
        li.repartitionByRange(8, F.pmod("l_orderkey", F.lit(64))),
        skewed,
        ["l_orderkey"],
    )
    r_even, r_skew = layout_report(even), layout_report(skewed)
    assert r_even["total_rows"] == r_skew["total_rows"] == li.count()
    assert r_even["imbalance"] < 1.2
    assert r_skew["imbalance"] > r_even["imbalance"]


def test_vacuum_removes_only_orphans(spark, sf_dir, tmp_path):
    from etl_extractor_spark.sinks.manifest import read_snapshot, vacuum

    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "vac")
    M.write_with_manifest(
        spark, orders.limit(100), path, ["o_orderkey"], mode="overwrite"
    )
    M.write_with_manifest(
        spark, orders.limit(50), path, ["o_orderkey"], mode="append"
    )
    total = spark.read.parquet(path).count()

    # simulate a failed write: an uncommitted part file appears
    orphan = os.path.join(path, "part-99999-orphan.snappy.parquet")
    orders.limit(7).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "o"))
    import shutil

    src = next(
        f for f in os.listdir(str(tmp_path / "o")) if f.endswith(".parquet")
    )
    shutil.copy(os.path.join(str(tmp_path / "o"), src), orphan)
    assert spark.read.parquet(path).count() == total + 7  # orphan pollutes scans

    assert vacuum(path, dry_run=True) == ["part-99999-orphan.snappy.parquet"]
    removed = vacuum(path)
    assert removed == ["part-99999-orphan.snappy.parquet"]
    assert not os.path.exists(orphan)
    assert spark.read.parquet(path).count() == total
    # every snapshot still fully readable
    assert read_snapshot(spark, path, 0).count() == 100
    assert read_snapshot(spark, path, 1).count() == total
    assert vacuum(path) == []  # idempotent


def test_null_count_skipping(spark, sf_dir, tmp_path):
    """Files whose null counts rule them out are skipped for
    IS NULL / IS NOT NULL scans; results equal full filtered scans."""
    from etl_extractor_spark.sinks.manifest import read_null_skipping

    orders = load_table(spark, sf_dir, "orders")
    # three files: all-null / mixed / no-null priority column
    base = orders.limit(300).select("o_orderkey", "o_orderpriority")
    path = str(tmp_path / "nulls")
    allnull = base.limit(100).withColumn(
        "o_orderpriority", F.lit(None).cast("string")
    )
    mixed = base.limit(200).exceptAll(base.limit(100)).withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 2 == 0, F.col("o_orderpriority")),
    )
    nonull = base.exceptAll(base.limit(200))
    for i, (b, m) in enumerate(
        [(allnull, "overwrite"), (mixed, "append"), (nonull, "append")]
    ):
        M.write_with_manifest(
            spark, b.coalesce(1), path, ["o_orderpriority"], mode=m
        )

    want_null, info_n = read_null_skipping(spark, path, "o_orderpriority", True)
    assert info_n["files_read"] < info_n["files_total"]  # no-null file skipped
    full = spark.read.parquet(path)
    assert want_null.count() == full.filter("o_orderpriority IS NULL").count()

    want_nn, info_nn = read_null_skipping(spark, path, "o_orderpriority", False)
    assert info_nn["files_read"] < info_nn["files_total"]  # all-null file skipped
    assert want_nn.count() == full.filter("o_orderpriority IS NOT NULL").count()


def test_merge_on_read_equality_deletes(spark, tmp_path):
    """Delete commits are O(keys) metadata: data files unchanged, a new
    snapshot records the cumulative delete list; readers subtract via
    anti-join; time travel composes across the delete commit; a second
    delete stacks; an overwrite (compaction) absorbs everything."""
    import os

    from etl_extractor_spark.sinks import manifest as MF

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "g" if i % 2 else "h", i * 10) for i in range(1, 21)],
        "k long, g string, v long",
    )
    MF.write_with_manifest(spark, df, path, stats_cols=["k"], mode="overwrite")
    files_before = sorted(os.listdir(path))

    MF.write_equality_deletes(
        spark, path, spark.createDataFrame([(2,), (4,), (6,)], "k long")
    )
    # data files untouched (only the manifest changed and _deletes/ grew)
    assert [
        f for f in sorted(os.listdir(path)) if f.endswith(".parquet")
    ] == [f for f in files_before if f.endswith(".parquet")]

    got = {r["k"] for r in MF.read_merge_on_read(spark, path).collect()}
    assert got == set(range(1, 21)) - {2, 4, 6}
    # time travel: snapshot 0 predates the delete
    pre = {r["k"] for r in MF.read_snapshot_mor(spark, path, 0).collect()}
    assert pre == set(range(1, 21))
    post = {r["k"] for r in MF.read_snapshot_mor(spark, path, 1).collect()}
    assert post == got

    # second delete file stacks cumulatively
    MF.write_equality_deletes(spark, path, spark.createDataFrame([(1,)], "k long"))
    got2 = {r["k"] for r in MF.read_merge_on_read(spark, path).collect()}
    assert got2 == set(range(1, 21)) - {1, 2, 4, 6}
    m = MF.read_manifest(path)
    assert [d["name"] for d in m["delete_files"]] == ["delete-0", "delete-1"]
    assert m["snapshots"][-1]["delete_files"] == ["delete-0", "delete-1"]

    # compaction absorbs: overwrite with the merged view resets history
    # (materialize first — a lazy self-overwrite would read deleted
    # files; real compactions stage to a new location)
    merged_rows = MF.read_merge_on_read(spark, path)
    merged = spark.createDataFrame(merged_rows.collect(), merged_rows.schema)
    MF.write_with_manifest(spark, merged, path, stats_cols=["k"], mode="overwrite")
    m2 = MF.read_manifest(path)
    assert len(m2["snapshots"]) == 1
    clean = {r["k"] for r in MF.read_table(spark, path).collect()}
    assert clean == got2


def test_mor_delete_commits_and_read_start_no_side_job(spark, tmp_path):
    """A delete commit takes its row count from its own write and
    records the delete file's schema, so neither the commits nor a
    merge-on-read plan and read start a count or schema-inference job."""
    from etl_extractor_spark.sinks import manifest as MF

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(i, i * 10) for i in range(1, 21)], "k long, v long")
    MF.write_with_manifest(spark, df, path, stats_cols=["k"], mode="overwrite")
    keys = spark.createDataFrame([(2,), (4,), (4,), (6,)], "k long")
    one = MF.read_table(spark, path).filter("k = 1").select(
        F.col("_metadata.file_name").alias("file_name"),
        F.col("_metadata.row_index").alias("pos"),
    )
    pos = one.unionByName(one)  # a repeated coordinate is one delete row
    sc = spark.sparkContext
    sc.setJobGroup("mor-side-jobs", "delete commits and a merge-on-read read")
    try:
        MF.write_equality_deletes(spark, path, keys)
        m = MF.write_positional_deletes(spark, path, pos)
        got = {r["k"] for r in MF.read_merge_on_read(spark, path).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == set(range(1, 21)) - {1, 2, 4, 6}
    assert [d["rows"] for d in m["delete_files"]] == [3, 1]

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    names = [
        st.getStageInfo(s).name
        for j in st.getJobIdsForGroup("mor-side-jobs")
        for s in st.getJobInfo(j).stageIds
        if st.getStageInfo(s) is not None
    ]
    assert names
    side = [n for n in names if n.startswith(("count at", "parquet at"))]
    assert not side, side


def test_streaming_manifest_sink_exactly_once(spark, tmp_path, sf_dir):
    """foreachBatch → manifest commits are exactly-once: a replayed
    batch id is a no-op (the at-least-once redelivery window closes),
    batch files land with deterministic batch-tagged names, and the
    committed table equals the batch-mode write."""
    from etl_extractor_spark.sinks import manifest as MF
    from etl_extractor_spark.streaming import events_stream as SE

    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ck")
    stream = SE.documents_stream(spark, sf_dir).select("doc_id", "n_chars")
    n = MF.run_streaming_manifest_sink(stream, path, ckpt, stats_cols=["doc_id"])
    assert n >= 1
    total = MF.read_table(spark, path).count()
    batch_total = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert total == batch_total

    # redeliver batch 0 by hand: same id -> refused, table unchanged
    redelivered = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    assert (
        MF.commit_batch(spark, redelivered, path, 0, stats_cols=["doc_id"])
        is False
    )
    assert MF.read_table(spark, path).count() == total
    # a NEW batch id commits and appends
    assert MF.commit_batch(
        spark, redelivered.limit(5), path, 999, stats_cols=["doc_id"]
    )
    assert MF.read_table(spark, path).count() == total + 5
    m = MF.read_manifest(path)
    assert 999 in m["batch_ids"] and 0 in m["batch_ids"]


def test_append_preserves_delete_state(spark, tmp_path):
    """Adding data files never un-deletes rows: an append after a
    delete commit inherits the delete-file set in both the manifest
    and the new snapshot."""
    from etl_extractor_spark.sinks import manifest as MF

    path = str(tmp_path / "t")
    a = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k long, v long")
    MF.write_with_manifest(spark, a, path, stats_cols=["k"], mode="overwrite")
    MF.write_equality_deletes(spark, path, spark.createDataFrame([(2,)], "k long"))
    b = spark.createDataFrame([(4, 40)], "k long, v long")
    MF.write_with_manifest(spark, b, path, stats_cols=["k"], mode="append")
    got = {r["k"] for r in MF.read_merge_on_read(spark, path).collect()}
    assert got == {1, 3, 4}
    m = MF.read_manifest(path)
    assert [d["name"] for d in m["delete_files"]] == ["delete-0"]
    assert m["snapshots"][-1]["delete_files"] == ["delete-0"]


def test_commit_batch_recovers_from_half_finished_attempt(spark, tmp_path):
    """Crash window closed: files moved in by a prior attempt whose id
    never entered the committed set are purged on redelivery, so the
    retry lands exactly one copy (no duplicate rows, no orphan
    batch files)."""
    import os
    import shutil

    from etl_extractor_spark.sinks import manifest as MF

    path = str(tmp_path / "t")
    base = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    MF.write_with_manifest(spark, base, path, stats_cols=["k"], mode="overwrite")
    batch = spark.createDataFrame([(3, 30), (4, 40)], "k long, v long")

    # simulate attempt #1 dying after the file moves AND an interim
    # harvest, but before batch_id 7 was recorded
    stage = str(tmp_path / "stage")
    batch.write.mode("overwrite").parquet(stage)
    parts = [
        f
        for f in sorted(os.listdir(stage))
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    for i, f in enumerate(parts):
        shutil.move(
            os.path.join(stage, f), os.path.join(path, f"batch-7-{i:05d}.parquet")
        )
    MF.harvest_manifest(spark, path, ["k"], prior=MF.read_manifest(path))
    assert MF.read_table(spark, path).count() == 4  # duplicates pending

    # redelivery of batch 7: purge + recommit -> exactly one copy
    assert MF.commit_batch(spark, batch, path, 7, stats_cols=["k"]) is True
    got = sorted(r["k"] for r in MF.read_table(spark, path).collect())
    assert got == [1, 2, 3, 4]
    m = MF.read_manifest(path)
    assert 7 in m["batch_ids"]
    # a second redelivery is now a committed no-op
    assert MF.commit_batch(spark, batch, path, 7, stats_cols=["k"]) is False
    assert MF.read_table(spark, path).count() == 4


def test_manifest_commit_is_atomic_and_snapshot_guard(spark, tmp_path):
    """Round-6 hardening: (a) manifest commits go through temp +
    os.replace — a crash mid-write can never leave truncated JSON over
    the committed manifest; (b) plain read_snapshot REFUSES a
    delete-bearing snapshot (it would silently resurrect deleted rows)
    and points at read_snapshot_mor; (c) out-of-band corruption raises
    an actionable ValueError, not a bare JSONDecodeError."""
    import os

    import pytest as _pytest

    from etl_extractor_spark.sinks import manifest as MF

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 11)], "k long, v long"
    )
    MF.write_with_manifest(spark, df, path, stats_cols=["k"], mode="overwrite")
    # no temp residue after a successful commit (mkstemp names start
    # with the manifest name + '.')
    assert not [
        f for f in os.listdir(path) if f.startswith(MF.MANIFEST_NAME + ".")
    ]

    # pre-delete snapshot reads fine with the plain reader
    assert MF.read_snapshot(spark, path, 0).count() == 10

    MF.write_equality_deletes(spark, path, spark.createDataFrame([(3,)], "k long"))
    # snapshot 1 carries a delete file: the plain reader must refuse
    with _pytest.raises(ValueError, match="read_snapshot_mor"):
        MF.read_snapshot(spark, path, 1)
    # the MOR reader applies it
    assert MF.read_snapshot_mor(spark, path, 1).count() == 9
    # snapshot 0 stays readable by both
    assert MF.read_snapshot(spark, path, 0).count() == 10

    # simulated out-of-band corruption -> explicit error naming the file
    p = os.path.join(path, MF.MANIFEST_NAME)
    with open(p, "w") as fh:
        fh.write('{"version": 2, "files": [')  # truncated JSON
    with _pytest.raises(ValueError, match="corrupt manifest"):
        MF.read_manifest(path)


def test_manifest_mode_is_umask_default_not_0600(spark, tmp_path):
    """Advice r6: mkstemp creates the temp 0600 and os.replace keeps
    the temp's mode, so without the fchmod the committed manifest
    silently tightened to owner-only after the first commit and any
    non-owner reader of a shared table got PermissionError. The commit
    must grant what a plain open() would: 0666 masked by the umask."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 10)], "k long, v long")
    M.write_with_manifest(spark, df, path, stats_cols=["k"], mode="overwrite")
    umask = os.umask(0)
    os.umask(umask)
    mode = os.stat(os.path.join(path, M.MANIFEST_NAME)).st_mode & 0o777
    assert mode == (0o666 & ~umask), oct(mode)
