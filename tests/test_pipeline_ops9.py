"""Guards for the round-10 wave (plans/pipeline_ops9).

Value correctness is covered by the parametrized oracle gate
(test_queries_oracle); these tests pin what the oracle can't see:
the crash-resume recovery contract's NEGATIVE space (a fresh
checkpoint reprocesses everything; a recovered one must not).
"""

from __future__ import annotations

import os

import pytest


def test_crash_resume_requires_checkpoint_state(spark, sf_dir):
    """Negative space of the recovery contract: the in-query assertion
    pins batches == [0, 1, 1, 2] (batch 0 never re-read after the
    crash). This test re-runs the query twice in one session to prove
    the fixture re-arms (fresh checkpoint each call → the crash fires
    both times) — a stale-checkpoint leak would silently skip the
    crash path and certify nothing."""
    from etl_extractor_spark.plans.pipeline_ops9 import (
        streaming_crash_resume_replay,
    )

    a = streaming_crash_resume_replay(spark, sf_dir).collect()
    b = streaming_crash_resume_replay(spark, sf_dir).collect()
    assert a == b and len(a) > 0


def test_crash_resume_state_survives_in_counts(spark, sf_dir):
    """The split-by-modulo fixture makes every day span all 3 batches:
    if the restarted query LOST batch-0 state, the final per-day
    counts would be ~2/3 of the truth. Compare against pandas."""
    import pandas as pd

    from etl_extractor_spark.plans.pipeline_ops9 import (
        streaming_crash_resume_replay,
    )

    got = {
        r["day"]: r["n_events"]
        for r in streaming_crash_resume_replay(spark, sf_dir).collect()
    }
    e = pd.read_parquet(f"{sf_dir}/events.parquet")
    want = e.groupby(e["ts"].astype(str).str[:10]).size()
    assert got == {str(k): int(v) for k, v in want.items()}


def test_shallow_clone_isolation_on_disk(spark, sf_dir, tmp_path):
    """Disk-level invariants the oracle can't see: the clone holds ZERO
    data files (zero-copy), the source manifest is byte-identical
    through the clone's delete + COW + expiry, and expiry on the clone
    reports (not removes) the external files."""
    import glob
    import os

    import pyspark.sql.functions as F

    from etl_extractor_spark.sinks import manifest as MF
    from etl_extractor_spark.sinks.compact import compact_copy_on_write

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    MF.write_with_manifest(spark, o, src, stats_cols=["o_orderkey"])
    src_manifest_before = open(os.path.join(src, "_manifest.json")).read()
    MF.shallow_clone(src, dst)
    assert glob.glob(f"{dst}/*.parquet") == []  # zero data bytes moved
    assert MF.read_table(spark, dst).count() == o.count()
    keys = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey")
    MF.write_equality_deletes(spark, dst, keys)
    compact_copy_on_write(spark, dst, n_files=2)
    res = MF.expire_snapshots(dst, keep_last=1)
    assert res["skipped_external"] and not res["removed_data"]
    # the source never noticed any of it
    assert open(os.path.join(src, "_manifest.json")).read() == src_manifest_before
    assert MF.read_table(spark, src).count() == o.count()
    # and the clone's current view is its own (compacted, deletes absorbed)
    assert MF.read_merge_on_read(spark, dst).count() == o.count() - keys.count()


def test_wap_rejected_batch_leaves_table_bit_identical(spark, sf_dir, tmp_path):
    """A failing audit must leave NO trace: manifest bytes unchanged,
    no stage dir, no orphan data files."""
    import os

    import pyspark.sql.functions as F

    from etl_extractor_spark.sinks import manifest as MF

    path = str(tmp_path / "t")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    MF.write_with_manifest(spark, o, path, stats_cols=["o_orderkey"])
    before = open(os.path.join(path, "_manifest.json")).read()
    bad = o.withColumn("o_totalprice", -F.col("o_totalprice"))
    res = MF.wap_commit(
        spark, path, bad,
        lambda df: (df.filter(F.col("o_totalprice") <= 0).count() == 0, {}),
    )
    assert not res["published"]
    assert open(os.path.join(path, "_manifest.json")).read() == before
    assert not os.path.exists(os.path.join(path, "_stage")) or not os.listdir(
        os.path.join(path, "_stage")
    )
    assert MF.vacuum(path, dry_run=True) == []


def test_gap_fill_brute_force(spark, sf_dir):
    """Engine-independent: re-derive the interpolation chain in pure
    Python/pandas for one nation and compare the aggregates."""
    import pandas as pd

    from etl_extractor_spark.plans.pipeline_ops9 import gap_fill_interpolate

    got = {
        r["nation"]: (r["n_days"], r["n_gaps"], r["gap_cents"], r["total_cents"])
        for r in gap_fill_interpolate(spark, sf_dir).collect()
    }
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    c = pd.read_parquet(f"{sf_dir}/customer.parquet")[["c_custkey", "c_nationkey"]]
    n = pd.read_parquet(f"{sf_dir}/nation.parquet")[["n_nationkey", "n_name"]]
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey").merge(
        n, left_on="c_nationkey", right_on="n_nationkey"
    )
    j["d"] = (
        pd.to_datetime(j["o_orderdate"]) - pd.Timestamp("1990-01-01")
    ).dt.days
    j["cents"] = j["o_totalprice"].map(lambda v: int(round(float(v) * 100)))
    for nation, grp in j.groupby("n_name"):
        daily = grp.groupby("d")["cents"].sum()
        obs = {int(d): int(v) for d, v in daily.items() if d % 7 != 3}
        days = sorted(obs)
        mn, mx = days[0], days[-1]
        n_days = mx - mn + 1
        n_gaps = gap_cents = total = 0
        import bisect

        for d in range(mn, mx + 1):
            if d in obs:
                total += obs[d]
                continue
            n_gaps += 1
            i = bisect.bisect_left(days, d)
            dp, dn = days[i - 1], days[i]
            vp, vn = obs[dp], obs[dn]
            fv = (vp * (dn - d) + vn * (d - dp)) // (dn - dp)
            gap_cents += fv
            total += fv
        assert got[nation] == (n_days, n_gaps, gap_cents, total), nation


def test_dim_refresh_versions_visible_per_batch(spark, sf_dir, scratch_given):
    """Each batch's rows must carry factor == batch_id + 1 — the dim
    VERSION current at that batch, not the final one (a plan-embedded
    static join would show factor 1 everywhere or crash on the
    overwritten listing)."""
    from etl_extractor_spark.plans.pipeline_ops9 import (
        streaming_dim_refresh_replay,
    )

    streaming_dim_refresh_replay(spark, sf_dir).collect()
    out_dir = scratch_given["spark_graft_dimref_out_"]
    got = spark.read.option("basePath", out_dir).parquet(
        out_dir + "/batch_id=*"
    )
    rows = got.select("batch_id", "factor").distinct().collect()
    assert {(r["batch_id"], r["factor"]) for r in rows} == {
        (0, 1), (1, 2), (2, 3)
    }


def test_runtime_filter_injected_in_plan(spark, sf_dir):
    """The query's reason to exist: at sf0.01 the optimizer must inject
    the Bloom runtime filter — might_contain over a bloom-filter
    aggregate on the fact side. Without the injection the query
    silently certifies a plain join."""
    from etl_extractor_spark.plans.pipeline_ops9 import runtime_filter_join

    df = runtime_filter_join(spark, os.path.join(os.path.dirname(sf_dir), "sf0.01"))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan, plan[:2000]


def test_aqe_skew_join_marked_in_plan(spark, sf_dir):
    """At sf0.01 the executed join node must carry skew=true
    (OptimizeSkewedJoin split the hot partition) — probed root causes
    pinned: the dim side must reach the join as a PLAIN shuffle (no
    distinct-aggregate in between) and the fact side needs multi-block
    map output (fan_out of a one-split scan)."""
    from etl_extractor_spark.plans.pipeline_ops9 import aqe_skew_join_split

    df = aqe_skew_join_split(spark, os.path.join(os.path.dirname(sf_dir), "sf0.01"))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan, plan[:2000]


def test_tokenized_output_carries_no_raw_ids(spark, sf_dir):
    """The privacy contract: the tokenized relation exposes 32-hex
    tokens only — no raw custkey column survives the projection, and
    tokens are not invertible-looking (no digit-only values)."""
    from etl_extractor_spark.plans.pipeline_ops9 import _TOKEN_SALT  # noqa: F401
    import pyspark.sql.functions as F

    from etl_extractor_spark.sources.parquet import load_table
    from etl_extractor_spark.plans import pipeline_ops9 as M

    tok = F.md5(
        F.concat(F.lit(M._TOKEN_SALT), F.col("c_custkey").cast("string"))
    )
    c = load_table(spark, sf_dir, "customer").select(tok.alias("token"))
    rows = c.limit(20).collect()
    assert all(
        len(r["token"]) == 32
        and set(r["token"]) <= set("0123456789abcdef")
        for r in rows
    )
    out = M.QUERIES["tokenize_referential_join"](spark, sf_dir)
    assert "token" not in out.columns  # aggregate only, no pseudonyms leaked
    assert not any("custkey" in col for col in out.columns)


def test_exchange_reuse_in_plan(spark, sf_dir):
    """The query's reason to exist: the executed plan must contain a
    ReusedExchange node — the per-customer aggregate's shuffle is
    computed once and fed to both the relation and its max."""
    from etl_extractor_spark.plans.pipeline_ops9 import exchange_reuse_argmax

    df = exchange_reuse_argmax(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan or "ReusedQueryStage" in plan, plan[:1500]


def test_custom_state_crash_rearms(spark, sf_dir):
    """Same re-arm contract as the 18th stream: two calls in one
    session both take the crash path (fresh checkpoint per call) and
    agree."""
    from etl_extractor_spark.plans.pipeline_ops9 import (
        streaming_crash_resume_custom_state,
    )

    a = streaming_crash_resume_custom_state(spark, sf_dir).collect()
    b = streaming_crash_resume_custom_state(spark, sf_dir).collect()
    assert a == b and len(a) > 0


def test_cdf_insert_scan_reads_only_added_files(spark, sf_dir):
    """Brute-force the CDF against pandas: inserts = 2001+ tail,
    deletes = pre-2001 %113 keys — and nothing else (no change type
    beyond the two, no year outside its rule)."""
    import pandas as pd

    from etl_extractor_spark.plans.pipeline_ops9 import snapshot_row_cdf

    got = {
        (r["change_type"], r["year"]): (r["n_rows"], r["cents"])
        for r in snapshot_row_cdf(spark, sf_dir).collect()
    }
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    o["year"] = o["o_orderdate"].astype(str).str[:4]
    o["cents"] = o["o_totalprice"].map(lambda v: int(round(float(v) * 100)))
    ins = o[o["o_orderdate"].astype(str) >= "2001-01-01"]
    dele = o[
        (o["o_orderdate"].astype(str) < "2001-01-01")
        & (o["o_orderkey"] % 113 == 0)
    ]
    want = {}
    for kind, part in (("insert", ins), ("delete", dele)):
        for y, g in part.groupby("year"):
            want[(kind, y)] = (len(g), int(g["cents"].sum()))
    assert got == want


def test_shallow_clone_survives_append_and_wap(spark, sf_dir, tmp_path):
    """Review-catch regression: an append (and a WAP publish) on a
    shallow clone must keep every cloned row in the current view —
    pre-fix, harvest_manifest rebuilt the file list from the local
    listing and silently dropped all absolute source refs
    (read_table(dst) returned only the appended batch)."""
    import pyspark.sql.functions as F

    from etl_extractor_spark.sinks import manifest as MF

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    n = o.count()
    MF.write_with_manifest(spark, o, src, stats_cols=["o_orderkey"])
    MF.shallow_clone(src, dst)
    batch = o.limit(10).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000_000
    )
    MF.write_with_manifest(spark, batch, dst, stats_cols=["o_orderkey"], mode="append")
    assert MF.read_table(spark, dst).count() == n + 10
    res = MF.wap_commit(
        spark,
        dst,
        batch.withColumn("o_orderkey", F.col("o_orderkey") + 1),
        lambda df: (True, {}),
    )
    assert res["published"]
    assert MF.read_table(spark, dst).count() == n + 20
    assert MF.read_table(spark, src).count() == n  # source untouched


def test_wap_raising_audit_cleans_stage(spark, sf_dir, tmp_path):
    """Review-catch regression: a RAISING audit must remove the staged
    batch (vacuum can't reach _stage/)."""
    import os

    import pytest

    from etl_extractor_spark.sinks import manifest as MF

    path = str(tmp_path / "t")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    MF.write_with_manifest(spark, o, path, stats_cols=["o_orderkey"])

    def boom(df):
        raise RuntimeError("audit infrastructure failure")

    with pytest.raises(RuntimeError, match="audit infrastructure"):
        MF.wap_commit(spark, path, o.limit(5), boom)
    stage = os.path.join(path, "_stage")
    assert not os.path.exists(stage) or not os.listdir(stage)


def test_hidden_partition_pruning_in_plan(spark, sf_dir, tmp_path):
    """The reader must turn the caller's DATE bounds into
    PartitionFilters on the hidden month column — out-of-range month
    directories never read (the transform-awareness the sidecar
    exists for)."""
    import pyspark.sql.functions as F

    from etl_extractor_spark.sinks import hidden as H
    from etl_extractor_spark.sources.parquet import load_table

    path = str(tmp_path / "hp")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    H.write_month_partitioned(spark, o, path, "o_orderdate")
    df = H.read_date_range(spark, path, "1996-03-15", "1996-05-10")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_p_month" in plan, plan[:1500]
    # and the values survive the boundary months the transform over-covers
    got = df.count()
    want = o.filter(
        (F.col("o_orderdate") >= "1996-03-15")
        & (F.col("o_orderdate") <= "1996-05-10")
    ).count()
    assert got == want > 0
    assert "_p_month" not in df.columns  # hidden stays hidden


def test_bitemporal_axes_are_independent(spark, sf_dir):
    """Transaction-time travel must not leak the change backward: the
    as_of_s0 belief equals the raw segment distribution, and the
    current belief moves exactly the %7 keys to GOLD."""
    import pandas as pd

    from etl_extractor_spark.plans.pipeline_ops9 import bitemporal_point_query

    got = {
        (r["txn_time"], r["segment"]): r["n_customers"]
        for r in bitemporal_point_query(spark, sf_dir).collect()
    }
    c = pd.read_parquet(f"{sf_dir}/customer.parquet")
    for seg, n in c.groupby("c_mktsegment").size().items():
        assert got[("as_of_s0", seg)] == n
    gold = (c["c_custkey"] % 7 == 0).sum()
    assert got[("current", "GOLD")] == gold + c[
        (c["c_custkey"] % 7 != 0) & (c["c_mktsegment"] == "GOLD")
    ].shape[0] if "GOLD" in set(c["c_mktsegment"]) else got[("current", "GOLD")] == gold


def test_ndv_estimate_accuracy_and_mergeability(spark, sf_dir, tmp_path):
    """KMV mergeability: the merged per-file estimate equals the
    single-pass whole-table estimate EXACTLY (same k-min set), and
    the estimate lands within the standard KMV error envelope of the
    true distinct count (k=64 → ~1/sqrt(62) ≈ 13%; allow 3σ)."""
    from etl_extractor_spark.sinks import ndv as NDV

    path = str(tmp_path / "t")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_custkey")
    o.repartition(8, "o_custkey").write.parquet(path)
    NDV.attach_ndv(spark, path, "o_custkey")
    merged = NDV.estimate_ndv(path, "o_custkey")
    single = str(tmp_path / "one")
    o.coalesce(1).write.parquet(single)
    NDV.attach_ndv(spark, single, "o_custkey")
    assert NDV.estimate_ndv(single, "o_custkey") == merged  # mergeable
    true_ndv = o.distinct().count()
    if merged["k_eff"] < NDV.K:
        assert merged["est_ndv"] == true_ndv  # exact below K
    else:
        assert abs(merged["est_ndv"] - true_ndv) < 0.4 * true_ndv


def test_history_prior_snapshots_immutable(spark, sf_dir, tmp_path):
    """Appends and delete commits must EXTEND history without editing
    prior entries — snapshot 0's row is bit-identical before and
    after."""
    import json

    import pyspark.sql.functions as F

    from etl_extractor_spark.sinks import manifest as MF

    path = str(tmp_path / "t")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    MF.write_with_manifest(spark, o.repartition(2), path, stats_cols=["o_orderkey"])
    s0_before = json.dumps(MF.read_manifest(path)["snapshots"][0], sort_keys=True)
    MF.wap_commit(
        spark,
        path,
        o.limit(5).withColumn("o_orderkey", F.col("o_orderkey") + 10**12),
        lambda df: (True, {}),
    )
    MF.write_equality_deletes(
        spark, path, o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey")
    )
    snaps = MF.read_manifest(path)["snapshots"]
    assert len(snaps) == 3
    assert json.dumps(snaps[0], sort_keys=True) == s0_before


def test_scd2_temporal_join_brute_force(spark, sf_dir):
    """Pandas re-derivation of interval-correct version resolution
    for the full rollup (every order classified by its date against
    the two change dates)."""
    import pandas as pd

    from etl_extractor_spark.plans.pipeline_ops9 import scd2_temporal_join

    got = {
        r["segment"]: (r["n_orders"], r["revenue_cents"])
        for r in scd2_temporal_join(spark, sf_dir).collect()
    }
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    c = pd.read_parquet(f"{sf_dir}/customer.parquet")[
        ["c_custkey", "c_mktsegment"]
    ]
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    j["d"] = j["o_orderdate"].astype(str)
    j["cents"] = j["o_totalprice"].map(lambda v: int(round(float(v) * 100)))

    def seg(row):
        if row["c_custkey"] % 7 == 0 and row["d"] >= "1997-01-01":
            return "GOLD"
        if (
            row["c_custkey"] % 11 == 0
            and row["c_custkey"] % 7 != 0
            and row["d"] >= "1999-06-01"
        ):
            return "SILVER"
        return row["c_mktsegment"]

    j["seg"] = j.apply(seg, axis=1)
    want = {
        s: (len(g), int(g["cents"].sum())) for s, g in j.groupby("seg")
    }
    assert got == want


def test_txn_log_atomicity_on_disk(spark, sf_dir, tmp_path):
    """Disk-level txn invariants: a half-committed transaction leaves
    the log bytes untouched; txn_read never sees the torn snapshot;
    the retry's pointer update is a single atomic replace."""
    import os

    import pyspark.sql.functions as F

    from etl_extractor_spark.sinks import manifest as MF

    t1, t2, log = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "log")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    MF.write_with_manifest(spark, o.limit(0), t1, stats_cols=["o_orderkey"])
    MF.write_with_manifest(spark, o.limit(0), t2, stats_cols=["o_orderkey"])
    MF.txn_commit(spark, log, {t1: o, t2: o.limit(100)})
    log_bytes = open(os.path.join(log, MF.TXN_LOG)).read()
    # torn epoch-2: only t1 commits
    MF.replace_table_cow(spark, t1, o.filter(F.col("o_orderkey") % 2 == 0))
    assert open(os.path.join(log, MF.TXN_LOG)).read() == log_bytes
    assert MF.txn_read(spark, log, t1).count() == o.count()  # epoch 1
    n_half = o.filter(F.col("o_orderkey") % 2 == 0).count()
    assert MF.read_table(spark, t1).count() == n_half  # naive sees torn
    MF.txn_commit(
        spark, log,
        {t1: o.filter(F.col("o_orderkey") % 2 == 0), t2: o.limit(100)},
    )
    assert MF.txn_read(spark, log, t1).count() == n_half
    assert MF.txn_read(spark, log, t2).count() == 100


def test_backfill_handoff_seam_discipline(spark, sf_dir):
    """The seam property directly: splitting at the cutoff with
    (<, >=) covers every event exactly once — re-derived in pandas
    against the query's own cutoff rule."""
    import pandas as pd

    from etl_extractor_spark.plans.pipeline_ops9 import backfill_stream_handoff

    got = {
        r["day"]: r["n_events"]
        for r in backfill_stream_handoff(spark, sf_dir).collect()
    }
    e = pd.read_parquet(f"{sf_dir}/events.parquet")
    want = e.groupby(e["ts"].astype(str).str[:10]).size()
    assert got == {str(k): int(v) for k, v in want.items()}


def test_replace_cow_prunes_delete_registry(spark, sf_dir, tmp_path):
    """Review-catch regression: after replace_table_cow, a LATER
    delete commit must not re-apply PRE-replace delete keys to the
    restated data (the stale-registry row-loss path)."""
    import pyspark.sql.functions as F

    from etl_extractor_spark.sinks import manifest as MF

    path = str(tmp_path / "t")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    MF.write_with_manifest(spark, o, path, stats_cols=["o_orderkey"])
    # delete key X (every %3 key), then RESTATE the table with X back
    MF.write_equality_deletes(
        spark, path, o.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey")
    )
    MF.replace_table_cow(spark, path, o)  # restatement reintroduces X
    # later, delete key Y only
    MF.write_equality_deletes(
        spark, path, o.filter(F.col("o_orderkey") % 5 == 1).select("o_orderkey")
    )
    got = MF.read_merge_on_read(spark, path).count()
    want = o.filter(F.col("o_orderkey") % 5 != 1).count()
    assert got == want  # %3 keys survive: old delete not re-applied


def test_ndv_nulls_excluded(spark, tmp_path):
    """NULLs must not burn k-min slots: a null-bearing column's
    estimate equals the null-free twin's."""
    from etl_extractor_spark.sinks import ndv as NDV

    vals = [(i if i % 3 else None,) for i in range(1000)]
    p1, p2 = str(tmp_path / "with_nulls"), str(tmp_path / "no_nulls")
    spark.createDataFrame(vals, "k long").repartition(4).write.parquet(p1)
    spark.createDataFrame(
        [v for v in vals if v[0] is not None], "k long"
    ).repartition(4).write.parquet(p2)
    NDV.attach_ndv(spark, p1, "k")
    NDV.attach_ndv(spark, p2, "k")
    assert NDV.estimate_ndv(p1, "k") == NDV.estimate_ndv(p2, "k")


def test_ndv_respects_manifest_current_view(spark, sf_dir, tmp_path):
    """On a manifest-tracked table after a COW replace, attach_ndv
    must sketch the CURRENT file list — a directory sketch would
    count superseded snapshots' dead rows."""
    import pyspark.sql.functions as F

    from etl_extractor_spark.sinks import manifest as MF
    from etl_extractor_spark.sinks import ndv as NDV

    path = str(tmp_path / "t")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    MF.write_with_manifest(spark, o, path, stats_cols=["o_orderkey"])
    half = o.filter(F.col("o_orderkey") % 2 == 0)
    MF.replace_table_cow(spark, path, half)  # old files stay on disk
    NDV.attach_ndv(spark, path, "o_orderkey")
    est = NDV.estimate_ndv(path, "o_orderkey")
    true_half = half.distinct().count()
    if est["k_eff"] < NDV.K:
        assert est["est_ndv"] == true_half
    else:
        # a directory sketch would estimate ~2x; current-view is ±40%
        assert abs(est["est_ndv"] - true_half) < 0.4 * true_half
