"""Streaming twins must agree with their batch equivalents."""

from __future__ import annotations

import pathlib
import threading

import pytest
from pyspark.sql import functions as F

from etl_extractor_spark.operators import events as BE
from etl_extractor_spark.sources.parquet import load_table
from etl_extractor_spark.streaming import events_stream as SE

PKG = pathlib.Path(__file__).resolve().parent.parent / "etl_extractor_spark"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_streaming_tumbling_matches_batch(spark, sf_dir):
    batch = BE.tumbling_agg(load_table(spark, sf_dir, "events"))
    stream = SE.streaming_tumbling(SE.events_stream(spark, sf_dir))
    got = SE.run_to_memory(stream, output_mode="complete")
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_streaming_sessionize_matches_batch(spark, sf_dir):
    batch = BE.sessionize(load_table(spark, sf_dir, "events"))
    stream = SE.streaming_sessionize(SE.events_stream(spark, sf_dir))
    got = SE.run_to_memory(stream, output_mode="complete")
    cols = ["user_id", "session_start", "session_end", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("purchase_id"), F.col("ts").alias("pt")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"), F.col("ts").alias("ct")
    )
    batch = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("ct") <= F.col("pt"))
        & (F.col("ct") > F.col("pt") - F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select(F.col("p_user").cast("long").alias("user_id"), "purchase_id", "click_id")

    stream = SE.streaming_interval_join(spark, sf_dir)
    got = SE.run_to_memory(stream, output_mode="append")
    cols = ["user_id", "purchase_id", "click_id"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_streaming_dedup_matches_batch(spark, sf_dir):
    from etl_extractor_spark.operators.dedup import exact_dedup_groups

    batch_groups = exact_dedup_groups(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )
    stream = SE.streaming_dedup_exact(SE.documents_stream(spark, sf_dir))
    got = SE.run_to_memory(stream, output_mode="append")
    assert got.count() == batch_groups.count()
    assert got.select("content_hash").distinct().count() == got.count()


def test_foreach_batch_checkpoint_exactly_once(spark, sf_dir):
    """First run writes all data; a rerun with the same checkpoint
    writes zero new batches (offsets committed)."""
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        n1 = SE.run_foreach_batch_to_parquet(
            SE.events_stream(spark, sf_dir), out, ckpt
        )
        assert n1 >= 1
        rows = spark.read.parquet(out)
        assert rows.count() == load_table(spark, sf_dir, "events").count()

        n2 = SE.run_foreach_batch_to_parquet(
            SE.events_stream(spark, sf_dir), out, ckpt
        )
        assert n2 == 0  # nothing reprocessed
        assert spark.read.parquet(out).count() == rows.count()


def test_stateful_sessionize_emits_closed_sessions(spark, sf_dir):
    """applyInPandasWithState emits every CLOSED session; the still-open
    last session per user remains in state. So its output must equal
    the batch result minus each user's final session."""
    batch = BE.sessionize(load_table(spark, sf_dir, "events"))
    stream = SE.streaming_sessionize_stateful(SE.events_stream(spark, sf_dir))
    got = SE.run_to_memory(stream, output_mode="append")

    cols = ["user_id", "session_start", "session_end", "n_events", "sum_value"]
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("session_start"))
    batch_closed = (
        batch.withColumn("rn", F.row_number().over(w)).filter("rn > 1").drop("rn")
    )
    assert _rows(got, cols) == _rows(batch_closed, cols)


def test_streaming_upsert_merges_batches_into_target(spark):
    """foreachBatch → partition-scoped MERGE: stream of updates upserts
    by key; rerun with same checkpoint applies nothing new."""
    import os
    import tempfile

    from etl_extractor_spark.streaming.events_stream import run_streaming_upsert

    with tempfile.TemporaryDirectory() as tmp:
        target = os.path.join(tmp, "target")
        src = os.path.join(tmp, "src")
        ckpt = os.path.join(tmp, "ckpt")
        spark.createDataFrame(
            [(1, "a", "2026-01-01"), (2, "b", "2026-01-02")],
            ["id", "name", "dt"],
        ).write.partitionBy("dt").parquet(target)
        spark.createDataFrame(
            [(2, "b2", "2026-01-02"), (3, "c", "2026-01-03")],
            ["id", "name", "dt"],
        ).write.parquet(src)

        stream = spark.readStream.schema("id long, name string, dt string").parquet(src)
        n = run_streaming_upsert(stream, target, ckpt, ["id"], "dt")
        assert n >= 1
        got = {r["id"]: (r["name"], str(r["dt"])) for r in spark.read.parquet(target).collect()}
        assert got == {
            1: ("a", "2026-01-01"),
            2: ("b2", "2026-01-02"),
            3: ("c", "2026-01-03"),
        }

        stream2 = spark.readStream.schema("id long, name string, dt string").parquet(src)
        n2 = run_streaming_upsert(stream2, target, ckpt, ["id"], "dt")
        assert n2 == 0  # checkpoint: nothing reapplied
        assert spark.read.parquet(target).count() == 3


def test_streaming_incremental_agg_matches_batch(spark, sf_dir):
    """Multi-file source streamed one file per micro-batch through the
    incremental aggregate sink: final state == one-shot batch
    recompute, and a checkpointed rerun applies nothing."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from etl_extractor_spark.sinks.incremental import read_state

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_totalprice", F.col("o_totalprice").cast("decimal(18,2)")
    )
    measures = {"revenue": ("sum", "o_totalprice"), "n_orders": ("count", "*")}

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        orders.repartition(4).write.parquet(src)  # 4 source files
        state = os.path.join(tmp, "state")
        ckpt = os.path.join(tmp, "ckpt")

        stream = (
            spark.readStream.schema(orders.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        n1 = SE.run_streaming_incremental_agg(
            stream, state, ckpt, ["o_custkey"], measures
        )
        assert n1 >= 2  # genuinely incremental: several micro-batches

        got = sorted(
            (r["o_custkey"], r["revenue"], r["n_orders"])
            for r in read_state(spark, state).collect()
        )
        want = sorted(
            (r["o_custkey"], r["revenue"], r["n_orders"])
            for r in orders.groupBy("o_custkey")
            .agg(
                F.sum("o_totalprice").alias("revenue"),
                F.count(F.lit(1)).alias("n_orders"),
            )
            .collect()
        )
        assert got == want

        stream2 = (
            spark.readStream.schema(orders.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        n2 = SE.run_streaming_incremental_agg(
            stream2, state, ckpt, ["o_custkey"], measures
        )
        assert n2 == 0  # offsets committed — restart reprocesses nothing
        assert sorted(
            (r["o_custkey"], r["revenue"], r["n_orders"])
            for r in read_state(spark, state).collect()
        ) == want


def test_streaming_topk_matches_batch(spark, sf_dir):
    """Top-k is mergeable: streaming k-row state over 4 micro-batches
    equals the one-shot batch top-k, ties broken deterministically."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from etl_extractor_spark.sinks.topk import read_topk, run_streaming_topk

    orders = load_table(spark, sf_dir, "orders")
    k = 10
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        orders.repartition(4).write.parquet(src)
        state, ckpt = os.path.join(tmp, "state"), os.path.join(tmp, "ckpt")

        stream = (
            spark.readStream.schema(orders.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        n1 = run_streaming_topk(
            stream, state, ckpt, metric="o_totalprice", k=k, tiebreak="o_orderkey"
        )
        assert n1 >= 2

        got = [
            (r["o_orderkey"], r["o_totalprice"])
            for r in read_topk(spark, state)
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .collect()
        ]
        want = [
            (r["o_orderkey"], r["o_totalprice"])
            for r in orders.orderBy(
                F.desc("o_totalprice"), F.asc("o_orderkey")
            )
            .limit(k)
            .collect()
        ]
        assert got == want

        # replay with same checkpoint: nothing applied, state unchanged
        stream2 = (
            spark.readStream.schema(orders.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        n2 = run_streaming_topk(
            stream2, state, ckpt, metric="o_totalprice", k=k, tiebreak="o_orderkey"
        )
        assert n2 == 0


def test_streaming_quarantine_splits_without_loss(spark, sf_dir):
    """Every input row lands in exactly one of main/quarantine; the
    quarantine rows carry the names of the rules they violated."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders")
    rules = [
        {
            "name": "price_cap",
            "type": "range",
            "col": "o_totalprice",
            "min": 0.0,
            "max": 300000.0,
        },
        {
            "name": "status_subset",
            "type": "accepted_values",
            "col": "o_orderstatus",
            "values": ["F", "O"],
        },
    ]
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        orders.repartition(3).write.parquet(src)
        good_d, quar_d, ckpt = (
            os.path.join(tmp, "good"),
            os.path.join(tmp, "quar"),
            os.path.join(tmp, "ckpt"),
        )
        stream = (
            spark.readStream.schema(orders.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        counts = SE.run_streaming_quarantine(stream, good_d, quar_d, ckpt, rules)
        assert counts["batches"] >= 2

        good = spark.read.parquet(good_d)
        quar = spark.read.parquet(quar_d)
        assert good.count() + quar.count() == orders.count()  # nothing lost
        assert good.count() == counts["good"]
        want_bad = orders.filter(
            (F.col("o_totalprice") > 300000.0) | (~F.col("o_orderstatus").isin("F", "O"))
        ).count()
        assert quar.count() == want_bad
        # violated column names the failed rules
        both = quar.filter(
            (F.col("o_totalprice") > 300000.0) & (F.col("o_orderstatus") == "P")
        )
        if both.count() > 0:
            assert both.filter(
                F.col("violated") == "price_cap,status_subset"
            ).count() == both.count()


def test_stream_static_join_matches_batch(spark, sf_dir):
    """Stream-static dimension enrichment must agree with the same
    join+aggregation over static reads."""
    got = SE.run_to_memory(
        SE.streaming_enriched_totals(spark, sf_dir),
        output_mode="complete",
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.when(F.col("c_acctbal") >= 5000, "high")
        .when(F.col("c_acctbal") >= 0, "mid")
        .otherwise("low")
        .alias("tier"),
    )
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.join(c, "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), BE.TS_FMT).alias("window_start"),
            "tier",
            "n_events",
            "sum_value",
        )
    )
    cols = ["window_start", "tier", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_stream_stream_outer_join_matches_batch(spark, sf_dir):
    """Left-outer interval join: matched rows all emit; unmatched
    purchases emit null-padded ONLY once the click watermark proves no
    match can arrive (pt < final watermark = min(max_pt, max_ct) - 1h).
    The expected set is the batch left join filtered to exactly that
    emission rule — held-back tail rows excluded."""
    import datetime

    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pt"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("ct"),
    )
    max_pt = p.agg(F.max("pt")).first()[0]
    max_ct = c.agg(F.max("ct")).first()[0]
    wm = min(max_pt, max_ct) - datetime.timedelta(hours=1)
    batch = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("ct") <= F.col("pt"))
        & (F.col("ct") > F.col("pt") - F.expr("INTERVAL 30 MINUTES")),
        "left",
    )
    expected = batch.filter(
        F.col("click_id").isNotNull() | (F.col("pt") < F.lit(wm))
    ).select(
        F.col("p_user").cast("long").alias("user_id"),
        "purchase_id",
        "click_id",
    )
    got = SE.run_to_memory(
        SE.streaming_interval_join_outer(spark, sf_dir),
        output_mode="append",
    )
    cols = ["user_id", "purchase_id", "click_id"]
    assert _rows(got, cols) == _rows(expected, cols)
    # the outer semantics actually fired: some null-padded rows exist
    assert got.filter(F.col("click_id").isNull()).count() > 0


def test_timer_eviction_emits_inactive_users_only(spark, sf_dir):
    """Event-time timer eviction (transformWithState pattern): a user
    row is emitted iff the watermark passed their last event + 1h gap
    (last_ts + 1h < max_ts - 2h watermark); emitted totals must equal
    the batch per-user totals; still-active users stay in state."""
    import datetime

    e = load_table(spark, sf_dir, "events")
    mx = e.agg(F.max("ts")).first()[0]
    users = e.groupBy("user_id").agg(
        F.max("ts").alias("mxts"),
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("value"), 4).alias("tot"),
    )
    expected = users.filter(
        F.col("mxts") + F.expr("INTERVAL 1 HOUR")
        < F.lit(mx - datetime.timedelta(hours=2))
    ).select(F.col("user_id").cast("long"), "n", "tot")
    got = SE.run_to_memory(
        SE.streaming_user_timeout_totals(SE.events_stream(spark, sf_dir)),
        output_mode="append",
    )
    assert _rows(got, ["user_id", "n_events", "sum_value"]) == _rows(
        expected, ["user_id", "n", "tot"]
    )
    # both regimes exercised: some users evicted, some still in state
    assert 0 < got.count() < users.count()


def test_dedup_within_watermark_drops_dupes_keeps_state_bounded(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark twin: feed the events file with
    each row duplicated (a second copy at the same ts) — output must
    equal the distinct event_ids, i.e. every near-in-time duplicate is
    dropped, none of the originals are."""
    e = load_table(spark, sf_dir, "events")
    dup_dir = str(tmp_path / "dup_events")
    e.unionByName(e).coalesce(1).write.mode("overwrite").parquet(dup_dir)

    import os

    schema = spark.read.parquet(dup_dir).schema
    stream = spark.readStream.schema(schema).parquet(
        os.path.join(dup_dir, "*.[p]arquet")
    )
    got = SE.run_to_memory(
        SE.streaming_dedup_within_watermark(stream),
        output_mode="append",
    )
    assert got.count() == e.count()
    assert got.select("event_id").distinct().count() == e.count()


def test_streaming_url_frontier_matches_batch(spark, sf_dir):
    """Crawl-frontier twin: the streaming canonical-URL dedup state
    (complete mode) must equal the batch url_canonical_dedup output —
    same canonicalization Column expressions, incremental aggregation."""
    from etl_extractor_spark.plans.web_curation import url_canonical_dedup
    from etl_extractor_spark.streaming import docs_stream as DS

    got = SE.run_to_memory(
        DS.streaming_url_frontier(DS.docs_stream(spark, sf_dir)),
        output_mode="complete",
    )
    expected = url_canonical_dedup(spark, sf_dir)
    cols = ["canonical_url", "keep_id", "n_dups"]
    assert _rows(got, cols) == _rows(expected, cols)
    # dedup actually collapsed something
    assert got.filter(F.col("n_dups") > 1).count() > 0


def test_streaming_quality_gate_matches_batch(spark, sf_dir):
    """The logreg quality gate is map-only, so it must run UNCHANGED
    as a streaming append transform — the at-ingestion quality filter
    a crawl pipeline applies before anything stateful."""
    from etl_extractor_spark.plans.web_curation import (
        doc_quality_logreg,
        quality_logit,
    )
    from etl_extractor_spark.streaming.docs_stream import docs_stream

    got = SE.run_to_memory(
        quality_logit(docs_stream(spark, sf_dir)),
        output_mode="append",
    )
    expected = doc_quality_logreg(spark, sf_dir)
    cols = ["doc_id", "n_tokens", "logit_micro", "keep"]
    assert _rows(got, cols) == _rows(expected, cols)
    assert 0 < got.filter(F.col("keep")).count() < got.count()


def test_streaming_rate_limit_matches_batch(spark, sf_dir):
    """Token-bucket throttle: the streaming kept-set must equal the
    batch rate_limit specification event-for-event (single availableNow
    batch ⇒ in-order per-user processing)."""
    from etl_extractor_spark.operators.events import rate_limit

    batch_kept = (
        rate_limit(load_table(spark, sf_dir, "events"))
        .filter("is_kept")
        .select(F.col("user_id").cast("long"), F.col("event_id").cast("long"))
    )
    got = SE.run_to_memory(
        SE.streaming_rate_limit(SE.events_stream(spark, sf_dir)),
        output_mode="append",
    )
    assert _rows(got, ["user_id", "event_id"]) == _rows(
        batch_kept, ["user_id", "event_id"]
    )
    # the quota actually fired: some events were dropped
    n_total = load_table(spark, sf_dir, "events").count()
    assert 0 < got.count() < n_total


def test_rate_limit_state_multi_batch():
    """Multi-microbatch contract of the rate-limit state function,
    exercised directly (no stream rig): quota resets on a new bucket,
    carries within a bucket across invocations, and late events from
    watermark-expired buckets are DROPPED, never charged to the live
    bucket's quota (ADVICE r3)."""
    import pandas as pd

    from etl_extractor_spark.streaming.events_stream import (
        _RL_BUCKET_US,
        _RL_MAX,
        _rate_limit_state,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.exists, self._v = True, v

    st = FakeState()
    day = _RL_BUCKET_US

    def run(rows):
        pdf = pd.DataFrame(rows, columns=["ev_us", "event_id"])
        out = list(_rate_limit_state((7,), [pdf], st))
        return [int(e) for o in out for e in o["event_id"]]

    # batch 1: three events in bucket 1 → first _RL_MAX kept
    assert run([(day + 10, 1), (day + 20, 2), (day + 30, 3)]) == [1, 2][:_RL_MAX]
    assert st.get == (1, 3)
    # batch 2: same bucket — quota already exhausted, nothing kept
    assert run([(day + 40, 4)]) == []
    # batch 3: a LATE event from expired bucket 0 plus fresh bucket-2
    # traffic: the late event is dropped (not kept, not charged), so
    # bucket 2 still admits _RL_MAX fresh events
    assert run([(10, 5), (2 * day + 1, 6), (2 * day + 2, 7), (2 * day + 3, 8)]) == [
        6,
        7,
    ][:_RL_MAX]
    assert st.get == (2, 3)


def test_streaming_kmv_reach_matches_batch(spark, sf_dir):
    """Mergeable-sketch state: after replaying the whole table, the
    streaming KMV per-type estimate must equal the batch twin
    EXACTLY (same k-min set, same integer estimator)."""
    from etl_extractor_spark.plans.events import kmv_user_reach

    got = SE.run_to_memory(
        SE.streaming_kmv_reach(SE.events_stream(spark, sf_dir)),
        output_mode="update",
    )
    # update mode may emit one row per micro-batch per key; the final
    # (max k_eff, then max kth) state per type is the sketch's answer —
    # with availableNow over one file there is exactly one batch, but
    # don't assume it
    latest = {
        r.event_type: (r.k_eff, r.kth_hash, r.est_users)
        for r in got.orderBy("k_eff", "kth_hash").collect()
    }
    want = {
        r.event_type: (r.k_eff, r.kth_hash, r.est_users)
        for r in kmv_user_reach(spark, sf_dir).collect()
    }
    assert latest == want


def test_kmv_state_multi_batch():
    """KMV streaming state across micro-batches: the k-min set is a
    true mergeable sketch — folding batch 2 into batch 1's state gives
    exactly the k smallest distinct hashes of the union, and the
    estimate from merged state equals the batch estimate over the
    union (order-insensitive)."""
    import pandas as pd

    from etl_extractor_spark.plans.events import KMV_REACH_K
    from etl_extractor_spark.streaming.events_stream import _kmv_state

    class FakeState:
        def __init__(self):
            self.exists, self._v = False, None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.exists, self._v = True, v

    def run_batches(state, batches):
        out = None
        for hs in batches:
            pdf = pd.DataFrame({"h": hs})
            out = list(_kmv_state(("click",), [pdf], state))[-1]
        return out.iloc[0]

    all_hashes = list(range(1000, 1000 + 3 * KMV_REACH_K, 3))
    # split across 2 batches with overlap; merged state must equal the
    # single-batch run over the union
    s1, s2 = FakeState(), FakeState()
    r_split = run_batches(s1, [all_hashes[: KMV_REACH_K + 10], all_hashes[KMV_REACH_K - 5 :]])
    r_once = run_batches(s2, [all_hashes])
    assert list(s1.get[0]) == list(s2.get[0]) == sorted(set(all_hashes))[:KMV_REACH_K]
    assert (r_split.k_eff, r_split.kth_hash, r_split.est_users) == (
        r_once.k_eff, r_once.kth_hash, r_once.est_users,
    )


def test_run_to_memory_restores_shuffle_partitions(spark, sf_dir):
    """state_partitions must be scoped to the replay: the stream's state
    operator runs at the sized value while the session's shuffle
    partitions round-trip (a leaked value would make later queries
    depend on run order)."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    class StateParts(StreamingQueryListener):
        def __init__(self):
            self.seen: list[int] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.seen += [s.numShufflePartitions for s in event.progress.stateOperators]

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    assert prev != "3"
    parts = StateParts()
    spark.streams.addListener(parts)
    try:
        out = SE.run_to_memory(
            SE.streaming_tumbling(SE.events_stream(spark, sf_dir)),
            output_mode="complete",
            state_partitions=3,
        )
        deadline = time.time() + 30  # progress events arrive asynchronously
        while not parts.seen and time.time() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(parts)
    assert out.count() > 0
    assert parts.seen and set(parts.seen) == {3}, parts.seen
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


@pytest.mark.parametrize("trial", range(3))
def test_two_threads_run_one_replay(spark, sf_dir, trial):
    """Two threads each run ``streaming_tumbling_replay`` once on one
    session: both results match the oracle (each replay names its own
    memory sink) and the session's shuffle partitions are unchanged
    afterwards (each replay scopes its state-partition count to its own
    start)."""
    from etl_extractor_spark.plans.registry import all_oracles, all_queries
    from tests.oracle import compare, duckdb_con

    name = "streaming_tumbling_replay"
    query, sql, con = all_queries()[name], all_oracles()[name], duckdb_con(sf_dir)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    errors: list[BaseException] = []
    both = threading.Barrier(2)

    def run() -> None:
        try:
            both.wait()
            compare(query(spark, sf_dir), con.cursor(), sql)
        except BaseException as exc:  # asserted in the main thread
            errors.append(exc)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_one_module_starts_streams_and_sets_partition_conf():
    """Every stream starts in ``streaming/events_stream._run``, the one
    place that scopes the session's shuffle partitions to a start():
    under ``etl_extractor_spark/`` it is the only ``.writeStream`` site,
    and only ``session.py``'s builder config names the key besides it."""
    import ast

    starts, confs = [], set()
    for py in sorted(PKG.rglob("*.py")):
        rel = str(py.relative_to(PKG.parent))
        for node in ast.walk(ast.parse(py.read_text())):
            if isinstance(node, ast.Attribute) and node.attr == "writeStream":
                starts.append(rel)
            if isinstance(node, ast.Constant) and node.value == "spark.sql.shuffle.partitions":
                confs.add(rel)
    runner = "etl_extractor_spark/streaming/events_stream.py"
    assert starts == [runner]
    assert confs - {"etl_extractor_spark/session.py"} == {runner}


def test_state_partitions_sizing_rule(spark, sf_dir):
    """floor on small local tables; cap wins over floor; directory-
    shaped tables are sized by data-file bytes, not the dir inode."""
    import math
    import os

    from etl_extractor_spark.sinks.compact import dir_bytes
    from etl_extractor_spark.streaming.events_stream import (
        state_partitions_for,
    )

    cap = spark.sparkContext.defaultParallelism
    got = state_partitions_for(spark, sf_dir)
    nbytes = dir_bytes(os.path.join(sf_dir, "events.parquet"))
    want = min(cap, max(4, math.ceil(nbytes / (32 * 1024 * 1024))))
    assert got == want
    # a missing table falls back to the floor (clamped by the cap)
    assert state_partitions_for(spark, sf_dir, table="nonexistent") == min(cap, 4)


def test_local_checkpoints_use_filesystem_checkpoint_manager(spark, tmp_path):
    """Under a local master, get_spark routes streaming metadata/state
    renames through FileSystemBasedCheckpointFileManager (no FileContext
    link probe, so no forked ``readlink`` per rename)."""
    jvm = spark._jvm
    pkg = "org.apache.spark.sql.execution.streaming.checkpointing"
    create = getattr(jvm, f"{pkg}.CheckpointFileManager$").__getattr__("MODULE$").create
    path = jvm.org.apache.hadoop.fs.Path(f"file://{tmp_path}")
    mgr = create(path, spark._jsparkSession.sessionState().newHadoopConf())
    assert mgr.getClass().getName() == f"{pkg}.FileSystemBasedCheckpointFileManager"
