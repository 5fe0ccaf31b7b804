"""Unit pins for the round-5 session-3 operators (streaming funnel
state machine, rendezvous minimal disruption, plan shapes).
Appended to tests/test_pipeline_ops.py-style standalone module."""

from __future__ import annotations

import pandas as pd
import pytest


class FakeState:
    def __init__(self):
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self.exists, self._v = True, v


def _run_funnel(st, rows):
    from etl_extractor_spark.streaming.events_stream import _funnel_state

    pdf = pd.DataFrame(rows, columns=["event_type", "ev_us", "event_id"])
    out = list(_funnel_state((7,), [pdf], st))
    assert len(out) == 1 and len(out[0]) == 1
    r = out[0].iloc[0]
    return int(r["stage"]), int(r["last_us"])


def test_funnel_state_multi_batch():
    """The stage machine advances only on strictly-later next-stage
    events, holds state across micro-batches, and ignores
    out-of-stage-order events — the properties that make the replay
    equal the batch min-chain funnel."""
    st = FakeState()
    # batch 1: a view BEFORE any signup is ignored; signup advances
    stage, t = _run_funnel(st, [("view", 10, 1), ("signup", 20, 2)])
    assert (stage, t) == (1, 20)
    # batch 2: a view at the SAME µs as signup is rejected (strict >),
    # a later one advances; a purchase out of order is ignored
    stage, t = _run_funnel(st, [("view", 20, 3), ("purchase", 25, 4), ("view", 30, 5)])
    assert (stage, t) == (2, 30)
    # batch 3: click then purchase complete the funnel
    stage, t = _run_funnel(st, [("click", 31, 6), ("purchase", 32, 7)])
    assert (stage, t) == (4, 32)
    # batch 4: further events cannot regress or advance past the end
    stage, t = _run_funnel(st, [("signup", 100, 8), ("purchase", 200, 9)])
    assert (stage, t) == (4, 32)


def test_funnel_state_same_batch_tie_order():
    """Within one invocation rows are walked in (ev_us, event_id)
    order, so a same-µs (click, view) pair resolves identically to the
    batch semantics regardless of input row order."""
    a = FakeState()
    assert _run_funnel(a, [("signup", 1, 1), ("click", 5, 3), ("view", 5, 2)]) == (2, 5)
    b = FakeState()
    assert _run_funnel(b, [("signup", 1, 1), ("view", 5, 2), ("click", 5, 3)]) == (2, 5)


def test_rendezvous_moves_only_to_new_shard(spark, sf_dir):
    """HRW defining property: growing 10 → 11 shards, every doc that
    moves lands on the NEW shard (10) — no doc moves between old
    shards."""
    from pyspark.sql import functions as F

    from etl_extractor_spark.plans.pipeline_ops2 import _rv_hash, _RV_N
    from etl_extractor_spark.sources.parquet import load_table

    d = load_table(spark, sf_dir, "documents")
    key = F.col("doc_id")
    s10 = F.array_max(
        F.array(*[F.struct(_rv_hash(key, s).alias("h"), F.lit(s).alias("s"))
                  for s in range(_RV_N)])
    )["s"]
    s11 = F.array_max(
        F.array(*[F.struct(_rv_hash(key, s).alias("h"), F.lit(s).alias("s"))
                  for s in range(_RV_N + 1)])
    )["s"]
    bad = d.select(s10.alias("a"), s11.alias("b")).where(
        (F.col("a") != F.col("b")) & (F.col("b") != _RV_N)
    )
    assert bad.count() == 0


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_geo_grid_join_is_hash_equi_join(spark, sf_dir):
    """The radius join must compile to an EQUI join on cell id (the
    blocking working as designed) — never a cartesian/BNLJ pair scan."""
    from etl_extractor_spark.plans.geo import geo_grid_distance_join

    plan = _plan(geo_grid_distance_join(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # equi join on the cell key is present


def test_geo_knn_partial_agg_before_shuffle(spark, sf_dir):
    """The argmin must partial-aggregate map-side: a HashAggregate
    below the exchange, so the shuffle carries one row per customer,
    not the pair space."""
    from etl_extractor_spark.plans.geo import geo_knn_nearest_supplier

    plan = _plan(geo_knn_nearest_supplier(spark, sf_dir))
    below_exchange = plan.split("Exchange hashpartitioning")[-1]
    # struct-min compiles to a sort-based aggregate; the partial pass
    # must sit BELOW the exchange so it combines map-side
    assert "partial_min" in below_exchange
    assert plan.count("Exchange") <= 3  # fan_out RR + one agg exchange


def test_stump_argmin_is_take_ordered(spark, sf_dir):
    """The best-split argmin must be TakeOrdered(1), not a global
    sort of every candidate threshold."""
    from etl_extractor_spark.plans.pipeline_ops2 import decision_stump_split

    plan = _plan(decision_stump_split(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [gini_micro" not in plan  # no full sort of candidates


def test_interval_union_single_user_partitioning(spark, sf_dir):
    """All three island windows must share ONE user_id hash
    partitioning — the query is allowed exactly one window exchange
    plus the island-group aggregation exchanges on the same key."""
    from etl_extractor_spark.plans.pipeline_ops2 import interval_union_coverage

    plan = _plan(interval_union_coverage(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(user_id") <= 2
    assert "Exchange SinglePartition" not in plan.split("TakeOrdered")[0].split(
        "CollectLimit"
    )[0]


def test_median_ci_no_global_sort(spark, sf_dir):
    """Order statistics must come from the two-phase rank walk — the
    fact table is never globally sorted (only bounded per-bucket
    windows and broadcast frames)."""
    from etl_extractor_spark.plans.pipeline_ops2 import median_ci_orders

    plan = _plan(median_ci_orders(spark, sf_dir))
    assert "Exchange rangepartitioning" not in plan
