"""Round-7 wave guards: plan shapes (two-phase rank, no cartesian),
independent-derivation checks (sweep-line concurrency vs brute force,
attribution credit conservation) and contract non-vacuity.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_extractor_spark.sources.parquet import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]


def test_gains_deciles_rank_is_two_phase(spark, sf_dir):
    """The exact global rank must come from the bucket-prefix +
    within-bucket-window composition (the ks_two_sample pattern): the
    corpus-scale row_number window is PARTITIONED by the score band,
    and the only SinglePartition funnels are the ≤101-row bucket
    prefix, the ≤10-row decile cumulative window and the final
    ordering — never the document frame."""
    from etl_extractor_spark.plans.pipeline_ops4 import cumulative_gains_deciles

    plan = _plan(cumulative_gains_deciles(spark, sf_dir))
    assert "CartesianProduct" not in plan
    key = plan.replace("#", "").replace("L", "")
    assert "windowspecdefinition(b" in key, "corpus rank window lost its bucket partitioning"
    assert plan.count("Exchange SinglePartition") <= 4


def test_simhash_contract_audit_is_nonvacuous(spark, sf_dir):
    """The md5-gated audit subset must actually contain qualifying
    near-dup pairs — an empty brute-force side would make ok_recall
    trivially true. Recomputed independently from the signatures."""
    from etl_extractor_spark.operators import dedup as D
    from etl_extractor_spark.plans.pipeline_ops4 import (
        _simhash_audit_mod,
        simhash_pair_contract,
    )

    d = load_table(spark, sf_dir, "documents")
    gate = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("long") % _simhash_audit_mod(d.count()) == 0
    )
    sub = D.simhash_signatures(d.filter(gate), "doc_id", "text")
    n_pairs = (
        sub.alias("a")
        .join(F.broadcast(sub.alias("b")), F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))) <= 3
        )
        .count()
    )
    assert n_pairs > 0, "audit subset has no near-dup pairs; contract is vacuous"
    row = simhash_pair_contract(spark, sf_dir).collect()[0]
    assert row["ok_recall"] == 1 and row["ok_precision"] == 1


def test_attribution_credit_conservation(spark, sf_dir):
    """Independent derivation of the credit total: the channel sums
    must add up to Σ over conversion windows of k·(1000 div k) — the
    conservation law of equal-split attribution (≤1000 per purchase,
    short only by the integer-division remainder)."""
    from etl_extractor_spark.plans.pipeline_ops4 import linear_attribution_credit

    out = linear_attribution_credit(spark, sf_dir).collect()
    total_credit = sum(r["credit_milli"] for r in out)

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    from pyspark.sql import Window

    wdesc = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    windows = (
        e.withColumn(
            "p_after",
            F.sum((F.col("event_type") == "purchase").cast("long")).over(wdesc),
        )
        .filter((F.col("p_after") > 0) & (F.col("event_type") != "purchase"))
        .groupBy("user_id", "p_after")
        .agg(F.count(F.lit(1)).alias("k"))
        .select(F.expr("CAST(k * (1000 div k) AS BIGINT)").alias("w_credit"))
        .agg(F.sum("w_credit").alias("t"))
        .collect()[0]["t"]
    )
    assert total_credit == windows
    # every converting window pays out at most 1000 and at least 501
    # milli-credits (k·floor(1000/k) ∈ (500, 1000] for k ≥ 1)
    assert all(r["credit_milli"] > 0 for r in out)


def test_max_concurrent_matches_bruteforce(spark, sf_dir):
    """Sweep-line result cross-checked against a per-day brute force
    for every nation at the test SF (an independent derivation, not
    the oracle's window form — guards against a shared-bug in the
    delta/running-sum formulation)."""
    from collections import defaultdict

    from etl_extractor_spark.plans.pipeline_ops4 import max_concurrent_orders

    got = {
        r["n_name"]: r["max_concurrent"]
        for r in max_concurrent_orders(spark, sf_dir).collect()
    }

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.to_date("o_orderdate").alias("d0")
    )
    l = load_table(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("d1")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    spans = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .select("n_name", "d0", "d1")
        .collect()
    )
    by_nation = defaultdict(list)
    n_inverted = 0
    for r in spans:
        # same clamp as the query: an order is open at least on its
        # order date, even when the data ships it "before" ordering
        n_inverted += r["d1"] < r["d0"]
        by_nation[r["n_name"]].append((r["d0"], max(r["d0"], r["d1"])))
    # the fixture must exercise the inverted-span path, or the clamp
    # (and this cross-check) guards nothing
    assert n_inverted > 0, "fixture lost its inverted spans"
    for nation, ivs in by_nation.items():
        days = sorted({d for iv in ivs for d in iv})
        brute = max(
            sum(1 for (a, b) in ivs if a <= day <= b) for day in days
        )
        assert got[nation] == brute, nation


def test_isotonic_pava_is_nonvacuous_and_monotone(spark, sf_dir):
    """The binning must actually exercise PAVA: multiple bins, at
    least one adjacent rate violator (so pooling changes a value),
    and the output must be monotone non-decreasing in the bin order
    — the defining isotonic property."""
    from etl_extractor_spark.plans.pipeline_ops4 import isotonic_calibration_bins

    rows = sorted(
        isotonic_calibration_bins(spark, sf_dir).collect(), key=lambda r: r["b"]
    )
    assert len(rows) >= 2, "single bin: PAVA is vacuous — rebin"
    raw = [(r["pos_b"] * 1000) // r["n_b"] for r in rows]
    iso = [r["iso_milli"] for r in rows]
    assert any(a > b for a, b in zip(raw, raw[1:])), (
        "raw rates already monotone: pooling untested by this fixture"
    )
    assert all(a <= b for a, b in zip(iso, iso[1:])), "iso output not monotone"
    assert iso != raw, "PAVA changed nothing despite violators"


def test_sprt_reaches_a_decision(spark, sf_dir):
    """The pinned hypotheses (p0=0.40 vs p1=0.50) were chosen by
    measuring the corpus purchase share (~0.497): the trace must
    actually cross the H1 boundary at the test SF, and once crossed
    the cumulative LLR trace stays crossed at the horizon — otherwise
    the sequential test certifies nothing."""
    from etl_extractor_spark.plans.pipeline_ops4 import sprt_sequential_test

    rows = sorted(
        sprt_sequential_test(spark, sf_dir).collect(), key=lambda r: r["day"]
    )
    assert any(r["decision"] == 1 for r in rows), "SPRT never decided H1"
    assert rows[-1]["decision"] == 1, "LLR fell back below the boundary"


def test_nelson_aalen_vs_km_consistency(spark, sf_dir):
    """NA cumulative hazard and the KM curve walk the same shared
    _risk_table: (a) their (t, n_risk, d_events) tables must be
    IDENTICAL row for row (the anti-drift guarantee the extraction
    exists for), (b) exp(-H(t)) ≥ KM S(t) at every event time
    (Jensen: the Fleming-Harrington bound — each NA term −d/n bounds
    the KM term ln(1−d/n) from above), with slack only for the two
    estimators' micro-quantization, and (c) H is non-decreasing."""
    import math

    from etl_extractor_spark.plans.pipeline_ops import km_survival_curve
    from etl_extractor_spark.plans.pipeline_ops4 import nelson_aalen_hazard

    na = {
        r["t"]: r
        for r in nelson_aalen_hazard(spark, sf_dir).collect()
    }
    km = {
        r["duration_days"]: r
        for r in km_survival_curve(spark, sf_dir).collect()
        if r["d_events"] > 0
    }
    assert na, "no event times"
    # (a) identical risk tables on the shared event times
    assert set(na) == set(km)
    for t in na:
        assert (na[t]["n_risk"], na[t]["d_events"]) == (
            km[t]["n_risk"],
            km[t]["d_events"],
        ), t
    # (b) the Jensen bound, with quantization slack (both curves carry
    # <= 1 micro-unit floor error per event time)
    for t in na:
        slack = 2e-6 * len(na)
        assert math.exp(-na[t]["na_hazard_micro"] / 1e6) >= km[t][
            "km_survival"
        ] - slack, t
    # (c) monotone hazard
    hz = [na[t]["na_hazard_micro"] for t in sorted(na)]
    assert all(a <= b for a, b in zip(hz, hz[1:])), "hazard not monotone"
