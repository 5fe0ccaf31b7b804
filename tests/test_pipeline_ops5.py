"""Round-8 wave guards: salted-join answer preservation + plan shape +
decision wiring, independent derivations for the day-domain statistics
(Mann-Kendall pairs, seasonal-naive MAPE, rolling median), fixture
non-vacuity for the paired test and the IQR fences.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_extractor_spark.sources.parquet import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]


def test_salted_join_equals_unsalted_and_salts_the_plan(spark, sf_dir):
    """The remediation contract: (a) the fixture is genuinely skewed
    (the synthetic heavy key holds > 90% of fact rows), (b) the skew
    decision actually fires (salt factor > 1), (c) the salted result
    equals an independently-computed PLAIN Spark join row for row, and
    (d) the executed plan shuffles on (k, salt) — the partitioning
    change is real, not cosmetic."""
    from etl_extractor_spark.plans.pipeline_ops5 import (
        _skew_salt_factor,
        salted_skew_join_revenue,
    )

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    fk = F.when(F.col("l_orderkey") % 20 != 0, F.lit(0)).otherwise(
        F.col("l_orderkey")
    )
    fact = li.select(
        fk.cast("long").alias("k"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    # (a) skewed fixture
    top_share = (
        fact.groupBy("k").count().agg(F.max("count") * 1000 / F.sum("count"))
    ).collect()[0][0]
    assert top_share > 900, "fixture lost its heavy key"
    # (b) the decision fires
    assert _skew_salt_factor(fact, "k") > 1
    # (c) answer preservation vs an independent plain join
    dk = F.when(F.col("o_orderkey") % 20 != 0, F.lit(0)).otherwise(
        F.col("o_orderkey")
    )
    dim = (
        o.select(dk.cast("long").alias("k"))
        .distinct()
        .select("k", (F.col("k") % 7).cast("long").alias("seg"))
    )
    plain = (
        fact.join(dim, "k")
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )
    got = sorted(map(tuple, salted_skew_join_revenue(spark, sf_dir).collect()))
    want = sorted(map(tuple, plain.collect()))
    assert got == want
    # (d) the join key in the plan carries the salt
    plan = _plan(salted_skew_join_revenue(spark, sf_dir))
    import re

    assert re.search(r"hashpartitioning\(k#\d+L?, salt#\d+", plan), (
        "salted plan does not shuffle on (k, salt)"
    )


def test_mann_kendall_matches_bruteforce(spark, sf_dir):
    """S, the tie term and the z statistic recomputed in plain Python
    over the collected daily series (an independent derivation, not
    the oracle's SQL form)."""
    import math
    from collections import Counter

    from etl_extractor_spark.plans.pipeline_ops5 import (
        _daily_revenue,
        mann_kendall_trend,
    )

    rows = sorted(
        (r["d"], r["rev"]) for r in _daily_revenue(spark, sf_dir).collect()
    )
    # the registered statistic runs on the coarsened series (div 1e7)
    # so the tie-corrected variance is actually exercised
    revs = [rev // 10_000_000 for _, rev in rows]
    n = len(revs)
    s = sum(
        (revs[j] > revs[i]) - (revs[j] < revs[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    tt = sum(
        t * (t - 1) * (2 * t + 5) for t in Counter(revs).values() if t > 1
    )
    var18 = n * (n - 1) * (2 * n + 5) - tt
    zc = s - 1 if s > 0 else (s + 1 if s < 0 else 0)
    z_milli = math.floor(zc * 1000.0 / math.sqrt(var18 / 18.0))
    got = mann_kendall_trend(spark, sf_dir).collect()[0]
    assert (got["n"], got["s_stat"], got["var18_num"], got["z_milli"]) == (
        n,
        s,
        var18,
        z_milli,
    )
    assert tt > 0, "fixture has no revenue ties; tie-correction untested"


def test_seasonal_naive_matches_bruteforce(spark, sf_dir):
    """MAPE recomputed in Python over the collected daily series with
    an explicit d-7 calendar lookup (catches any rows-vs-range lag
    confusion)."""
    import datetime

    from etl_extractor_spark.plans.pipeline_ops5 import (
        _daily_revenue,
        seasonal_naive_backtest,
    )

    daily = {
        r["d"]: r["rev"] for r in _daily_revenue(spark, sf_dir).collect()
    }
    apes = [
        abs(rev - daily[d - datetime.timedelta(days=7)])
        * 1_000_000
        // rev
        for d, rev in daily.items()
        if d - datetime.timedelta(days=7) in daily
    ]
    got = seasonal_naive_backtest(spark, sf_dir).collect()[0]
    assert got["n_scored_days"] == len(apes)
    assert got["sum_ape_micro"] == sum(apes)
    assert got["mape_micro"] == sum(apes) // len(apes)
    # the calendar must contain gaps at this SF or the join-on-date
    # vs lag-7-rows distinction is untested
    n_days = len(daily)
    span = (max(daily) - min(daily)).days + 1
    if span == n_days:  # contiguous calendar: lag would coincide
        assert got["n_scored_days"] == n_days - 7


def test_rolling_median_matches_bruteforce(spark, sf_dir):
    """The 7-day trailing lower median recomputed per day in Python
    (range semantics over the calendar, not 7 rows), and the flag set
    must be non-empty at the test SF."""
    import datetime

    from etl_extractor_spark.plans.pipeline_ops5 import (
        _daily_revenue,
        rolling_median_filter_days,
    )

    daily = {
        r["d"]: r["rev"] for r in _daily_revenue(spark, sf_dir).collect()
    }
    flagged = {}
    for d, rev in daily.items():
        win = sorted(
            daily[d - datetime.timedelta(days=k)]
            for k in range(7)
            if d - datetime.timedelta(days=k) in daily
        )
        med = win[(len(win) + 1) // 2 - 1]
        if abs(rev - med) * 1000 > 500 * med:
            flagged[d] = (rev, med)
    got = {
        r["d"]: (r["rev"], r["med"])
        for r in rolling_median_filter_days(spark, sf_dir).collect()
    }
    assert got == flagged
    assert flagged, "fixture flags nothing; filter is vacuous here"


def test_mcnemar_discordant_nonvacuous(spark, sf_dir):
    """Both discordant cells must be populated (b and c > 0) — a
    one-sided table makes the statistic trivially extreme — and the
    statistic must be consistent with the published cells."""
    from etl_extractor_spark.plans.pipeline_ops5 import mcnemar_paired_test

    r = mcnemar_paired_test(spark, sf_dir).collect()[0]
    assert r["b_cnt"] > 0 and r["c_cnt"] > 0
    d = abs(r["b_cnt"] - r["c_cnt"]) - 1
    assert r["chi2_milli"] == d * d * 1000 // (r["b_cnt"] + r["c_cnt"])


def test_tukey_fences_fire_on_the_tail(spark, sf_dir):
    """events.value was chosen by measurement BECAUSE it has a real
    upper tail — at least one event type must flag above-fence rows,
    and no fence may flag more than 10% of its type (fences that flag
    everything measure a broken quantile, not outliers)."""
    from etl_extractor_spark.plans.pipeline_ops5 import tukey_fences_outliers

    rows = tukey_fences_outliers(spark, sf_dir).collect()
    assert rows
    assert any(r["n_above"] > 0 for r in rows), "no upper-tail outliers"
    for r in rows:
        assert (r["n_below"] + r["n_above"]) * 10 <= r["n_events"], (
            r["event_type"]
        )


def test_mg_guarantee_and_sketch_bound(spark, sf_dir):
    """(a) the per-partition sketches each hold ≤ k candidates, (b)
    the exact heavy set (freq·(k+1) > n, recomputed independently) is
    contained in the candidate union, and (c) the fixture has exactly
    one heavy hitter (the 95% key) so the guarantee is exercised on a
    real skew case."""
    from etl_extractor_spark.operators.common import fan_out
    from etl_extractor_spark.plans.pipeline_ops5 import (
        _MG_K,
        _mg_partition_candidates,
        heavy_hitters_mg_contract,
    )

    li = load_table(spark, sf_dir, "lineitem")
    fk = F.when(F.col("l_orderkey") % 20 != 0, F.lit(0)).otherwise(
        F.col("l_orderkey")
    )
    keys = fan_out(li.select(fk.cast("long").alias("k")))
    # (a) every partition emits at most k rows
    per_part = (
        _mg_partition_candidates(keys, "k")
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    assert all(r["count"] <= _MG_K for r in per_part)
    # (b) exact containment, recomputed from a plain count
    freqs = {r["k"]: r["c"] for r in keys.groupBy("k").agg(
        F.count(F.lit(1)).alias("c")).collect()}
    n = sum(freqs.values())
    heavy = {k for k, c in freqs.items() if c * (_MG_K + 1) > n}
    cands = {r["k"] for r in _mg_partition_candidates(keys, "k").collect()}
    assert heavy <= cands
    # (c) the published contract row agrees
    row = heavy_hitters_mg_contract(spark, sf_dir).collect()[0]
    assert row["ok_contained"] == 1
    assert row["n_heavy"] == len(heavy) == 1
    assert row["n_keys"] == len(freqs)


def test_pca_sufficient_stats_match_numpy(spark, sf_dir):
    """The distributed Gram/trace must equal a single-machine numpy
    recomputation over the collected embeddings (bit-exact: integer
    quantization before summation), and both audited bits must hold."""
    import numpy as np

    from etl_extractor_spark.plans.pipeline_ops5 import (
        pca_top_component_contract,
    )

    rows = load_table(spark, sf_dir, "embeddings").select("embedding").collect()
    m = np.floor(
        np.array([r["embedding"] for r in rows], dtype=np.float64) * 1000.0
    ).astype(np.int64)
    got = pca_top_component_contract(spark, sf_dir).collect()[0]
    assert got["n_vecs"] == len(rows)
    assert got["d"] == m.shape[1]
    assert got["trace_q"] == int((m * m).sum())
    assert got["ok_residual"] == 1 and got["ok_dominates"] == 1


def test_cramers_v_is_consistent_and_bounded(spark, sf_dir):
    """V recomputed from the published chi2/n/r/c must match, and V
    must land in [0, 1]."""
    import math

    from etl_extractor_spark.plans.pipeline_ops5 import cramers_v_association

    r = cramers_v_association(spark, sf_dir).collect()[0]
    want = round(
        math.sqrt(r["chi2"] / (r["n_rows"] * min(r["r"] - 1, r["c"] - 1))), 4
    )
    assert abs(r["cramers_v"] - want) <= 1e-4
    assert 0.0 <= r["cramers_v"] <= 1.0


def test_mode_matches_bruteforce(spark, sf_dir):
    """Mode per segment recomputed from collected cell counts with the
    same (count desc, priority asc) tie-break."""
    from etl_extractor_spark.plans.pipeline_ops5 import mode_priority_by_segment

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment", "o_orderpriority")
        .count()
        .collect()
    )
    best: dict = {}
    for r in cells:
        key = r["c_mktsegment"]
        cand = (-r["count"], r["o_orderpriority"])
        if key not in best or cand < best[key]:
            best[key] = cand
    got = {
        r["c_mktsegment"]: (r["mode_priority"], r["mode_count"])
        for r in mode_priority_by_segment(spark, sf_dir).collect()
    }
    assert got == {k: (p, -nc) for k, (nc, p) in best.items()}


def test_ips_matches_bruteforce(spark, sf_dir):
    """IPS value recomputed in plain Python from the collected events
    (empirical propensities, milli weights, integer term sum)."""
    from etl_extractor_spark.plans.pipeline_ops5 import ips_offline_policy_eval

    rows = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    ).collect()
    import math
    from collections import Counter

    n = len(rows)
    n_a = Counter(r["event_type"] for r in rows)
    w = {a: n * 1000 // c for a, c in n_a.items()}
    matched = term_sum = 0
    for r in rows:
        target = "click" if r["user_id"] % 2 == 0 else "purchase"
        if r["event_type"] == target:
            matched += 1
            term_sum += math.floor(r["value"] * 1000) * w[r["event_type"]]
    got = ips_offline_policy_eval(spark, sf_dir).collect()[0]
    assert got["n_events"] == n
    assert got["n_matched"] == matched
    assert got["ips_term_sum"] == term_sum
    # terms are milli-reward x milli-weight = micro-scaled already
    assert got["ips_value_micro"] == term_sum // n
    assert matched > 0, "target policy never matches; IPS vacuous"


def test_cms_contract_bits_and_truth(spark, sf_dir):
    """Both contract bits must hold, the exact counts must match an
    independent recomputation, and the fixture's heavy key must
    dominate (so the audited estimate is a real heavy count, not a
    noise bucket)."""
    from etl_extractor_spark.plans.pipeline_ops5 import (
        _skew_key,
        count_min_contract,
    )

    li = load_table(spark, sf_dir, "lineitem")
    keys = li.select(_skew_key("l_orderkey").alias("k"))
    n = keys.count()
    true_heavy = keys.filter(F.col("k") == 0).count()
    got = count_min_contract(spark, sf_dir).collect()[0]
    assert (got["n_rows"], got["true_heavy"]) == (n, true_heavy)
    assert got["ok_lower"] == 1 and got["ok_eps"] == 1
    assert true_heavy * 10 > n * 9, "fixture lost its 90%+ heavy key"


def test_streaming_mg_replay_equals_batch_contract(spark, sf_dir):
    """The streamed Misra-Gries candidate state must certify the same
    containment row the batch contract publishes (replay ≡ batch on
    the audited guarantee)."""
    from etl_extractor_spark.plans.pipeline_ops5 import (
        heavy_hitters_mg_contract,
        streaming_heavy_hitters_replay,
    )

    batch = heavy_hitters_mg_contract(spark, sf_dir).collect()[0]
    stream = streaming_heavy_hitters_replay(spark, sf_dir).collect()[0]
    assert tuple(stream) == tuple(batch)
    assert stream["ok_contained"] == 1


def test_sequence_packing_matches_bruteforce(spark, sf_dir):
    """Stripe packing recomputed in plain Python (sorted cumsum, bin =
    prefix div C), plus the bounded-waste property: every bin except
    possibly the last partial one fills within [C − max_len,
    C + max_len]."""
    import re

    from etl_extractor_spark.plans.pipeline_ops5 import (
        _PACK_C,
        sequence_packing_stripes,
    )

    rows = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    toks = sorted(
        (
            (len(re.sub(r"\s+", " ", r["text"].strip()).split(" ")), r["doc_id"])
            for r in rows
        ),
        key=lambda p: (-p[0], p[1]),
    )
    fills: dict = {}
    cum = 0
    for t, _ in toks:
        fills[cum // _PACK_C] = fills.get(cum // _PACK_C, 0) + t
        cum += t
    got = sequence_packing_stripes(spark, sf_dir).collect()[0]
    assert got["n_bins"] == len(fills)
    assert got["total_tokens"] == sum(fills.values()) == cum
    assert got["min_fill"] == min(fills.values())
    assert got["max_fill"] == max(fills.values())
    assert got["avg_fill_milli"] == cum * 1000 // (len(fills) * _PACK_C)
    max_len = max(t for t, _ in toks)
    last_bin = max(fills)
    for b, f in fills.items():
        assert f <= _PACK_C + max_len
        if b != last_bin:
            assert f >= _PACK_C - max_len
    assert len(fills) > 1, "single bin: packing untested at this SF"


def test_sequence_packing_plan_is_two_phase(spark, sf_dir):
    """The global cumulative sum must come from the per-length-bucket
    window + bucket-prefix composition: the corpus-scale row_number
    window is PARTITIONED by tok, and the only SinglePartition
    funnels are the ≤91-row bucket-offset window and the final 1-row
    aggregate — never the document frame (the gains-deciles plan-guard
    pattern)."""
    from etl_extractor_spark.plans.pipeline_ops5 import sequence_packing_stripes

    import re

    plan = _plan(sequence_packing_stripes(spark, sf_dir))
    assert "CartesianProduct" not in plan
    key = plan.replace("#", "")
    # the PARTITIONED spec prints "tok<id>, doc_id<id> ASC" (partition
    # col carries no sort marker); the one-phase regression prints
    # "tok<id> DESC NULLS LAST, doc_id..." — a bare
    # "windowspecdefinition(tok" prefix matches BOTH (review catch:
    # the guard must anchor the partition spec, not the first column)
    assert re.search(r"windowspecdefinition\(tok\d*L?, doc_id\d*L? ASC", key), (
        "corpus rank window lost its length-bucket partitioning"
    )
    assert plan.count("Exchange SinglePartition") <= 2


def test_partition_evolution_prunes_both_specs(spark, sf_dir):
    """The year predicate must reach BOTH layout subtrees as a
    partition filter (spec-0: year-partitioned; spec-1: the evolved
    year/month layout), the fixture must actually have rows under both
    specs inside the filter band, and the result must match a plain
    recomputation from the source table."""
    from etl_extractor_spark.plans.pipeline_ops5 import partition_evolution_scan

    df = partition_evolution_scan(spark, sf_dir)
    plan = _plan(df)
    import re

    pfs = [
        m
        for m in re.findall(r"PartitionFilters: \[[^\]]*\]", plan)
        if "p_year" in m
    ]
    assert len(pfs) >= 2, (
        "year predicate did not prune both partition layouts: %s" % pfs
    )
    rows = {r["p_year"]: (r["n_orders"], r["revenue_cents"]) for r in df.collect()}
    assert {1996, 1997} & set(rows) and {1998, 1999} & set(rows), (
        "filter band does not straddle the spec boundary on this fixture"
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.year(F.to_date("o_orderdate")).cast("long").alias("y"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    want = {
        r["y"]: (r["n"], r["rev"])
        for r in o.filter(F.col("y").between(1996, 1999))
        .groupBy("y")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("rev"))
        .collect()
    }
    assert rows == want


def _py_levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_editdist_filter_drops_nothing(spark, sf_dir):
    """The Gravano count filter's no-drop guarantee, certified against
    a pure-Python brute force on the brand-only block space (denser
    than the registered (brand, size) blocks, so it is NON-EMPTY at
    the smallest SF where (brand, size) yields zero pairs): the
    q-gram-filtered pipeline must return exactly the pairs the DP
    brute force finds."""
    from etl_extractor_spark.plans.pipeline_ops5 import _ED_K, _editdist_pairs

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_size",
        F.length("p_name").alias("ln"),
    )
    got = {
        (r["ka"], r["kb"]): r["ed"]
        for r in _editdist_pairs(p, ["p_brand"]).collect()
    }
    rows = p.select("p_partkey", "p_name", "p_brand").collect()
    from collections import defaultdict

    by_brand = defaultdict(list)
    for r in rows:
        by_brand[r["p_brand"]].append((r["p_partkey"], r["p_name"]))
    want = {}
    for members in by_brand.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                ed = _py_levenshtein(members[i][1], members[j][1])
                if ed <= _ED_K:
                    want[(members[i][0], members[j][0])] = ed
    assert got == want
    assert want, "brand-only block space has no near-dup names; vacuous"


def test_dq_report_rules_and_counts(spark, sf_dir):
    """The temporal rule must FIRE on this corpus (the r7 inverted-span
    discovery), the clean rules must report zero with full coverage,
    and the firing count must match an independent recomputation."""
    from etl_extractor_spark.plans.pipeline_ops5 import dq_expectations_report

    rows = {r["rule"]: r for r in dq_expectations_report(spark, sf_dir).collect()}
    assert set(rows) == {
        "pk_unique_orderkey",
        "fk_orders_customer",
        "positive_totalprice",
        "status_in_domain",
        "ship_on_or_after_order",
    }
    n_orders = load_table(spark, sf_dir, "orders").count()
    for rule in (
        "pk_unique_orderkey",
        "fk_orders_customer",
        "positive_totalprice",
        "status_in_domain",
    ):
        assert rows[rule]["n_violations"] == 0
        assert rows[rule]["n_checked"] == n_orders
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    want = j.filter(F.to_date("l_shipdate") < F.to_date("o_orderdate")).count()
    assert rows["ship_on_or_after_order"]["n_violations"] == want > 0
    assert rows["ship_on_or_after_order"]["n_checked"] == j.count()
