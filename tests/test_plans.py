"""Physical-plan regression tests — the optimizations we rely on must
be visible in the plan, not assumed: pushed filters, pruned schemas,
broadcast joins. Guards against future plan-shape regressions."""

from __future__ import annotations

import pytest

from etl_extractor_spark.plans.tpch import (
    q1_pricing_summary,
    q5_regional_revenue,
    q6_revenue_forecast,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushdown_and_column_pruning(spark, sf_dir):
    plan = _plan(q1_pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruning: untouched columns must not be read
    assert "l_orderkey" not in plan.split("ReadSchema")[1]
    assert "l_partkey" not in plan.split("ReadSchema")[1]


def test_q6_range_predicates_reach_scan(spark, sf_dir):
    plan = _plan(q6_revenue_forecast(spark, sf_dir))
    # toString truncates long filter lists — check the leading set and
    # that a range predicate made it into the scan at all
    pushed = plan.split("PushedFilters:")[1].split(", ReadSchema")[0]
    assert "IsNotNull(l_shipdate)" in pushed
    assert "IsNotNull(l_discount)" in pushed
    assert "GreaterThanOrEqual(l_shipda" in pushed


def test_q5_star_join_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(q5_regional_revenue(spark, sf_dir))
    # 5 joins; at minimum the 4 dimension-side tables must broadcast
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_dim_query_no_shuffle_before_dedup_projection(spark, sf_dir):
    from etl_extractor_spark.plans.parity import dim_customer

    plan = _plan(dim_customer(spark, sf_dir))
    # dedup needs exactly one exchange; the projection itself must not
    assert plan.count("Exchange hashpartitioning") == 1


def test_q9_dimension_broadcasts_and_name_pushdown(spark, sf_dir):
    from etl_extractor_spark.plans.tpch4 import q9_profit_by_nation

    plan = _plan(q9_profit_by_nation(spark, sf_dir))
    # part/supplier/nation broadcast; only orders⋈lineitem may shuffle
    assert plan.count("BroadcastHashJoin") >= 3
    # the p_name contains-filter reaches the part scan
    assert "StringContains(p_name,red)" in plan


def test_q16_not_in_compiles_to_broadcast_anti_join(spark, sf_dir):
    from etl_extractor_spark.plans.tpch4 import q16_supplier_part_counts

    plan = _plan(q16_supplier_part_counts(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_winsorize_percentiles_broadcast_back(spark, sf_dir):
    from etl_extractor_spark.plans.cleaning import winsorize_prices

    plan = _plan(winsorize_prices(spark, sf_dir))
    # per-group percentile bounds join back as a broadcast, never a
    # per-row window over the fact
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_q11_scalar_threshold_is_broadcast_not_collected(spark, sf_dir):
    from etl_extractor_spark.plans.tpch4 import q11_important_parts

    plan = _plan(q11_important_parts(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Selective dim filter + big-big shuffle join: Spark's runtime
    bloom filter should materialize on the dim side and pre-filter the
    fact scan (semi-join reduction). At 100 TB the default thresholds
    (creation side <=10MB, probe scan >=10GB) trigger this natively;
    here we lower them to express the same plan at test scale."""
    from pyspark.sql import functions as F

    from etl_extractor_spark.sources.parquet import load_table

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, sf_dir, "lineitem")
        part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
        j = (
            li.join(part, li.l_partkey == part.p_partkey)
            .groupBy("p_type")
            .agg(F.sum("l_quantity"))
        )
        plan = _plan(j)
        assert "bloom_filter_agg" in plan
        assert "BloomFilterMightContain" in plan or "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_join_with_stats_broadcasts_from_manifest_rowcount(spark, sf_dir, tmp_path):
    """Manifest row counts drive the broadcast decision: under the
    threshold → BroadcastHashJoin; threshold 0 → shuffle join. No data
    is scanned to decide (one JSON read)."""
    from etl_extractor_spark.operators.planning import join_with_stats
    from etl_extractor_spark.sinks.manifest import write_with_manifest
    from etl_extractor_spark.sources.parquet import load_table

    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_nationkey", "n_nationkey"
    )
    dim_path = str(tmp_path / "nation_dim")
    write_with_manifest(spark, nation, dim_path, ["n_nationkey"])

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # neutralize Spark's own size heuristic so the manifest decision
        # is what we observe
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j1 = join_with_stats(spark, cust, dim_path, "n_nationkey")
        assert "BroadcastHashJoin" in _plan(j1)
        j2 = join_with_stats(
            spark, cust, dim_path, "n_nationkey", broadcast_row_threshold=0
        )
        p2 = _plan(j2)
        assert "SortMergeJoin" in p2 and "BroadcastHashJoin" not in p2
        assert j1.count() == j2.count() == cust.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_parquet_aggregate_pushdown_answers_from_footers(spark, sf_dir):
    """With the V2 parquet source, global MIN/MAX/COUNT compile to a
    BatchScan with PushedAggregation — answered from row-group
    statistics, no data pages decoded. At 100 TB that's a metadata read
    instead of a table scan for the reference's scalar-bound lookups
    (SURVEY A1/A2)."""
    import os

    from pyspark.sql import functions as F

    saved = {
        "spark.sql.parquet.aggregatePushdown": spark.conf.get(
            "spark.sql.parquet.aggregatePushdown"
        ),
        "spark.sql.sources.useV1SourceList": spark.conf.get(
            "spark.sql.sources.useV1SourceList"
        ),
    }
    try:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        df = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        q = df.agg(
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        plan = _plan(q)
        assert "PushedAggregation: [MIN(o_totalprice), MAX(o_totalprice), COUNT(*)]" in plan
        # and the footer-answered result matches a real (non-pushed) scan
        row = q.first()
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
        full = df.agg(F.min("o_totalprice"), F.max("o_totalprice"), F.count(F.lit(1))).first()
        assert (row["lo"], row["hi"], row["n"]) == (full[0], full[1], full[2])
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_no_forced_broadcast_on_sf_scaled_tables():
    """customer/supplier/part/orders GROW with scale factor: a forced
    F.broadcast() on them would OOM the build side at 100 TB, so the
    plans may hint only fixed-size dims (nation/region) and scalar/
    grid-sized aggregates — AQE decides for everything that scales.
    Source-level guard: no F.broadcast(<sf-scaled alias>) in plans/."""
    import pathlib
    import re

    scaled = re.compile(
        r"F\.broadcast\(\s*(c|s|p|o|l|customer|supplier|part|orders|lineitem)\s*[,)]"
    )
    plans = pathlib.Path("etl_extractor_spark/plans")
    offenders = [
        f"{f.name}:{i}"
        for f in sorted(plans.glob("*.py"))
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if scaled.search(line)
    ]
    assert offenders == [], offenders


def test_q8_hints_only_on_fixed_dims(spark, sf_dir):
    """q7/q8-style plans: the only explicit broadcast hints left are the
    fixed-cardinality nation/region dims; customer/supplier join via
    AQE's runtime decision (broadcast at local SF, shuffle at 100 TB)."""
    from etl_extractor_spark.plans.tpch3 import q8_market_share

    df = q8_market_share(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # exactly the 3 fixed-dim hints (n_c, n_s, region) survive analysis
    assert analyzed.count("ResolvedHint") == 3
    assert df.count() >= 0  # still executes


def test_winnow_single_exchange(spark, sf_dir):
    """winnow_fingerprints: the per-doc window AND the per-doc groupBy
    must share ONE hashpartitioning exchange on doc_id — re-shuffling
    between them would double the wide cost of the fingerprint pass."""
    from etl_extractor_spark.plans.text_analysis import winnow_fingerprints

    plan = _plan(winnow_fingerprints(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_new_ops_no_cartesian(spark, sf_dir):
    """semdedup / bpe / source-mix: scalar broadcasts only — no
    cartesian or nested-loop joins may appear in the physical plans."""
    from etl_extractor_spark.plans.corpus_prep import source_mix_resample
    from etl_extractor_spark.plans.similarity import semdedup_keep
    from etl_extractor_spark.plans.text_analysis import bpe_apply_merge

    for fn in (semdedup_keep, bpe_apply_merge, source_mix_resample):
        plan = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__


def test_aqe_converts_dehinted_joins_to_broadcast(spark, sf_dir):
    """With forced hints removed from SF-scaled tables, AQE must still
    pick broadcast joins at test SF (runtime stats) — proving the hint
    removal trades nothing locally while unblocking shuffle joins at
    100 TB."""
    from etl_extractor_spark.plans.tpch import q3_top_revenue_orders

    df = q3_top_revenue_orders(spark, sf_dir)
    df.collect()  # AQE finalizes the physical plan during execution
    plan = _plan(df)
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("BroadcastHashJoin") >= 2


def test_bpe_apply_merge_single_symbol_token(spark, tmp_path):
    """ANSI regression: a standalone token EQUAL to the winning pair
    fuses into ONE symbol, making sequence(1, size(syms)-1) =
    sequence(1, 0) — Spark's DESCENDING [1, 0] — which indexed out of
    bounds before the size(syms) >= 2 guard. The corpus here forces
    'er' to win round 1 while also appearing as its own token; the
    result must match the DuckDB oracle on the same frame."""
    import duckdb
    import pandas as pd

    from etl_extractor_spark.plans.text_analysis import (
        BPE_APPLY_SQL,
        bpe_apply_merge,
    )
    from tests.oracle import compare

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "source": ["src0", "src0", "src1"],
            "text": [
                "er er er verb herd",
                "term er tiger",
                "er banner",
            ],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'documents.parquet'}')"
    )
    n = compare(bpe_apply_merge(spark, str(tmp_path)), con, BPE_APPLY_SQL)
    assert n > 0


def test_gopher_short_doc_does_not_crash(spark, tmp_path):
    """Docs shorter than the n-gram order must drop cleanly (empty
    gram array), not raise an ANSI slice error via sequence(1, k<1)."""
    import pandas as pd

    from etl_extractor_spark.plans.corpus_quality import gopher_repetition

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "source": ["src0", "src0", "src1"],
            "text": ["one", "two tokens", "three token doc here ok"],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    rows = {r["doc_id"] for r in gopher_repetition(spark, str(tmp_path)).collect()}
    # only doc 3 has trigrams; docs 1-2 drop from the inner join
    assert rows == {3}


def test_pii_redaction_is_map_only(spark, sf_dir):
    """The privacy pass must stay a shuffle-free projection over the
    scan — a regex pass that exchanges data would be a 100 TB bug."""
    from etl_extractor_spark.plans.pii import pii_redaction

    plan = _plan(pii_redaction(spark, sf_dir))
    assert "Exchange" not in plan
    assert "text" in plan.split("ReadSchema")[1]  # only doc_id/source/text read


def test_variant_stats_single_exchange(spark, sf_dir):
    """parse_json + variant_get: one partial-agg exchange, scan reads
    only (event_type, props)."""
    from etl_extractor_spark.plans.events import events_variant_stats

    plan = _plan(events_variant_stats(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    read = plan.split("ReadSchema")[1]
    assert "props" in read and "user_id" not in read


def test_asof_trio_single_shuffle_per_carry(spark, sf_dir):
    """as-of = union + per-key sort-window carry: the forward variant
    must shuffle on the key once, never expand to a pair join."""
    from etl_extractor_spark.plans.events import events_asof_next_click

    plan = _plan(events_asof_next_click(spark, sf_dir))
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_mixture_epochs_single_corpus_scan(spark, sf_dir):
    """The z normalizer is a window over the |sources|-row aggregate:
    ONE corpus scan+tokenize, no join, no cartesian (a crossJoin with a
    re-aggregated total would instantiate the scan subtree twice)."""
    from etl_extractor_spark.plans.corpus_prep import mixture_epochs

    plan = _plan(mixture_epochs(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("FileScan") == 1


def test_quality_logreg_is_map_only(spark, sf_dir):
    """The logistic gate must compose with scans for free: zero
    exchanges — it is the filter pushed in front of expensive dedup."""
    from etl_extractor_spark.plans.web_curation import doc_quality_logreg

    plan = _plan(doc_quality_logreg(spark, sf_dir))
    assert "Exchange" not in plan
    # column pruning: only doc_id + text are read
    assert "lang" not in plan.split("ReadSchema")[1]


def test_url_canonical_dedup_single_exchange(spark, sf_dir):
    """Canonicalization is map-side; the only shuffle is the group-by
    on the canonical key."""
    from etl_extractor_spark.plans.web_curation import url_canonical_dedup

    plan = _plan(url_canonical_dedup(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_salted_topk_no_single_partition_funnel_in_phase1(spark, sf_dir):
    """Two-phase top-k: phase 1 must partition by (group, salt) — the
    hot group never lands on one reducer with the full row set; the
    single-key exchange happens only after the per-bucket k-cap."""
    from etl_extractor_spark.plans.analytics4 import topk_orders_salted

    plan = _plan(topk_orders_salted(spark, sf_dir))
    # both exchanges present: salted first, group-only second
    assert "hashpartitioning(o_orderpriority" in plan
    assert "_salt" in plan
    assert "CartesianProduct" not in plan


def test_pagerank_iteration_plans_stay_bounded(spark, sf_dir):
    """The rank iteration's lineage must stay LINEAR in the round
    count: since r11 the per-round checkpoints are gone (each round
    references the previous rank frame exactly once and the
    loop-invariant edge/node frames are checkpointed leaves), so the
    final plan legitimately carries rounds × 2 joins (contribution +
    base-term per round) — but NEVER the 2^rounds pyramid that
    multi-reference rounds would produce under re-optimization."""
    from etl_extractor_spark.plans.graph import PR_ITER, pagerank_purchase_graph

    plan = _plan(pagerank_purchase_graph(spark, sf_dir))
    n_joins = plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin")
    # linear bound: 2 joins per round + slack for the ranking tail;
    # an exponential blowup would put 2^PR_ITER+ joins here
    assert n_joins <= 2 * PR_ITER + 2


def test_common_paragraph_filter_pruned_scan_no_cartesian(spark, sf_dir):
    """Corpus-global paragraph filtering: chunking is map-side, the
    doc-frequency join is key-equi (never a pair blowup), and the scan
    must read only (doc_id, text)."""
    from etl_extractor_spark.plans.dedup import common_paragraph_filter

    plan = _plan(common_paragraph_filter(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "lang" not in plan.split("ReadSchema")[1]


def test_user_erasure_audit_no_cartesian(spark, sf_dir):
    """GDPR dry-run: three fact probes against the tiny request list —
    equi/semi joins only; the cascade must not multiply rows."""
    from etl_extractor_spark.plans.cleaning import user_erasure_audit

    plan = _plan(user_erasure_audit(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_triangle_orientation_bounds_wedge_join(spark, sf_dir):
    """Triangle counting must run on the ORIENTED edge list: the wedge
    self-join keys on src (equi), the closing probe on (src, dst) —
    never a cartesian; and the only base scan is lineitem's two keys."""
    from etl_extractor_spark.plans.graph import triangle_participation

    plan = _plan(triangle_participation(spark, sf_dir))
    assert "CartesianProduct" not in plan
    read = plan.split("ReadSchema")[1]
    assert "l_orderkey" in read and "l_quantity" not in plan


def test_decayed_revenue_single_daily_aggregate(spark, sf_dir):
    """Contribution expansion must run over the ALREADY-AGGREGATED
    daily table: orders is scanned at most twice (daily + join-back),
    the 30x explode never touches raw orders."""
    from etl_extractor_spark.plans.analytics4 import decayed_daily_revenue

    plan = _plan(decayed_daily_revenue(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("FileScan") <= 2


def test_recursive_cte_plans_execute_without_cartesian(spark, sf_dir):
    """WITH RECURSIVE: each iteration is an equi-join of the frontier
    (no cartesian); union-loop execution handles the fixpoint."""
    from etl_extractor_spark.plans.recursive import (
        doc_subtree_rollup,
        doc_tree_depth,
    )

    for fn in (doc_tree_depth, doc_subtree_rollup):
        plan = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__


def test_pq_brute_broadcasts_query_side(spark, sf_dir):
    """PQ-ADC brute scan: the non-equi self-pair join must be the
    broadcast-small-query-side nested loop, never a cartesian of two
    SF-scaled sides."""
    from etl_extractor_spark.plans.similarity import pq_adc_topk

    plan = _plan(pq_adc_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_ivfpq_candidate_join_is_equi_on_cluster(spark, sf_dir):
    """IVF-PQ composition: coarse pruning must surface as an EQUI join
    on cluster_id (hash or broadcast-hash), not the brute nested-loop —
    that equi key IS the O(n/k) candidate bound."""
    from etl_extractor_spark.plans.similarity import ivfpq_adc_topk

    plan = _plan(ivfpq_adc_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_rate_limit_single_shuffle(spark, sf_dir):
    """The quota decision must shuffle once on (user, bucket); the
    per-user audit fold rides the same partitioning prefix — a second
    full exchange would double the cost of an ingestion-path gate."""
    from etl_extractor_spark.plans.events import events_rate_limit

    plan = _plan(events_rate_limit(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_bpe_train_rounds_multichar_and_full_fuse(spark, tmp_path):
    """Iterative BPE edge coverage in one corpus: round 2+ must fuse a
    MULTI-CHARACTER symbol pair boundary-safely (the double-space
    delimiter: 'ab'+'ab' in 'abab', never matching across symbol
    boundaries like the 'b a' inside 'ab ab'), runs like 'ababab' must
    fuse leftmost-first, and tokens that collapse into a single symbol
    must hit the size(syms) < 2 guard instead of ANSI-erroring. Result
    hash-checked against the unrolled DuckDB oracle on the same frame."""
    import duckdb
    import pandas as pd

    from etl_extractor_spark.plans.text_analysis import (
        BPE_TRAIN_SQL,
        bpe_train_rounds,
    )
    from tests.oracle import compare

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "source": ["src0", "src0", "src1", "src1"],
            "text": [
                "abab abab ababab",
                "ab abba cab",
                "abab drab abs",
                "babble ab abab",
            ],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'documents.parquet'}')"
    )
    n = compare(bpe_train_rounds(spark, str(tmp_path)), con, BPE_TRAIN_SQL)
    assert n == 3


def test_bootstrap_ci_partial_agg_single_shuffle(spark, sf_dir):
    """The 100x replica expand must partial-aggregate map-side: one
    hashpartitioning exchange on the replica id (plus the 100-row
    ranking), never a shuffle of the expanded rows themselves."""
    from etl_extractor_spark.plans.stats import bootstrap_revenue_ci

    plan = _plan(bootstrap_revenue_ci(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower() or "HashAggregate" in plan


def test_scd2_pit_no_cartesian_bounded_joins(spark, sf_dir):
    """The point-in-time join must stay key-equi with a range residual
    — a pure range join (BroadcastNestedLoop over SF-scaled sides)
    would explode at scale."""
    from etl_extractor_spark.plans.analytics4 import scd2_point_in_time

    plan = _plan(scd2_point_in_time(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the fact-dim join keys on custkey (equi), residual is a filter
    assert "c_custkey" in plan


def test_nested_lines_single_shuffle(spark, sf_dir):
    """Nested reconstruction: one exchange on the order key; the HOF
    stats run map-side over the built arrays."""
    from etl_extractor_spark.plans.analytics2 import orders_nested_lines

    plan = _plan(orders_nested_lines(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_streaks_share_one_partitioning(spark, sf_dir):
    """lag + running-sum + per-(cust,grp) count + per-cust rollup must
    ride ONE o_custkey exchange (grp is a refinement of the same key)."""
    from etl_extractor_spark.plans.analytics2 import customer_order_streaks

    plan = _plan(customer_order_streaks(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "CartesianProduct" not in plan


def test_dpp_fires_on_partitioned_fact(spark, sf_dir):
    """Dynamic Partition Pruning must appear in the partitioned-fact
    join plan: the dim's filter prunes fact partitions at runtime
    (PartitionFilters: [... dynamicpruning ...])."""
    from etl_extractor_spark.plans.roundtrip import dpp_partitioned_join

    plan = _plan(dpp_partitioned_join(spark, sf_dir))
    assert "dynamicpruning" in plan.lower()
    assert "CartesianProduct" not in plan


def test_bucketed_join_is_colocated(spark, sf_dir):
    """Both bucketed scans must feed the sort-merge join directly —
    zero Exchange on the join inputs (the single rollup exchange is
    the only shuffle). Broadcast is disabled so the co-located SMJ
    path (the 100 TB big-join shape) is what gets planned."""
    from etl_extractor_spark.plans.roundtrip import bucketed_join_colocated

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(bucketed_join_colocated(spark, sf_dir))
        assert "SortMergeJoin" in plan
        assert plan.count("Bucketed: true") == 2
        assert plan.count("Exchange hashpartitioning") == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_common_paragraph_filter_empty_and_tiny_docs(spark, tmp_path):
    """Edge coverage: an empty-text doc tokenizes to [''] in BOTH
    engines (one empty paragraph — the ANSI sequence guard only has to
    fire for NULL text), sub-chunk docs produce one tail paragraph,
    and a 4-token chunk repeated across 3 docs crosses the df
    threshold; hash-checked against the oracle on the same frame."""
    import duckdb
    import pandas as pd

    from etl_extractor_spark.plans.dedup import (
        COMMON_PARAGRAPH_SQL,
        common_paragraph_filter,
    )
    from tests.oracle import compare

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6, 7],
            "source": ["s"] * 7,
            "lang": ["en"] * 7,
            "n_chars": [0, 2, 11, 30, 30, 30, 30],
            "text": [
                "",  # empty -> zero paragraphs
                "ab",  # single sub-chunk token
                "one two three",  # one tail chunk
                "common block here now tail",  # repeated 4-token chunk
                "common block here now other",
                "common block here now words",
                "unique chunk entirely here xx",
            ],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'documents.parquet'}')"
    )
    n = compare(common_paragraph_filter(spark, str(tmp_path)), con, COMMON_PARAGRAPH_SQL)
    assert n == 7


def test_round4_wave_no_cartesian_no_global_sort(spark, sf_dir):
    """Round-4 additions: no cartesian products anywhere; the batching
    and keyterm rank windows must partition (never a corpus-global
    window); MaxSim's query side broadcasts."""
    from etl_extractor_spark.plans.cleaning import l_diversity_audit
    from etl_extractor_spark.plans.similarity import maxsim_multivector
    from etl_extractor_spark.plans.stats import (
        gini_revenue_concentration,
        ses_forecast_nation,
    )
    from etl_extractor_spark.plans.text_analysis import doc_keyterms
    from etl_extractor_spark.plans.training_prep import (
        length_bucketed_batches,
        rrf_fusion,
    )

    for fn in (
        maxsim_multivector,
        rrf_fusion,
        length_bucketed_batches,
        doc_keyterms,
        l_diversity_audit,
        ses_forecast_nation,
        gini_revenue_concentration,
    ):
        plan = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
    # partitioned rank windows: the window spec must carry a
    # partition key, not be a bare global ordering
    for fn, key in (
        (length_bucketed_batches, "len_bucket"),
        (doc_keyterms, "doc_id"),
        (gini_revenue_concentration, "n_name"),
    ):
        plan = _plan(fn(spark, sf_dir))
        assert f"partitionBy: [{key}" in plan.replace("#", "").replace(
            "L", ""
        ) or "windowspecdefinition(" + key in plan.replace("#", "").replace(
            "L", ""
        ), f"{fn.__name__}: rank window not partitioned by {key}"
    plan = _plan(maxsim_multivector(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_dsir_no_collect_single_bigram_substrate(spark, sf_dir):
    """DSIR: the delta table must broadcast (4096 rows by construction)
    and no cartesian/global-sort appears."""
    from etl_extractor_spark.plans.corpus_quality import dsir_importance_weights

    plan = _plan(dsir_importance_weights(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_training_eval_corpus_joins_stay_smj(spark, sf_dir):
    """Round-5 training-eval suite: every join whose sides are
    token-exploded (corpus-scaled at 100 TB) must be a SortMergeJoin —
    Catalyst's PRE-explode size estimate would otherwise broadcast a
    corpus-scaled build side (the r4 `_pair_jaccard` OOM class). The
    1-row minority-size frame in class_balanced_sample is the one
    join that SHOULD broadcast."""
    from etl_extractor_spark.plans.training_eval import (
        class_balanced_sample,
        minhash_estimate_error,
        ngram_novelty_score,
        rouge1_adjacent_pairs,
        tokenizer_fertility,
    )

    for fn in (ngram_novelty_score, rouge1_adjacent_pairs, minhash_estimate_error):
        plan = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastHashJoin" not in plan, (
            f"{fn.__name__}: corpus-scaled side got broadcast"
        )
        assert "SortMergeJoin" in plan, fn.__name__
    plan = _plan(class_balanced_sample(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan  # 1-row K frame, by design
    # fertility is a pure scan→partial-agg→final-agg pipeline: no join
    plan = _plan(tokenizer_fertility(spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # one shuffle (+AQE read)


def test_jpeg_roundtrip_fans_out_before_python(spark, sf_dir):
    """The JPEG round-trip must repartition ahead of mapInPandas (the
    scan is 1-2 partitions; the Python codec is the expensive stage) —
    and the Python stage must see only (doc_id, blob)."""
    from etl_extractor_spark.plans.multimodal import multimodal_jpeg_roundtrip

    plan = _plan(multimodal_jpeg_roundtrip(spark, sf_dir))
    assert "MapInPandas" in plan
    assert "RoundRobinPartitioning" in plan


def test_bloom_gate_is_map_only_before_verify(spark, sf_dir):
    """The Bloom membership test must be a FILTER on the scan side —
    no join, no exchange between the corpus gram explode and the gate
    (the property that makes the prefilter O(corpus) map work instead
    of an O(corpus) shuffle)."""
    from etl_extractor_spark.plans.trigrams import bloom_prefilter_decontaminate

    plan = _plan(bloom_prefilter_decontaminate(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the verify join against the eval gram set is broadcast
    assert "BroadcastHashJoin" in plan


def test_jaccard_prefix_join_is_merge_pinned(spark, sf_dir):
    """Both exploded prefix sides and both set sides carry merge-join
    pins (the pre-explode size-misestimate guard): no broadcast of a
    corpus-scaled side may appear."""
    from etl_extractor_spark.plans.trigrams import jaccard_prefix_filter_join

    plan = _plan(jaccard_prefix_filter_join(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") >= 3


def test_quantile_normalize_has_no_single_partition_window(spark, sf_dir):
    """The two-phase rank must never plan a global (SinglePartition)
    window over the corpus — only the tiny bucket-size cumsum may."""
    from etl_extractor_spark.plans.pipeline_ops import (
        quantile_normalize_sources,
    )

    df = quantile_normalize_sources(spark, sf_dir)
    plan = _plan(df)
    # every corpus-sized Window partitions by (source and/or bucket);
    # count windows that run over SinglePartition exchanges: they must
    # all sit above the O(buckets) sizes aggregate, which is bounded —
    # detectable because the offsets frame is built from a groupBy
    # aggregate, so the single-partition exchange count stays <= 2.
    assert plan.count("Exchange SinglePartition") <= 2


def test_tfidf_cosine_postings_join_is_merge_pinned(spark, sf_dir):
    """The df-capped postings self-join (the corpus-scaled pair space)
    must be a SortMergeJoin via its explicit hints — the pre-explode
    size misestimate would otherwise broadcast a corpus-scaled side.
    Broadcast joins may appear only for the bounded frames (idf'd
    feature set, 1-row doc count, top-k norms lookups under AQE)."""
    from etl_extractor_spark.plans.trigrams import tfidf_cosine_topk

    plan = _plan(tfidf_cosine_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") >= 1


def test_ks_two_sample_windows_are_two_phase(spark, sf_dir):
    """The KS running CDF must stay two-phase: the only global
    (SinglePartition) exchanges allowed are the O(price-band) bucket
    prefix and the final 1-row aggregate — no data-scaled frame may
    funnel through a partition-less window."""
    from etl_extractor_spark.plans.pipeline_ops3 import ks_two_sample_orders

    plan = _plan(ks_two_sample_orders(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # bucket-prefix window + final scalar agg + broadcast-exchange prep
    assert plan.count("Exchange SinglePartition") <= 3


def test_t_closeness_covers_full_grid(spark, sf_dir):
    """The full-grid TVD guard, made non-vacuous (review catch: a row
    count alone also passed under the buggy inner-join form). Two
    assertions: (a) the TEST DATA actually exercises the absent-
    segment path — at least one (nation, segment) cell is empty — so
    the parametrized oracle hash-compare (which pins the full-grid
    value including the n_s*n_g terms of empty cells) is the real
    value guard; (b) for one nation with an absent segment, the Spark
    tvd strictly exceeds what the buggy observed-pairs-only formula
    would give, recomputed here independently."""
    import math

    from etl_extractor_spark.plans.pipeline_ops3 import t_closeness_audit
    from etl_extractor_spark.sources.parquet import load_table

    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment"
    )
    n_nations = c.select("c_nationkey").distinct().count()
    n_segments = c.select("c_mktsegment").distinct().count()
    pairs = c.groupBy("c_nationkey", "c_mktsegment").count().collect()
    # (a) precondition: the absent-segment path is exercised
    assert len(pairs) < n_nations * n_segments, "grid fully covered; fixture lost its empty cells"

    out = t_closeness_audit(spark, sf_dir).collect()
    assert len(out) == n_nations
    # (b) recompute the BUGGY observed-pairs-only TVD for a nation
    # with a missing segment; the fixed value must be strictly larger
    rows = {r["c_nationkey"]: r for r in out}
    seg_tot: dict = {}
    nat_tot: dict = {}
    by_nation: dict = {}
    for r in pairs:
        seg_tot[r["c_mktsegment"]] = seg_tot.get(r["c_mktsegment"], 0) + r["count"]
        nat_tot[r["c_nationkey"]] = nat_tot.get(r["c_nationkey"], 0) + r["count"]
        by_nation.setdefault(r["c_nationkey"], {})[r["c_mktsegment"]] = r["count"]
    n = sum(seg_tot.values())
    target = next(k for k, segs in by_nation.items() if len(segs) < n_segments)
    buggy_num = sum(
        abs(cnt * n - seg_tot[s] * nat_tot[target])
        for s, cnt in by_nation[target].items()
    )
    buggy_tvd = math.floor(buggy_num / (2.0 * nat_tot[target] * n) * 1000000)
    assert rows[target]["tvd_micro"] > buggy_tvd
