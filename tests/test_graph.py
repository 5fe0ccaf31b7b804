"""Guards for the graph queries (plans/graph.py).

Value correctness is covered by the parametrized oracle gate
(test_queries_oracle); these tests pin what the oracle can't see:
round-to-round invariants, normalization invariants, brute-force
derivations independent of both engines, and the order-isomorphism of
the label-propagation int encoding.

The LPA encoding: label_propagation_communities runs its min-label
rounds on int64 codes (_lp_enc) instead of 'C'||k / 'S'||k strings;
that is only sound if the code order equals the string order EXACTLY
(min over codes == min over labels) and the decode is the exact
inverse. The encoding tests pin both over a range that exercises every
digit-count boundary (the classic traps: 'C10' > 'C1', 'C115' < 'C12',
power-of-ten lengths, 'C' < 'S'), up to the top of the 12-digit
domain, and pin that a key past it fails loudly instead of encoding to
NULL.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_extractor_spark.plans.graph import _lp_dec, _lp_enc
from etl_extractor_spark.sources.parquet import load_table


def test_lp_encoding_order_isomorphic_and_roundtrip(spark):
    keys = sorted(
        set(range(1, 1201))
        | {0}
        | {10**j for j in range(1, 12)}
        | {10**j - 1 for j in range(2, 13)}
        | {10**j + 1 for j in range(1, 12)}
        | {15_000_000_000, 123_456_789_012, 100_000_000_001}
    )
    rows = [(k, p) for k in keys for p in (0, 1)]
    df = spark.createDataFrame(rows, "k long, p int")
    enc = df.select(
        F.when(F.col("p") == 0, F.concat(F.lit("C"), F.col("k").cast("string")))
        .otherwise(F.concat(F.lit("S"), F.col("k").cast("string")))
        .alias("s"),
        F.when(F.col("p") == 0, _lp_enc("k", 0))
        .otherwise(_lp_enc("k", 1))
        .alias("code"),
    )
    got = enc.select("s", "code", _lp_dec("code").alias("back")).collect()

    # roundtrip: decode is the exact inverse
    bad = [(r["s"], r["back"]) for r in got if r["s"] != r["back"]]
    assert not bad, f"decode mismatches: {bad[:5]}"

    # injective + order-isomorphic: sorting by code == sorting by string
    codes = [r["code"] for r in got]
    assert len(set(codes)) == len(codes), "encoding not injective"
    by_str = [r["s"] for r in sorted(got, key=lambda r: r["s"])]
    by_code = [r["s"] for r in sorted(got, key=lambda r: r["code"])]
    assert by_str == by_code, "code order diverges from label-string order"


@pytest.mark.parametrize("key", [10**12, 10**15, -1])
def test_lp_encoding_out_of_range_key_raises(spark, key):
    df = spark.createDataFrame([(key,)], "k long")
    with pytest.raises(Exception, match="encodable range"):
        df.select(_lp_enc("k", 0).alias("code")).collect()


def test_lp_encoding_null_key_stays_null(spark):
    df = spark.createDataFrame([(None,)], "k long")
    assert df.select(_lp_enc("k", 1).alias("code")).first()["code"] is None


def test_bfs_levels_are_disjoint_and_minimal(spark, sf_dir):
    """Every BFS level is disjoint from all earlier levels (anti-join
    discipline), and hop counts are non-increasing in reachability:
    re-deriving via one more expansion never finds a shorter path."""
    from etl_extractor_spark.plans.graph import bfs_shortest_hops

    out = bfs_shortest_hops(spark, sf_dir).collect()
    hops = sorted(r["hop"] for r in out)
    assert hops == sorted(set(hops))  # one row per hop level
    assert min(hops) == 0


def test_kcore_rounds_monotone(spark, sf_dir):
    """Peeling is monotone: node and edge counts never grow across
    rounds."""
    from etl_extractor_spark.plans.graph import kcore_peel_rounds

    rows = {r["round"]: r for r in kcore_peel_rounds(spark, sf_dir).collect()}
    for r in range(2, 4):
        assert rows[r]["n_nodes"] <= rows[r - 1]["n_nodes"]
        assert rows[r]["n_edges"] <= rows[r - 1]["n_edges"]


def test_hits_normalization_invariants(spark, sf_dir):
    """Max-normalized integer HITS: exactly 20 ranked rows, scores in
    (0, 1000], and the top supplier at exactly 1000 (x·1000 div max(x)
    is 1000 at the max by construction)."""
    from etl_extractor_spark.plans.graph import hits_hub_authority

    n_supp = load_table(spark, sf_dir, "supplier").count()
    rows = hits_hub_authority(spark, sf_dir).collect()
    assert len(rows) == min(20, n_supp)
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert rows[0]["authority_milli"] == 1000
    assert all(0 < r["authority_milli"] <= 1000 for r in rows)


def test_modularity_brute_force(spark, sf_dir):
    """Engine-independent brute force: per-nation e_c, D_c and the
    floor'd double contribution re-derived in pure Python from the
    raw parquet."""
    import math

    import pandas as pd

    from etl_extractor_spark.plans.graph import graph_modularity_nations

    got = {
        r["nation"]: r for r in graph_modularity_nations(spark, sf_dir).collect()
    }
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")[["o_orderkey", "o_custkey"]]
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")[["l_orderkey", "l_suppkey"]]
    c = pd.read_parquet(f"{sf_dir}/customer.parquet")[["c_custkey", "c_nationkey"]]
    s = pd.read_parquet(f"{sf_dir}/supplier.parquet")[["s_suppkey", "s_nationkey"]]
    n = pd.read_parquet(f"{sf_dir}/nation.parquet")[["n_nationkey", "n_name"]]
    nname = dict(zip(n["n_nationkey"], n["n_name"]))
    e = (
        o.merge(li, left_on="o_orderkey", right_on="l_orderkey")[
            ["o_custkey", "l_suppkey"]
        ]
        .drop_duplicates()
    )
    m = len(e)
    cn = dict(zip(c["c_custkey"], c["c_nationkey"]))
    sn = dict(zip(s["s_suppkey"], s["s_nationkey"]))
    ec: dict = {}
    deg: dict = {}
    nodes_c: dict = {}
    nodes_s: dict = {}
    for ck, sk in e.itertuples(index=False):
        a, b = cn[ck], sn[sk]
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
        nodes_c.setdefault(a, set()).add(ck)
        nodes_s.setdefault(b, set()).add(sk)
        if a == b:
            ec[a] = ec.get(a, 0) + 1
    nats = set(deg)
    assert set(got) == {nname[k] for k in nats}
    for k in nats:
        r = got[nname[k]]
        assert r["internal_edges"] == ec.get(k, 0)
        assert r["degree_sum"] == deg[k]
        assert r["n_customers"] == len(nodes_c.get(k, set()))
        assert r["n_suppliers"] == len(nodes_s.get(k, set()))
        want = math.floor(
            (4.0 * m * ec.get(k, 0) - float(deg[k]) * deg[k])
            / (4.0 * m * m)
            * 1000000.0
        )
        assert r["q_contrib_micro"] == want
    # whole-graph sanity: sum of contributions is a valid modularity
    q = sum(r["q_contrib_micro"] for r in got.values()) / 1e6
    assert -1.0 <= q <= 1.0


def test_link_prediction_matches_pandas_sets(spark, sf_dir):
    from etl_extractor_spark.plans.graph import link_prediction_jaccard
    from etl_extractor_spark.sources.parquet import load_table

    rows = link_prediction_jaccard(spark, sf_dir).collect()
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .toPandas()
        .drop_duplicates()
    )
    from collections import Counter, defaultdict

    by_order = defaultdict(set)
    for o, p in zip(li["l_orderkey"], li["l_partkey"]):
        by_order[o].add(p)
    support = Counter()
    adj = defaultdict(set)
    for parts in by_order.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                support[(ps[i], ps[j])] += 1
                adj[ps[i]].add(ps[j])
                adj[ps[j]].add(ps[i])
    cand = sorted(support.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    assert len(rows) == len(cand)
    for r, ((p1, p2), sup) in zip(rows, cand):
        assert (r["p1"], r["p2"], r["support"]) == (p1, p2, sup)
        cn = len(adj[p1] & adj[p2])
        assert r["cn"] == cn
        assert (r["deg1"], r["deg2"]) == (len(adj[p1]), len(adj[p2]))
        assert r["jaccard_micro"] == cn * 1000000 // (
            len(adj[p1]) + len(adj[p2]) - cn
        )
