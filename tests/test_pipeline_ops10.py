"""Guards for the round-10 continuation wave (plans/pipeline_ops10).

Value correctness is covered by the parametrized oracle gate
(test_queries_oracle); these tests pin what the oracle can't see:
independent brute-force derivations of every statistic (pandas ranks
/ numpy algebra, a different algorithm than the distributed
value-domain plans), so a matched Spark/DuckDB convention bug cannot
certify itself.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _mk_table(spark, tmpdir, rows, start=0):
    from etl_extractor_spark.operators.common import small_df
    from etl_extractor_spark.sinks import manifest as MF

    df = small_df(
        spark,
        [(i, i * 10) for i in range(start, start + rows)],
        "k long, v long",
    )
    MF.write_with_manifest(spark, df.repartition(2), tmpdir, stats_cols=["k"])
    return df


def test_branch_survives_main_append_and_vacuum(spark, tmp_path):
    """refs must ride through harvest_manifest's dict rebuild (the
    carry list) and vacuum must treat branch-only files as referenced."""
    import os

    from etl_extractor_spark.operators.common import small_df
    from etl_extractor_spark.sinks import manifest as MF

    path = str(tmp_path / "t")
    _mk_table(spark, path, 10)
    MF.create_branch(path, "b")
    MF.append_to_branch(
        spark, path, "b", small_df(spark, [(100, 1)], "k long, v long")
    )
    branch_files = set(
        MF.read_manifest(path)["snapshots"][-1]["files"]
    ) - {e["file"] for e in MF.read_manifest(path)["files"]}
    assert branch_files
    # main append must keep the ref AND not resurrect branch files
    MF.write_with_manifest(
        spark,
        small_df(spark, [(200, 2)], "k long, v long"),
        path,
        stats_cols=["k"],
        mode="append",
    )
    m = MF.read_manifest(path)
    assert m["refs"]["b"] == 1
    assert branch_files.isdisjoint({e["file"] for e in m["files"]})
    assert MF.read_table(spark, path).count() == 11  # 10 base + 1 main
    assert MF.read_branch(spark, path, "b").count() == 11  # 10 base + 1 branch
    # vacuum: branch files are snapshot-referenced, not orphans
    assert MF.vacuum(path, dry_run=True) == []
    for f in branch_files:
        assert os.path.exists(os.path.join(path, f))


def test_create_branch_validations(spark, tmp_path):
    import pytest as _pytest

    from etl_extractor_spark.sinks import manifest as MF

    path = str(tmp_path / "t")
    _mk_table(spark, path, 5)
    with _pytest.raises(ValueError):
        MF.create_branch(path, "main")
    with _pytest.raises(KeyError):
        MF.create_branch(path, "b", snapshot_id=99)
    MF.create_branch(path, "b")
    with _pytest.raises(ValueError):
        MF.create_branch(path, "b")


def test_rollback_restores_delete_refs(spark, tmp_path):
    """Rolling back to a delete-bearing snapshot must restore its
    delete refs — a data-file-only restore would resurrect the deleted
    rows in the MOR read."""
    from etl_extractor_spark.operators.common import small_df
    from etl_extractor_spark.sinks import manifest as MF

    path = str(tmp_path / "t")
    _mk_table(spark, path, 10)
    MF.write_equality_deletes(
        spark, path, small_df(spark, [(3,), (7,)], "k long")
    )  # s1: 10 rows - 2 deleted
    MF.write_with_manifest(
        spark,
        small_df(spark, [(50, 5)], "k long, v long"),
        path,
        stats_cols=["k"],
        mode="append",
    )  # s2
    m = MF.rollback_to_snapshot(path, 1)
    assert m["snapshots"][-1]["delete_files"] == ["delete-0"]
    assert MF.read_merge_on_read(spark, path).count() == 8


def test_branch_append_does_not_corrupt_main_mor_state(spark, tmp_path):
    """Review catch (heaviest): branch snapshots live in the shared
    history list, and every 'current view' consumer keyed off
    snapshots[-1] — after a branch append, read_merge_on_read served
    the BRANCH's frozen (delete-free) view of main, the next main
    append dropped main's pending delete set, and a delete commit
    copied the branch's file list into main history. All three now
    resolve MAIN's last snapshot explicitly."""
    from etl_extractor_spark.operators.common import small_df
    from etl_extractor_spark.sinks import manifest as MF

    path = str(tmp_path / "t")
    _mk_table(spark, path, 10)  # s0: keys 0..9
    MF.write_equality_deletes(
        spark, path, small_df(spark, [(3,), (7,)], "k long")
    )  # s1: main view = 8 rows
    MF.create_branch(path, "b", snapshot_id=0)  # branch forks pre-delete
    MF.append_to_branch(
        spark, path, "b", small_df(spark, [(100, 1)], "k long, v long")
    )  # s2 (branch): base 10 + 1, NO delete refs
    # main's MOR view must still subtract the deletes
    assert MF.read_merge_on_read(spark, path).count() == 8
    # a main append must inherit main's delete set, not the branch's
    MF.write_with_manifest(
        spark,
        small_df(spark, [(200, 2)], "k long, v long"),
        path,
        stats_cols=["k"],
        mode="append",
    )  # s3 (main): 10 + 1 files, deletes still pending
    m = MF.read_manifest(path)
    main_last = [s for s in m["snapshots"] if "branch" not in s][-1]
    assert main_last.get("delete_files") == ["delete-0"]
    assert MF.read_merge_on_read(spark, path).count() == 9  # 8 + appended
    # a delete commit must extend MAIN's file list, not the branch's
    MF.write_equality_deletes(
        spark, path, small_df(spark, [(200,)], "k long")
    )
    m = MF.read_manifest(path)
    branch_files = {
        f
        for s in m["snapshots"]
        if "branch" in s
        for f in s["files"]
    } - set(m["snapshots"][0]["files"])
    assert branch_files.isdisjoint(set(m["snapshots"][-1]["files"]))
    assert MF.read_merge_on_read(spark, path).count() == 8
    # a new branch created WITHOUT an explicit id forks from MAIN's
    # head, not from branch b's (review catch)
    MF.create_branch(path, "c")
    assert MF.read_manifest(path)["refs"]["c"] == m["snapshots"][-1]["id"]
    # and a delete-bearing branch stays readable through its own API
    MF.create_branch(path, "d", snapshot_id=1)
    assert MF.read_branch(spark, path, "d").count() == 8


def test_expire_pins_branch_ref_snapshot(spark, tmp_path):
    """keep_last=1 would expire the branch snapshot (and unlink its
    exclusive file) without ref pinning; with it, the branch reads
    bit-identically after expiry."""
    from etl_extractor_spark.operators.common import small_df
    from etl_extractor_spark.sinks import manifest as MF

    path = str(tmp_path / "t")
    _mk_table(spark, path, 6)
    MF.create_branch(path, "b")
    MF.append_to_branch(
        spark, path, "b", small_df(spark, [(100, 1)], "k long, v long")
    )
    MF.write_with_manifest(
        spark,
        small_df(spark, [(200, 2)], "k long, v long"),
        path,
        stats_cols=["k"],
        mode="append",
    )
    before = sorted(r["k"] for r in MF.read_branch(spark, path, "b").collect())
    rep = MF.expire_snapshots(path, keep_last=1)
    assert rep["expired"] == 1  # s0 only; s1 is ref-pinned, s2 is tail
    after = sorted(r["k"] for r in MF.read_branch(spark, path, "b").collect())
    assert before == after
    kept_ids = [s["id"] for s in MF.read_manifest(path)["snapshots"]]
    assert kept_ids == [1, 2]


def _orders_pdf(spark, sf_dir) -> pd.DataFrame:
    from etl_extractor_spark.sources.parquet import load_table

    return (
        load_table(spark, sf_dir, "orders")
        .select("o_totalprice", "o_orderpriority", "o_orderdate")
        .toPandas()
    )


@pytest.fixture(scope="module")
def orders_pdf(spark, sf_dir):
    pdf = _orders_pdf(spark, sf_dir)
    pdf["x"] = (
        (pdf["o_totalprice"].round(2) * 100).round().astype("int64")
    )
    pdf["g"] = pdf["o_orderpriority"].str[0].astype(int)
    return pdf


def _anova_f(groups: list[np.ndarray]) -> float:
    """Textbook ANOVA F from raw per-group arrays (float means and
    squared deviations — a different derivation than the plan's
    integer sum/sumsq algebra)."""
    k = len(groups)
    n = sum(len(g) for g in groups)
    grand = np.concatenate(groups).mean()
    ssb = sum(len(g) * (g.mean() - grand) ** 2 for g in groups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    return (ssb / (k - 1)) / (ssw / (n - k))


def test_anova_f_matches_brute_force(spark, sf_dir):
    from etl_extractor_spark.plans.pipeline_ops10 import anova_f_oneway

    row = anova_f_oneway(spark, sf_dir).collect()[0]
    pdf = _orders_pdf(spark, sf_dir)
    pdf["x"] = (pdf["o_totalprice"].round(2) * 100).round().astype("int64")
    pdf["g"] = pdf["o_orderpriority"].str[0].astype(int)
    groups = [
        pdf.loc[pdf["g"] == k, "x"].to_numpy(dtype=float)
        for k in range(1, 6)
    ]
    f = _anova_f(groups)
    assert row["n_total"] == len(pdf)
    assert row["df2"] == len(pdf) - 5
    assert abs(row["f_stat"] - f) < 1e-6 * max(1.0, abs(f))


def test_kruskal_wallis_matches_pandas_ranks(spark, sf_dir):
    """H from pandas average ranks (rank(method='average') over the
    raw rows — no value-domain walk, no doubled-rank space) must match
    the distributed plan to float tolerance, tie correction included."""
    from etl_extractor_spark.plans.pipeline_ops10 import (
        kruskal_wallis_quantity,
    )
    from etl_extractor_spark.sources.parquet import load_table

    row = kruskal_wallis_quantity(spark, sf_dir).collect()[0]
    pdf = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_quantity", "l_returnflag")
        .toPandas()
    )
    pdf["v"] = pdf["l_quantity"].astype("int64")
    pdf["g"] = pdf["l_returnflag"].map({"A": 1, "N": 2}).fillna(3).astype(int)
    r = pdf["v"].rank(method="average")
    n = len(pdf)
    sumterm = sum(
        r[pdf["g"] == k].sum() ** 2 / (pdf["g"] == k).sum()
        for k in range(1, 4)
    )
    h = 12.0 / (n * (n + 1)) * sumterm - 3 * (n + 1)
    counts = pdf["v"].value_counts().to_numpy(dtype=float)
    corr = 1.0 - (counts**3 - counts).sum() / (float(n) ** 3 - n)
    assert row["n_total"] == n and row["df"] == 2
    assert abs(row["h_stat"] - h) < 1e-5 * max(1.0, abs(h))
    assert abs(row["h_tied"] - h / corr) < 1e-5 * max(1.0, abs(h / corr))
    # non-vacuous tie correction: integer quantities tie at every SF
    assert (counts > 1).any() and row["h_tied"] != row["h_stat"]


def test_brown_forsythe_matches_brute_force(orders_pdf, spark, sf_dir):
    from etl_extractor_spark.plans.pipeline_ops10 import (
        brown_forsythe_priority,
    )

    row = brown_forsythe_priority(spark, sf_dir).collect()[0]
    pdf = orders_pdf
    zs = []
    for k in range(1, 6):
        x = pdf.loc[pdf["g"] == k, "x"].sort_values().to_numpy()
        med = x[(len(x) - 1) // 2]  # lower median, the pinned convention
        zs.append(np.abs(x - med).astype(float))
    f = _anova_f(zs)
    assert abs(row["f_bf"] - f) < 1e-6 * max(1.0, abs(f))


def test_avg_precision_matches_pandas_brute(spark, sf_dir):
    """AP from a literal pandas ranking (sort by score desc, negatives
    before positives within ties — the pinned pessimistic order) must
    match the distributed harmonic-sum plan. Also asserts the fixture
    actually has tied scores carrying BOTH labels, so the tie policy is
    load-bearing."""
    from etl_extractor_spark.plans.inference import _scored_docs
    from etl_extractor_spark.plans.pipeline_ops10 import (
        avg_precision_pessimistic,
    )

    row = avg_precision_pessimistic(spark, sf_dir).collect()[0]
    pdf = _scored_docs(spark, sf_dir).toPandas()
    pdf = pdf.sort_values(
        ["score_micro", "label"], ascending=[False, True]
    ).reset_index(drop=True)
    ranks = np.arange(1, len(pdf) + 1)
    cum_pos = pdf["label"].cumsum().to_numpy()
    is_pos = pdf["label"].to_numpy() == 1
    ap = (cum_pos[is_pos] / ranks[is_pos]).mean()
    assert row["n_pos"] == int(is_pos.sum())
    assert row["n_total"] == len(pdf)
    # quantized grid: each term floor-truncated at 1e-12 — bound is loose
    assert abs(row["avg_precision"] - ap) < 1e-5
    mixed_ties = (
        pdf.groupby("score_micro")["label"].nunique().max() > 1
        and pdf["score_micro"].duplicated().any()
    )
    assert mixed_ties, "fixture has no mixed-label ties; policy untested"


def test_cohen_kappa_matches_pandas_brute(orders_pdf, spark, sf_dir):
    from etl_extractor_spark.plans.pipeline_ops10 import cohen_kappa_raters

    row = cohen_kappa_raters(spark, sf_dir).collect()[0]
    pdf = orders_pdf
    a = np.where(pdf["g"] <= 2, 0, np.where(pdf["g"] == 3, 1, 2))
    b = np.where(pdf["x"] < 7000000, 0, np.where(pdf["x"] < 15000000, 1, 2))
    n = len(pdf)
    po = float((a == b).mean())
    pe = sum(
        (a == g).sum() * (b == g).sum() for g in range(3)
    ) / float(n) ** 2
    kappa = (po - pe) / (1 - pe)
    assert row["n"] == n
    assert abs(row["po"] - po) < 1e-6
    assert abs(row["pe"] - pe) < 1e-6
    assert abs(row["kappa"] - kappa) < 1e-5


def test_ridge_matches_numpy_solve(spark, sf_dir):
    from etl_extractor_spark.plans.pipeline_ops10 import (
        ridge_normal_equations,
    )
    from etl_extractor_spark.sources.parquet import load_table

    row = ridge_normal_equations(spark, sf_dir).collect()[0]
    pdf = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_quantity", "l_discount", "l_extendedprice")
        .toPandas()
    )
    x1 = pdf["l_quantity"].to_numpy(dtype=float)
    x2 = (pdf["l_discount"].round(4) * 10000).round().astype("int64").to_numpy(dtype=float)
    y = (pdf["l_extendedprice"].round(2) * 100).round().astype("int64").to_numpy(dtype=float)
    X = np.column_stack([np.ones_like(x1), x1, x2])
    A = X.T @ X + np.diag([0.0, 1000.0, 1000.0])
    beta = np.linalg.solve(A, X.T @ y)
    for got, want in zip((row["b0"], row["b1"], row["b2"]), beta):
        assert abs(got - want) < 1e-4 * max(1.0, abs(want)), (got, want)
    # ridge actually binds: the unpenalized solution differs
    beta_ols = np.linalg.solve(X.T @ X, X.T @ y)
    assert not np.allclose(beta, beta_ols)


def test_kendall_tau_matches_pandas_brute(spark, sf_dir):
    from etl_extractor_spark.plans.pipeline_ops10 import kendall_tau_monthly
    from etl_extractor_spark.sources.parquet import load_table

    row = kendall_tau_monthly(spark, sf_dir).collect()[0]
    o = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice").toPandas()
    d = pd.to_datetime(o["o_orderdate"])
    o["m"] = d.dt.year * 100 + d.dt.month
    o["cents"] = (o["o_totalprice"].round(2) * 100).round().astype("int64")
    m = o.groupby("m").agg(x=("m", "size"), y=("cents", "sum")).reset_index()
    x, y = m["x"].to_numpy(), m["y"].to_numpy()
    n = len(m)
    c = dd = ex = ey = 0
    for i in range(n):
        for j in range(i + 1, n):
            if x[i] == x[j]:
                ex += 1
            if y[i] == y[j]:
                ey += 1
            if (x[i] < x[j] and y[i] < y[j]) or (x[i] > x[j] and y[i] > y[j]):
                c += 1
            elif (x[i] < x[j] and y[i] > y[j]) or (x[i] > x[j] and y[i] < y[j]):
                dd += 1
    n0 = n * (n - 1) // 2
    tau = (c - dd) / np.sqrt(float(n0 - ex) * float(n0 - ey))
    assert (row["n_months"], row["n_pairs"]) == (n, n0)
    assert (row["concordant"], row["discordant"]) == (c, dd)
    assert abs(row["tau_b"] - tau) < 1e-6


def test_weighted_sample_matches_exact_brute(orders_pdf, spark, sf_dir):
    """Multiset of (key, mult) from exact Python integer arithmetic
    over the literal threshold definition t_j = (2j+1)W/(2k) — no
    floor-formula reuse, so a formula bug can't certify itself."""
    from etl_extractor_spark.plans.pipeline_ops10 import (
        weighted_systematic_sample,
    )
    from etl_extractor_spark.sources.parquet import load_table

    rows = weighted_systematic_sample(spark, sf_dir).collect()
    pdf = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .toPandas()
        .sort_values("o_orderkey")
    )
    w = (pdf["o_totalprice"].round(2) * 100).round().astype("int64").to_numpy()
    keys = pdf["o_orderkey"].to_numpy()
    W, k = int(w.sum()), 100
    cum = np.concatenate([[0], np.cumsum(w)])
    got = {(r["o_orderkey"], r["mult"]) for r in rows}
    want = {}
    idx = 0
    for j in range(k):
        # t_j = (2j+1)W/(2k); item i selected iff c_prev < t_j <= c_cum,
        # compared exactly via cross-multiplication
        while not (2 * k * cum[idx] < (2 * j + 1) * W <= 2 * k * cum[idx + 1]):
            idx += 1
        key = int(keys[idx])
        want[key] = want.get(key, 0) + 1
    assert got == set(want.items())
    assert sum(m for _, m in got) == k
    # non-vacuity: weights vary enough that some item draws twice OR
    # the selected set is weight-skewed vs uniform spacing
    assert len(got) <= k


def test_lorenz_deciles_match_pandas(orders_pdf, spark, sf_dir):
    from etl_extractor_spark.plans.pipeline_ops10 import lorenz_curve_deciles
    from etl_extractor_spark.sources.parquet import load_table

    rows = lorenz_curve_deciles(spark, sf_dir).collect()
    o = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice")
        .toPandas()
    )
    o["cents"] = (o["o_totalprice"].round(2) * 100).round().astype("int64")
    rev = (
        o.groupby("o_custkey")["cents"].sum().reset_index()
        .sort_values(["cents", "o_custkey"])
        .reset_index(drop=True)
    )
    n = len(rev)
    rev["decile"] = (rev.index * 10) // n
    by_d = rev.groupby("decile")["cents"].agg(["size", "sum"])
    tot = int(rev["cents"].sum())
    cum = 0
    assert len(rows) == len(by_d)
    for r, (d, g) in zip(rows, by_d.iterrows()):
        cum += int(g["sum"])
        assert (r["decile"], r["n_cust"], r["sum_cents"]) == (
            d,
            int(g["size"]),
            int(g["sum"]),
        )
        # the pinned floor-double recipe (BIGINT cum·1e6 overflows at sf1)
        assert r["cum_share_micro"] == int(np.floor(cum / tot * 1000000))
    # Lorenz shape: deciles are revenue-sorted, so shares are convex
    shares = [r["cum_share_micro"] for r in rows]
    assert shares == sorted(shares) and shares[-1] == 1000000


def test_rake_matches_pandas_phrase_walk(spark, sf_dir):
    from collections import Counter

    from etl_extractor_spark.plans.pipeline_ops10 import rake_keyword_scores
    from etl_extractor_spark.sources.parquet import load_table

    rows = rake_keyword_scores(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").select("text").toPandas()
    stop = {"the", "a", "and", "of"}
    freq: Counter = Counter()
    deg: Counter = Counter()
    for text in docs["text"]:
        words = [w for w in str(text).split() if w]
        phrase: list = []
        for w in words + ["the"]:  # sentinel flushes the last run
            if w in stop:
                for x in phrase:
                    freq[x] += 1
                    deg[x] += len(phrase)
                phrase = []
            else:
                phrase.append(w)
    want = sorted(
        ((deg[w] * 1000000 // freq[w], w) for w in freq),
        key=lambda t: (-t[0], t[1]),
    )[:15]
    assert [(r["score_micro"], r["w"]) for r in rows] == want
    # non-vacuity: degree must beat frequency somewhere (real phrases)
    assert any(deg[w] > freq[w] for w in freq)


def test_streaming_manifest_sink_rearms(spark, sf_dir):
    """The fixture must re-arm per call (fresh table + checkpoint), so
    the redelivery injection fires every run — a stale checkpoint
    would skip the replay and certify nothing."""
    from etl_extractor_spark.plans.pipeline_ops10 import (
        streaming_manifest_sink_replay,
    )

    a = streaming_manifest_sink_replay(spark, sf_dir).collect()
    b = streaming_manifest_sink_replay(spark, sf_dir).collect()
    assert a == b and len(a) > 0


def test_streaming_quantile_grid_matches_pandas(spark, sf_dir):
    from etl_extractor_spark.plans.pipeline_ops10 import (
        streaming_quantile_grid_replay,
    )
    from etl_extractor_spark.sources.parquet import load_table

    row = streaming_quantile_grid_replay(spark, sf_dir).collect()[0]
    v = load_table(spark, sf_dir, "events").select("value").toPandas()["value"]
    bkt = ((v.round(2) * 100).round().astype("int64") // 100).sort_values().to_numpy()
    n = len(bkt)
    assert row["n_events"] == n
    for name, q in (("p50_bucket", 500000), ("p90_bucket", 900000), ("p99_bucket", 990000)):
        want = int(bkt[q * (n - 1) // 1000000])  # 0-based = rank-1
        assert row[name] == want, (name, row[name], want)
    # the grid actually ties (many events share a dollar bucket)
    assert len(np.unique(bkt)) < n


def test_holt_winters_tracks_float_reference(spark, sf_dir):
    """The integer recurrence is the pinned definition; a plain float
    Holt-Winters with the same init/params must land within 1% on the
    final level and the error sum — a transposed update or index bug
    diverges far beyond that. Seasonality must be load-bearing:
    fc1 != l + b."""
    from etl_extractor_spark.plans.pipeline_ops10 import holt_winters_daily
    from etl_extractor_spark.sources.parquet import load_table

    row = holt_winters_daily(spark, sf_dir).collect()[0]
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                    "long"
                )
            ).alias("y")
        )
        .orderBy("d")
        .toPandas()
    )
    ys = daily["y"].astype(float).to_numpy()
    n = len(ys)
    a1, a2 = ys[:7].mean(), ys[7:14].mean()
    level, trend = a1, (a2 - a1) / 7
    s = list(ys[:7] - a1)
    sae = 0.0
    for t in range(8, n + 1):
        y, idx = ys[t - 1], (t - 1) % 7
        sae += abs(y - (level + trend + s[idx]))
        nl = 0.3 * (y - s[idx]) + 0.7 * (level + trend)
        trend = 0.1 * (nl - level) + 0.9 * trend
        s[idx] = 0.2 * (y - nl) + 0.8 * s[idx]
        level = nl
    assert row["n_days"] == n
    assert abs(row["l_final_cents"] - level) < 0.01 * abs(level)
    assert abs(row["sae_cents"] - sae) < 0.01 * abs(sae)
    assert row["fc1_cents"] != row["l_final_cents"] + row["b_final_cents"]


def test_parameterized_sql_binding_is_live(spark, sf_dir):
    """Different args must change the result — a binder that ignored
    args (or cached the first plan) would hash-match by accident."""
    from etl_extractor_spark.sources.parquet import register_views

    register_views(spark, sf_dir, names=("orders", "customer"))
    q = """
        SELECT count(*) AS n FROM orders JOIN customer
        ON o_custkey = c_custkey
        WHERE c_mktsegment = :seg AND year(o_orderdate) = :yr
    """
    a = spark.sql(q, args={"seg": "BUILDING", "yr": 1995}).collect()[0]["n"]
    b = spark.sql(q, args={"seg": "MACHINERY", "yr": 1995}).collect()[0]["n"]
    c = spark.sql(q, args={"seg": "BUILDING", "yr": 1996}).collect()[0]["n"]
    assert a > 0 and len({a, b, c}) == 3


def test_try_audit_lanes_are_mixed(spark, sf_dir):
    from etl_extractor_spark.plans.pipeline_ops10 import try_arithmetic_audit

    row = try_arithmetic_audit(spark, sf_dir).collect()[0]
    n = row["n"]
    assert 0 < row["div_nulls"] < n  # only key ≡ 0 (mod 97) fails
    assert 0 < row["mul_nulls"] < n  # only > $84k orders overflow
    assert row["cast_nulls"] == 0  # leading digit always casts
    assert row["cast_bad_nulls"] == n  # '1-URGENT' never casts


def test_full_sync_merge_semantics(spark, tmp_path):
    """Row-level semantics on a hand-built fixture: matched keys take
    source attrs but keep target first_seen; new keys get the sync id;
    target-only keys are DELETED (the zombie row upserts leave)."""
    from etl_extractor_spark.operators.common import small_df
    from etl_extractor_spark.sinks.merge import merge_full_sync

    target = small_df(
        spark,
        [(1, "a", 0), (2, "b", 0), (3, "c", 0)],
        "k long, attr string, first_seen long",
    )
    source = small_df(
        spark, [(2, "B"), (4, "d")], "k long, attr string"
    )
    got = {
        (r["k"], r["attr"], r["first_seen"])
        for r in merge_full_sync(target, source, "k", ["attr"], 7).collect()
    }
    assert got == {(2, "B", 0), (4, "d", 7)}  # 1 and 3 deleted
    # duplicate keys RAISE instead of fanning out (review catch)
    dup_target = small_df(
        spark, [(1, "a", 0), (1, "a2", 0)], "k long, attr string, first_seen long"
    )
    with pytest.raises(ValueError, match="duplicate target key"):
        merge_full_sync(dup_target, source, "k", ["attr"], 7).collect()
    dup_source = small_df(spark, [(2, "B"), (2, "B2")], "k long, attr string")
    with pytest.raises(ValueError, match="duplicate source key"):
        merge_full_sync(target, dup_source, "k", ["attr"], 7).collect()


def test_mv_routing_rearms_and_is_deterministic(spark, sf_dir):
    from etl_extractor_spark.plans.pipeline_ops10 import mv_query_routing

    a = mv_query_routing(spark, sf_dir).collect()
    b = mv_query_routing(spark, sf_dir).collect()
    assert a == b and len(a) >= 7  # TPC-H spans 1992-1998


def test_arrow_udf_matches_catalyst_expression(spark, sf_dir):
    """The Arrow-Python digit-sum must equal the pure-Catalyst
    derivation (F.aggregate over split) — certifying the Arrow
    serialization path against the JVM path inside one engine, on top
    of the cross-engine oracle."""
    from etl_extractor_spark.plans.pipeline_ops10 import (
        arrow_python_udf_parity,
    )
    from etl_extractor_spark.sources.parquet import load_table

    rows = {
        (r["ds"], r["n"], r["revenue_cents"])
        for r in arrow_python_udf_parity(spark, sf_dir).collect()
    }
    o = load_table(spark, sf_dir, "orders")
    ds = F.aggregate(
        F.split(F.col("o_orderkey").cast("string"), ""),
        F.lit(0).cast("long"),
        lambda acc, c: acc
        + F.when(F.length(c) > 0, c.cast("long")).otherwise(0),
    )
    want = {
        (r["ds"], r["n"], r["revenue_cents"])
        for r in o.select(
            ds.alias("ds"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("ds")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .collect()
    }
    assert rows == want


def test_compaction_batches_respect_capacity_bound(spark, sf_dir):
    """Next-fit-decreasing invariants: every file planned exactly once
    (Σ batch totals == table rows) and each batch ≤ capacity + one
    largest file (the straddle bound)."""
    from etl_extractor_spark.plans.pipeline_ops10 import compaction_batch_plan
    from etl_extractor_spark.sources.parquet import load_table

    rows = compaction_batch_plan(spark, sf_dir).collect()
    o = load_table(spark, sf_dir, "orders")
    total = o.count()
    slices = [
        r["n"]
        for r in o.groupBy((F.col("o_orderkey") % 9).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    cap = (total // 9) * 5 // 2
    assert sum(r["total_rows"] for r in rows) == total
    assert sum(r["n_files"] for r in rows) == 9
    for r in rows:
        assert r["total_rows"] <= cap + max(slices)
    assert len(rows) >= 2  # capacity actually splits the file set


def test_equi_depth_histogram_properties(orders_pdf, spark, sf_dir):
    """Exact-partition invariants: buckets cover every row exactly
    once, ranges are disjoint and ordered, heights within one distinct
    value's mass of N/10 (the tie-wobble bound), and boundaries match
    a pandas rank derivation."""
    from etl_extractor_spark.plans.pipeline_ops10 import equi_depth_histogram

    rows = equi_depth_histogram(spark, sf_dir).collect()
    pdf = orders_pdf
    n = len(pdf)
    assert sum(r["n_rows"] for r in rows) == n
    for a, b in zip(rows, rows[1:]):
        assert a["hi_cents"] < b["lo_cents"]
    vc = pdf["x"].value_counts().sort_index()
    cum_prev = vc.cumsum().shift(fill_value=0)
    bucket = (cum_prev * 10 // n).astype(int)
    want = {
        (b, int(g.index.min()), int(g.index.max()), int(g.sum()))
        for b, g in vc.groupby(bucket)
    }
    got = {
        (r["bucket"], r["lo_cents"], r["hi_cents"], r["n_rows"]) for r in rows
    }
    assert got == want
    max_tie = int(vc.max())
    for r in rows:
        assert r["n_rows"] <= n // 10 + max_tie


def test_vwap_matches_pandas(spark, sf_dir):
    from etl_extractor_spark.plans.pipeline_ops10 import vwap_weekly
    from etl_extractor_spark.sources.parquet import load_table

    rows = vwap_weekly(spark, sf_dir).collect()
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_shipdate", "l_extendedprice", "l_quantity")
        .toPandas()
    )
    li["wk"] = pd.to_datetime(li["l_shipdate"]).dt.to_period("W-SUN").dt.start_time
    li["p"] = (li["l_extendedprice"].round(2) * 100).round().astype("int64")
    li["q"] = li["l_quantity"].astype("int64")
    li["pq"] = li["p"] * li["q"]
    g = li.groupby("wk").agg(n=("q", "size"), tq=("q", "sum"), pq=("pq", "sum"))
    assert len(rows) == len(g)
    for r, (wk, row) in zip(rows, g.iterrows()):
        assert (r["n_items"], r["total_qty"]) == (row["n"], row["tq"])
        assert r["vwap_micro_cents"] == int(
            np.floor(row["pq"] / row["tq"] * 1000000)
        )
    # weighting is load-bearing: quantities actually vary within weeks
    assert (li.groupby("wk")["q"].nunique() > 1).any()


def test_ohlc_open_close_are_time_ordered(spark, sf_dir):
    """open must be the FIRST day's revenue and close the LAST day's —
    a min/max-by-value bug would still produce plausible numbers, so
    re-derive from the daily series by date."""
    from etl_extractor_spark.plans.pipeline_ops10 import ohlc_monthly_revenue
    from etl_extractor_spark.sources.parquet import load_table

    rows = ohlc_monthly_revenue(spark, sf_dir).collect()
    o = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice").toPandas()
    o["d"] = pd.to_datetime(o["o_orderdate"]).dt.date
    o["cents"] = (o["o_totalprice"].round(2) * 100).round().astype("int64")
    daily = o.groupby("d")["cents"].sum()
    for r in rows[:12]:
        y, mth = divmod(r["month"], 100)
        days = daily[[d for d in daily.index if d.year == y and d.month == mth]]
        assert r["open_cents"] == int(days.loc[min(days.index)])
        assert r["close_cents"] == int(days.loc[max(days.index)])
        assert r["high_cents"] == int(days.max())
        assert r["low_cents"] == int(days.min())
        assert r["n_days"] == len(days)


def test_welch_t_matches_brute_force(orders_pdf, spark, sf_dir):
    from etl_extractor_spark.plans.pipeline_ops10 import welch_t_years

    row = welch_t_years(spark, sf_dir).collect()[0]
    pdf = orders_pdf
    yr = pd.to_datetime(pdf["o_orderdate"]).dt.year
    a = pdf.loc[yr == 1995, "x"].to_numpy(dtype=float)
    b = pdf.loc[yr == 1996, "x"].to_numpy(dtype=float)
    ua = a.var(ddof=1) / len(a)
    ub = b.var(ddof=1) / len(b)
    t = (a.mean() - b.mean()) / np.sqrt(ua + ub)
    df = (ua + ub) ** 2 / (ua**2 / (len(a) - 1) + ub**2 / (len(b) - 1))
    assert (row["n_a"], row["n_b"]) == (len(a), len(b))
    assert abs(row["t_stat"] - t) < 1e-6 * max(1.0, abs(t))
    assert abs(row["df_welch"] - df) < 1e-4 * max(1.0, abs(df))
    assert abs(row["mean_diff_cents"] - (a.mean() - b.mean())) < 1e-3
