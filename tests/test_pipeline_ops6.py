"""Round-9 surface: compaction-absorbs-deletes certification, skew
aggregation twins, and the short-name completeness path of the
edit-distance join."""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def test_compact_absorbs_mor_deletes(spark, tmp_path):
    """The full lifecycle: write → delete-commit ×2 → compact. The
    post-compaction read must equal the pre-compaction MOR read row
    for row (compaction reads THROUGH the delete files — reading raw
    data files would resurrect deleted rows), the delete files must be
    physically gone, and the post-compaction plan must contain no
    anti-join (the per-read MOR tax is paid off)."""
    from etl_extractor_spark.sinks import manifest as MF
    from etl_extractor_spark.sinks.compact import compact_with_manifest

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "g" if i % 2 else "h", i * 10) for i in range(1, 41)],
        "k long, g string, v long",
    )
    MF.write_with_manifest(spark, df, path, stats_cols=["k"], mode="overwrite")
    MF.write_equality_deletes(
        spark, path, spark.createDataFrame([(2,), (4,), (6,)], "k long")
    )
    MF.write_equality_deletes(spark, path, spark.createDataFrame([(7,)], "k long"))

    before = sorted(
        tuple(r) for r in MF.read_merge_on_read(spark, path).collect()
    )
    assert {r[0] for r in before} == set(range(1, 41)) - {2, 4, 6, 7}

    compact_with_manifest(spark, path, sort_col="k")

    after_df = MF.read_merge_on_read(spark, path)
    after = sorted(tuple(r) for r in after_df.collect())
    assert after == before  # the subtraction is now physical
    # delete files gone, manifest carries none
    assert not os.path.isdir(os.path.join(path, "_deletes"))
    m = MF.read_manifest(path)
    assert not m.get("delete_files")
    assert not m["snapshots"][-1].get("delete_files")
    # no anti-join left in the read plan
    plan = after_df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan
    # plain read_table agrees too (MOR degenerated to the plain path)
    assert sorted(tuple(r) for r in MF.read_table(spark, path).collect()) == before


def test_compact_without_deletes_unchanged(spark, tmp_path):
    """Delete-free tables keep the pre-r9 compaction path (plain
    parquet read, no MOR machinery)."""
    from etl_extractor_spark.sinks import manifest as MF
    from etl_extractor_spark.sinks.compact import compact_with_manifest

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(i, i * 2) for i in range(100)], "k long, v long")
    MF.write_with_manifest(spark, df, path, stats_cols=["k"], mode="overwrite")
    compact_with_manifest(spark, path, n_files=1)
    got = sorted(r["k"] for r in MF.read_table(spark, path).collect())
    assert got == list(range(100))


def test_exactly_n_files_grows_and_shrinks(spark):
    """Review catch, empirically confirmed before the fix: coalesce
    never INCREASES partition count, so the parallelism floor was
    silently unreachable whenever the scan arrived with fewer
    partitions than the target (a 16-file table scanning as 7
    partitions wrote 7 files where the floor said 14). The helper
    must hit the exact target in both directions."""
    from etl_extractor_spark.sinks.compact import _exactly_n_files

    df = spark.range(1000).repartition(2)
    assert _exactly_n_files(df, 5).rdd.getNumPartitions() == 5  # grow
    df8 = spark.range(1000).repartition(8)
    assert _exactly_n_files(df8, 3).rdd.getNumPartitions() == 3  # shrink
    assert _exactly_n_files(df8, 8).rdd.getNumPartitions() == 8  # equal


def test_compaction_contract_shares_sizing_rule(spark, tmp_path):
    """compact_parquet must ACHIEVE plan_file_count's target exactly —
    the contract bit in compaction_roundtrip compares these two, and
    they must agree by construction, not by accident."""
    from etl_extractor_spark.sinks.compact import (
        compact_parquet,
        plan_file_count,
    )

    path = str(tmp_path / "t")
    spark.range(100_000).selectExpr("id", "id * 2 AS v").repartition(
        16
    ).write.mode("overwrite").parquet(path)
    expected = plan_file_count(spark, path, target_file_mb=128)
    got = compact_parquet(spark, path, target_file_mb=128)
    assert got == expected


def test_lower_median_formula_matches_quantile_disc():
    """The two-phase median's 1-based pick position ((n−1) div 2 + 1)
    must equal DuckDB quantile_disc(·, 0.5) — re-asserted here at the
    exact sizes the rolling-median work verified (n = 1, 2, 4, 6, 7)
    plus an odd larger case, because skewed_exact_median_value's
    oracle hangs off this identity."""
    import duckdb

    con = duckdb.connect()
    for n in (1, 2, 4, 6, 7, 101):
        vals = [(v * 3 + 1,) for v in range(n)]
        con.execute("CREATE OR REPLACE TABLE t(x BIGINT)")
        con.executemany("INSERT INTO t VALUES (?)", vals)
        want = con.execute("SELECT quantile_disc(x, 0.5) FROM t").fetchone()[0]
        pos = (n - 1) // 2 + 1
        got = sorted(v[0] for v in vals)[pos - 1]
        assert got == want, f"n={n}: formula {got} != quantile_disc {want}"


def test_skewed_median_two_phase_matches_percentile(spark):
    """The value-level two-phase median must equal Spark's own exact
    percentile(0.5)… for ODD group sizes, where lower median ==
    interpolating median. For even sizes the conventions differ by
    design (lower vs midpoint) — so assert equality on odd-sized
    groups and the ordering bound on even ones."""
    rows = [(k, v) for k in range(5) for v in range(1, 10 + k)]
    df = spark.createDataFrame(rows, "k long, cents long")
    vc = df.groupBy("k", "cents").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w_cum = Window.partitionBy("k").orderBy("cents")
    w_tot = Window.partitionBy("k")
    ranked = vc.select(
        "k", "cents",
        F.sum("c").over(w_cum).alias("cum"), F.sum("c").over(w_tot).alias("tot"),
    )
    two = {
        r["k"]: r["med"]
        for r in ranked.filter(F.col("cum") >= F.expr("(tot - 1) div 2 + 1"))
        .groupBy("k").agg(F.min("cents").alias("med")).collect()
    }
    exact = {
        r["k"]: r["med"]
        for r in df.groupBy("k")
        .agg(F.expr("percentile(cents, 0.5)").alias("med"))
        .collect()
    }
    for k in two:
        n = 9 + k
        if n % 2 == 1:
            assert float(two[k]) == float(exact[k])
        else:
            assert float(two[k]) <= float(exact[k])


def test_editdist_short_names_not_dropped(spark):
    """Advice-r8 completeness fix: names short enough to make the
    Gravano count bound non-positive (max len ≤ (q−1)+k·q = 5 at
    k=2,q=2) can share ZERO bigrams while being within distance k —
    the gram join alone would drop them. The helper must route them
    through the exact path; certified against a brute force over a
    fixture built entirely of short and mixed-length names."""
    from itertools import combinations

    from etl_extractor_spark.plans.pipeline_ops5 import _ED_K, _editdist_pairs

    names = [
        # both-short pairs sharing zero bigrams but ed ≤ 2 (ab↔cd = 2)
        (1, "ab", "B1", 1), (2, "cd", "B1", 1),
        (3, "xy", "B1", 1), (4, "xz", "B1", 1),
        # short↔long (bound positive, gram path)
        (5, "abcde", "B1", 1), (6, "abcdefg", "B1", 1),
        # long near-dups
        (7, "chocolate brown", "B1", 1), (8, "chocolate browm", "B1", 1),
        # different block — must not pair with B1
        (9, "ab", "B2", 1), (10, "ce", "B2", 1),
    ]
    p = spark.createDataFrame(
        names, "p_partkey long, p_name string, p_brand string, p_size int"
    ).withColumn("ln", F.length("p_name"))
    got = {
        (r["ka"], r["kb"])
        for r in _editdist_pairs(p, ["p_brand", "p_size"]).collect()
    }

    def ed(a: str, b: str) -> int:
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = {
        (a[0], b[0])
        for a, b in combinations(names, 2)
        if a[2] == b[2] and a[3] == b[3] and ed(a[1], b[1]) <= _ED_K
    }
    assert got == want  # nothing dropped, nothing invented


def test_column_entropy_limits(spark):
    """Entropy readout sanity at the closed-form corners: a constant
    column has H = 0 exactly (ln(1) terms vanish), a uniform two-value
    column has H = ln 2 (micro-nats 693147 ± 1 for the floor)."""
    from etl_extractor_spark.plans.pipeline_ops6 import _col_entropy

    const = spark.createDataFrame([("x",)] * 64, "v string")
    row = _col_entropy(const, "v").collect()[0]
    assert row["entropy_micronat"] == 0 and row["n_distinct"] == 1

    uni = spark.createDataFrame([("a",), ("b",)] * 32, "v string")
    row = _col_entropy(uni, "v").collect()[0]
    assert abs(row["entropy_micronat"] - 693147) <= 1


def test_mv_incremental_equals_rebuild(spark, sf_dir, scratch_given):
    """The MV maintenance contract at the day level (the registered
    query rolls up to years; this pins the finer grain): merged MV
    rows == full-rebuild rows, day for day."""
    from etl_extractor_spark.plans.pipeline_ops6 import (
        mv_incremental_daily_revenue,
    )
    from etl_extractor_spark.sources.parquet import load_table

    # run the maintenance path (writes + merges the scratch MV)
    mv_incremental_daily_revenue(spark, sf_dir).collect()
    from etl_extractor_spark.sinks import manifest as MF

    path = scratch_given["spark_graft_mv_daily_"]
    got = {
        r["o_orderdate"]: (r["n_orders"], r["revenue_cents"])
        for r in MF.read_table(spark, path).collect()
    }
    o = load_table(spark, sf_dir, "orders")
    want = {
        r["o_orderdate"]: (r["n"], r["cents"])
        for r in o.groupBy("o_orderdate")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            ).cast("long").alias("cents"),
        )
        .collect()
    }
    assert got == want
