"""Property tests for the round-5-late pipeline-ops wave, beyond the
registry-wide oracle sweep in test_queries_oracle.py."""

from __future__ import annotations

from pyspark.sql import functions as F

import etl_extractor_spark.plans.pipeline_ops as P


def test_cdc_boundaries_shift_with_prefix_insertion(spark):
    """The content-defined property: prepending k characters shifts
    every boundary beyond the first window by EXACTLY k — boundaries
    depend only on the local W-char window, never on absolute offset.
    (This is what makes CDC chunk digests survive insertions that
    would shift every fixed-size block.)"""
    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while packing boxes with five dozen liquor jugs for the trip"
    )
    prefix = "EDIT: "
    k = len(prefix)
    df = spark.createDataFrame(
        [(0, base), (1, prefix + base)], "doc_id long, text string"
    )
    t = F.col("text")
    n = F.length(t)
    codes = F.transform(
        F.sequence(F.lit(1), n), lambda p: F.ascii(t.substr(p, F.lit(1)))
    )
    h = lambda i: F.aggregate(  # noqa: E731
        F.slice("codes", i - P.CDC_WINDOW + 1, P.CDC_WINDOW),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * P.CDC_BASE + c.cast("long")) % P.CDC_MOD,
    )
    bounds = F.filter(
        F.transform(
            F.sequence(F.lit(P.CDC_WINDOW), F.col("n")),
            lambda i: F.when(h(i) % P.CDC_MASK == 0, i).otherwise(F.lit(-1)),
        ),
        lambda x: x != -1,
    )
    rows = {
        r["doc_id"]: list(r["b"])
        for r in df.select("doc_id", n.alias("n"), codes.alias("codes"))
        .select("doc_id", "n", "codes")
        .withColumn("b", bounds)
        .collect()
    }
    base_bounds = [b for b in rows[0] if b >= P.CDC_WINDOW]
    shifted = [b - k for b in rows[1] if b - k >= P.CDC_WINDOW]
    # beyond the first full window of the edited doc, boundaries are the
    # base boundaries exactly
    assert shifted == [b for b in base_bounds if b >= P.CDC_WINDOW]
    assert len(base_bounds) > 0  # the property is non-vacuous


def test_quantile_normalization_is_rank_preserving(spark, sf_dir):
    """Within each source, normalization must preserve the (v, doc_id)
    order, and every normalized value must be an actual global order
    statistic (a value drawn from the corpus, not interpolated)."""
    out = P.quantile_normalize_sources(spark, sf_dir).collect()
    from collections import defaultdict

    by_src = defaultdict(list)
    for r in out:
        by_src[r["source"]].append((r["raw_len"], r["doc_id"], r["norm_len"]))
    all_vals = sorted(r["raw_len"] for r in out)
    val_set = set(all_vals)
    for src, rows in by_src.items():
        rows.sort()
        norms = [x[2] for x in rows]
        assert norms == sorted(norms), f"rank order broken in {src}"
        assert all(v in val_set for v in norms)
    # the largest per-source rank maps to the global maximum
    for src, rows in by_src.items():
        assert rows[-1][2] == all_vals[-1]


def test_dp_noise_is_seed_sensitive_and_bounded(spark, sf_dir):
    """The released counts differ from the true counts (noise fired)
    and |noise| stays within the Laplace tail bound b*ln(2^47) — a
    sanity envelope on the inverse-CDF arithmetic."""
    import math

    rows = P.dp_noisy_counts(spark, sf_dir).collect()
    assert rows
    bound = (1.0 / P.DP_EPS) * math.log(2 ** 48)
    for r in rows:
        noise = r["released_n"] - r["true_n"]
        assert noise != 0.0
        assert abs(noise) <= bound
