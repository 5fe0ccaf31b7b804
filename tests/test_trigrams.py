"""Guards for the word-trigram queries (plans/trigrams.py).

Value correctness is covered by the parametrized oracle gate
(test_queries_oracle); these tests pin what the oracle can't see: the
feature space itself, the Bloom gate's no-false-negative property, and
that each maintained TF-IDF index answers like a rebuild.

_trigram_col must evaluate its ``toks`` argument exactly once. The gram
lambda used to reference ``toks`` as an outer EXPRESSION, so callers
passing the normalize+split tree paid a re-evaluation per reference
(and per gram under consumer filter pushdown). The fix binds ``toks``
as a lambda variable through a 1-element array wrapper. The first test
pins (a) value equivalence between expression-input and
materialized-column-input forms on edge cases, (b) the guard behavior
for short docs, and (c) that repeated grams are kept.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import etl_extractor_spark.plans.trigrams as P
from etl_extractor_spark.sources.parquet import load_table


def test_trigram_expression_equals_materialized_column(spark):
    from etl_extractor_spark.plans.trigrams import _norm_toks, _trigram_col

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "one two three"),
        (3, "too short"),          # < 3 tokens -> empty gram array
        (4, ""),                   # empty text
        (5, None),                 # null text
        (6, "  padded   spaces  collapse  here  "),
        (7, "a b c a b c"),        # a repeated gram stays repeated
    ]
    d = spark.createDataFrame(rows, "doc_id: long, text: string")
    via_expr = d.select(
        "doc_id", _trigram_col(_norm_toks(F.col("text"))).alias("g")
    ).orderBy("doc_id").collect()
    via_col = (
        d.select("doc_id", _norm_toks(F.col("text")).alias("tk"))
        .select("doc_id", _trigram_col(F.col("tk")).alias("g"))
        .orderBy("doc_id")
        .collect()
    )
    assert [(r.doc_id, r.g) for r in via_expr] == [
        (r.doc_id, r.g) for r in via_col
    ]
    by_id = {r.doc_id: r.g for r in via_expr}
    assert by_id[1] == [
        "alpha beta gamma",
        "beta gamma delta",
        "gamma delta epsilon",
    ]
    assert by_id[2] == ["one two three"]
    assert by_id[3] == []
    assert by_id[4] == []
    assert by_id[7] == ["a b c", "b c a", "c a b", "a b c"]


def _grams_of(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return (
        df.select(
            "doc_id", P._trigram_col(P._norm_toks(F.col("text"))).alias("g")
        )
        .select(F.explode("g").alias("gram"))
        .distinct()
    )


def test_bloom_gate_has_no_false_negatives(spark):
    """Every gram used to BUILD the bitmap must pass the membership
    test — the property that makes bloom-prefilter-then-exact-verify
    an EXACT decontamination (same xxhash64 seed family builds and
    probes)."""
    evl = _grams_of(
        spark,
        [
            "the quick brown fox jumps over the lazy dog",
            "pack my box with five dozen liquor jugs",
        ],
    )
    words = (
        evl.select(
            F.explode(F.array(*[F.lit(i) for i in range(P.BLOOM_K)])).alias("seed"),
            "gram",
        )
        .select(
            (F.pmod(F.xxhash64("gram", F.col("seed")), F.lit(P.BLOOM_M)) / 64)
            .cast("long")
            .alias("w"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (F.pmod(F.xxhash64("gram", F.col("seed")), F.lit(P.BLOOM_M)) % 64).cast(
                    "int"
                ),
            ).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    bitmap = [0] * (P.BLOOM_M // 64)
    for r in words:
        bitmap[int(r["w"])] = int(r["bits"])
    bits_lit = F.lit(bitmap)
    member = None
    for i in range(P.BLOOM_K):
        p = F.pmod(F.xxhash64("gram", F.lit(i)), F.lit(P.BLOOM_M))
        hit = (
            F.element_at(bits_lit, (p / F.lit(64)).cast("int") + 1).bitwiseAND(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
                )
            )
            != 0
        )
        member = hit if member is None else (member & hit)
    n_total = evl.count()
    n_pass = evl.filter(member).count()
    assert n_total > 0 and n_pass == n_total


def test_incremental_tfidf_equals_batch(spark, sf_dir):
    """The append-maintained postings index must answer the flagship
    query identically to a full rebuild — row for row, including
    grams whose df crossed the [2, 32] cap when the delta landed."""
    from etl_extractor_spark.plans.trigrams import (
        tfidf_cosine_topk,
        tfidf_incremental_postings,
    )

    batch = sorted(map(tuple, tfidf_cosine_topk(spark, sf_dir).collect()))
    incr = sorted(map(tuple, tfidf_incremental_postings(spark, sf_dir).collect()))
    assert incr == batch


def test_tfidf_deletes_equals_filtered_rebuild(spark, sf_dir):
    """The delete-maintained index must answer the flagship query
    identically to a FULL REBUILD over only the surviving documents —
    row for row, including grams whose df dropped back inside the
    [2, 32] cap when the deletions landed — and the fixture must
    actually delete something."""
    from etl_extractor_spark.plans.trigrams import (
        _TID_DEL_MOD,
        _doc_trigram_tf,
        _tfidf_topk_pairs,
        tfidf_incremental_deletes,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_deleted = d.filter(F.col("doc_id") % _TID_DEL_MOD == 0).count()
    assert n_deleted > 0, "fixture deletes nothing; maintenance untested"
    kept = d.filter(F.col("doc_id") % _TID_DEL_MOD != 0)
    rebuild = _tfidf_topk_pairs(
        _doc_trigram_tf(kept), kept.agg(F.count(F.lit(1)).alias("n_docs"))
    )
    got = sorted(map(tuple, tfidf_incremental_deletes(spark, sf_dir).collect()))
    want = sorted(map(tuple, rebuild.collect()))
    assert got == want
