"""Text-analysis column expressions for training-data pipelines.

All pure Catalyst expressions (JVM codegen, no Python in the hot path):
tokenization, token statistics, stopword ratios, language-marker
scoring, quality scoring, content fingerprinting. Each has an exact
DuckDB-SQL twin in plans/text_analysis.py so the semantics are pinned
by the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from etl_extractor_spark.functions.text import ColumnOrName, _col, normalize_text

# BPE-ish pre-tokenizer: letter runs, digit runs, single non-space symbols
TOKEN_REGEX = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

EN_MARKERS = ("the", "a", "and", "of")
ES_MARKERS = ("el", "la", "de", "y")
DE_MARKERS = ("der", "die", "und", "ist")


def tokens(c: ColumnOrName) -> Column:
    """Whitespace tokenization of normalized text."""
    return F.split(normalize_text(c), " ")


def token_count(c: ColumnOrName) -> Column:
    return F.size(tokens(c)).cast("long")


def bpe_token_count(c: ColumnOrName) -> Column:
    """Token count under the BPE-ish regex pre-tokenizer."""
    return F.size(F.regexp_extract_all(_col(c), F.lit(TOKEN_REGEX), 0)).cast("long")


def _marker_hits(c: ColumnOrName, markers: tuple[str, ...]) -> Column:
    t = tokens(c)
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(t, lambda x: F.array_contains(arr, x))).cast("long")


def lang_scores(c: ColumnOrName) -> dict[str, Column]:
    return {
        "en": _marker_hits(c, EN_MARKERS),
        "es": _marker_hits(c, ES_MARKERS),
        "de": _marker_hits(c, DE_MARKERS),
    }


def lang_id(c: ColumnOrName) -> Column:
    """Deterministic n-gram/marker language heuristic: argmax of marker
    hits with a fixed priority order (en > es > de) on ties."""
    s = lang_scores(c)
    return (
        F.when((s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] > 0), "en")
        .when((s["es"] >= s["de"]) & (s["es"] > 0), "es")
        .when(s["de"] > 0, "de")
        .otherwise("unknown")
    )


def quality_score(c: ColumnOrName) -> Column:
    """Composite quality heuristic in [0, ~2]: length band + lexical
    diversity + stopword plausibility. Deterministic, oracle-pinned.

    Built from RAW ratios (not the pre-rounded display columns):
    rounding intermediates would park values exactly on .xxxx5
    boundaries where Spark's HALF_UP and DuckDB's double-rounding
    disagree by 1 ulp.
    """
    n = token_count(c)
    t = tokens(c)
    ttr_raw = F.size(F.array_distinct(t)) / F.size(t)
    sw_raw = _marker_hits(c, EN_MARKERS) / F.size(t)
    len_band = F.when((n >= 10) & (n <= 1000), F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round(len_band + ttr_raw * 0.5 + F.least(sw_raw * 5.0, F.lit(0.5)), 4)


def fingerprint(c: ColumnOrName) -> Column:
    """Content fingerprint: md5 of whitespace-normalized lowercase text.
    (The rolling/simhash variants live in operators/dedup.py.)"""
    return F.md5(F.lower(normalize_text(c)).cast("binary"))
