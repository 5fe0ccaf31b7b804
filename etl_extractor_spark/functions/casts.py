"""Coercing casts with sentinel defaults (F6, F7, F8, F13).

The reference's universal pattern is ``pd.to_numeric(errors="coerce")
.fillna(default)`` (reference main.py:217-221,261-264). Under Spark 4's
default ANSI mode a plain ``cast`` THROWS on malformed input, so these
helpers use ``try_cast`` — null on failure — then
``coalesce(..., lit(default))``. Pure codegen, null-safe, ANSI-proof.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from etl_extractor_spark.functions.text import ColumnOrName, _col


# Java-only float syntax that Spark's string → double cast accepts
# (it parses with ``Double.parseDouble``) and pandas ``to_numeric`` /
# Python ``float()`` reject: a ``d``/``f`` type suffix (``"0D"`` → 0.0)
# and a hex significand (``"0x1p3"`` → 8.0). No plain decimal, ``inf``
# or ``nan`` literal matches, so only these forms lose their parse.
_JAVA_ONLY_FLOAT = r"0[xX]|[0-9.][dDfF][\x00-\x20]*$"


def to_double_or(c: ColumnOrName, default: float = 0.0) -> Column:
    """Pinned to Spark's cast semantics, which trim ASCII control
    chars and whitespace (any char ≤ U+0020) before parsing — so
    ``"0\\x1f"`` parses as 0.0 where Python ``float()`` would raise.
    Documented divergence from pandas ``to_numeric`` in FIXTURES.md;
    kept because it stays pure codegen (no UDF pre-filter). The Java
    literal forms in ``_JAVA_ONLY_FLOAT`` coerce to ``default``, as in
    pandas."""
    col = _col(c)
    parsed = F.when(~col.cast("string").rlike(_JAVA_ONLY_FLOAT), col.try_cast("double"))
    return F.coalesce(parsed, F.lit(float(default)))


def to_long_or(c: ColumnOrName, default: int = -1) -> Column:
    return F.coalesce(_col(c).try_cast("long"), F.lit(int(default)))


def to_string_or(c: ColumnOrName, default: str = "-1") -> Column:
    """F8 — replicates the *intent* (null → sentinel), not pandas'
    accidental ``astype(str)`` → ``"nan"`` artifact (SURVEY §2.7 F8)."""
    return F.coalesce(_col(c).try_cast("string"), F.lit(default))
