"""Shared cross-engine quantization helpers.

The op ORDER of a quantizer is load-bearing (review catch, round 5):
``floor((c/n)*1e4 + 0.5)`` and ``floor(c*1e4/n + 0.5)`` differ by one
ulp on real inputs, and Spark's round() is HALF_UP while DuckDB's
differs on ties — so every oracle-matched rounding must be spelled as
``floor(x*10^k + 0.5) / 10^k`` on BOTH engines, from ONE shared
definition. This module is that definition; plan modules must import
``q6`` instead of re-deriving it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def q6(col: Column) -> Column:
    """Half-up quantization at 1e-6 — the standard final-scalar recipe:
    the input must already be ONE identical IEEE op sequence over
    identical exact integers on both engines; the matching oracle SQL
    is ``FLOOR(x * 1000000 + 0.5) / 1000000``."""
    return F.floor(col * 1000000 + F.lit(0.5)) / 1000000


def cents(col: str) -> Column:
    """Exact integer cents of a money column: the decimal cast comes
    BEFORE the scale-up, so no double round-off. The matching oracle
    SQL is ``CAST(CAST(col AS DECIMAL(18,2)) * 100 AS BIGINT)``."""
    return (F.col(col).cast("decimal(18,2)") * 100).cast("long")
