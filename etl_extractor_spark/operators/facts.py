"""Fact-table construction (reference main.py:196-306, 323-411).

The reference's fact build is: per source, conform to one canonical
schema (rename + coerce + derive date key + default-fill missing
columns), union everything, enrich with dimension keys via left-join
with sentinel defaults, and fold out-of-range business keys into the
dimension's key range with a modulo (never drop a row — reference
main.py:326-327).

Spark-first translation:
- conform_block   : pure projection (codegen) against a declared schema
- union_blocks    : unionByName(allowMissingColumns=True)
- enrich_lookup   : broadcast left join + coalesce sentinel (J1/J2/J3 —
                    a broadcast hash join IS the distributed form of the
                    reference's dict-map lookup at main.py:352-355)
- modulo_fk_fold  : ((k-1) % max)+1 given the dim's max key (J5/A1)
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def conform_block(
    df: DataFrame,
    mapping: dict[str, Column],
    defaults: dict[str, Column] | None = None,
) -> DataFrame:
    """Project a source block onto the canonical fact schema.

    ``mapping`` gives an expression per canonical column; ``defaults``
    supplies constants for canonical columns this source lacks (P4,
    reference main.py:249-256).
    """
    exprs = dict(mapping)
    for name, default in (defaults or {}).items():
        exprs.setdefault(name, default)
    return df.select(*[expr.alias(name) for name, expr in exprs.items()])


def union_blocks(blocks: list[DataFrame]) -> DataFrame:
    """U1: schema-aligned union-all (reference main.py:289-303)."""
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), blocks
    )


def enrich_lookup(
    fact: DataFrame,
    dim: DataFrame,
    fact_key,
    dim_key: str,
    take: dict[str, str],
    sentinels: dict[str, Column],
) -> DataFrame:
    """J1/J2: left-join a (small) dimension, take selected columns,
    sentinel-fill misses. The dim side is broadcast — on a cluster this
    is a map-side hash lookup with no shuffle of the fact table.
    """
    fact_key_col = F.col(fact_key) if isinstance(fact_key, str) else fact_key
    dim_proj = F.broadcast(
        dim.select(F.col(dim_key).alias("__dk"), *[F.col(s).alias(d) for s, d in take.items()])
    )
    joined = fact.join(dim_proj, fact_key_col == F.col("__dk"), "left").drop("__dk")
    out_cols = []
    for c in joined.columns:
        if c in sentinels:
            out_cols.append(F.coalesce(F.col(c), sentinels[c]).alias(c))
        else:
            out_cols.append(F.col(c))
    return joined.select(*out_cols)


def scalar_agg(df: DataFrame, expr: Column) -> int | float:
    """A1/A2: driver-side scalar aggregate (reference main.py:347-350).
    Costs a Spark job of its own; the pipeline's fact path observes its
    FK bounds on the dim writes instead (``sinks.writers.write_observed``)."""
    return df.agg(expr.alias("v")).first()["v"]


def modulo_fk_fold(c, max_key: int) -> Column:
    """J5: fold any business key into [1, max_key] (reference
    main.py:358-372): ``((k - 1) mod max) + 1``. Keeps every fact row
    joinable — the reference's explicit never-drop-rows policy.

    pmod, not ``%``: Spark's ``%`` takes the dividend's sign, so a
    0-based key would fold to 0 (out of range). pmod ≡ ``%`` on the
    1-based domain, and stays in range for 0/negative keys.
    """
    col = F.col(c) if isinstance(c, str) else c
    return (F.pmod(col.cast("long") - F.lit(1), F.lit(int(max_key))) + F.lit(1)).cast("long")
