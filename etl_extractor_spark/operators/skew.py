"""Skew mitigation: salted two-phase aggregation and salted joins.

When a handful of keys dominate (15 users over 100k events here; at
100 TB think one customer with 1% of all rows), a plain groupBy/join
hash-partitions all of a hot key's rows onto ONE reducer. Mitigations,
in preference order:

1. AQE skew-join splitting (on by default in our session factory) —
   free, but only applies to sort-merge joins past size thresholds.
2. Salted two-phase aggregation (this module): partial-aggregate on
   (key, salt) so a hot key spreads over N reducers, then re-aggregate
   by key. Works for any algebraic aggregate (sum/count/min/max; avg
   via sum+count).
3. Salted join: salt the skewed side, explode the small side N ways.

The salt is DETERMINISTIC (hash of a row-identifying column, not
rand()) so results are reproducible and retries/speculative tasks
agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_salt(df: DataFrame, from_col: str, n_salt: int = 16, name: str = "_salt") -> DataFrame:
    return df.withColumn(name, F.pmod(F.xxhash64(F.col(from_col)), F.lit(n_salt)))


def salted_sum_count(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    salt_from: str,
    n_salt: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation: sum/count/min/max of value_col
    per group_cols. Phase 1 shuffles on (group, salt) — the hot group
    spreads across n_salt reducers; phase 2 shuffles only the tiny
    partial-aggregate frame."""
    partial = (
        with_salt(df, salt_from, n_salt)
        .groupBy(*group_cols, "_salt")
        .agg(
            F.sum(value_col).alias("_s"),
            F.count(F.lit(1)).alias("_c"),
            F.min(value_col).alias("_mn"),
            F.max(value_col).alias("_mx"),
        )
    )
    return partial.groupBy(*group_cols).agg(
        F.round(F.sum("_s").cast("double"), 4).alias("sum_value"),
        F.sum("_c").alias("n_rows"),
        F.round(F.min("_mn").cast("double"), 4).alias("min_value"),
        F.round(F.max("_mx").cast("double"), 4).alias("max_value"),
        F.round(F.sum("_s").cast("double") / F.sum("_c"), 4).alias("avg_value"),
    )


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    skewed_key: str,
    small_key: str,
    n_salt: int = 16,
    salt_from: str | None = None,
) -> DataFrame:
    """Join a skewed fact against a small table without one hot
    reducer: the skewed side gets a deterministic salt in [0, n), the
    small side is exploded n ways, and the join key becomes
    (key, salt). Equivalent rows, n-way spread of every hot key."""
    salt_src = salt_from or skewed_key
    left = with_salt(skewed, salt_src, n_salt)
    right = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).withColumn("_salt", F.col("_salt").cast("long"))
    return left.join(right, (left[skewed_key] == right[small_key]) & (left["_salt"] == right["_salt"])).drop("_salt")


def salted_topk(
    df: DataFrame,
    group_cols: list,
    order_col: str,
    tiebreak_col: str,
    k: int = 3,
    n_salt: int = 64,
) -> DataFrame:
    """Scale-safe top-k per group for FEW groups over MANY rows.

    A single window over the group key funnels every row of a hot group
    through one reducer; a collect_list aggregation buffers the whole
    group in memory. This two-phase plan does neither: phase 1 ranks
    within (group, salt) — n_salt-way parallel, each bucket holding
    ~1/n_salt of the group — and keeps k rows per bucket (any global
    top-k row is necessarily top-k within its salt bucket, so no
    candidate is lost); phase 2 re-ranks the surviving
    groups × n_salt × k rows, a constant-bounded relation. Ordering is
    (order_col DESC, tiebreak_col DESC) in both phases, so results are
    deterministic and equal to the naive single-window formulation.
    """
    salt = F.pmod(F.xxhash64(F.col(tiebreak_col)), F.lit(n_salt))
    w1 = Window.partitionBy(*group_cols, "_salt").orderBy(
        F.desc(order_col), F.desc(tiebreak_col)
    )
    w2 = Window.partitionBy(*group_cols).orderBy(
        F.desc(order_col), F.desc(tiebreak_col)
    )
    return (
        df.withColumn("_salt", salt)
        .withColumn("_rk1", F.row_number().over(w1))
        .filter(F.col("_rk1") <= k)
        .withColumn("rk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rk") <= k)
        .drop("_salt", "_rk1")
    )
