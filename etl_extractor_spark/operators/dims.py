"""Dimension builders (reference main.py:97-190, sync_dimensions_dw.py).

Each builder is a lazy projection + dedup over a source table, with
business keys synthesized the way the reference does (prefix + zero-pad,
reference main.py:103-105) and surrogate keys as deterministic
``row_number`` over the natural-key order — the correct Spark
translation of sort-then-IDENTITY (reference sync_dimensions_dw.py:33),
since JDBC append order is not preserved across partitions.

Scale note: a global row_number window collapses to one partition; that
is fine for dimensions (≤ millions of rows) and is exactly where the
reference uses IDENTITY. For fact-scale key generation use
``add_surrogate_key(..., scalable=True)`` which goes through
zipWithIndex-style partition offsets with no global shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_extractor_spark.functions.dates import date_dim_columns, parse_date


def add_surrogate_key(
    df: DataFrame,
    order_col: str,
    key_name: str = "sk",
    scalable: bool = False,
) -> DataFrame:
    """Dense 1..N surrogate keys.

    - default: ``row_number() over (order by natural_key)`` — dense,
      deterministic, matches the reference's IDENTITY ordering; single-
      partition window, dimension-scale only.
    - scalable: partition-offset assignment (zipWithIndex semantics) —
      distributed, dense, but ordering is partition-order not value-order;
      use for fact-scale keys where only uniqueness matters.
    """
    if not scalable:
        w = Window.orderBy(F.col(order_col))
        return df.withColumn(key_name, F.row_number().over(w).cast("long"))
    rdd = df.rdd.zipWithIndex()
    from pyspark.sql import types as T

    schema = df.schema.add(T.StructField(key_name, T.LongType(), False))
    return df.sparkSession.createDataFrame(
        rdd.map(lambda t: (*t[0], t[1] + 1)), schema
    )


def build_dim_date(dates: list[DataFrame | Column] | DataFrame) -> DataFrame:
    """Date dimension (F4): union the date columns of several tables,
    parse, drop nulls, distinct, derive calendar attributes (reference
    transform/clean_data.py:17-29, main.py:164-190).

    Accepts a single-column DataFrame (column name arbitrary) or a list
    of them; the distinct happens once, after the cheap unions.
    """
    from functools import reduce

    if isinstance(dates, list):
        frames = [d.toDF("d") for d in dates]
        unioned = reduce(DataFrame.unionByName, frames)
    else:
        unioned = dates.toDF("d")
    parsed = unioned.select(parse_date("d").alias("fecha")).na.drop().distinct()
    attrs = date_dim_columns("fecha")
    return parsed.select(
        attrs["fecha_key"].alias("fecha_key"),
        F.col("fecha"),
        *[attrs[k].alias(k) for k in ("anio", "mes", "dia", "trimestre", "mes_nombre", "dia_semana")],
    )
