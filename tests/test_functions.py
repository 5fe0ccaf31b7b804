"""Unit tests for the scalar function library (SURVEY §2.7) — literal
rows, including the reference's semantics quirks (SURVEY §4.2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_extractor_spark.functions.casts import to_double_or, to_long_or, to_string_or
from etl_extractor_spark.functions.dates import date_dim_columns, fecha_key, parse_date
from etl_extractor_spark.functions.text import (
    normalize_text,
    prefixed_key,
    standardize_columns,
    truncate,
)


def test_normalize_text_collapses_whitespace(spark):
    df = spark.createDataFrame([("  a   b\t\tc  ",), (None,)], ["t"])
    out = [r[0] for r in df.select(normalize_text("t")).collect()]
    assert out == ["a b c", None]


def test_prefixed_key_matches_reference_zfill(spark):
    # reference main.py:103-105: "C" + str(int(id)).zfill(3)
    df = spark.createDataFrame([(1,), (42,), (999,), (1000,)], ["id"])
    out = [r[0] for r in df.select(prefixed_key("id", "C", 4)).collect()]
    assert out == ["C0001", "C0042", "C0999", "C1000"]


def test_standardize_columns(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["Id Cliente", " Nombre ", "EMAIL"])
    assert standardize_columns(df).columns == ["id_cliente", "nombre", "email"]


def test_truncate_caps_length(spark):
    df = spark.createDataFrame([("  " + "x" * 3000,)], ["t"])
    assert len(df.select(truncate("t", 2000)).first()[0]) == 2000


def test_coercing_casts_use_sentinels(spark):
    # reference coerce-don't-fail: invalid → default (SURVEY §4.2.2)
    df = spark.createDataFrame([("3.5", "7", "x"), ("bad", "bad", None)], ["d", "l", "s"])
    row = df.select(
        to_double_or("d", 0.0).alias("d"),
        to_long_or("l", -1).alias("l"),
        to_string_or("s", "-1").alias("s"),
    ).collect()
    assert [tuple(r) for r in row] == [(3.5, 7, "x"), (0.0, -1, "-1")]


def test_to_double_or_rejects_java_only_literals(spark):
    # Spark's cast accepts Java's type suffixes and hex floats; pandas
    # to_numeric coerces them to NaN, so they take the default here.
    vals = ["0D", "1.5f", "2.d\x1f", "0x1p3", "inf", "-Infinity", "NaN", " 1e2 ", "5."]
    df = spark.createDataFrame([(v,) for v in vals], "v: string")
    got = [r[0] for r in df.select(to_double_or("v", -7.5)).collect()]
    assert got[:4] == [-7.5] * 4
    assert got[4:6] == [float("inf"), float("-inf")]
    assert got[6] != got[6]
    assert got[7:] == [100.0, 5.0]


def test_to_double_or_keeps_numeric_columns(spark):
    df = spark.createDataFrame([(1.25, 3), (None, None)], "d: double, l: long")
    got = df.select(to_double_or("d", -1.0), to_double_or("l", -1.0)).collect()
    assert [tuple(r) for r in got] == [(1.25, 3.0), (-1.0, -1.0)]


def test_fecha_key_sentinel(spark):
    df = spark.createDataFrame([("2025-06-15",), ("not a date",), (None,)], ["f"])
    out = [r[0] for r in df.select(fecha_key("f")).collect()]
    assert out == [20250615, -1, -1]


def test_parse_date_coerce(spark):
    df = spark.createDataFrame([("2024-02-29 10:00:00",), ("garbage",)], ["f"])
    out = df.select(parse_date("f").alias("p")).collect()
    assert out[0][0] is not None and out[1][0] is None


def test_date_dim_columns(spark):
    df = spark.createDataFrame([("2025-06-15",)], ["f"]).select(
        F.to_date("f").alias("f")
    )
    attrs = date_dim_columns("f")
    row = df.select(*[v.alias(k) for k, v in attrs.items()]).first()
    assert row["fecha_key"] == 20250615
    assert (row["anio"], row["mes"], row["dia"], row["trimestre"]) == (2025, 6, 15, 2)
    assert row["mes_nombre"] == "June" and row["dia_semana"] == "Sunday"
