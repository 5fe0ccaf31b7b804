"""Bucketed co-located join: no shuffle Exchange on either side."""

from __future__ import annotations

import pytest

from etl_extractor_spark.operators.bucketing import (
    bucketed_join,
    exchanges_in_plan,
    write_bucketed,
)
from etl_extractor_spark.sources.parquet import load_table


@pytest.fixture()
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_exchange(spark, sf_dir, no_broadcast, tmp_path):
    spark.sql("DROP DATABASE IF EXISTS test_bucketing CASCADE")
    spark.sql(f"CREATE DATABASE test_bucketing LOCATION '{tmp_path}'")
    write_bucketed(
        load_table(spark, sf_dir, "orders"), "test_bucketing.b_orders", "o_orderkey", 8
    )
    write_bucketed(
        load_table(spark, sf_dir, "lineitem"), "test_bucketing.b_lineitem", "l_orderkey", 8
    )
    joined = bucketed_join(
        spark,
        "test_bucketing.b_lineitem",
        "test_bucketing.b_orders",
        ("l_orderkey", "o_orderkey"),
    )
    assert joined.count() == load_table(spark, sf_dir, "lineitem").count()
    assert exchanges_in_plan(joined) == 0  # co-located: no shuffle at all

    # control: the same join on plain (unbucketed) tables DOES shuffle
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    plain = l.join(o, l.l_orderkey == o.o_orderkey)
    plain.count()
    assert exchanges_in_plan(plain) > 0
