"""Order-isomorphism and roundtrip of the LPA label int-encoding.

label_propagation_communities runs its min-label rounds on int64 codes
(_lp_enc) instead of 'C'||k / 'S'||k strings; that is only sound if the
code order equals the string order EXACTLY (min over codes == min over
labels) and the decode is the exact inverse. This pins both over a
range that exercises every digit-count boundary (the classic traps:
'C10' > 'C1', 'C115' < 'C12', power-of-ten lengths, 'C' < 'S'), up to
the top of the 12-digit domain, and pins that a key past it fails
loudly instead of encoding to NULL.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_extractor_spark.plans.pipeline_ops2 import _lp_dec, _lp_enc


def test_lp_encoding_order_isomorphic_and_roundtrip(spark):
    keys = sorted(
        set(range(1, 1201))
        | {0}
        | {10**j for j in range(1, 12)}
        | {10**j - 1 for j in range(2, 13)}
        | {10**j + 1 for j in range(1, 12)}
        | {15_000_000_000, 123_456_789_012, 100_000_000_001}
    )
    rows = [(k, p) for k in keys for p in (0, 1)]
    df = spark.createDataFrame(rows, "k long, p int")
    enc = df.select(
        F.when(F.col("p") == 0, F.concat(F.lit("C"), F.col("k").cast("string")))
        .otherwise(F.concat(F.lit("S"), F.col("k").cast("string")))
        .alias("s"),
        F.when(F.col("p") == 0, _lp_enc("k", 0))
        .otherwise(_lp_enc("k", 1))
        .alias("code"),
    )
    got = enc.select("s", "code", _lp_dec("code").alias("back")).collect()

    # roundtrip: decode is the exact inverse
    bad = [(r["s"], r["back"]) for r in got if r["s"] != r["back"]]
    assert not bad, f"decode mismatches: {bad[:5]}"

    # injective + order-isomorphic: sorting by code == sorting by string
    codes = [r["code"] for r in got]
    assert len(set(codes)) == len(codes), "encoding not injective"
    by_str = [r["s"] for r in sorted(got, key=lambda r: r["s"])]
    by_code = [r["s"] for r in sorted(got, key=lambda r: r["code"])]
    assert by_str == by_code, "code order diverges from label-string order"


@pytest.mark.parametrize("key", [10**12, 10**15, -1])
def test_lp_encoding_out_of_range_key_raises(spark, key):
    df = spark.createDataFrame([(key,)], "k long")
    with pytest.raises(Exception, match="encodable range"):
        df.select(_lp_enc("k", 0).alias("code")).collect()


def test_lp_encoding_null_key_stays_null(spark):
    df = spark.createDataFrame([(None,)], "k long")
    assert df.select(_lp_enc("k", 1).alias("code")).first()["code"] is None
