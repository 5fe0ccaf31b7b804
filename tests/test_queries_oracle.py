"""Every registered query with an oracle must hash-match DuckDB.

This mirrors the driver's CORRECTNESS gate (sf0.01 there; sf0.001 here
for speed — set SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01 for the full
check). Each query must also leave the session it is handed as it found
it: no conf, temporary view or user function may change.
"""

from __future__ import annotations

import pytest

from etl_extractor_spark.plans.registry import all_oracles, all_queries
from tests.oracle import compare, duckdb_con

QUERIES = all_queries()
ORACLES = all_oracles()

# Read-side confs that loading a table sets on whichever session reads
# it, the caller's included (tests/test_query_session.py::_CONF_WRITES).
_READ_SIDE_KEYS = {
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.python.filterPushdown.enabled",
}


def _session_state(spark):
    """What a query could leave behind in the session it is handed:
    confs, temporary views and user functions."""
    confs = {k: v for k, v in spark.conf.getAll.items() if k not in _READ_SIDE_KEYS}
    views = sorted(r.viewName for r in spark.sql("SHOW VIEWS").collect() if r.isTemporary)
    funcs = sorted(r.function for r in spark.sql("SHOW USER FUNCTIONS").collect())
    return confs, views, funcs


@pytest.fixture(scope="module")
def con(sf_dir):
    return duckdb_con(sf_dir)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(name, spark, sf_dir, con):
    assert name in QUERIES, f"oracle {name} has no query"
    before = _session_state(spark)
    n = compare(QUERIES[name](spark, sf_dir), con, ORACLES[name])
    assert n >= 0
    assert _session_state(spark) == before


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only(name, spark, sf_dir):
    before = _session_state(spark)
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0 and len(df.schema.fields) > 0
    assert _session_state(spark) == before


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
