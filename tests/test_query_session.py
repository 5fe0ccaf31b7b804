"""Queries build in a clone of the caller's session (``query_session``):
what they set or register stays in the clone."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "etl_extractor_spark"


def test_query_session_keeps_caller_confs_and_its_own_private(spark):
    """The clone starts with the caller's runtime confs (a new session
    would fall back to the builder's); its own confs and temp views do
    not reach the caller."""
    from etl_extractor_spark.session import query_session

    tz = "spark.sql.session.timeZone"
    prev = spark.conf.get(tz)
    spark.conf.set(tz, "America/Lima")
    try:
        clone = query_session(
            spark, {"spark.sql.shuffle.partitions": "3", "spark.sql.adaptive.enabled": "false"}
        )
    finally:
        spark.conf.set(tz, prev)
    assert clone.conf.get(tz) == "America/Lima"
    df = clone.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
    df.createOrReplaceTempView("query_session_probe")
    assert df.rdd.getNumPartitions() == 3
    assert spark.conf.get("spark.sql.shuffle.partitions") != "3"
    assert not spark.catalog.tableExists("query_session_probe")


def test_conf_queries_leave_caller_confs_while_building(spark, sf_dir, monkeypatch):
    """While ``aqe_skew_join_split``, ``recursive_cte_depth_rollup`` and
    ``bucket_pruned_lookup`` build, the caller's session keeps the
    values it had, so a query planned on another thread meanwhile is
    not planned under them; the session each query reads its tables
    from has the query's own value."""
    from etl_extractor_spark.plans import pipeline_ops7, pipeline_ops8, pipeline_ops9
    from etl_extractor_spark.sources import parquet

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.cteRecursionRowLimit",
        "spark.sql.sources.bucketing.autoBucketedScan.enabled",
    )
    before = {k: spark.conf.get(k, None) for k in keys}
    seen: list[tuple[dict, dict]] = []
    real = parquet.load_table

    def spy(session, *args, **kwargs):
        seen.append(
            (
                {k: spark.conf.get(k, None) for k in keys},
                {k: session.conf.get(k, None) for k in keys},
            )
        )
        return real(session, *args, **kwargs)

    for mod in (parquet, pipeline_ops7, pipeline_ops9):
        monkeypatch.setattr(mod, "load_table", spy)
    for key, query, own in (
        (keys[0], pipeline_ops9.aqe_skew_join_split, "-1"),
        (keys[1], pipeline_ops8.recursive_cte_depth_rollup, str(2**31 - 1)),
        (keys[2], pipeline_ops7.bucket_pruned_lookup, "false"),
    ):
        seen.clear()
        query(spark, sf_dir).collect()
        assert seen, query.__name__
        assert all(caller == before for caller, _ in seen), query.__name__
        assert all(session[key] == own for _, session in seen), query.__name__
    assert {k: spark.conf.get(k, None) for k in keys} == before


# Every conf write under etl_extractor_spark/, by (file, function), with
# the reason it may write to the session it is handed.
_CONF_WRITES = {
    # the one place a query's own confs are set: on its clone
    ("etl_extractor_spark/session.py", "query_session"),
    # a stream reads its state-partition count at start(); the swap is
    # scoped to that call under _START_LOCK
    ("etl_extractor_spark/streaming/events_stream.py", "_run"),
    # read-side, idempotent: ns parquet timestamps must read as longs in
    # any session that reads the tables, the driver's own included
    ("etl_extractor_spark/sources/parquet.py", "load_table"),
    ("etl_extractor_spark/streaming/events_stream.py", "events_stream"),
    # read-side, idempotent: the envelope reader fails without filter
    # pushdown on in the session that reads it
    ("etl_extractor_spark/sources/pyds.py", "register"),
}


def _is_conf_write(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("set", "unset")
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "conf"
    )


def test_conf_writes_only_at_listed_sites():
    """``conf.set``/``conf.unset`` appear under ``etl_extractor_spark/``
    only at the sites in ``_CONF_WRITES``; every other query sets its
    confs through ``query_session``."""
    found = set()
    for py in sorted(PKG.rglob("*.py")):
        owner = {}
        # breadth-first, so an inner function's name overwrites its outer one's
        for scope in ast.walk(ast.parse(py.read_text())):
            if isinstance(scope, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef)):
                name = getattr(scope, "name", "<module>")
                owner.update({n: name for n in ast.walk(scope) if _is_conf_write(n)})
        rel = str(py.relative_to(PKG.parent))
        found |= {(rel, name) for name in owner.values()}
    assert found == _CONF_WRITES
