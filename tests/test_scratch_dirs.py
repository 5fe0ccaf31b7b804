"""Scratch-dir lifecycle (``operators.common.pid_scratch_dir``): each call
gets its own numbered directory, which stays valid until the second
later call with the same prefix starts. So a DataFrame held across one
re-invocation still reads its own files, two threads running one query
write apart, and no query wipes its directory by hand at entry. The
numbering and the pruning are per prefix, so a prefix shared between
functions would prune the other function's directories."""

from __future__ import annotations

import ast
import collections
import pathlib
import threading

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "etl_extractor_spark"
_SCRATCH_FNS = ("pid_scratch_dir", "process_scratch_dir")


def _call_name(node) -> str | None:
    if not isinstance(node, ast.Call):
        return None
    return getattr(node.func, "id", None) or getattr(node.func, "attr", None)


def _modules():
    for py in sorted(PKG.rglob("*.py")):
        yield str(py.relative_to(PKG.parent)), ast.parse(py.read_text())


def _scratch_prefix_owners() -> dict[str, set[str]]:
    """Literal ``pid_scratch_dir("<prefix>")`` and
    ``process_scratch_dir("<prefix>")`` arguments → the functions
    (``file::qualified.name``) that pass them."""
    owners: dict[str, set[str]] = collections.defaultdict(set)

    def walk(node, path: str, scope: str) -> None:
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = f"{scope}.{child.name}" if scope else child.name
            arg = child.args[0] if isinstance(child, ast.Call) and child.args else None
            if _call_name(child) in _SCRATCH_FNS and isinstance(arg, ast.Constant):
                owners[arg.value].add(f"{path}::{scope or '<module>'}")
            walk(child, path, inner)

    for path, tree in _modules():
        walk(tree, path, "")
    return owners


def test_each_scratch_prefix_has_one_owner():
    owners = _scratch_prefix_owners()
    assert len(owners) > 50, "scan found too few pid_scratch_dir call sites"
    shared = {p: sorted(fs) for p, fs in owners.items() if len(fs) > 1}
    assert shared == {}, f"scratch prefixes shared between functions: {shared}"


def test_no_rmtree_of_a_pid_scratch_dir():
    """``pid_scratch_dir`` hands out a fresh directory per call; an
    ``rmtree`` of it only reopens the hazard the helper closes."""
    hits = []
    for path, tree in _modules():
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            scratch: set[str] = set()
            for node in ast.walk(fn):
                if isinstance(node, ast.Assign) and _call_name(node.value) == "pid_scratch_dir":
                    scratch |= {t.id for t in node.targets if isinstance(t, ast.Name)}
            for node in ast.walk(fn):  # ``for p in (a, b): rmtree(p)``
                if (isinstance(node, ast.For) and isinstance(node.target, ast.Name)
                        and isinstance(node.iter, (ast.Tuple, ast.List))
                        and any(getattr(e, "id", None) in scratch for e in node.iter.elts)):
                    scratch.add(node.target.id)
            for node in ast.walk(fn):
                if _call_name(node) != "rmtree" or not node.args:
                    continue
                arg = node.args[0]
                if getattr(arg, "id", None) in scratch or _call_name(arg) == "pid_scratch_dir":
                    hits.append(f"{path}:{node.lineno} ({fn.name})")
    assert hits == [], f"rmtree of a pid_scratch_dir result: {hits}"


def test_pid_scratch_dir_numbers_and_prunes_per_prefix(tmp_path, monkeypatch):
    import os
    import tempfile

    from etl_extractor_spark.operators import common

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(common, "_SCRATCH_CALLS", {})
    root = os.path.join(str(tmp_path), f"scratch_probe_{os.getpid()}")
    made = []
    for _ in range(4):
        made.append(common.pid_scratch_dir("scratch_probe_"))
        os.makedirs(made[-1])
        # another prefix in between neither advances nor prunes this one
        os.makedirs(common.pid_scratch_dir("scratch_probe_other_"))
    assert made == [os.path.join(root, str(n)) for n in range(4)]
    common.pid_scratch_dir("scratch_probe_")  # call 4 starts: 0..2 go
    assert sorted(os.listdir(root)) == ["3"]
    assert common.process_scratch_dir("scratch_probe_") == root


def test_schema_evolution_scan_keeps_parquet_schema_evolution_files(spark, sf_dir):
    """A ``parquet_schema_evolution`` DataFrame built before
    ``schema_evolution_scan`` runs must still read its own files, and
    match its oracle, afterwards."""
    from etl_extractor_spark.plans.pipeline_ops6 import schema_evolution_scan
    from etl_extractor_spark.plans.roundtrip import (
        SCHEMA_EVOLUTION_SQL,
        parquet_schema_evolution,
    )
    from tests.oracle import compare, duckdb_con

    df = parquet_schema_evolution(spark, sf_dir)
    schema_evolution_scan(spark, sf_dir).collect()
    assert compare(df, duckdb_con(sf_dir), SCHEMA_EVOLUTION_SQL) > 0


@pytest.mark.filterwarnings("ignore:toPandas attempted Arrow optimization")
@pytest.mark.parametrize(
    "name",
    [
        "tfidf_postings_compaction",
        "tfidf_incremental_postings",
        "tfidf_incremental_deletes",
        "manifest_snapshot_expiry",
        "bucketed_join_colocated",
        "bucket_pruned_lookup",
    ],
)
def test_held_dataframe_survives_reinvocation(spark, sf_dir, name):
    """A DataFrame held across one re-invocation of its query still
    matches the oracle. Across two it may fail to find its files, but
    it never returns rows other than its own."""
    from etl_extractor_spark.plans.registry import all_oracles, all_queries
    from tests.oracle import compare, duckdb_con

    query, sql, con = all_queries()[name], all_oracles()[name], duckdb_con(sf_dir)
    held = query(spark, sf_dir)
    query(spark, sf_dir).collect()
    assert compare(held, con, sql) > 0
    held = query(spark, sf_dir)  # not run yet: no shuffle output to reuse
    query(spark, sf_dir).collect()
    query(spark, sf_dir).collect()
    try:
        rows = held.toPandas()
    except Exception as exc:  # its directory is pruned: a loud failure
        assert "FILE_NOT_EXIST" in str(exc) or "does not exist" in str(exc), exc
        return

    class _Rows:
        def toPandas(self):
            return rows

    assert compare(_Rows(), con, sql) > 0


# manifest_snapshot_expiry's cases keep their ids from before the
# bucketed queries joined
@pytest.mark.parametrize(
    "name, trial",
    [
        pytest.param(
            name,
            trial,
            id=str(trial) if name == "manifest_snapshot_expiry" else f"{name}-{trial}",
        )
        for name in (
            "manifest_snapshot_expiry",
            "bucketed_join_colocated",
            "bucket_pruned_lookup",
        )
        for trial in range(3)
    ],
)
def test_two_threads_run_one_lifecycle_query(spark, sf_dir, name, trial):
    """Two threads each run one lifecycle query once on one session;
    both results match the oracle."""
    from etl_extractor_spark.plans.registry import all_oracles, all_queries
    from tests.oracle import compare, duckdb_con

    query, sql, con = all_queries()[name], all_oracles()[name], duckdb_con(sf_dir)
    errors: list[BaseException] = []

    def run() -> None:
        try:
            compare(query(spark, sf_dir), con.cursor(), sql)
        except BaseException as exc:  # asserted in the main thread
            errors.append(exc)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
