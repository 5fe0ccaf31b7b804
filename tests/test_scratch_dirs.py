"""Per-process scratch dirs (``operators.common.pid_scratch_dir``) are
keyed by prefix alone, so two queries sharing a prefix share one
directory, and the one that wipes it at entry deletes the other's
files under a DataFrame that still reads them."""

from __future__ import annotations

import ast
import collections
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "etl_extractor_spark"


def _scratch_prefix_owners() -> dict[str, set[str]]:
    """Literal ``pid_scratch_dir("<prefix>")`` arguments → the
    functions (``file::qualified.name``) that pass them."""
    owners: dict[str, set[str]] = collections.defaultdict(set)

    def walk(node, path: str, scope: str) -> None:
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = f"{scope}.{child.name}" if scope else child.name
            if isinstance(child, ast.Call):
                fn = child.func
                name = getattr(fn, "id", None) or getattr(fn, "attr", None)
                arg = child.args[0] if child.args else None
                if name == "pid_scratch_dir" and isinstance(arg, ast.Constant):
                    owners[arg.value].add(f"{path}::{scope or '<module>'}")
            walk(child, path, inner)

    for py in sorted(PKG.rglob("*.py")):
        walk(ast.parse(py.read_text()), str(py.relative_to(PKG.parent)), "")
    return owners


def test_each_scratch_prefix_has_one_owner():
    owners = _scratch_prefix_owners()
    assert len(owners) > 50, "scan found too few pid_scratch_dir call sites"
    shared = {p: sorted(fs) for p, fs in owners.items() if len(fs) > 1}
    assert shared == {}, f"scratch prefixes shared between functions: {shared}"


def test_schema_evolution_scan_keeps_parquet_schema_evolution_files(spark, sf_dir):
    """``schema_evolution_scan`` wipes its scratch dir at entry; a
    ``parquet_schema_evolution`` DataFrame built before it runs must
    still read its own files, and match its oracle, afterwards."""
    from etl_extractor_spark.plans.pipeline_ops6 import schema_evolution_scan
    from etl_extractor_spark.plans.roundtrip import (
        SCHEMA_EVOLUTION_SQL,
        parquet_schema_evolution,
    )
    from tests.oracle import compare, duckdb_con

    df = parquet_schema_evolution(spark, sf_dir)
    schema_evolution_scan(spark, sf_dir).collect()
    assert compare(df, duckdb_con(sf_dir), SCHEMA_EVOLUTION_SQL) > 0
