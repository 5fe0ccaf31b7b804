"""Config-driven source registry (X4): a settings.json like the
reference's routes every source through the registry with per-source
isolation. Also the query registry (plans/registry): its one-walk
cache and its one ordering rule."""

from __future__ import annotations

import json
import os
import tempfile

import pytest

from etl_extractor_spark.config import Settings
from etl_extractor_spark.sources.registry import SourceRegistry


def test_settings_load_and_registry(spark, sf_dir):
    with tempfile.TemporaryDirectory() as tmp:
        csv_path = os.path.join(tmp, "clients.csv")
        with open(csv_path, "w") as f:
            f.write("IdCliente,Nombre\n1,Ann\n2,\n")
        cfg = {
            "clients_csv": csv_path,
            "parquet_dir": sf_dir,
            "api_url": "http://127.0.0.1:1/unreachable",
            "staging_dir": os.path.join(tmp, "staging"),
            "gold_dir": os.path.join(tmp, "gold"),
        }
        cfg_path = os.path.join(tmp, "settings.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)

        settings = Settings.load(cfg_path)
        assert settings.staging_dir.endswith("staging")
        assert set(settings.sources) == {"clients_csv", "parquet_dir", "api_url"}

        reg = SourceRegistry(spark)
        reg.register_from_config(settings.sources)
        frames = reg.read_all()

        # CSV source standardized + empty-string semantics
        assert frames["clients"].columns == ["idcliente", "nombre"]
        got = {r["idcliente"]: r["nombre"] for r in frames["clients"].collect()}
        assert got == {1: "Ann", 2: ""}
        # parquet tables registered
        assert frames["customer"].count() > 0
        # unreachable API isolated to an empty frame, not a failure
        assert frames["api"].count() == 0


def test_all_oracle_names_have_queries():
    from etl_extractor_spark.plans import registry as R

    qs, os_ = R.all_queries(), R.all_oracles()
    assert set(os_) <= set(qs)


# sha256 of the sorted (name, oracle SQL or None) list: moving a query
# between plan modules must keep every name and every oracle string.
_REGISTRY_SHA256 = "d7441802ce0645a49603f298ca8ff2769f00d4575fa6a6dc5790ac8de8fa9fdd"


def test_registry_names_and_oracles_are_pinned(registry):
    import hashlib

    qs, os_ = registry.all_queries(), registry.all_oracles()
    assert (len(qs), len(os_)) == (479, 472)
    pairs = json.dumps(sorted((name, os_.get(name)) for name in qs))
    assert hashlib.sha256(pairs.encode()).hexdigest() == _REGISTRY_SHA256


# (importer, numbered module, name) for every import the package still
# takes from a numbered plan module. Re-homing a domain shrinks this
# list; a new entry means a helper is shared across numbered modules
# instead of living with its domain.
_PIPELINE_OPS_CROSS_IMPORTS = {
    ("plans.inference", "pipeline_ops", "_SPEND_CTE"),
    ("plans.inference", "pipeline_ops", "_spend_by_customer"),
    ("plans.pipeline_ops10", "pipeline_ops7", "_tdiv"),
    ("plans.pipeline_ops10", "pipeline_ops9", "_build_mod3_batches"),
    ("plans.pipeline_ops2", "pipeline_ops", "_hash_parity"),
    ("plans.pipeline_ops4", "pipeline_ops", "_risk_table"),
    ("plans.pipeline_ops4", "pipeline_ops", "_survival_cte"),
    ("plans.pipeline_ops6", "pipeline_ops", "_hash_parity"),
    ("plans.pipeline_ops6", "pipeline_ops5", "_skew_key"),
    ("plans.pipeline_ops6", "pipeline_ops5", "_skew_key_sql"),
    ("plans.pipeline_ops8", "pipeline_ops7", "_md5_bucket_col"),
    ("plans.pipeline_ops8", "pipeline_ops7", "_md5_bucket_sql"),
    ("plans.pipeline_ops9", "pipeline_ops5", "_skew_key"),
    ("plans.pipeline_ops9", "pipeline_ops7", "_widened_type"),
    ("plans.pipeline_ops9", "pipeline_ops8", "_CENTS_SQL"),
    ("plans.pipeline_ops9", "pipeline_ops8", "_write_pinned_batches"),
}


def test_pipeline_ops_cross_imports_are_pinned():
    """Every ``from etl_extractor_spark.plans.pipeline_opsN import x``
    and every whole-module import of a numbered plan module under
    ``etl_extractor_spark/`` is on the pinned list; a module import
    (``import ... pipeline_opsN as m``) is listed with name None, so
    none is allowed."""
    import ast
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "etl_extractor_spark"
    numbered = re.compile(r"pipeline_ops\d*")
    found = set()
    for py in sorted(pkg.rglob("*.py")):
        importer = ".".join(py.relative_to(pkg).with_suffix("").parts)
        for node in ast.walk(ast.parse(py.read_text())):
            if isinstance(node, ast.ImportFrom) and node.module:
                head, _, last = node.module.rpartition(".")
                if head == "etl_extractor_spark.plans" and numbered.fullmatch(last):
                    found |= {(importer, last, a.name) for a in node.names}
                elif node.module == "etl_extractor_spark.plans":
                    found |= {
                        (importer, a.name, None)
                        for a in node.names
                        if numbered.fullmatch(a.name)
                    }
            elif isinstance(node, ast.Import):
                for a in node.names:
                    head, _, last = a.name.rpartition(".")
                    if head == "etl_extractor_spark.plans" and numbered.fullmatch(last):
                        found.add((importer, last, None))
    assert found == _PIPELINE_OPS_CROSS_IMPORTS


@pytest.fixture
def registry():
    """The query registry with an empty cache, emptied again on exit so
    a monkeypatched order never leaks into later tests."""
    from etl_extractor_spark.plans import registry as R

    R._CACHE.clear()
    yield R
    R._CACHE.clear()


def test_registry_scan_is_cached_and_fast(registry, monkeypatch):
    """The plan-module walk runs once per process (memoized), fills
    both registries in that one walk, and repeat calls are O(1) so the
    driver harness startup doesn't creep as the registry grows."""
    import importlib
    import time

    R = registry
    imports, reads = [], []
    real_import, real_checked = importlib.import_module, R._driver_checked
    monkeypatch.setattr(
        importlib,
        "import_module",
        lambda name, *a: imports.append(name) or real_import(name, *a),
    )
    monkeypatch.setattr(
        R, "_driver_checked", lambda: reads.append(1) or real_checked()
    )
    t0 = time.perf_counter()
    first = R.all_queries()
    fresh = time.perf_counter() - t0
    t0 = time.perf_counter()
    second = R.all_queries()
    cached = time.perf_counter() - t0
    oracles = R.all_oracles()
    # one walk and one CORRECTNESS read serve queries AND oracles
    assert sorted(imports) == sorted(R._MODULES)
    assert len(reads) == 1
    assert list(first) == list(second)
    assert list(oracles) == [n for n in first if n in oracles]
    # fresh scan: module imports already warm in this process, the walk
    # itself (plus any first-import stragglers) must stay under 2 s
    assert fresh < 2.0, f"registry scan took {fresh:.2f}s"
    assert cached < 0.05, f"cached registry call took {cached:.3f}s"
    # callers get a fresh dict — mutating it must not poison the cache
    second.clear()
    assert len(R.all_queries()) == len(first)


def test_partial_registry_is_not_memoized(registry, monkeypatch):
    """A plan module that fails to import drops only its own queries,
    and the partial registry is not cached: the next call walks again,
    so a transiently-missing dependency does not hide queries for the
    rest of the process."""
    R = registry
    full = R.all_queries()
    R._CACHE.clear()
    modules = R._MODULES
    monkeypatch.setattr(
        R, "_MODULES", modules + ("etl_extractor_spark.plans.no_such_module",)
    )
    assert list(R.all_queries()) == list(full)
    assert not R._CACHE
    monkeypatch.setattr(R, "_MODULES", modules)
    assert set(R.all_oracles()) <= set(full)
    assert R._CACHE


def test_registry_order_is_one_rule(registry, monkeypatch):
    """The registry order is one sort key: never driver-checked names
    first, then stalest-checked, then by name, with rows-only names
    behind every oracle-backed name and the canary last. Module order
    plays no part, so code can move between plan modules freely. Runs
    against a synthetic checked map, not the CORRECTNESS files on
    disk."""
    R = registry
    names = sorted(R.all_queries())
    oracles = R.all_oracles()
    checked = {n: 1 + i % 4 for i, n in enumerate(names) if i % 3 == 0}
    monkeypatch.setattr(R, "_driver_checked", lambda: dict(checked))
    R._CACHE.clear()
    order = list(R.all_queries())

    def key(k):
        return (k in R._CANARY, k not in oracles, k in checked, checked.get(k, 0), k)

    assert order == sorted(names, key=key)
    assert list(R.all_oracles()) == [n for n in order if n in oracles]

    canary = len(R._CANARY)
    assert set(order[-canary:]) == set(R._CANARY)
    rows_only = [i for i, n in enumerate(order[:-canary]) if n not in oracles]
    assert rows_only and rows_only == list(range(rows_only[0], len(order) - canary))
    backed = [n for n in order[:-canary] if n in oracles]
    seen = [n in checked for n in backed]
    assert seen == sorted(seen) and any(seen) and not all(seen)
    rounds = [checked[n] for n in backed if n in checked]
    assert rounds == sorted(rounds) and len(set(rounds)) > 1

    by_module = {k: fn.__wrapped__ for k, fn in R.all_queries().items()}
    monkeypatch.setattr(R, "_MODULES", R._MODULES[::-1])
    R._CACHE.clear()
    reversed_walk = R.all_queries()
    assert list(reversed_walk) == order
    assert {k: fn.__wrapped__ for k, fn in reversed_walk.items()} == by_module


def test_registry_self_rotation(registry, monkeypatch):
    """The sweep window rotates itself: once a name appears in a
    CORRECTNESS_r*.json, it sorts behind every never-checked
    oracle-backed name; rows-only names sort behind ALL oracle-backed
    names; the canary stays last regardless. Marking the current window
    as checked pulls every remaining never-checked oracle-backed name to
    the front of the next order."""
    R = registry
    oracles = R.all_oracles()
    checked = R._driver_checked()
    names = list(R.all_queries())

    # partition points must be monotone: never-checked oracle-backed,
    # checked oracle-backed, rows-only, canary
    def cls(n):
        if n in R._CANARY:
            return 3
        if n not in oracles:
            return 2
        return 1 if n in checked else 0

    classes = [cls(n) for n in names]
    assert classes == sorted(classes), "registry order violates rotation classes"
    # simulate the next round with the current window marked as checked
    win = set(names[:50])
    monkeypatch.setattr(
        R, "_driver_checked", lambda: {**checked, **{n: 99 for n in win}}
    )
    R._CACHE.clear()
    nxt = list(R.all_queries())
    remaining = [
        n for n in names if n in oracles and n not in checked and n not in win
    ]
    assert set(nxt[: len(remaining)]) == set(remaining)
    assert nxt[: len(remaining)] == sorted(remaining)


def test_registry_staleness_tier(registry):
    """Within the already-checked oracle-backed class, names re-sort
    OLDEST-latest-check first, so once the never-checked backlog drains
    the capped window becomes a rotating re-check band that reaches
    r1-era anchors before re-touching last round's greens."""
    R = registry
    oracles = R.all_oracles()
    checked = R._driver_checked()
    assert checked, "driver CORRECTNESS artifacts missing from repo root"
    # latest-round values must be parsed from filenames (not all equal)
    assert len(set(checked.values())) > 1
    names = list(R.all_queries())
    rounds = [
        checked[n]
        for n in names
        if n in checked and n in oracles and n not in R._CANARY
    ]
    assert rounds == sorted(rounds), "checked names not ordered stalest-first"
