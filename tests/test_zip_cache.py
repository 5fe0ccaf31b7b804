"""The package's zipimporter wrapper: ``importlib.invalidate_caches()``
(which pyspark's worker calls before every task) re-reads a zip on
``sys.path`` only when the archive changed."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import etl_extractor_spark as pkg

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EAGER = sys.version_info < (3, 13)  # 3.13 made zipimporter.invalidate_caches lazy


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip with one module, on sys.path and imported from; yields the
    archive path and a list collecting every re-read of it."""
    archive = str(tmp_path / "zc_pkg.zip")
    _write_zip(archive, {"zc_mod_a": "X = 1\n"})
    sys.path.insert(0, archive)
    reads: list[str] = []
    try:
        assert importlib.import_module("zc_mod_a").X == 1
        read = zipimport._read_directory

        def spy(path):
            if path == archive:
                reads.append(path)
            return read(path)

        monkeypatch.setattr(zipimport, "_read_directory", spy)
        yield archive, reads
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        for name in ("zc_mod_a", "zc_mod_b"):
            sys.modules.pop(name, None)
        importlib.invalidate_caches()


@pytest.mark.skipif(not EAGER, reason="the wrapper is only installed before Python 3.13")
def test_unchanged_zip_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    importlib.invalidate_caches()  # an archive's first sighting may re-read it once
    assert len(reads) <= 1
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    sys.modules.pop("zc_mod_a")
    assert importlib.import_module("zc_mod_a").X == 1


def test_rewritten_zip_is_reread_and_its_new_module_imports(zip_on_path):
    archive, reads = zip_on_path
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zc_mod_b")
    _write_zip(archive, {"zc_mod_a": "X = 1\n", "zc_mod_b": "Y = 2\n"})
    del reads[:]
    importlib.invalidate_caches()
    if EAGER:
        assert reads == [archive]
    assert importlib.import_module("zc_mod_b").Y == 2


def test_wrapper_installed_only_before_python_313():
    assert (zipimport.zipimporter.invalidate_caches is getattr(pkg, "_zip_invalidate_if_changed", None)) == EAGER
    # the guard itself, on this interpreter: a 3.13 version leaves the method alone
    probe = (
        "import sys, zipimport\n"
        "orig = zipimport.zipimporter.invalidate_caches\n"
        "sys.version_info = (3, 13, 0, 'final', 0)\n"
        "import etl_extractor_spark as pkg\n"
        "assert zipimport.zipimporter.invalidate_caches is orig\n"
        "assert not hasattr(pkg, '_zip_invalidate_if_changed')\n"
    )
    subprocess.run([sys.executable, "-c", probe], cwd=REPO, check=True)


def test_python_worker_runs_the_wrapper(spark):
    driver = os.getpid()

    def report(batches):
        import zipimport as zi

        for _ in batches:
            pass
        # ``pkg`` is pickled as a module reference: unpickling this UDF
        # imports the package in the worker, as any repo UDF does
        wrapper = getattr(pkg, "_zip_invalidate_if_changed", None)
        yield pd.DataFrame({"pid": [os.getpid()], "wrapped": [zi.zipimporter.invalidate_caches is wrapper]})

    rows = spark.range(4, numPartitions=2).mapInPandas(report, "pid long, wrapped boolean").collect()
    assert rows and all(r.pid != driver for r in rows)
    assert all(r.wrapped == EAGER for r in rows)
