"""SparkSession factory.

Defaults are chosen for correctness-stable local runs that still express
the plan shapes we want on a real cluster:

- AQE on (runtime coalescing / skew-join splitting at scale),
- Arrow on (vectorized pandas-UDF exchange for the Python-side operators),
- session timezone UTC (parity with the DuckDB oracle),
- shuffle partitions sized to the local core count; on a 1000-executor
  cluster the same code runs with AQE picking the effective parallelism,
- under a ``local[...]`` master, streaming checkpoints go through
  Spark's ``FileSystemBasedCheckpointFileManager``: the default
  ``FileContext`` manager probes links before every metadata/state
  rename, and on ``file://`` Hadoop answers that probe by forking
  ``readlink`` from the driver JVM (112 forks per streaming replay).
  Same temp-file + rename protocol, same files, CRCs kept; a cluster
  master keeps Spark's default,
- Python workers stop re-reading every zip on ``sys.path`` before each
  task: pyspark calls ``importlib.invalidate_caches()`` per task, which
  before CPython 3.13 re-reads pyspark.zip's directory each time (about
  0.1 s of CPU). The package ``__init__`` installs the stat-keyed
  ``_zip_invalidate_if_changed`` in every worker that runs a repo UDF,
- the package zip shipped to Python workers is removed at interpreter
  exit, so none is left in the temp dir; ``addPyFile`` has copied it
  into the SparkFiles root by then. It stays a top-level ``*.zip`` in
  the temp dir while the process lives,
- every parquet file the package writes (staging, dims, the gold
  fact, manifest and scratch tables) is zstd-compressed at Parquet's
  default level 3 instead of Spark's default snappy; no write site
  names a codec, so this one session default covers them all. Only
  page compression changes: the values are identical and DuckDB,
  pyarrow and Spark read the files alike. Measured on 4 vCPU: the
  seeded sf0.01 warehouse load's lake fell from 0.7745 to 0.6105 bytes
  per source byte (-21.2%; its staged lineitem from 920,618 to 786,051
  B of parquet), the sf0.1 lake from 17.53 to 13.24 MB (-24.5%), and
  the benchmark's process CPU and set-up time stayed within their
  run-to-run spread. Level 1 saved about half as many bytes and wrote
  no faster, so there is no level or codec option.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import threading
import zipfile

from pyspark.sql import SparkSession

# ship_package state: zip built once per process, shipped once per
# SparkContext (keyed by applicationId — a stopped/restarted context
# gets a fresh ship).
_SHIP_LOCK = threading.Lock()
_SHIPPED_APPS: set[str] = set()
_PKG_ZIP: str | None = None

# Spark's plain-FileSystem checkpoint manager (see the module docstring)
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _remove_file(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def _build_pkg_zip() -> str:
    """Zip the installed ``etl_extractor_spark`` package (sources only,
    no __pycache__) into the process temp dir, once per process."""
    global _PKG_ZIP
    if _PKG_ZIP is not None and os.path.exists(_PKG_ZIP):
        return _PKG_ZIP
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    fd, tmp = tempfile.mkstemp(
        prefix="etl_extractor_spark_", suffix=".zip"
    )
    os.close(fd)
    atexit.register(_remove_file, tmp)
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, dirnames, filenames in os.walk(pkg_dir):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for f in sorted(filenames):
                if not f.endswith(".py"):
                    continue
                full = os.path.join(dirpath, f)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                zf.write(full, rel)
    _PKG_ZIP = tmp
    return tmp


def ship_package(spark: SparkSession) -> None:
    """Make ``etl_extractor_spark`` importable inside Python WORKERS
    (mapInPandas / applyInPandas / UDTF closures reference repo
    modules) regardless of the driver process cwd or the cluster
    deploy mode.

    In local mode the workers inherit the driver's environment only
    when the driver happens to run from the repo root with PYTHONPATH
    set; on a real cluster (non-local executors) closures referencing
    repo modules fail with worker-side ModuleNotFoundError unless the
    package is shipped. ``sc.addPyFile`` of a package zip is the
    canonical fix: the zip lands on every executor's Python path.
    Idempotent per SparkContext; ~one zip build per process."""
    sc = spark.sparkContext
    app = sc.applicationId
    with _SHIP_LOCK:
        if app in _SHIPPED_APPS:
            return
        sc.addPyFile(_build_pkg_zip())
        _SHIPPED_APPS.add(app)


def get_spark(
    app_name: str = "etl-extractor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # keep wide plans (e.g. the 128-column MinHash signature agg)
        # inside whole-stage codegen; default cutoff is 100 fields
        .config("spark.sql.codegen.maxFields", "256")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # reclaim reliable-checkpoint files as their RDDs are GC'd —
        # without it checkpoint dirs grow for the process lifetime
        # (operators/checkpoints.py carries the vanilla-session story)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass", _FS_CHECKPOINT_MANAGER
        )
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def query_session(spark: SparkSession, confs: dict[str, str] | None = None) -> SparkSession:
    """A clone of ``spark`` with ``confs`` set, for one query to build in:
    it keeps the caller's runtime confs, temp views and functions (a
    ``newSession()`` would not), and what the query sets or registers in
    it stays there. A frame built from it runs under its confs whenever
    the caller acts on it."""
    clone = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    for key, value in (confs or {}).items():
        clone.conf.set(key, value)
    return clone

