"""Shared operator utilities."""

from __future__ import annotations

import atexit
import json
import os
import shutil
import tempfile
import threading
import time

from pyspark.sql import DataFrame


def small_df(spark, data, schema) -> DataFrame:
    """createDataFrame for DRIVER-SMALL data (dims, probe keys, file
    lists, metadata rows) as a SINGLE partition. The default
    ``spark.createDataFrame(list)`` parallelizes across
    defaultParallelism partitions — on a 32-core session that is 32
    Python-worker tasks to materialize a 5-row frame, measured at
    ~5 s per call vs ~0.5 s for one slice (the cost repeats for
    EVERY tiny frame: per-micro-batch dim writes paid it 4× per
    query). Data that is already driver-resident has no parallelism
    to gain; one slice is the right plan at every cluster size."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(data, 1), schema
    )


def fan_out(df: DataFrame, multiple: int = 1) -> DataFrame:
    """Round-robin repartition a (possibly single-partition) input to
    the session's core count before compute-heavy or row-multiplying
    work (shingle explosion, signature hashing, pairwise scoring).

    Small parquet inputs arrive as ONE partition (one file, one row
    group), which would serialize everything downstream on a single
    core. One cheap narrow-input shuffle buys full parallelism for the
    expensive stage — the same reasoning holds on a 1000-executor
    cluster when a stage's input is few-partitioned but its compute is
    super-linear in rows.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * multiple
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def spread_groups(df: DataFrame, *keys: str) -> DataFrame:
    """Explicit hash-repartition on the grouping key(s) to the
    session's core count, for ``groupBy(...).applyInPandas(...)``
    stages whose per-group work is CPU-heavy Python but whose shuffle
    carries few BYTES (codec shards: ~3 KB of text per group). AQE
    coalesces shuffle partitions by byte size, so the grouped-Python
    stage collapses to ~⌈bytes / minPartitionSize⌉ tasks and the
    Python work runs nearly serial — measured on shard_warc_gzip at
    sf0.1/local[32]: 2.35 s → 0.75 s min-of-3 interleaved (4× the
    core count measured 1.68 s: more waves of tiny Arrow batches,
    no balance gain — one task per core is the sweet spot).

    A user-specified repartition is exempt from AQE coalescing, and
    hash-partitioning on the grouping keys satisfies the groupBy's
    clustered-distribution requirement, so this REPLACES the
    groupBy's own exchange instead of adding one. defaultParallelism
    scales with the cluster; at real corpus volumes the byte-based
    coalescing wouldn't shrink below it anyway, so this only changes
    the degenerate small-bytes/high-CPU corner."""
    spark = df.sparkSession
    return df.repartition(spark.sparkContext.defaultParallelism, *keys)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # alive, owned by someone else
    return True


_SCRATCH_REGISTERED: set = set()
_REAPED_PREFIXES: set = set()
_SCRATCH_LOCK = threading.Lock()
_SCRATCH_CALLS: dict[str, int] = {}  # prefix -> next call number

# mtime-age fallback for PID-REUSED orphans (advice r7): a dead sweep's
# pid can be recycled by an unrelated live process, making the orphan
# look alive forever on a long-lived host. Any same-prefix dir untouched
# for this long is reaped regardless — far beyond any real session here
# (sweeps run minutes-to-hours), so a live owner is never raced.
_ORPHAN_MAX_AGE_S = 7 * 24 * 3600


def process_scratch_dir(prefix: str) -> str:
    """``<tmp>/<prefix><pid>``: ONE scratch directory for the whole
    process, for what outlives a call (an embedded Derby database).
    Per-call scratch uses ``pid_scratch_dir``, which builds on this.

    The FULL lifecycle the r6 disk incident taught: (a) atexit removal
    for this process, and (b) reaping of same-prefix orphans whose pid
    is dead — atexit never runs under a timeout-SIGTERM kill, which is
    exactly how chunked driver sweeps die, so without reaping every
    killed sweep leaks one corpus-scale scratch table per process
    (tests/oracle.py applies the same discipline to DuckDB spill).
    Reaping runs ONCE per process per prefix (advice r7: the temp-dir
    scan + per-pid probe on every query invocation was O(tempdir) work
    repeated hundreds of times per sweep for nothing — orphans only
    need collecting once), with an mtime-age fallback so pid-reused
    orphans are reclaimed too. Returns the path WITHOUT creating it
    (writers mkdir as needed)."""
    base = tempfile.gettempdir()
    if prefix not in _REAPED_PREFIXES:
        _REAPED_PREFIXES.add(prefix)
        now = time.time()
        for name in os.listdir(base):
            if not name.startswith(prefix):
                continue
            tail = name[len(prefix):]
            if not tail.isdigit() or int(tail) == os.getpid():
                continue
            p = os.path.join(base, name)
            stale = False
            if not _pid_alive(int(tail)):
                stale = True
            else:
                # pid is alive but may be an unrelated process that
                # recycled the number. Age test uses the NEWEST mtime
                # in the ENTIRE tree (advice r8 + review catch on the
                # first fix): writes land in nested subdirs — possibly
                # depth-2+ partition leaves (path/year=X/month=Y/) —
                # and bump only their immediate parent's mtime, so a
                # genuinely live long-running owner with a
                # reused-looking pid would otherwise be reaped out
                # from under itself. The walk is bounded by the
                # candidate scratch dir's own tree and runs only on
                # the once-per-process scan.
                try:
                    # early exit on the FIRST fresh entry (review
                    # catch: a live neighbor's corpus-scale scratch
                    # tree is O(10⁴) files — one fresh mtime already
                    # proves liveness, no need to stat the rest)
                    fresh_cut = now - _ORPHAN_MAX_AGE_S
                    newest = os.stat(p).st_mtime
                    for root_, dirs_, files_ in os.walk(p):
                        if newest > fresh_cut:
                            break
                        for entry in dirs_ + files_:
                            try:
                                m = os.stat(os.path.join(root_, entry)).st_mtime
                            except OSError:
                                continue
                            newest = max(newest, m)
                            if newest > fresh_cut:
                                break
                    stale = now - newest > _ORPHAN_MAX_AGE_S
                except OSError:
                    pass
            if stale:
                shutil.rmtree(p, ignore_errors=True)
    d = os.path.join(base, f"{prefix}{os.getpid()}")
    if d not in _SCRATCH_REGISTERED:
        _SCRATCH_REGISTERED.add(d)
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def pid_scratch_dir(prefix: str) -> str:
    """A fresh directory ``<tmp>/<prefix><pid>/<n>`` for one call,
    where ``n`` counts this process's calls with ``prefix``.

    Contract: a call's directory stays valid until the second later
    call with the same prefix starts. Handing out ``n`` removes the
    prefix's numbered siblings below ``n - 1``, so a DataFrame still
    reading an earlier call's files survives one re-invocation (after
    two its files are gone, but it never reads another call's), two
    threads running one query write to different directories, and
    a long sweep keeps at most two directories per prefix. Orphan
    reaping and atexit removal come from ``process_scratch_dir``.
    Returns the path WITHOUT creating it."""
    root = process_scratch_dir(prefix)
    with _SCRATCH_LOCK:
        n = _SCRATCH_CALLS.get(prefix, 0)
        _SCRATCH_CALLS[prefix] = n + 1
    if os.path.isdir(root):
        for name in os.listdir(root):
            if name.isdigit() and int(name) < n - 1:
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    return os.path.join(root, str(n))


def scratch_database(spark, name: str, path: str) -> str:
    """Create the database ``<name>_<n>`` located at ``path``, a
    ``pid_scratch_dir`` directory ``.../<n>``, and return its name.
    Tables a call writes through the catalog (``saveAsTable``) then
    follow the directory contract: a DataFrame held across one
    re-invocation still reads its own tables, and two threads write
    apart. The databases of earlier calls whose directories that
    hand-out pruned (numbers below ``n - 1``) are dropped, under the
    hand-out lock: two threads listing and dropping at once would each
    try to drop the same database."""
    n = int(os.path.basename(path))
    db = f"{name}_{n}"
    with _SCRATCH_LOCK:
        for old in spark.catalog.listDatabases(f"{name}_*"):
            tail = old.name[len(name) + 1:]
            if tail.isdigit() and int(tail) < n - 1:
                spark.sql(f"DROP DATABASE IF EXISTS {old.name} CASCADE")
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{path}'")
    return db


def batch_watermark(state_path: str, meta: str) -> int:
    """The last committed batch id recorded in ``<state_path>/<meta>``
    by a batch-id-idempotent sink; -1 before its first commit."""
    p = os.path.join(state_path, meta)
    if not os.path.exists(p):
        return -1
    with open(p) as fh:
        return json.load(fh)["batch_id"]
