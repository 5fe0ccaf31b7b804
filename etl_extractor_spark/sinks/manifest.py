"""Manifest-based data skipping over plain parquet — the Iceberg/Delta
file-statistics idea without a table-format dependency (none in this
container).

The reference's only physical-layout feature is B-tree indexes on the
staging SQLite (reference load/load_to_staging.py:7-16). Spark has no
indexes; the scale-equivalent is FILE SKIPPING: persist per-file
column min/max statistics at write time, and at read time plan the
file list so a selective predicate touches only the files whose
[min, max] range intersects it.

Why this matters at 100 TB: partition pruning only helps on the
partition column. A table laid out by `repartitionByRange(sort_col)`
gets near-disjoint per-file ranges on the sort column, so a point or
range predicate on it prunes to O(selectivity) of the files — the same
effect Delta's zorder/stats or Iceberg's manifests give — with zero
scan cost at planning time (the stats already sit in the parquet
footers; we lift them into one JSON manifest so planning never opens
100k footers).

Costs are metadata-scale by construction:
- write side reads only footers (~KB per file). Below
  ``DISTRIBUTE_THRESHOLD`` files this runs on the driver; above, it
  fans out over the executors (``spark.sparkContext.parallelize`` of
  file names — footer fetch is embarrassingly parallel and the result
  is one small dict per file).
- read side is a driver-side list filter over the manifest, then a
  normal ``spark.read.parquet(*files)`` — Catalyst still pushes the
  predicate into the surviving scans (row-group pruning inside files
  still applies).
"""

from __future__ import annotations

import json
import os
from datetime import date, datetime
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_NAME = "_manifest.json"

# Process umask, probed ONCE at import (single-threaded moment): the
# os.umask(0)/restore dance is process-global and would race any
# concurrent file creation if done per commit.
_UMASK = os.umask(0)
os.umask(_UMASK)
DISTRIBUTE_THRESHOLD = 64  # files; above this, harvest footers on executors


def _jsonable(v: Any) -> Any:
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    return v


def _file_stats(fpath: str, stats_cols: list[str]) -> dict[str, Any]:
    """Lift min/max/null stats for ``stats_cols`` from one parquet
    footer (metadata-only read — no data pages touched)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fpath).metadata
    rows = md.num_rows
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    nulls: dict[str, int] = {}
    minmax_ok: dict[str, bool] = {c: True for c in stats_cols}
    nulls_ok: dict[str, bool] = {c: True for c in stats_cols}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in minmax_ok:
                continue
            st = col.statistics
            if st is not None and st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
            else:
                nulls_ok[name] = False
            if st is None or not st.has_min_max:
                # an all-null row group legitimately has no min/max —
                # only range pruning is lost, null stats stay usable
                minmax_ok[name] = False
                continue
            lo, hi = _jsonable(st.min), _jsonable(st.max)
            if name not in mins or lo < mins[name]:
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:
                maxs[name] = hi
    stats: dict[str, dict[str, Any]] = {}
    for c in stats_cols:
        entry: dict[str, Any] = {}
        if minmax_ok[c] and c in mins:
            entry["min"], entry["max"] = mins[c], maxs[c]
        if nulls_ok[c]:
            entry["nulls"] = nulls.get(c, 0)
        if entry:
            stats[c] = entry
    return {"file": os.path.basename(fpath), "rows": rows, "stats": stats}


def _main_snapshot(m: dict[str, Any] | None) -> dict[str, Any] | None:
    """MAIN's current snapshot: the last history entry not created by
    ``append_to_branch`` (branch snapshots carry a ``"branch"``
    marker). Every consumer that needs 'the current view's state' —
    delete inheritance on append, the delete writers' base, the MOR
    reader's delete set — must use this, NOT ``snapshots[-1]``: a
    branch append would otherwise masquerade as main's head (review
    catch: silent un-delete via read_merge_on_read, delete-set loss on
    the next main append, and branch files leaking into main-history
    delete commits)."""
    if m is None:
        return None
    for s in reversed(m.get("snapshots", [])):
        if "branch" not in s:
            return s
    return None


def _part_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def write_with_manifest(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    stats_cols: list[str],
    mode: str = "overwrite",
) -> dict[str, Any]:
    """Write ``df`` as parquet and persist a ``_manifest.json`` of
    per-file min/max stats for ``stats_cols``.

    ``mode="append"`` harvests footers only for files not already in
    the manifest (incremental commit — cost scales with the batch, not
    the table). Callers wanting maximal skipping should range-lay-out
    first: ``df.repartitionByRange(n, col).sortWithinPartitions(col)``.
    """
    old = read_manifest(path) if mode == "append" else None
    df.write.mode(mode).parquet(path)
    # schema evolution on append: the manifest carries the UNION of
    # every committed schema (prior columns first, new ones appended),
    # so reads resolve columns from one metadata lookup instead of a
    # mergeSchema footer sweep over the whole table — files written
    # before a column existed yield nulls for it (parquet
    # read-with-explicit-schema semantics), the Delta/Iceberg behavior.
    schema_fields = {f.name: f for f in df.schema.fields}
    if old is not None and old.get("schema") is not None:
        from pyspark.sql.types import StructType

        prior_schema = StructType.fromJson(json.loads(old["schema"]))
        merged = list(prior_schema.fields)
        merged += [f for n, f in schema_fields.items() if n not in prior_schema.names]
        schema = StructType(merged)
    else:
        schema = df.schema
    return harvest_manifest(
        spark, path, stats_cols, prior=old, schema_json=json.dumps(schema.jsonValue())
    )


def harvest_manifest(
    spark: SparkSession,
    path: str,
    stats_cols: list[str],
    prior: dict[str, Any] | None = None,
    schema_json: str | None = None,
) -> dict[str, Any]:
    """Stat every data file under ``path`` and commit a manifest.

    ``prior`` (the manifest from before an append) supplies already-
    harvested file entries — only new files get their footers read —
    and the snapshot history to extend. Without it, history restarts
    at a single snapshot covering the current file set (fresh write,
    overwrite, or compaction)."""
    if schema_json is None:
        schema_json = json.dumps(spark.read.parquet(path).schema.jsonValue())
    files = _part_files(path)
    if prior is not None:
        # An append commit extends the CURRENT view: current files +
        # files no prior snapshot knows (the batch just written). A
        # bare directory listing would also sweep in files that ARE
        # referenced by older snapshots but not current — i.e. the
        # generation a copy-on-write compaction superseded and is
        # keeping on disk for time travel until expire_snapshots —
        # silently resurrecting pre-compaction (and MOR-deleted) rows
        # into the current view (review catch; read_table was fixed
        # first, this is the write-side twin).
        referenced = {e["file"] for e in prior["files"]}
        for s in prior.get("snapshots", []):
            referenced.update(s["files"])
        current = {e["file"] for e in prior["files"]}
        files = [
            f
            for f in files
            if os.path.basename(f) in current
            or os.path.basename(f) not in referenced
        ]

    known: dict[str, dict[str, Any]] = {}
    if prior is not None and prior["stats_cols"] == sorted(stats_cols):
        known = {e["file"]: e for e in prior["files"]}

    todo = [f for f in files if os.path.basename(f) not in known]
    if len(todo) > DISTRIBUTE_THRESHOLD:
        sc = spark.sparkContext
        cols = list(stats_cols)
        entries = (
            sc.parallelize(todo, max(1, len(todo) // 32))
            .map(lambda f: _file_stats(f, cols))
            .collect()
        )
    else:
        entries = [_file_stats(f, stats_cols) for f in todo]

    all_entries = [known[os.path.basename(f)] for f in files if os.path.basename(f) in known]
    all_entries += entries
    if prior is not None:
        # A SHALLOW CLONE's manifest references the source's files by
        # ABSOLUTE path — they are not under this table's directory,
        # so the local listing above can never rediscover them. They
        # remain part of the current view across appends (review
        # catch: an append on a clone silently dropped every cloned
        # row — read_table(dst) returned only the appended batch).
        all_entries += [
            e for e in prior["files"] if os.path.isabs(e["file"])
        ]
    all_entries.sort(key=lambda e: e["file"])

    # snapshot history: every commit records the file list it made
    # current. Appends never rewrite existing files, so any previous
    # snapshot stays readable (time travel); an overwrite/compaction
    # deletes old data files, which resets history to the new snapshot
    # — append-only versioning, not copy-on-write.
    snapshots: list[dict[str, Any]] = (
        list(prior.get("snapshots", [])) if prior is not None else []
    )
    snap: dict[str, Any] = {
        "id": (snapshots[-1]["id"] + 1) if snapshots else 0,
        "files": [e["file"] for e in all_entries],
        "total_rows": sum(e["rows"] for e in all_entries),
    }
    # appends inherit MAIN's current delete-file set: adding data files
    # never un-deletes rows (merge-on-read invariant). Inherit from the
    # last MAIN snapshot, not snapshots[-1] — a branch append in
    # between must not inject its own (base-frozen) delete view here.
    prior_main = next(
        (s for s in reversed(snapshots) if "branch" not in s), None
    )
    if prior_main is not None and prior_main.get("delete_files"):
        snap["delete_files"] = list(prior_main["delete_files"])
    snapshots.append(snap)

    manifest = {
        "version": 2,
        "stats_cols": sorted(stats_cols),
        "schema": schema_json,
        "n_files": len(all_entries),
        "total_rows": sum(e["rows"] for e in all_entries),
        "files": all_entries,
        "snapshots": snapshots,
    }
    # sink/delete/ref state survives appends (harvest rebuilds the dict;
    # dropping "refs" here silently deleted every branch on the next
    # main append — caught by table_branch_read's fixture)
    if prior is not None:
        for carry in ("delete_files", "batch_ids", "refs", "cloned_from"):
            if prior.get(carry):
                manifest[carry] = prior[carry]
    _write_manifest(path, manifest)
    return manifest


def _write_manifest(path: str, manifest: dict[str, Any]) -> None:
    """ATOMIC manifest commit: write to a UNIQUE temp name in the same
    directory (mkstemp — a fixed '.tmp' name would let two concurrent
    committers truncate each other's in-progress temp and publish a
    half-written file through the survivor's rename; review catch),
    fsync, then ``os.replace`` over ``_manifest.json`` — the same
    temp-then-rename discipline the data files use. A crash mid-write
    leaves the previous manifest intact (the temp file is garbage,
    never truncated committed state), so crash-retry convergence
    (commit_batch's exactly-once contract) actually holds: the retry's
    first read_manifest sees a complete manifest, old or new, never a
    JSONDecodeError. Concurrent committers remain last-writer-wins at
    the manifest level (single-writer-per-table is the contract, as
    for every file-listing-free table format without a lock service);
    what the unique temp guarantees is that the loser can only lose
    WHOLE, never publish torn bytes."""
    import tempfile

    final = os.path.join(path, MANIFEST_NAME)
    fd, tmp = tempfile.mkstemp(prefix=MANIFEST_NAME + ".", dir=path)
    try:
        # mkstemp creates 0600 and os.replace preserves the temp's mode,
        # so without this the committed manifest silently tightens from
        # the umask default to owner-only and non-owner readers of a
        # shared table start getting PermissionError (advice r6). Grant
        # the same mode a plain open() would: 0666 masked by the umask
        # (probed once at import — see _UMASK; toggling os.umask per
        # commit would race concurrent file creation in other driver
        # threads, review catch).
        os.fchmod(fd, 0o666 & ~_UMASK)
        with os.fdopen(fd, "w") as fh:
            json.dump(manifest, fh, indent=1, default=str)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, final)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


def read_manifest(path: str) -> dict[str, Any] | None:
    p = os.path.join(path, MANIFEST_NAME)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        try:
            return json.load(fh)
        except json.JSONDecodeError as exc:
            # With _write_manifest's atomic replace this cannot come
            # from a crashed writer — it means out-of-band corruption.
            # Name the file so the failure is actionable, and make the
            # error type explicit rather than a bare parser traceback.
            raise ValueError(
                f"corrupt manifest at {p}: {exc}. Manifests are committed "
                "atomically (temp + os.replace), so this indicates "
                "external modification; restore from a snapshot or "
                "re-harvest with harvest_manifest()."
            ) from exc


def _coerce(v: Any) -> Any:
    """Normalize a predicate bound to the manifest's JSON domain so
    comparisons are like-with-like (datetimes → ISO strings)."""
    return _jsonable(v)


def plan_files(
    manifest: dict[str, Any],
    col: str,
    lower: Any = None,
    upper: Any = None,
) -> list[str]:
    """File names whose [min, max] range on ``col`` intersects
    [lower, upper] (either bound may be None = unbounded). Files with
    no stats for ``col`` are conservatively kept."""
    lo, hi = _coerce(lower), _coerce(upper)
    keep = []
    for e in manifest["files"]:
        st = e["stats"].get(col)
        if st is None or "min" not in st:
            keep.append(e["file"])  # unknown range — must scan
            continue
        if lo is not None and st["max"] < lo:
            continue
        if hi is not None and st["min"] > hi:
            continue
        keep.append(e["file"])
    return keep


def read_with_skipping(
    spark: SparkSession,
    path: str,
    col: str,
    lower: Any = None,
    upper: Any = None,
) -> tuple[DataFrame, dict[str, int]]:
    """Range-scan ``path`` reading only the files the manifest says can
    contain ``col`` ∈ [lower, upper]. The predicate is still applied
    (skipping is a superset guarantee, row-group + row filters finish
    the job). Returns (df, {files_total, files_read}).

    Falls back to a full scan (still filtered) when no manifest exists.
    """
    manifest = read_manifest(path)
    cond = F.lit(True)
    if lower is not None:
        cond = cond & (F.col(col) >= F.lit(lower))
    if upper is not None:
        cond = cond & (F.col(col) <= F.lit(upper))

    if manifest is None:
        return spark.read.parquet(path).filter(cond), {"files_total": -1, "files_read": -1}

    # committed (evolved) schema, so a pruned file subset with
    # mixed-schema files resolves every column, not just the first
    # surviving footer's
    reader = spark.read
    if manifest.get("schema") is not None:
        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(json.loads(manifest["schema"])))

    names = plan_files(manifest, col, lower, upper)
    info = {"files_total": manifest["n_files"], "files_read": len(names)}
    if not names:
        df = reader.parquet(path).filter(F.lit(False))  # schema-preserving empty
        return df, info
    paths = [os.path.join(path, n) for n in names]
    return reader.parquet(*paths).filter(cond), info


def table_history(path: str) -> list[dict[str, Any]]:
    """Commit history: one entry per write, oldest first — (id, file
    count, row count). The metadata-only answer to "what did this
    table look like N commits ago"."""
    m = read_manifest(path)
    if m is None:
        return []
    return [
        {"id": s["id"], "n_files": len(s["files"]), "total_rows": s["total_rows"]}
        for s in m.get("snapshots", [])
    ]


def read_snapshot(
    spark: SparkSession, path: str, snapshot_id: int
) -> DataFrame:
    """Time travel: read the table exactly as it was at ``snapshot_id``.

    Planning is a manifest lookup (no file listing, no footer reads);
    the scan touches only the files that snapshot committed. Appends
    preserve old files so every recorded snapshot stays readable;
    overwrites reset history (see write_with_manifest).

    Data files ONLY: a snapshot that carries merge-on-read delete
    files cannot be represented by this reader — returning the raw
    data files would silently resurrect deleted rows (a GDPR-shaped
    footgun), so it raises and points at ``read_snapshot_mor``.
    """
    m, snap = _resolve_snapshot(path, snapshot_id)
    if snap.get("delete_files"):
        raise ValueError(
            f"snapshot {snapshot_id} at {path} carries equality delete "
            "files; read_snapshot would silently return un-deleted rows "
            "— use read_snapshot_mor (or read_merge_on_read for the "
            "current view) to apply them."
        )
    return spark.read.parquet(
        *[os.path.join(path, n) for n in snap["files"]]
    )


def _resolve_snapshot(path: str, snapshot_id: int):
    """Shared manifest + snapshot lookup for the time-travel readers."""
    m = read_manifest(path)
    if m is None:
        raise FileNotFoundError(f"no manifest at {path}")
    by_id = {s["id"]: s for s in m.get("snapshots", [])}
    if snapshot_id not in by_id:
        raise KeyError(
            f"snapshot {snapshot_id} not in history {sorted(by_id)} "
            "(overwritten tables keep only post-overwrite snapshots)"
        )
    return m, by_id[snapshot_id]


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a manifest-tracked table with its committed (evolved)
    schema — one metadata lookup, no mergeSchema footer sweep. Files
    predating a column yield nulls for it. Falls back to a plain
    parquet read when no manifest/schema exists.

    Plans the manifest's CURRENT file list, not the directory (the
    manifest IS the table — Iceberg semantics): after a copy-on-write
    compaction the directory legitimately holds BOTH the new files
    and the prior snapshots' files (kept for time travel until
    expire_snapshots), and a directory listing would read every row
    twice. Uncommitted stragglers from failed writes are likewise
    invisible instead of silently joining the table."""
    m = read_manifest(path)
    if m is None or m.get("schema") is None:
        return spark.read.parquet(path)
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(m["schema"]))
    files = [os.path.join(path, e["file"]) for e in m["files"]]
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*files)


def layout_report(path: str) -> dict[str, Any]:
    """File-balance diagnostics from the manifest alone (no data read):
    row counts per file and the max/mean imbalance ratio. A ratio near
    1 means even task sizes downstream; a high ratio means one file
    (→ one scan task) dominates — the write-side analog of join-key
    skew, fixed by compact_with_manifest or a different layout key."""
    m = read_manifest(path)
    if m is None or not m["files"]:
        return {"n_files": 0}
    rows = [e["rows"] for e in m["files"]]
    mean = sum(rows) / len(rows)
    return {
        "n_files": len(rows),
        "total_rows": sum(rows),
        "min_rows": min(rows),
        "max_rows": max(rows),
        "imbalance": round(max(rows) / mean, 3) if mean else None,
    }


def vacuum(path: str, dry_run: bool = False) -> list[str]:
    """Delete data files not referenced by any manifest snapshot —
    orphans from failed/interrupted writes (Spark task retries and
    aborted jobs leave part files; a killed append leaves files the
    manifest never committed). Metadata-only planning: the referenced
    set is the union of every snapshot's file list, so time travel
    stays intact. Returns the removed (or, with ``dry_run``, would-be
    removed) file names."""
    m = read_manifest(path)
    if m is None:
        return []
    referenced: set[str] = set()
    for s in m.get("snapshots", []):
        referenced.update(s["files"])
    referenced.update(e["file"] for e in m["files"])
    orphans = [
        os.path.basename(f)
        for f in _part_files(path)
        if os.path.basename(f) not in referenced
    ]
    if not dry_run:
        for name in orphans:
            os.remove(os.path.join(path, name))
    return orphans


def read_null_skipping(
    spark: SparkSession, path: str, col: str, want_null: bool
) -> tuple[DataFrame, dict[str, int]]:
    """IS NULL / IS NOT NULL scans planned from per-file null counts:
    ``want_null=True`` skips files with zero nulls in ``col``;
    ``want_null=False`` skips files that are entirely null. Files
    without null stats are conservatively kept. The filter still
    applies after skipping (superset guarantee, as everywhere)."""
    manifest = read_manifest(path)
    cond = F.col(col).isNull() if want_null else F.col(col).isNotNull()
    if manifest is None:
        return spark.read.parquet(path).filter(cond), {"files_total": -1, "files_read": -1}

    keep = []
    for e in manifest["files"]:
        st = e["stats"].get(col)
        nulls = st.get("nulls") if st else None
        if nulls is None:
            keep.append(e["file"])  # unknown → must scan
        elif want_null and nulls == 0:
            continue
        elif not want_null and nulls == e["rows"]:
            continue
        else:
            keep.append(e["file"])
    info = {"files_total": manifest["n_files"], "files_read": len(keep)}
    if not keep:
        return spark.read.parquet(path).filter(F.lit(False)), info
    return (
        spark.read.parquet(*[os.path.join(path, n) for n in keep]).filter(cond),
        info,
    )


def read_with_skipping_multi(
    spark: SparkSession,
    path: str,
    predicates: list[tuple[str, Any, Any]],
) -> tuple[DataFrame, dict[str, int]]:
    """Conjunctive range scan: ``predicates`` is a list of
    (col, lower, upper); a file survives only if EVERY predicate's
    [min, max] range intersects it — the natural reader for z-ordered
    layouts, where each clustered column prunes independently and the
    intersection multiplies the skipping. Residual filters still apply
    after planning (superset guarantee)."""
    manifest = read_manifest(path)
    cond = F.lit(True)
    for col, lower, upper in predicates:
        if lower is not None:
            cond = cond & (F.col(col) >= F.lit(lower))
        if upper is not None:
            cond = cond & (F.col(col) <= F.lit(upper))
    if manifest is None:
        return spark.read.parquet(path).filter(cond), {"files_total": -1, "files_read": -1}

    keep: set[str] | None = None
    for col, lower, upper in predicates:
        names = set(plan_files(manifest, col, lower, upper))
        keep = names if keep is None else keep & names
    keep = keep if keep is not None else {e["file"] for e in manifest["files"]}
    info = {"files_total": manifest["n_files"], "files_read": len(keep)}
    if not keep:
        return spark.read.parquet(path).filter(F.lit(False)), info
    return (
        spark.read.parquet(*[os.path.join(path, n) for n in sorted(keep)]).filter(cond),
        info,
    )


# ----------------------------- merge-on-read equality deletes ---------


def write_equality_deletes(
    spark: SparkSession, path: str, keys_df: DataFrame
) -> dict[str, Any]:
    """Iceberg-style MERGE-ON-READ equality deletes: instead of
    rewriting data files to remove rows (copy-on-write — O(table) for
    an O(deletes) change), commit a DELETE FILE holding the key tuples
    to subtract, and let readers anti-join it at scan time. The
    delete commit is a new snapshot that keeps the SAME data-file set
    and records the cumulative delete-file list, so:

    - the delete costs O(deleted keys), never O(table);
    - time travel still works via the MOR readers: ``read_snapshot_mor``
      (or ``read_merge_on_read`` for the current view) before the
      delete commit sees the undeleted rows, after it sees the
      subtraction. Plain ``read_snapshot`` plans data files only and
      NEVER applies delete files — reading a delete-bearing snapshot
      with it silently returns un-deleted rows, so it raises instead;
    - a later compaction (overwrite) absorbs the deletes physically.

    Delete files live under ``_deletes/`` (invisible to the data-file
    harvester) as plain parquet of the key columns."""
    return _commit_delete_file(path, keys_df, key_cols=list(keys_df.columns))


def write_positional_deletes(
    spark: SparkSession, path: str, pos_df: DataFrame
) -> dict[str, Any]:
    """Iceberg-style POSITIONAL delete commit: ``pos_df`` holds
    (file_name, pos) pairs — the physical row coordinates to subtract
    (Spark's ``_metadata.file_name`` / ``_metadata.row_index``). The
    semantic equality deletes cannot express: removing ONE specific
    physical row of a set of duplicates. Same snapshot mechanics as
    write_equality_deletes (cumulative delete list, O(deleted rows)
    commit); readers apply it as a broadcast anti-join on the row
    coordinates, which the MOR readers attach from the file metadata
    at scan time and drop after."""
    assert set(pos_df.columns) == {"file_name", "pos"}, pos_df.columns
    return _commit_delete_file(path, pos_df, kind="positional")


def _commit_delete_file(path: str, df: DataFrame, **entry: Any) -> dict[str, Any]:
    """Write ``df``'s distinct rows as the table's next delete file and
    commit a snapshot whose pending-delete set adds it. The delete
    entry (``entry`` plus name, rows and schema) takes its row count
    from the write pass and records the file's schema, so neither the
    commit nor a reader starts a count or schema-inference job."""
    from etl_extractor_spark.sinks.writers import write_observed

    m = read_manifest(path)
    if m is None:
        raise FileNotFoundError(f"no manifest at {path} — commit data first")
    dels: list[dict[str, Any]] = list(m.get("delete_files", []))
    name = f"delete-{len(dels)}"
    df = df.distinct()
    got = write_observed(df, os.path.join(path, "_deletes", name))
    schema_json = json.dumps(df.schema.jsonValue())
    dels.append({"name": name, "rows": got["rows"], "schema": schema_json, **entry})
    snapshots = list(m.get("snapshots", []))
    # base = MAIN's current snapshot (a trailing branch append must not
    # leak its file list or frozen delete view into a main delete
    # commit — review catch); the new id still takes the global max.
    last = _main_snapshot(m)
    assert last is not None, f"no main snapshot at {path}"
    # The new snapshot's pending-delete set extends the CURRENT
    # snapshot's, never the cumulative registry (review catch): after
    # a copy-on-write replace/compaction the current snapshot carries
    # no delete refs — its data may legitimately REINTRODUCE
    # previously-deleted keys — and rebuilding from the registry
    # re-applied the absorbed deletes to the restated rows (row loss).
    # The registry stays cumulative as the name→metadata catalog for
    # older snapshots' time travel.
    snapshots.append(
        {
            "id": snapshots[-1]["id"] + 1,
            "files": list(last["files"]),
            "total_rows": last["total_rows"],
            "delete_files": list(last.get("delete_files", [])) + [name],
        }
    )
    m["delete_files"] = dels
    m["snapshots"] = snapshots
    _write_manifest(path, m)
    return m


def read_delete_file(spark: SparkSession, path: str, entry: dict[str, Any]) -> DataFrame:
    """The rows of one committed delete file (a ``delete_files`` entry),
    read with the schema its commit recorded: no schema-inference job."""
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(entry["schema"]))
    return spark.read.schema(schema).parquet(os.path.join(path, "_deletes", entry["name"]))


_POS_COLS = ("_pd_file", "_pd_pos")


def _with_pos_meta(df: DataFrame) -> DataFrame:
    """Attach the physical row coordinates positional deletes key on."""
    return df.select(
        "*",
        F.col("_metadata.file_name").alias(_POS_COLS[0]),
        F.col("_metadata.row_index").alias(_POS_COLS[1]),
    )


def _apply_deletes(
    spark: SparkSession, path: str, df: DataFrame, names: list[str], m: dict[str, Any]
) -> DataFrame:
    by_name = {d["name"]: d for d in m.get("delete_files", [])}
    has_positional = any(
        by_name[n].get("kind") == "positional" for n in names
    )
    if has_positional:
        df = _with_pos_meta(df)
    for name in names:
        d = by_name[name]
        keys = read_delete_file(spark, path, d)
        # delete sets are O(deletes) — broadcast the anti-join build side
        if d.get("kind") == "positional":
            keys = keys.select(
                F.col("file_name").alias(_POS_COLS[0]),
                F.col("pos").alias(_POS_COLS[1]),
            )
            df = df.join(F.broadcast(keys), list(_POS_COLS), "left_anti")
        else:
            df = df.join(F.broadcast(keys), d["key_cols"], "left_anti")
    if has_positional:
        df = df.drop(*_POS_COLS)
    return df


def read_merge_on_read(spark: SparkSession, path: str) -> DataFrame:
    """Current table view with every committed delete file applied
    (the merge-on-read contract: readers pay one broadcast anti-join
    per delete file until a compaction absorbs them)."""
    m = read_manifest(path)
    if m is None:
        return spark.read.parquet(path)
    # delete set = MAIN's current snapshot's (a trailing branch
    # snapshot carries its base's frozen view — using snapshots[-1]
    # silently un-deleted rows after any branch append; review catch)
    main = _main_snapshot(m)
    names = main.get("delete_files", []) if main else []
    return _apply_deletes(spark, path, read_table(spark, path), names, m)


def read_snapshot_mor(
    spark: SparkSession, path: str, snapshot_id: int
) -> DataFrame:
    """Time travel across delete commits: plan the snapshot's data-file
    set from the manifest AND apply exactly the delete files that
    snapshot had recorded (none for pre-delete snapshots)."""
    m, snap = _resolve_snapshot(path, snapshot_id)
    df = spark.read.parquet(
        *[os.path.join(path, n) for n in snap["files"]]
    )
    return _apply_deletes(spark, path, df, snap.get("delete_files", []), m)


# ------------------------- exactly-once streaming commits -------------


def commit_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    path: str,
    batch_id: int,
    stats_cols: list[str],
) -> bool:
    """Exactly-once foreachBatch → manifest-table commit: the
    micro-batch stages to ``_staging/batch-<id>``, data files MOVE
    into the table directory with batch-tagged names (rename is the
    atomic primitive — the same temp→rename discipline as the Python
    Data Source sink), and the manifest commit records ``batch_id`` in
    its committed set. A redelivered batch (restart after the write
    but before the checkpoint advanced — the window Structured
    Streaming's at-least-once foreachBatch contract leaves open) finds
    its id already committed and returns False without touching the
    table, upgrading the pipeline to exactly-once.

    Crash safety: the id enters the committed set ONLY in the final
    manifest write, and a redelivery first PURGES any files (and any
    snapshot entries referencing them) left by a half-finished prior
    attempt for this id — so however the first attempt died (between
    file moves, after the harvest, before the id was recorded), the
    retry converges to exactly one copy of the batch. Returns True
    when the batch committed."""
    import shutil

    m = read_manifest(path)
    committed = set((m or {}).get("batch_ids", []))
    if batch_id in committed:
        return False
    # redelivery cleanup: a prior attempt for this id crashed mid-commit
    # (its id is absent, but its files may already sit in the table and
    # may even appear in an interim snapshot) — remove both before
    # re-staging, or the retry would duplicate rows.
    prefix = f"batch-{batch_id}-"
    if os.path.isdir(path):
        stale = [f for f in os.listdir(path) if f.startswith(prefix)]
        for f in stale:
            os.remove(os.path.join(path, f))
        if stale and m is not None:
            m["files"] = [e for e in m["files"] if not e["file"].startswith(prefix)]
            m["snapshots"] = [
                s
                for s in m.get("snapshots", [])
                if not any(n.startswith(prefix) for n in s["files"])
            ]
    stage = os.path.join(path, "_staging", f"batch-{batch_id}")
    batch_df.write.mode("overwrite").parquet(stage)
    os.makedirs(path, exist_ok=True)
    parts = [
        f
        for f in sorted(os.listdir(stage))
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    for i, f in enumerate(parts):
        shutil.move(
            os.path.join(stage, f), os.path.join(path, f"{prefix}{i:05d}.parquet")
        )
    shutil.rmtree(stage, ignore_errors=True)
    m2 = harvest_manifest(spark, path, stats_cols, prior=m)
    m2["batch_ids"] = sorted(committed | {batch_id})
    _write_manifest(path, m2)
    return True


def run_streaming_manifest_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    stats_cols: list[str],
) -> int:
    """Streaming → manifest-table sink via foreachBatch + commit_batch
    (availableNow). Returns the number of batches COMMITTED this run
    (redelivered ids skip)."""
    from etl_extractor_spark.streaming.events_stream import run_foreach_batch

    n = {"b": 0}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if commit_batch(
            batch_df.sparkSession, batch_df, path, batch_id, stats_cols
        ):
            n["b"] += 1

    run_foreach_batch(stream_df, apply_batch, checkpoint_dir)
    return n["b"]


def replace_table_cow(
    spark: SparkSession, path: str, df: DataFrame, n_files: int = 4
) -> dict[str, Any]:
    """Replace the table's CURRENT view with ``df`` as a NEW snapshot
    while the prior snapshots' files stay on disk — the transactional
    'overwrite' every merge/restatement needs when history must
    survive (a plain mode=overwrite deletes the old files and
    restarts history). The copy-on-write sibling of
    ``compact_copy_on_write`` with a caller-supplied frame: new files
    land beside the old ones, the manifest's current view switches,
    ``read_snapshot`` still serves every earlier transaction state
    until ``expire_snapshots`` reclaims it. This is the TRANSACTION-
    time axis of a bitemporal dimension (``bitemporal_point_query``).
    """
    import shutil as _shutil

    m = read_manifest(path)
    if m is None:
        raise FileNotFoundError(f"no manifest at {path} — commit data first")
    tmp = path.rstrip("/") + "__rep"
    _shutil.rmtree(tmp, ignore_errors=True)
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    new_names: list[str] = []
    for f in sorted(os.listdir(tmp)):
        if f.endswith(".parquet") and not f.startswith(("_", ".")):
            os.rename(os.path.join(tmp, f), os.path.join(path, f))
            new_names.append(f)
    _shutil.rmtree(tmp, ignore_errors=True)
    entries = [
        _file_stats(os.path.join(path, f), m["stats_cols"])
        for f in new_names
    ]
    entries.sort(key=lambda e: e["file"])
    snapshots = list(m.get("snapshots", []))
    snapshots.append(
        {
            "id": (snapshots[-1]["id"] + 1) if snapshots else 0,
            "files": [e["file"] for e in entries],
            "total_rows": sum(e["rows"] for e in entries),
        }
    )
    m2 = dict(m)
    m2["schema"] = json.dumps(df.schema.jsonValue())
    m2["files"] = entries
    m2["n_files"] = len(entries)
    m2["total_rows"] = sum(e["rows"] for e in entries)
    m2["snapshots"] = snapshots
    # The restated view carries NO delete refs — prune the top-level
    # delete registry to entries surviving snapshots still reference,
    # exactly like compact_copy_on_write (review catch: keeping the
    # stale registry let a LATER delete commit re-apply pre-replace
    # keys to the restated data — silent row loss on the documented
    # merge/restatement path).
    still_referenced = {
        n for s in snapshots for n in s.get("delete_files", [])
    }
    live_dels = [
        d for d in m.get("delete_files", []) if d["name"] in still_referenced
    ]
    if live_dels:
        m2["delete_files"] = live_dels
    else:
        m2.pop("delete_files", None)
    _write_manifest(path, m2)
    return m2


TXN_LOG = "_txn.json"


def txn_commit(
    spark: SparkSession, log_dir: str, tables: dict[str, DataFrame]
) -> dict[str, int]:
    """MULTI-TABLE atomic commit via a transaction log — the pattern
    behind cross-table consistency in modern catalogs: each table's
    new state is committed as a copy-on-write snapshot FIRST (old
    snapshots stay readable), and only then does ONE atomic write of
    the txn log publish the new (table → snapshot id) pointer set.
    Readers that resolve through the log (``txn_read``) see either
    every table's new snapshot or every table's old one — a crash
    between per-table commits leaves the log pointing at the previous
    consistent set, and the orphaned new snapshots are invisible
    until a retry completes the transaction (then expire_snapshots
    reclaims superseded ones).

    Returns the committed {path: snapshot_id} map."""
    committed: dict[str, int] = {}
    for path, df in tables.items():
        m = replace_table_cow(spark, path, df)
        committed[path] = m["snapshots"][-1]["id"]
    _write_txn_log(log_dir, committed)
    return committed


def _write_txn_log(log_dir: str, pointers: dict[str, int]) -> None:
    import tempfile

    os.makedirs(log_dir, exist_ok=True)
    prev = read_txn_log(log_dir) or {}
    prev.update(pointers)
    fd, tmp = tempfile.mkstemp(prefix=TXN_LOG + ".", dir=log_dir)
    with os.fdopen(fd, "w") as fh:
        json.dump({"version": 1, "tables": prev}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(log_dir, TXN_LOG))


def read_txn_log(log_dir: str) -> dict[str, int] | None:
    p = os.path.join(log_dir, TXN_LOG)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)["tables"]


def txn_read(spark: SparkSession, log_dir: str, path: str) -> DataFrame:
    """Read ``path`` AT the snapshot the transaction log points to —
    never the bare current view, which may be mid-transaction."""
    pointers = read_txn_log(log_dir)
    if pointers is None or path not in pointers:
        raise FileNotFoundError(f"no txn pointer for {path} in {log_dir}")
    return read_snapshot(spark, path, pointers[path])


def wap_commit(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    audit_fn,
) -> dict[str, Any]:
    """Write-Audit-Publish (the Iceberg WAP / Delta CDF-gate pattern):
    stage ``df`` as parquet under ``_stage/`` (invisible to the
    harvester and every reader — names starting with ``_`` are not
    data files), run ``audit_fn(staged_df) -> (ok, report)`` against
    the staged bytes AS WRITTEN (auditing the input frame would miss
    write-path corruption), and only on a passing audit move the
    files into the table root and commit them as a new snapshot.
    A failing audit removes the stage — the table's current view and
    history are bit-identical to before the attempt, and ``vacuum``
    has nothing to reap.

    100 TB: audit cost is one scan of the BATCH (never the table);
    publish cost is |batch files| renames + an append harvest that
    reads only the new footers. Readers never observe a partial or
    unaudited batch: visibility is the manifest commit, which is
    atomic (_write_manifest)."""
    import glob as _glob
    import shutil as _shutil
    import uuid as _uuid

    m = read_manifest(path)
    if m is None:
        raise FileNotFoundError(
            f"no manifest at {path} — WAP appends to a committed table"
        )
    tag = _uuid.uuid4().hex[:12]
    stage = os.path.join(path, "_stage", f"wap-{tag}")
    df.write.parquet(stage)
    try:
        staged = spark.read.parquet(stage)
        ok, report = audit_fn(staged)
    except BaseException:
        # A RAISING audit (transient job failure, user-code bug) must
        # not leak the batch-sized stage — vacuum can't reap under
        # _stage/, so repeated failing attempts would grow disk
        # unboundedly (review catch).
        _shutil.rmtree(stage, ignore_errors=True)
        raise
    if not ok:
        _shutil.rmtree(stage, ignore_errors=True)
        return {"published": False, "audit": report, "files": []}
    moved: list[str] = []
    for i, f in enumerate(
        sorted(_glob.glob(os.path.join(stage, "part-*.parquet")))
    ):
        dst = os.path.join(path, f"wap-{tag}-{i:05d}.parquet")
        os.replace(f, dst)
        moved.append(os.path.basename(dst))
    _shutil.rmtree(stage, ignore_errors=True)
    harvest_manifest(
        spark, path, m["stats_cols"], prior=m, schema_json=m["schema"]
    )
    return {"published": True, "audit": report, "files": moved}


def rollback_to_snapshot(path: str, snapshot_id: int) -> dict[str, Any]:
    """Iceberg-style ROLLBACK: undo a bad commit by appending a NEW
    snapshot whose content is the target snapshot's — the current view
    reverts, history is PRESERVED (the bad commit stays time-travelable
    for the post-mortem, unlike a destructive truncate-history reset),
    and no data file moves: the restored files are already on disk
    because appends/COW keep prior generations until expire_snapshots.

    File stats for the restored set are reused from the current
    registry when present and re-lifted from footers otherwise
    (metadata-only reads) — cost is O(restored files), independent of
    table bytes. A delete-bearing target restores its delete refs too,
    so the rolled-back view subtracts exactly what the target did."""
    m, snap = _resolve_snapshot(path, snapshot_id)
    known = {e["file"]: e for e in m["files"]}
    entries = []
    for name in snap["files"]:
        if name in known:
            entries.append(known[name])
        else:
            fpath = name if os.path.isabs(name) else os.path.join(path, name)
            entries.append(_file_stats(fpath, m["stats_cols"]))
    entries.sort(key=lambda e: e["file"])
    snapshots = list(m["snapshots"])
    new: dict[str, Any] = {
        "id": snapshots[-1]["id"] + 1,
        "files": [e["file"] for e in entries],
        "total_rows": sum(e["rows"] for e in entries),
        "rolled_back_to": snapshot_id,
    }
    if snap.get("delete_files"):
        new["delete_files"] = list(snap["delete_files"])
    snapshots.append(new)
    m2 = dict(m)
    m2["files"] = entries
    m2["n_files"] = len(entries)
    m2["total_rows"] = new["total_rows"]
    m2["snapshots"] = snapshots
    _write_manifest(path, m2)
    return m2


def create_branch(
    path: str, branch: str, snapshot_id: int | None = None
) -> dict[str, Any]:
    """Create a named BRANCH ref (Iceberg branching model): a pointer
    into the snapshot log that subsequent ``append_to_branch`` commits
    advance independently of the main current view. Zero-copy — a ref
    is one manifest field. ``main`` is reserved (it is the implicit
    current view)."""
    m = read_manifest(path)
    if m is None:
        raise FileNotFoundError(f"no manifest at {path} — commit data first")
    if branch == "main":
        raise ValueError("'main' is the implicit current view")
    if snapshot_id is None:
        # default = MAIN's current snapshot, not snapshots[-1]: after
        # any append_to_branch the last history entry is ANOTHER
        # branch's head, and a new branch must not silently fork from
        # it (review catch)
        main = _main_snapshot(m)
        assert main is not None, f"no main snapshot at {path}"
        snapshot_id = main["id"]
    _resolve_snapshot(path, snapshot_id)  # validates the id
    refs = dict(m.get("refs", {}))
    if branch in refs:
        raise ValueError(f"branch {branch!r} already exists at {path}")
    refs[branch] = snapshot_id
    m["refs"] = refs
    _write_manifest(path, m)
    return m


def append_to_branch(
    spark: SparkSession, path: str, branch: str, df: DataFrame, n_files: int = 1
) -> dict[str, Any]:
    """Commit ``df`` as an append reachable ONLY via ``branch`` — the
    main current view ("files") is untouched, so production readers
    never see branch data (the write-audit-publish pattern at branch
    granularity: stage a whole multi-commit change on a branch, then
    fast-forward main by swapping pointers — here we certify the
    isolation half). New data files land beside the table's (snapshot
    isolation is by the manifest's file LISTS, not directories); main
    appends can never resurrect them because harvest_manifest filters
    any file referenced by an existing snapshot."""
    m = read_manifest(path)
    if m is None:
        raise FileNotFoundError(f"no manifest at {path} — commit data first")
    refs = dict(m.get("refs", {}))
    if branch not in refs:
        raise KeyError(f"no branch {branch!r} at {path}; create_branch first")
    base = {s["id"]: s for s in m["snapshots"]}[refs[branch]]
    import shutil as _shutil

    tmp = path.rstrip("/") + "__br"
    _shutil.rmtree(tmp, ignore_errors=True)
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    new_names: list[str] = []
    for f in sorted(os.listdir(tmp)):
        if f.endswith(".parquet") and not f.startswith(("_", ".")):
            os.rename(os.path.join(tmp, f), os.path.join(path, f))
            new_names.append(f)
    _shutil.rmtree(tmp, ignore_errors=True)
    entries = [
        _file_stats(os.path.join(path, f), m["stats_cols"]) for f in new_names
    ]
    snapshots = list(m["snapshots"])
    new: dict[str, Any] = {
        "id": snapshots[-1]["id"] + 1,
        "files": list(base["files"]) + [e["file"] for e in entries],
        "total_rows": base["total_rows"] + sum(e["rows"] for e in entries),
        "branch": branch,
    }
    if base.get("delete_files"):
        new["delete_files"] = list(base["delete_files"])
    snapshots.append(new)
    refs[branch] = new["id"]
    m["snapshots"] = snapshots
    m["refs"] = refs
    _write_manifest(path, m)
    return m


def read_branch(spark: SparkSession, path: str, branch: str) -> DataFrame:
    """Read a branch ref's current snapshot (``main`` = the table's
    current view via read_table). Delete-bearing branch snapshots
    route through the MOR reader — a branch forked past a delete
    commit inherits its base's delete view and must stay readable
    through its own API (review catch: read_snapshot raises on delete
    refs by design)."""
    if branch == "main":
        return read_table(spark, path)
    m = read_manifest(path)
    if m is None or branch not in m.get("refs", {}):
        raise KeyError(f"no branch {branch!r} at {path}")
    sid = m["refs"][branch]
    _, snap = _resolve_snapshot(path, sid)
    if snap.get("delete_files"):
        return read_snapshot_mor(spark, path, sid)
    return read_snapshot(spark, path, sid)


def shallow_clone(src: str, dst: str) -> dict[str, Any]:
    """Zero-copy table clone (Delta SHALLOW CLONE / Iceberg snapshot
    ref semantics): the clone's manifest REFERENCES the source's data
    files by absolute path — no data bytes move — and from then on the
    two tables evolve independently: deletes, appends and schema
    changes committed on the clone touch only the clone's manifest
    (and its own ``_deletes``/new data files), never the source.

    Merge-on-read delete files ARE copied (O(deleted keys) parquet of
    key tuples — metadata-sized, not data): readers resolve delete
    files relative to their own table root, and sharing them by
    reference would let a source-side compaction/expiry pull them out
    from under the clone.

    At 100 TB this is the instant dev/test-environment fork and the
    safe-experiment primitive (try a risky MERGE on a clone, swap on
    success); cost is one manifest write regardless of table size.
    Expiry/vacuum on either side cannot reach across: the readers join
    paths (absolute entries win), and ``expire_snapshots`` refuses to
    unlink any file that resolves OUTSIDE its table root (the Delta
    rule that vacuum on a shallow clone must not delete source
    files)."""
    import copy as _copy
    import shutil as _shutil

    m = read_manifest(src)
    if m is None:
        raise FileNotFoundError(f"no manifest at {src} — nothing to clone")
    os.makedirs(dst, exist_ok=True)
    c = _copy.deepcopy(m)
    src_abs = os.path.abspath(src)
    for e in c["files"]:
        if not os.path.isabs(e["file"]):
            e["file"] = os.path.join(src_abs, e["file"])
    for s in c.get("snapshots", []):
        s["files"] = [
            n if os.path.isabs(n) else os.path.join(src_abs, n)
            for n in s["files"]
        ]
    for d in c.get("delete_files", []):
        src_del = os.path.join(src, "_deletes", d["name"])
        dst_del = os.path.join(dst, "_deletes", d["name"])
        if os.path.isdir(src_del) and not os.path.exists(dst_del):
            _shutil.copytree(src_del, dst_del)
    c["cloned_from"] = src_abs
    _write_manifest(dst, c)
    return c


def expire_snapshots(path: str, keep_last: int = 1) -> dict[str, Any]:
    """Iceberg-style snapshot expiration: drop all but the newest
    ``keep_last`` snapshots from the manifest and delete the data
    files (and merge-on-read delete files) referenced ONLY by the
    expired ones. The current view ("files") is never touched — a
    kept snapshot's files and the current set are always live, so a
    post-expiry read of the current table is bit-identical to the
    pre-expiry read (certified by manifest_snapshot_expiry's oracle).

    Metadata-scale planning (set algebra over the manifest's name
    lists); the only I/O is unlinking dead files. Returns
    {"expired": n, "removed_data": [...], "removed_deletes": [...]}.
    Idempotent: a second call with the same keep_last removes
    nothing."""
    if keep_last < 1:
        # keep_last=0 would slice snaps[-0:] == everything (a silent
        # no-op, the OPPOSITE of "expire all"); negatives expire from
        # the wrong end. The current snapshot is never expirable.
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    m = read_manifest(path)
    if m is None:
        raise FileNotFoundError(f"no manifest at {path}")
    snaps = list(m.get("snapshots", []))
    if len(snaps) <= keep_last:
        return {
            "expired": 0,
            "removed_data": [],
            "removed_deletes": [],
            "skipped_external": [],
        }
    # Branch refs PIN their snapshots (Iceberg retention rule): expiring
    # a ref'd snapshot would unlink branch-only data files and leave the
    # ref dangling. Ref'd snapshots stay, whatever their age; they expire
    # when the branch is dropped.
    pinned = set(m.get("refs", {}).values())
    tail_ids = {s["id"] for s in snaps[-keep_last:]}
    keep = [s for s in snaps if s["id"] in tail_ids or s["id"] in pinned]
    expired = [s for s in snaps if s["id"] not in tail_ids and s["id"] not in pinned]
    live: set[str] = {e["file"] for e in m["files"]}
    for s in keep:
        live.update(s["files"])
    live_del: set[str] = set()
    for s in keep:
        live_del.update(s.get("delete_files", []))
    dead_data = sorted(
        {f for s in expired for f in s["files"]} - live
    )
    dead_del = sorted(
        {f for s in expired for f in s.get("delete_files", [])} - live_del
    )
    root = os.path.abspath(path)
    external: list[str] = []
    for name in dead_data:
        p = os.path.abspath(os.path.join(path, name))
        # Never unlink outside the table root: a SHALLOW CLONE's
        # manifest references the source's files by absolute path, and
        # expiring clone snapshots must not delete source data (the
        # Delta vacuum-on-shallow-clone rule). External refs just drop
        # out of the clone's metadata.
        if not p.startswith(root + os.sep):
            external.append(name)
            continue
        if os.path.exists(p):
            os.remove(p)
    dead_data = [n for n in dead_data if n not in set(external)]
    import shutil as _shutil

    for name in dead_del:
        _shutil.rmtree(os.path.join(path, "_deletes", name), ignore_errors=True)
    m2 = dict(m)
    m2["snapshots"] = keep
    if dead_del or m.get("delete_files"):
        m2["delete_files"] = [
            d for d in m.get("delete_files", []) if d["name"] in live_del
        ]
        if not m2["delete_files"]:
            m2.pop("delete_files", None)
    _write_manifest(path, m2)
    return {
        "expired": len(expired),
        "removed_data": dead_data,
        "removed_deletes": dead_del,
        "skipped_external": external,
    }
