"""Seeded benchmark inputs, derived from the sf0.01 test tables.

``base/`` holds byte-for-byte copies of the ten sf0.01 source tables
(their checksums are in ``README.md``). Like
``tools/make_scale_data.py``, a seed perturbs those real rows instead of
inventing new ones, so every distribution the workloads spend time on
(the word-trigram df histogram, document lengths, foreign-key skew, the
event-type sequence of each user) is the real one:

- each key domain (customers, parts, suppliers, orders, users,
  documents) is remapped through a seeded permutation of its own key
  set, and every foreign key follows its domain's map. The key sets,
  and so every ``key % m`` split the operations make, stay the same.
  Tables the source stores sorted by key are re-sorted by the new key;
  ``lineitem`` keeps its source row order;
- document text passes through a seeded bijection of the letters. It
  keeps word boundaries, lengths, the vocabulary size and every df
  histogram, and changes every token and shingle;
- every other column is copied unchanged, and so are the tables no
  workload reads (``COPIED``), which the DuckDB oracles still expect.

The same seed always gives the same tables. Output is cached under
``<cache_root>/seed<seed>/``; only the newest ``KEEP`` data sets are kept.
"""

from __future__ import annotations

import os
import random
import shutil
import string

import duckdb

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")
KEEP = 6

# key domain -> (table, key column) that holds the whole key set
DOMAINS = {
    "cust": ("customer", "c_custkey"),
    "part": ("part", "p_partkey"),
    "supp": ("supplier", "s_suppkey"),
    "ord": ("orders", "o_orderkey"),
    "user": ("events", "user_id"),
    "doc": ("documents", "doc_id"),
}
COPIED = ("region", "nation", "embeddings")
# table -> ({column: key domain}, sort key of the output or None)
TABLES = {
    "customer": ({"c_custkey": "cust"}, "c_custkey"),
    "part": ({"p_partkey": "part"}, "p_partkey"),
    "supplier": ({"s_suppkey": "supp"}, "s_suppkey"),
    "orders": ({"o_orderkey": "ord", "o_custkey": "cust"}, "o_orderkey"),
    "lineitem": ({"l_orderkey": "ord", "l_partkey": "part", "l_suppkey": "supp"}, None),
    "events": ({"user_id": "user"}, "event_id"),
    "documents": ({"doc_id": "doc"}, "doc_id"),
}


def letter_map(seed: int) -> tuple[str, str]:
    """(from, to) arguments of SQL ``translate`` for the seed's letter bijection."""
    lower = list(string.ascii_lowercase)
    random.Random(seed).shuffle(lower)
    to = "".join(lower)
    return string.ascii_lowercase + string.ascii_uppercase, to + to.upper()


def _build(con: duckdb.DuckDBPyConnection, out: str, seed: int) -> None:
    for t in TABLES:
        con.execute(f"CREATE VIEW base_{t} AS SELECT * FROM read_parquet('{BASE}/{t}.parquet', file_row_number = true)")
    for dom, (t, col) in DOMAINS.items():
        # the i-th smallest key maps to the key with the i-th smallest hash
        con.execute(
            f"CREATE TABLE map_{dom} AS "
            f"WITH k AS (SELECT DISTINCT {col} AS key FROM base_{t}) "
            f"SELECT a.key AS old, b.key AS new FROM "
            f"(SELECT key, row_number() OVER (ORDER BY key) AS r FROM k) a JOIN "
            f"(SELECT key, row_number() OVER (ORDER BY hash(key, {seed}), key) AS r FROM k) b "
            f"USING (r)"
        )
    src, dst = letter_map(seed)
    for t, (keys, order) in TABLES.items():
        cols = [c for c, in con.execute(f"SELECT column_name FROM (DESCRIBE base_{t})").fetchall()
                if c != "file_row_number"]
        exprs, joins = [], []
        for c in cols:
            if c in keys:
                joins.append(f"LEFT JOIN map_{keys[c]} m_{c} ON m_{c}.old = s.{c}")
                exprs.append(f"coalesce(m_{c}.new, s.{c}) AS {c}")
            elif c == "text":
                exprs.append(f"translate(s.text, '{src}', '{dst}') AS text")
            else:
                exprs.append(f"s.{c}")
        rows = "s.file_row_number" if order is None else order
        con.execute(
            f"COPY (SELECT {', '.join(exprs)} FROM base_{t} s {' '.join(joins)} ORDER BY {rows}) "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )


def _prune(root: str, keep: str) -> None:
    """Drop all but the newest KEEP cached data sets (``keep`` survives)."""
    entries = sorted(
        (e for e in os.scandir(root) if e.is_dir() and e.path != keep),
        key=lambda e: e.stat().st_mtime,
    )
    for e in entries[: max(0, len(entries) - (KEEP - 1))]:
        shutil.rmtree(e.path, ignore_errors=True)


def generate(root: str, seed: int) -> tuple[str, dict[str, tuple[int, int]]]:
    """Return (data dir, {table: (rows, bytes)}), generating on a cache miss.

    The data set is written under a temporary name and renamed into place
    when complete, so an interrupted run never leaves a partial cache entry.
    """
    out = os.path.join(root, f"seed{seed}")
    os.makedirs(root, exist_ok=True)
    if not os.path.isdir(out):
        tmp = f"{out}.part{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        con = duckdb.connect()
        try:
            con.execute("SET threads = 2")
            _build(con, tmp, seed)
        finally:
            con.close()
        for t in COPIED:
            shutil.copyfile(f"{BASE}/{t}.parquet", f"{tmp}/{t}.parquet")
        os.rename(tmp, out)
    os.utime(out)
    _prune(root, out)
    con = duckdb.connect()
    try:
        stats = {
            t: (
                con.execute(f"SELECT count(*) FROM read_parquet('{out}/{t}.parquet')").fetchone()[0],
                os.path.getsize(f"{out}/{t}.parquet"),
            )
            for t in (*TABLES, *COPIED)
        }
    finally:
        con.close()
    return out, stats
