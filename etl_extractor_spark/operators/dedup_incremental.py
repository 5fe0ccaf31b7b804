"""Incremental MinHash-LSH dedup — near-dup detection at ingestion.

The batch operator (operators/dedup.py::minhash_lsh_pairs) answers
"which pairs in this corpus are near-dups" by re-banding everything.
At 100 TB with a daily arrival of 0.1%, that recompute is absurd: the
bands of already-ingested documents never change. So the production
shape is an INDEX: persist each document's (band_idx, band_hash) rows
and its shingle-hash set once, and for every new batch
- candidate pairs = within-batch band collisions ∪ batch-vs-index
  band collisions (the index side joins only on the new batch's band
  hashes — a semi-join-sized probe, never an index self-join);
- verify candidates with exact Jaccard (precision 1, as in batch);
- append the batch's bands + shingle sets to the index.

Per-batch cost scales with the batch and its collision fan-in, never
with corpus history. Because band hashes are deterministic, the union
of per-batch results over any arrival order equals the one-shot batch
result on the full corpus — asserted in tests/test_dedup_incremental.py.

A batch-id watermark (same recipe as sinks/incremental.py) makes
replays no-ops, so the at-least-once foreachBatch driver in
streaming/events_stream.py composes safely.

INDEX FORMAT v2 (round 3): the index stores per-doc shingle-hash
ARRAYS (doc_id, hs) and bands of the array-substrate signature family
(``minhash_signatures_arr``) — the same family ``minhash_lsh_pairs``
bands, so batch == incremental holds by construction, not by luck.
Indexes written by the round-2 exploded/k-perm format are NOT
compatible (different band hashes); rebuild the index when upgrading.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_extractor_spark.operators.checkpoints import reliable_checkpoint
from etl_extractor_spark.operators.common import batch_watermark
from etl_extractor_spark.operators.dedup import (
    band_frame_arr,
    doc_shingle_hashes,
    minhash_signatures_arr,
)

_META = "_dedup_index_meta.json"


def _exists(path: str) -> bool:
    return os.path.exists(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    )


def ingest_batch(
    spark: SparkSession,
    index_path: str,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 30,
    threshold: float = 0.5,
    batch_id: int = 0,
) -> DataFrame:
    """Dedup one arriving batch against itself and the index, then
    commit the batch into the index. Returns verified near-dup pairs
    (id_a < id_b, exact jaccard ≥ threshold) touching the new batch.

    Replaying an already-committed ``batch_id`` returns no pairs and
    leaves the index untouched.
    """
    bands_dir = os.path.join(index_path, "bands")
    shingles_dir = os.path.join(index_path, "shingles")
    empty = batch.sparkSession.createDataFrame(
        [], "id_a long, id_b long, jaccard double"
    )
    if batch_id <= batch_watermark(index_path, _META):
        return empty

    hashed = doc_shingle_hashes(batch, id_col, text_col, k).persist()
    new_bands = band_frame_arr(minhash_signatures_arr(hashed)).persist()

    a, b = new_bands.alias("a"), new_bands.alias("b")
    within = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))

    if _exists(bands_dir):
        idx = spark.read.parquet(bands_dir).alias("i")
        n = new_bands.alias("n")
        cross = idx.join(
            n,
            (F.col("i.band_idx") == F.col("n.band_idx"))
            & (F.col("i.band_hash") == F.col("n.band_hash"))
            & (F.col("i.doc_id") != F.col("n.doc_id")),
        ).select(
            F.least("i.doc_id", "n.doc_id").alias("id_a"),
            F.greatest("i.doc_id", "n.doc_id").alias("id_b"),
        )
        cands = within.unionByName(cross).distinct().persist()
    else:
        cands = within.distinct().persist()

    cand_ids = (
        cands.select(F.col("id_a").alias("doc_id"))
        .union(cands.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    all_shingles = (
        hashed.unionByName(spark.read.parquet(shingles_dir))
        if _exists(shingles_dir)
        else hashed
    )
    # the index already stores per-doc arrays — the semi-join restricts
    # to candidate docs, no re-aggregation needed
    sets = all_shingles.join(F.broadcast(cand_ids), "doc_id", "semi")
    joined = cands.join(
        sets.withColumnsRenamed({"doc_id": "id_a", "hs": "hs_a"}), "id_a"
    ).join(sets.withColumnsRenamed({"doc_id": "id_b", "hs": "hs_b"}), "id_b")
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    # eager localCheckpoint TRUNCATES LINEAGE: the returned frame must
    # never re-execute against the index after the commit below appends
    # this batch (a cache-evicted recompute would see the batch in the
    # index and join it with itself)
    pairs = (
        joined.select("id_a", "id_b", F.round(inter / union, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    pairs = reliable_checkpoint(pairs)

    new_bands.write.mode("append").parquet(bands_dir)
    hashed.write.mode("append").parquet(shingles_dir)
    with open(os.path.join(index_path, _META), "w") as fh:
        json.dump({"batch_id": batch_id}, fh)
    for frame in (hashed, new_bands, cands):
        frame.unpersist()
    return pairs


def index_stats(spark: SparkSession, index_path: str) -> dict[str, Any]:
    bands_dir = os.path.join(index_path, "bands")
    if not _exists(bands_dir):
        return {"docs": 0}
    bands = spark.read.parquet(bands_dir)
    return {
        "docs": bands.select("doc_id").distinct().count(),
        "band_rows": bands.count(),
        "last_batch": batch_watermark(index_path, _META),
    }
