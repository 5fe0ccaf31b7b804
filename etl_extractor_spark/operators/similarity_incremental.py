"""Incremental IVF vector index — ANN ingestion without refits.

The batch operator (similarity.py::ivf_kmeans_topk) refits KMeans per
query run; at 100 TB the production shape is an INDEX: fit centroids
once on a representative build set, persist (centroid table + bucketed
vectors), then
- ``ingest_vectors``: assign each arriving vector to its nearest
  existing centroid (broadcast of O(n_clusters) centroids, pure
  zip_with/aggregate arithmetic — no refit, no shuffle of the corpus)
  and append to its bucket;
- ``query_topk``: score a query only against its ``nprobe`` nearest
  buckets — the IVF recall/cost dial (nprobe = n_clusters degrades to
  exact brute force).

Centroid drift is handled the way real systems do: periodically
rebuild with ``build_ivf_index`` (a compaction-like maintenance job),
not per batch. Batch-id watermark makes ingest replays no-ops.

Paired with operators/dedup_incremental.py this gives both
ingestion-time indexes a training-data pipeline needs: lexical
(MinHash bands) and semantic (IVF buckets).
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_extractor_spark.operators.similarity import as_double, cosine
from etl_extractor_spark.operators.checkpoints import reliable_checkpoint
from etl_extractor_spark.operators.common import batch_watermark

_META = "_ivf_meta.json"


def _sq_dist(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the centroid table (rows
    = n_clusters, tiny by construction) and argmin the squared
    distance per vector."""
    scored = vecs.crossJoin(F.broadcast(centroids)).withColumn(
        "_d", _sq_dist(F.col("arr"), F.col("centroid"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("_d"), F.asc("cluster"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "arr", "cluster")
    )


def build_ivf_index(
    spark: SparkSession,
    index_path: str,
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    seed: int = 42,
) -> dict[str, Any]:
    """Fit centroids on ``df`` and materialize the index (centroids +
    bucketed vectors). The maintenance/rebuild entry point."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("arr")
    ).withColumn("features", array_to_vector("arr"))
    model = KMeans(k=n_clusters, seed=seed, maxIter=10).fit(feats)
    from etl_extractor_spark.operators.common import small_df

    centroids = small_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cluster int, centroid array<double>",
    )
    centroids.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(index_path, "centroids")
    )
    assigned = (
        model.transform(feats)
        .select("vec_id", "arr", F.col("prediction").alias("cluster"))
    )
    assigned.write.mode("overwrite").parquet(os.path.join(index_path, "vectors"))
    with open(os.path.join(index_path, _META), "w") as fh:
        json.dump({"batch_id": -1, "n_clusters": n_clusters}, fh)
    return {"n_clusters": n_clusters, "vectors": assigned.count()}


def ingest_vectors(
    spark: SparkSession,
    index_path: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int = 0,
) -> int:
    """Assign a batch to existing centroids and append to the index.
    No refit — cost is O(batch × n_clusters) arithmetic. Replays of a
    committed batch_id are no-ops. Returns vectors ingested."""
    if batch_id <= batch_watermark(index_path, _META):
        return 0
    centroids = spark.read.parquet(os.path.join(index_path, "centroids"))
    vecs = batch.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("arr")
    )
    assigned = reliable_checkpoint(_assign(vecs, centroids))
    n = assigned.count()
    assigned.write.mode("append").parquet(os.path.join(index_path, "vectors"))
    meta = json.load(open(os.path.join(index_path, _META)))
    meta["batch_id"] = batch_id
    with open(os.path.join(index_path, _META), "w") as fh:
        json.dump(meta, fh)
    return n


def query_topk(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Top-k cosine neighbors from the ``nprobe`` nearest buckets per
    query. The probed fraction of the corpus is nprobe/n_clusters —
    the recall/cost dial; scoring inside buckets is the same exact
    zip_with arithmetic as the brute-force baseline."""
    centroids = spark.read.parquet(os.path.join(index_path, "centroids"))
    corpus = spark.read.parquet(os.path.join(index_path, "vectors"))

    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
    )
    qc = q.crossJoin(F.broadcast(centroids)).withColumn(
        "_d", _sq_dist(F.col("qv"), F.col("centroid"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("_d"), F.asc("cluster"))
    probes = (
        qc.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "qv", "cluster")
    )
    scored = corpus.join(F.broadcast(probes), "cluster").filter(
        F.col("vec_id") != F.col("query_id")
    )
    ranked = Window.partitionBy("query_id").orderBy(
        F.desc("_cos"), F.asc("vec_id")
    )
    return (
        scored.withColumn("_cos", cosine(F.col("qv"), F.col("arr")))
        .withColumn("rank", F.row_number().over(ranked).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("_cos", 4).alias("cos_sim"),
            "rank",
        )
    )
