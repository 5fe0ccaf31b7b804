"""Recursive-CTE queries (Spark 4.x ``WITH RECURSIVE``).

Hierarchical traversal is the one relational shape the reference's
pandas layer (and most batch SQL) cannot express without application
loops. Spark 4 ships first-class recursive CTEs, so the engine can now
answer org-chart / BOM / thread-ancestry questions declaratively. The
hierarchy here is derived deterministically from the documents table —
node ``d`` has parent ``d // 2`` (a binary tree rooted at doc_id 1) —
so both engines traverse the identical structure and the DuckDB
recursive CTE is an exact oracle.

- ``doc_tree_depth``   : root-to-node walk computing each node's depth
                         and the accumulated n_chars along its ancestor
                         path (the "path rollup" direction).
- ``doc_subtree_rollup``: (ancestor, descendant) expansion restricted
                         to ancestors < 64 (the tree's top 6 levels),
                         then a subtree aggregate per ancestor (the
                         "BOM explosion" direction — bounded fan-out by
                         construction, not by hope).

100 TB notes: recursion depth is log2(n) (~45 rounds at 10^13 docs) —
each round is one equi-join of the frontier against the child level,
i.e. the same join-iterated shape as the connected-components and
PageRank operators; the frontier is partitioned on the join key so a
round is a single shuffle. The subtree expansion's output is
|descendants| x |top-k ancestors| — capped by the ancestor filter
INSIDE the recursion (pushed into the base case), never generated and
discarded. No driver-side loop: Catalyst executes the fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_extractor_spark.session import query_session
from etl_extractor_spark.sources.parquet import load_table

TOP_ANCESTORS = 64  # subtree rollup: ancestors restricted to doc_id < 64


def _docs_session(spark: SparkSession, sf_dir: str) -> SparkSession:
    """A query_session with documents' (doc_id, n_chars) as ``rec_docs``."""
    spark = query_session(spark)
    load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    ).createOrReplaceTempView("rec_docs")
    return spark


def doc_tree_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = _docs_session(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE walk(doc_id, depth, path_chars) AS (
          SELECT doc_id, 0, n_chars FROM rec_docs WHERE doc_id = 1
          UNION ALL
          SELECT d.doc_id, w.depth + 1, w.path_chars + d.n_chars
          FROM rec_docs d JOIN walk w ON d.doc_id DIV 2 = w.doc_id
          WHERE d.doc_id > 1
        )
        SELECT doc_id, CAST(depth AS BIGINT) AS depth,
               CAST(path_chars AS BIGINT) AS path_chars
        FROM walk
        """
    )


DOC_TREE_DEPTH_SQL = """
WITH RECURSIVE walk(doc_id, depth, path_chars) AS (
  SELECT doc_id, 0, n_chars FROM documents WHERE doc_id = 1
  UNION ALL
  SELECT d.doc_id, w.depth + 1, w.path_chars + d.n_chars
  FROM documents d JOIN walk w ON d.doc_id // 2 = w.doc_id
  WHERE d.doc_id > 1
)
SELECT doc_id, CAST(depth AS BIGINT) AS depth,
       CAST(path_chars AS BIGINT) AS path_chars
FROM walk
"""


def doc_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark = _docs_session(spark, sf_dir)
    return spark.sql(
        f"""
        WITH RECURSIVE sub(anc, node) AS (
          SELECT doc_id, doc_id FROM rec_docs
          WHERE doc_id >= 1 AND doc_id < {TOP_ANCESTORS}
          UNION ALL
          SELECT s.anc, d.doc_id
          FROM rec_docs d JOIN sub s ON d.doc_id DIV 2 = s.node
          WHERE d.doc_id > 1
        )
        SELECT s.anc AS ancestor,
               count(*) AS n_desc,
               CAST(sum(d.n_chars) AS BIGINT) AS subtree_chars
        FROM sub s JOIN rec_docs d ON d.doc_id = s.node
        GROUP BY s.anc
        """
    )


DOC_SUBTREE_SQL = f"""
WITH RECURSIVE sub(anc, node) AS (
  SELECT doc_id, doc_id FROM documents
  WHERE doc_id >= 1 AND doc_id < {TOP_ANCESTORS}
  UNION ALL
  SELECT s.anc, d.doc_id
  FROM documents d JOIN sub s ON d.doc_id // 2 = s.node
  WHERE d.doc_id > 1
)
SELECT s.anc AS ancestor,
       count(*) AS n_desc,
       CAST(sum(d.n_chars) AS BIGINT) AS subtree_chars
FROM sub s JOIN documents d ON d.doc_id = s.node
GROUP BY s.anc
"""


QUERIES = {
    "doc_tree_depth": doc_tree_depth,
    "doc_subtree_rollup": doc_subtree_rollup,
}

ORACLES = {
    "doc_tree_depth": DOC_TREE_DEPTH_SQL,
    "doc_subtree_rollup": DOC_SUBTREE_SQL,
}
