"""Graph-analytics queries over the purchase and co-purchase graphs.

The bipartite customer↔supplier purchase graph is derived from orders
⋈ lineitem: one edge per DISTINCT trading pair, built once
(``_purchase_pairs``), taken in both directions where a walk must not
dead-end on a side (``_both_ways``). Each query projects its own node
encoding from the raw (o_custkey, l_suppkey) pairs:

- 'C'||k / 'S'||k strings (``_str_nodes``): ``pagerank_purchase_graph``
  (3 damped rounds of the integer-exact join-iterated PageRank in
  operators/graph.py, top-25 hubs) and ``purchase_graph_degrees``
  (degree distribution per node type — a power-law head here predicts
  hot keys in the iteration joins);
- customer k → 2k, supplier k → 2k+1 (``_int_nodes``):
  ``bfs_shortest_hops``, ``kcore_peel_rounds`` and
  ``bellman_ford_cheapest_hops``;
- the order-isomorphic label code (``_lp_enc``):
  ``label_propagation_communities``;
- raw keys: ``hits_hub_authority`` and ``graph_modularity_nations``.

Label propagation and Bellman-Ford run the same synchronous round
(``_min_round``). The part co-purchase graph (parts ordered together,
``_copurchase_pairs``) feeds ``triangle_participation`` and
``link_prediction_jaccard``.

Every oracle UNROLLS its query's rounds in DuckDB, so a hash match
certifies the whole iteration chain, not just the final sort.

100 TB: the edge build is the usual pushed-down join; each round is
one src-keyed join + one dst-keyed aggregation (bucket the edge list
by src to make that exchange the only shuffle). Integer values are
summation-order-independent — the same number on 1 executor or 1000.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_extractor_spark.functions.quantize import cents
from etl_extractor_spark.operators.checkpoints import reliable_checkpoint
from etl_extractor_spark.operators.common import small_df
from etl_extractor_spark.operators.graph import pagerank_integer
from etl_extractor_spark.sources.parquet import load_table

QUERIES: dict = {}
ORACLES: dict = {}

PR_ITER = 3
PR_TOPN = 25


# --- shared graph builders ------------------------------------------------------
def _purchases(spark: SparkSession, sf_dir: str, *order_cols) -> DataFrame:
    """orders ⋈ lineitem, one row per line item: o_custkey, l_suppkey
    and ``order_cols`` (columns or expressions over orders)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", *order_cols)
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return o.join(l, o["o_orderkey"] == l["l_orderkey"])


def _purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct raw (o_custkey, l_suppkey) trading pairs — one edge
    of the purchase graph each. Every node encoding below is
    injective, so an encoded projection of these pairs stays
    distinct."""
    return _purchases(spark, sf_dir).select("o_custkey", "l_suppkey").distinct()


def _both_ways(pairs: DataFrame, *cols: str) -> DataFrame:
    """(c, s, *cols) pairs as src→dst edges in both directions, so
    neither side of the bipartite graph is a dead-end sink."""
    return pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"), *cols).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"), *cols)
    )


def _purchase_edges(spark: SparkSession, sf_dir: str, c: Column, s: Column) -> DataFrame:
    """Both-ways purchase edges with customer nodes encoded as ``c`` and
    supplier nodes as ``s`` (expressions over o_custkey / l_suppkey)."""
    return _both_ways(_purchase_pairs(spark, sf_dir).select(c.alias("c"), s.alias("s")))


def _str_nodes() -> tuple[Column, Column]:
    """'C'||k / 'S'||k — the node strings every purchase-graph oracle
    uses."""
    return (
        F.concat(F.lit("C"), F.col("o_custkey").cast("string")),
        F.concat(F.lit("S"), F.col("l_suppkey").cast("string")),
    )


def _int_nodes() -> tuple[Column, Column]:
    """Customer k → 2k, supplier k → 2k+1: a bijection with the string
    domain of ``_str_nodes``, so iterative queries shuffle/checkpoint
    8-byte longs instead of ~10-char strings (~3× fewer bytes at sf1's
    11.7 M edges). For set-semantics loops (BFS, k-core) and min-plus
    costs (Bellman-Ford); NOT for min-label algorithms (LPA) whose
    ordering is defined over the string domain — the encoding does not
    preserve string order."""
    return (
        F.col("o_custkey").cast("long") * 2,
        F.col("l_suppkey").cast("long") * 2 + 1,
    )


def _node_str(c: str):
    """Reconstruct the 'C'||k / 'S'||k string form from an int-encoded
    node id — used ONLY in final stat projections so min/max
    fingerprints keep the string ordering the oracles pin."""
    return F.concat(
        F.when(F.col(c) % 2 == 0, F.lit("C")).otherwise(F.lit("S")),
        F.expr(f"CAST({c} DIV 2 AS STRING)"),
    )


def _min_round(edges: DataFrame, state: DataFrame, msg: Column) -> DataFrame:
    """One synchronous min round over ``state`` (node, value): every
    edge sends ``msg`` (an expression over the edge's columns and its
    src's state) to its dst, and each node keeps the min over
    (messages ∪ its own value).

    SELF-MESSAGES instead of a per-round merge with the old state:
    unioning the O(nodes) state frame into the message stream makes
    min-over-(messages ∪ self) = least(own, best message) and carries
    every reached node forward, so the round is join + union + agg
    (ONE exchange), with the agg output ALREADY keyed by node for the
    next round. The reliable checkpoint keeps each round's plan
    linear, so Catalyst analysis stays flat."""
    value = state.columns[1]
    msgs = edges.join(state, edges["src"] == state["node"]).select(
        F.col("dst").alias("node"), msg.alias(value)
    )
    return reliable_checkpoint(
        msgs.unionByName(state).groupBy("node").agg(F.min(value).alias(value))
    )


# --- PageRank and degree profile ------------------------------------------------
def pagerank_purchase_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _purchase_edges(spark, sf_dir, *_str_nodes())
    r = pagerank_integer(edges, iterations=PR_ITER)
    w = Window.orderBy(F.desc("rank_micro"), F.asc("node"))
    return (
        r.withColumn("pos", F.row_number().over(w).cast("long"))
        .filter(F.col("pos") <= PR_TOPN)
        .select(
            "node",
            F.substring("node", 1, 1).alias("node_type"),
            "rank_micro",
            "pos",
        )
    )


_EDGES_SQL = """
e0 AS (
  SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS c,
                  'S' || CAST(l_suppkey AS VARCHAR) AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), edges AS (
  SELECT c AS src, s AS dst FROM e0
  UNION ALL
  SELECT s AS src, c AS dst FROM e0
), deg AS (
  SELECT src, count(*) AS deg FROM edges GROUP BY 1
), nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
)"""


def _pagerank_sql() -> str:
    rounds = []
    prev = "r0"
    for i in range(1, PR_ITER + 1):
        rounds.append(
            f"""c{i} AS (
  SELECT e.dst AS node, sum(r.rank_micro // d.deg) AS s
  FROM edges e JOIN {prev} r ON e.src = r.node JOIN deg d ON e.src = d.src
  GROUP BY 1
), r{i} AS (
  SELECT n.node,
         CAST(150000 + (85 * coalesce(c{i}.s, 0)) // 100 AS BIGINT) AS rank_micro
  FROM nodes n LEFT JOIN c{i} USING (node)
)"""
        )
        prev = f"r{i}"
    return (
        "WITH "
        + _EDGES_SQL.lstrip()
        + """, r0 AS (
  SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes
), """
        + ", ".join(rounds)
        + f"""
SELECT node, substr(node, 1, 1) AS node_type, rank_micro,
       CAST(row_number() OVER (ORDER BY rank_micro DESC, node ASC) AS BIGINT) AS pos
FROM {prev} QUALIFY pos <= {PR_TOPN}
"""
    )


def purchase_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _purchase_edges(spark, sf_dir, *_str_nodes())
    return (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .groupBy(F.substring("src", 1, 1).alias("node_type"), "deg")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


DEGREES_SQL = (
    "WITH "
    + _EDGES_SQL.lstrip()
    + """
SELECT substr(src, 1, 1) AS node_type, deg, count(*) AS n_nodes
FROM deg GROUP BY 1, 2
"""
)

QUERIES["pagerank_purchase_graph"] = pagerank_purchase_graph
ORACLES["pagerank_purchase_graph"] = _pagerank_sql()
QUERIES["purchase_graph_degrees"] = purchase_graph_degrees
ORACLES["purchase_graph_degrees"] = DEGREES_SQL


# --- BFS shortest hops ----------------------------------------------------------
_BFS_HOPS = 4


def bfs_shortest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-hop distances from seed suppliers (s_suppkey ≤ 2) over
    the bipartite purchase graph, BFS to 4 hops: the frontier is the
    set of nodes first reached at hop k; each round is one
    frontier⋈edges join + an anti-join against the visited set, then a
    distinct — level-synchronous BFS, the join-based Pregel shape
    shared with PageRank/connected components. Output: nodes-per-hop
    histogram with a min/max node fingerprint per level (order-free
    evidence of WHICH nodes, not just how many). The oracle walks the
    same levels with a recursive CTE (UNION dedup), so the level sets
    must match exactly.

    100 TB: visited/frontier stay key-partitioned; 4 bounded rounds;
    the per-round dedup is the only wide op and it is hash-partitioned
    on node id. The iteration runs on INT-ENCODED node ids
    (``_int_nodes`` — BFS is set-semantics, so the encoding is free;
    strings are reconstructed only in the final stats), and the edge
    list is checkpointed ONCE so the four rounds read it instead of
    re-executing the orders⋈lineitem build per hop. For unbounded
    diameters the CC operator's checkpoint discipline applies
    (operators/dedup.py)."""
    edges = reliable_checkpoint(_purchase_edges(spark, sf_dir, *_int_nodes()))
    seeds = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") <= 2)
        .select((F.col("s_suppkey").cast("long") * 2 + 1).alias("node"))
    )
    visited = seeds.withColumn("hop", F.lit(0))
    frontier = visited
    for k in range(1, _BFS_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(k))
        )
        visited = reliable_checkpoint(visited.unionByName(nxt))
        frontier = visited.where(F.col("hop") == k)
    return (
        visited.select("hop", _node_str("node").alias("node_s"))
        .groupBy("hop")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("node_s").alias("min_node"),
            F.max("node_s").alias("max_node"),
        )
    )


QUERIES["bfs_shortest_hops"] = bfs_shortest_hops
ORACLES["bfs_shortest_hops"] = f"""
    WITH RECURSIVE edges AS (
        SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS src,
                        'S' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        UNION ALL
        SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS src,
                        'C' || CAST(o_custkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    walk(node, hop) AS (
        SELECT 'S' || CAST(s_suppkey AS VARCHAR), 0
        FROM supplier WHERE s_suppkey <= 2
        UNION
        SELECT e.dst, w.hop + 1
        FROM walk w JOIN edges e ON w.node = e.src
        WHERE w.hop < {_BFS_HOPS}
    ),
    first_seen AS (
        SELECT node, MIN(hop)::BIGINT AS hop FROM walk GROUP BY node
    )
    SELECT hop,
           COUNT(*)::BIGINT AS n_nodes,
           MIN(node) AS min_node,
           MAX(node) AS max_node
    FROM first_seen
    GROUP BY hop
"""


# --- synchronous label propagation ----------------------------------------------
_LP_ROUNDS = 3

# Order-isomorphic int64 embedding of the 'C'||k / 'S'||k label domain
# (r11): the decimal digits d_1..d_L of k (no leading zeros, L ≤ 12)
# become base-11 digits d_i+1 left-aligned in a 12-slot field padded
# with 0 — 0 sorts below every real digit, so the numeric order of the
# codes equals the LEXICOGRAPHIC order of the digit strings (shorter-
# prefix-wins included: 'C10' > 'C1', 'C115' < 'C12' both preserved);
# the node-type prefix rides the 11^12 place ('C'=0 < 'S'=1, matching
# 'C' < 'S'). Injective on the real domain because real digits encode
# as d+1 ≥ 1, never 0. Max code 2·11^12 ≈ 6.3e12 ≪ 2^63. min() over
# codes therefore equals min() over label strings, which is what lets
# the LPA rounds run on 8-byte longs with hash aggregation. Keys
# outside [0, 10^12) have no code and fail the query (raise_error)
# rather than encode to NULL and drop out of the min-label rounds;
# 10^12 covers TPC-H custkey (1.5e10) and suppkey at SF 1e5.
_LP_SLOTS = 12
_LP_TYPE = 11**_LP_SLOTS  # the 'S' offset
_POW11 = ", ".join(f"{11 ** (_LP_SLOTS - i)}L" for i in range(1, _LP_SLOTS + 1))  # 11^11..11^0


def _lp_enc(key: str, is_supplier: int):
    """Encode an integer key column into the order-isomorphic label
    code (see module comment above). CLOSED FORM, no HOF: with L the
    digit count, code = P·11^12 + 11^(12-L) · Σ_{j=0..L-1}
    ((k div 10^j) % 10 + 1)·11^j — the left-aligned base-11 field
    factored so the whole thing is a flat codegen expression (a
    sequence/aggregate lambda re-evaluates its outer digit-count
    expression per element, the r10 lambda-binding lesson). A key
    outside [0, 10^12) raises; a NULL key stays NULL."""
    k = f"cast({key} as bigint)"
    scale = " ".join(
        f"WHEN {k} < {10 ** j}L THEN {11 ** (_LP_SLOTS - j)}L"
        for j in range(1, _LP_SLOTS + 1)
    )
    terms = " + ".join(
        f"(CASE WHEN {k} >= {10 ** j}L THEN "
        f"(({k} div {10 ** j}L) % 10 + 1) * {11 ** j}L ELSE 0L END)"
        for j in range(1, _LP_SLOTS)
    )
    return F.expr(
        f"CASE WHEN {k} < 0L OR {k} >= {10 ** _LP_SLOTS}L THEN raise_error("
        f"concat('label key out of the encodable range [0, 10^{_LP_SLOTS}): ', {k}))"
        f" ELSE {is_supplier}L * {_LP_TYPE}L"
        f" + (CASE {scale} END) * (({k} % 10 + 1) + {terms}) END"
    )


def _lp_dec(code: str):
    """Decode a label code back to its 'C'||k / 'S'||k string (output
    projection only — ≤ top-k rows)."""
    return F.concat(
        F.when(F.col(code) < _LP_TYPE, F.lit("C")).otherwise(F.lit("S")),
        F.expr(
            f"""cast(
                aggregate(
                    sequence(1, {_LP_SLOTS}),
                    0L,
                    (acc, i) -> CASE
                        WHEN ({code} div element_at(array({_POW11}), i)) % 11 > 0
                        THEN acc * 10 + ({code} div element_at(array({_POW11}), i)) % 11 - 1
                        ELSE acc END
                ) as string)"""
        ),
    )


def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous min-label propagation over
    the purchase graph: every node starts at its own id; each round
    takes the least of its label and its neighbors' labels — after k
    rounds a node holds the minimum id within k hops, the
    deterministic LPA variant (and one large-star step of the
    connected-components operator, operators/dedup.py). Top-20
    communities by size. The oracle UNROLLS the same three rounds as
    CTEs, so a hash match certifies every intermediate round.

    100 TB: each round is ``_min_round`` — ONE src-keyed join + one
    dst-keyed min aggregation, the PageRank exchange shape. Labels run
    in the ORDER-ISOMORPHIC INT ENCODING of the label domain: min-label
    is defined over the STRING ordering of 'C'||k / 'S'||k, which the
    even/odd int encoding does not preserve — but the base-11 digit
    embedding (_lp_enc) does: each decimal digit maps to 11-ary digit
    d+1 in a fixed 12-slot field (0 = below-any-digit pad), so
    lexicographic order over variable-length digit strings equals
    numeric int64 order, with 'C' < 'S' as the top bit. Every round
    then shuffles 8-byte longs and min() runs as a codegen
    HashAggregate instead of the string domain's SortAggregate; labels
    decode back to strings (_lp_dec) only in the ≤20-row output
    projection."""
    edges = reliable_checkpoint(
        _purchase_edges(spark, sf_dir, _lp_enc("o_custkey", 0), _lp_enc("l_suppkey", 1))
    )
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(_LP_ROUNDS):
        labels = _min_round(edges, labels, F.col("label"))
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy(F.desc("n_nodes"), "label")
        .limit(20)
        .select(_lp_dec("label").alias("label"), "n_nodes")
    )


def _lp_round_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS MATERIALIZED (
        SELECT n.node,
               LEAST(n.label, COALESCE(m.ml, n.label)) AS label
        FROM {prev} n LEFT JOIN (
            SELECT e.dst AS node, MIN(l.label) AS ml
            FROM pedges e JOIN {prev} l ON e.src = l.node
            GROUP BY e.dst
        ) m ON n.node = m.node
    )"""


QUERIES["label_propagation_communities"] = label_propagation_communities
ORACLES["label_propagation_communities"] = f"""
    WITH pairs AS MATERIALIZED (
        SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS c,
                        'S' || CAST(l_suppkey AS VARCHAR) AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    pedges AS MATERIALIZED (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM pedges),
    {_lp_round_sql('l0', 'l1')},
    {_lp_round_sql('l1', 'l2')},
    {_lp_round_sql('l2', 'l3')}
    SELECT label, COUNT(*)::BIGINT AS n_nodes
    FROM l3
    GROUP BY label
    ORDER BY n_nodes DESC, label
    LIMIT 20
"""


# --- bounded k-core peeling -----------------------------------------------------
_KCORE_K = 4
_KCORE_ROUNDS = 3


def kcore_peel_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of k-core peeling (k=4) on the purchase graph:
    each round drops nodes of degree < k and the edges touching them —
    the standard preprocessing that strips the low-degree fringe
    before community/centrality passes (full k-core iterates to a
    fixpoint; the bounded 3-round peel is deterministic and
    oracle-unrollable, and each extra round is the same plan). Output:
    survivors and edge count per round with min/max node fingerprints.

    100 TB: per round one degree aggregation + two semi-joins, all
    hash-partitioned on node id; rounds are bounded so lineage is
    static. Node ids are INTEGER-ENCODED through the loop
    (``_int_nodes``), so every shuffle, join hash and checkpoint block
    carries an 8-byte long instead of a ~10-char string (~3× fewer
    shuffle/checkpoint bytes over the 11.6 M-edge sf1 graph). Strings
    are reconstructed ONLY in the per-round stats projection, so
    min/max fingerprints keep the string ordering and the output is
    bit-identical to the string-domain loop.

    FIXPOINT EARLY-EXIT (the r5→r6 sf1 fix, 99 s → ~14 s): when a
    round removes no node (keep count == node count) the edge set is
    provably unchanged, so later rounds skip the two joins, the
    O(edges) re-checkpoint AND the stats recompute — they re-emit the
    converged round's stats with a new round number. The sf1 purchase
    graph converges at round 1 (min degree ≥ k already), so the old
    loop's rounds 2-3 rewrote 11.7 M identical edges twice for
    nothing. The keep-count probe is ONE aggregation job over the
    exchange-free degree pass (r11; previously two count jobs against
    a per-round degree checkpoint). The per-round stats row is
    collected (1 row — contract-small) and the output assembled as a
    literal frame."""
    rows: list[tuple] = []
    # round 1 references the edges 3× (deg + 2 joins)
    cur = reliable_checkpoint(_purchase_edges(spark, sf_dir, *_int_nodes()))
    converged = False
    last = None  # stats Row of the current (unchanged) edge set
    for r in range(1, _KCORE_ROUNDS + 1):
        if not converged:
            deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
            # ONE fixpoint-probe job instead of two counts (r11, r10
            # verdict task 1: fold the fixpoint test into the round
            # job): n nodes + surviving nodes in a single aggregation
            # over the exchange-free degree pass.
            probe = deg.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("d") >= _KCORE_K).cast("long")).alias("nk"),
            ).first()
            if probe["nk"] == probe["n"]:
                converged = True  # nothing removed ⇒ cur is the k-core fixpoint
            else:
                keep = deg.where(F.col("d") >= _KCORE_K).select("src")
                cur = reliable_checkpoint(
                    cur.join(keep, "src")
                    .join(keep.select(F.col("src").alias("dst")), "dst")
                    .select("src", "dst")
                )
                last = None  # edge set changed: stats must recompute
        if last is None:
            last = (
                cur.select("src", _node_str("src").alias("src_s"))
                .agg(
                    F.countDistinct("src").cast("long").alias("n_nodes"),
                    F.count(F.lit(1)).cast("long").alias("n_edges"),
                    F.min("src_s").alias("min_node"),
                    F.max("src_s").alias("max_node"),
                )
                .first()
            )
        rows.append(
            (r, last["n_nodes"], last["n_edges"], last["min_node"], last["max_node"])
        )
    return small_df(
        spark,
        rows,
        "round int, n_nodes long, n_edges long, min_node string, max_node string",
    )


def _kcore_round_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS MATERIALIZED (
        SELECT e.src, e.dst
        FROM {prev} e
        JOIN (SELECT src FROM {prev} GROUP BY src HAVING COUNT(*) >= {_KCORE_K}) ks
          ON e.src = ks.src
        JOIN (SELECT src AS dst FROM {prev} GROUP BY src HAVING COUNT(*) >= {_KCORE_K}) kd
          ON e.dst = kd.dst
    )"""


QUERIES["kcore_peel_rounds"] = kcore_peel_rounds
ORACLES["kcore_peel_rounds"] = f"""
    WITH pairs AS MATERIALIZED (
        SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS c,
                        'S' || CAST(l_suppkey AS VARCHAR) AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    e0 AS MATERIALIZED (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs
    ),
    {_kcore_round_sql('e0', 'e1')},
    {_kcore_round_sql('e1', 'e2')},
    {_kcore_round_sql('e2', 'e3')}
    SELECT 1 AS round, COUNT(DISTINCT src)::BIGINT AS n_nodes,
           COUNT(*)::BIGINT AS n_edges, MIN(src) AS min_node, MAX(src) AS max_node
    FROM e1
    UNION ALL
    SELECT 2, COUNT(DISTINCT src)::BIGINT, COUNT(*)::BIGINT, MIN(src), MAX(src) FROM e2
    UNION ALL
    SELECT 3, COUNT(DISTINCT src)::BIGINT, COUNT(*)::BIGINT, MIN(src), MAX(src) FROM e3
"""


# --- HITS hub/authority (quantized iterations) ----------------------------------
def hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two HITS iterations (Kleinberg 1999) over the directed
    customer→supplier purchase graph: authority(s) = Σ hub(c) over
    in-edges, hub(c) = Σ authority(s) over out-edges, max-normalized
    each half-step to integer MILLI scores (x·1000 div max — the
    repo's integer floor-division idiom, so every intermediate is
    BIGINT-exact and the oracle can unroll the same rounds as
    MATERIALIZED CTEs). Top-20 suppliers by final authority.

    100 TB: each half-step is one key-joined sum — the PageRank
    exchange shape; the edge list is checkpointed ONCE; max() is a
    scalar broadcast, never a sort. Integer headroom: scores ≤ 1000,
    so a sum is ≤ 1000·max_degree — safe to ~9e15 edges per node."""
    edges = reliable_checkpoint(
        _purchase_pairs(spark, sf_dir).select(
            F.col("o_custkey").cast("long").alias("c"),
            F.col("l_suppkey").cast("long").alias("s"),
        )
    )

    def norm(df: DataFrame, key: str, raw: str, out: str) -> DataFrame:
        mx = df.agg(F.max(raw).alias("mx"))
        return df.crossJoin(F.broadcast(mx)).select(
            key, F.expr(f"CAST({raw} * 1000 div mx AS BIGINT)").alias(out)
        )

    def auth_step(h: DataFrame) -> DataFrame:
        raw = edges.join(h, "c").groupBy("s").agg(
            F.sum("h").cast("long").alias("ar")
        )
        return norm(raw, "s", "ar", "a")

    h = edges.select("c").distinct().withColumn("h", F.lit(1000).cast("long"))
    a1 = auth_step(h)
    h1 = norm(
        edges.join(a1, "s").groupBy("c").agg(F.sum("a").cast("long").alias("hr")),
        "c",
        "hr",
        "h",
    )
    a2 = auth_step(h1)
    wr = Window.orderBy(F.desc("a"), F.asc("s"))
    return (
        a2.orderBy(F.desc("a"), F.asc("s"))
        .limit(20)
        .select(
            F.col("s").alias("s_suppkey"),
            F.col("a").alias("authority_milli"),
            F.row_number().over(wr).cast("long").alias("rank"),
        )
    )


QUERIES["hits_hub_authority"] = hits_hub_authority
ORACLES["hits_hub_authority"] = """
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    h0 AS (SELECT DISTINCT c, 1000::BIGINT AS h FROM pairs),
    a1r AS MATERIALIZED (
      SELECT s, CAST(sum(h) AS BIGINT) AS ar
      FROM pairs JOIN h0 USING (c) GROUP BY s
    ),
    a1 AS MATERIALIZED (
      SELECT s, CAST(ar * 1000 // (SELECT max(ar) FROM a1r) AS BIGINT) AS a
      FROM a1r
    ),
    h1r AS MATERIALIZED (
      SELECT c, CAST(sum(a) AS BIGINT) AS hr
      FROM pairs JOIN a1 USING (s) GROUP BY c
    ),
    h1 AS MATERIALIZED (
      SELECT c, CAST(hr * 1000 // (SELECT max(hr) FROM h1r) AS BIGINT) AS h
      FROM h1r
    ),
    a2r AS MATERIALIZED (
      SELECT s, CAST(sum(h) AS BIGINT) AS ar
      FROM pairs JOIN h1 USING (c) GROUP BY s
    ),
    a2 AS (
      SELECT s, CAST(ar * 1000 // (SELECT max(ar) FROM a2r) AS BIGINT) AS a
      FROM a2r
    )
    SELECT s AS s_suppkey, a AS authority_milli,
           CAST(row_number() OVER (ORDER BY a DESC, s ASC) AS BIGINT) AS rank
    FROM a2 ORDER BY a DESC, s ASC LIMIT 20
"""


# --- Bellman-Ford weighted shortest paths (bounded rounds) ----------------------
_BF_ROUNDS = 3


def bellman_ford_cheapest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-COST paths over the weighted purchase graph (edge weight =
    the cheapest order total in cents between a customer and a
    supplier), 3 synchronous Bellman-Ford relaxation rounds from the
    min-custkey source — the min-plus twin of bfs_shortest_hops
    (which counts hops; this minimizes summed cost, so a 3-hop cheap
    path CAN beat a 1-hop expensive edge). Top-20 reached nodes by
    (cost, node). All integer cents; the oracle unrolls the same
    rounds as MATERIALIZED CTEs, so a hash match certifies every
    relaxation.

    100 TB: each round is ``_min_round`` — ONE edge⋈dist join + one
    dst-keyed min, the PageRank exchange shape. Its self-message
    replaces a per-round full-outer merge: the self-message
    contributes d_k(v) precisely where a full outer join would
    coalesce the preserved row, and the domain — reached ∪
    newly-relaxed — is the same union the oracle's full outer join
    builds. Costs stay BIGINT (≤ rounds × max-edge-cents ≪ 2^63)."""
    c, s = _int_nodes()
    pairs = (
        _purchases(spark, sf_dir, cents("o_totalprice").alias("cents"))
        .groupBy(c.alias("c"), s.alias("s"))
        .agg(F.min("cents").cast("long").alias("w"))
    )
    edges = reliable_checkpoint(_both_ways(pairs, "w"))
    dist = (
        load_table(spark, sf_dir, "orders")
        .agg(F.min(c).alias("node"))
        .withColumn("cost", F.lit(0).cast("long"))
    )
    for _ in range(_BF_ROUNDS):
        dist = _min_round(edges, dist, F.col("cost") + F.col("w"))
    return (
        dist.orderBy("cost", "node")
        .limit(20)
        .select(
            _node_str("node").alias("node"),
            "cost",
            F.row_number()
            .over(Window.orderBy("cost", "node"))
            .cast("long")
            .alias("rank"),
        )
    )


QUERIES["bellman_ford_cheapest_hops"] = bellman_ford_cheapest_hops


def _bf_round_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS MATERIALIZED (
        SELECT coalesce(d.node, r.node2) AS node,
               least(coalesce(d.cost, 4611686018427387904),
                     coalesce(r.nc, 4611686018427387904)) AS cost
        FROM {prev} d FULL OUTER JOIN (
            SELECT e.dst AS node2, min(d2.cost + e.w) AS nc
            FROM wedges e JOIN {prev} d2 ON e.src = d2.node
            GROUP BY e.dst
        ) r ON d.node = r.node2
    )"""


ORACLES["bellman_ford_cheapest_hops"] = f"""
    WITH pairs AS MATERIALIZED (
      SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
             CAST(min(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS w
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1, 2
    ),
    wedges AS MATERIALIZED (
      SELECT c AS src, s AS dst, w FROM pairs
      UNION ALL
      SELECT s AS src, c AS dst, w FROM pairs
    ),
    d0 AS (SELECT (SELECT min(o_custkey) * 2 FROM orders) AS node, 0::BIGINT AS cost),
    {_bf_round_sql('d0', 'd1')},
    {_bf_round_sql('d1', 'd2')},
    {_bf_round_sql('d2', 'd3')}
    SELECT CASE WHEN node % 2 = 0 THEN 'C' || CAST(node // 2 AS VARCHAR)
                ELSE 'S' || CAST(node // 2 AS VARCHAR) END AS node,
           cost, rank
    FROM (
      -- rank AND cut on the INTEGER node before projecting the string
      -- form: a statement-level ORDER BY after the CASE alias would
      -- bind ties to STRING order while the window binds to the base
      -- BIGINT column — divergent tie-breaks vs the Spark side once a
      -- digit-length crossing (S9 vs S10) straddles the cutoff
      -- (review catch, reproduced in DuckDB)
      SELECT node, CAST(cost AS BIGINT) AS cost,
             CAST(row_number() OVER (ORDER BY cost, node) AS BIGINT) AS rank
      FROM d3 ORDER BY cost, node LIMIT 20
    )
    ORDER BY rank
"""


# --- Graph modularity of the nation partition -----------------------------------
#
# Newman modularity Q = Σ_c [ e_c/m − (D_c/2m)² ] of the purchase
# graph (distinct customer↔supplier edges — the same graph pagerank /
# degrees / k-core certify) under the nation partition (customers AND
# suppliers both carry nations). Fixture measured NON-degenerate
# before building (house rule): m=1444 / internal=59 at sf0.001,
# m=48518 / internal=1938 at sf0.01 — sparse (m ∝ SF) with ~4%
# internal mass. The co-supplier projection was measured OUT: it is
# the COMPLETE graph at every SF (C(n_supp, 2) edges — quadratic and
# structureless).


def graph_modularity_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation modularity contributions of the purchase graph:
    internal edge count e_c, degree mass D_c, and q_contrib_micro =
    floor((4·m·e_c − D_c²) / (4·m²) · 1e6). The division runs as ONE
    identical exactly-rounded DOUBLE sequence over exact int64 inputs
    on both engines (the repo's no-ceiling final-scalar recipe —
    products are computed in double too, so there is no int64 4·m²
    wrap to outgrow: every factor is exact and IEEE ops round
    identically).

    100 TB: the edge build is the ordinary fact⋈fact distinct (shuffle
    on orderkey, then on the pair); degrees are two groupBys; the
    per-nation rollup shuffles ≤ |nations| rows. m joins in as a
    broadcast 1-row aggregate (the only crossJoin shape the repo
    allows)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    e = (
        _purchase_pairs(spark, sf_dir)
        .select(F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk"))
        .persist()
    )
    # NOTE (r11): eager e.count() A/B'd and REJECTED (lazy min 2.47 /
    # mean 2.69 vs eager 2.77 / 3.61 interleaved) — the guaranteed
    # extra fact⋈fact pass outweighs the occasional cold-cache race
    # on this line.
    m1 = e.agg(F.count(F.lit(1)).cast("long").alias("m"))
    labeled = (
        e.join(cust, e["ck"] == cust["c_custkey"])
        .join(supp, e["sk"] == supp["s_suppkey"])
        .select("ck", "sk", "c_nationkey", "s_nationkey")
    )
    internal = (
        labeled.filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("internal_edges"))
    )
    deg_c = (
        e.groupBy("ck")
        .agg(F.count(F.lit(1)).alias("d"))
        .join(cust, F.col("ck") == cust["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.sum("d").cast("long").alias("deg"),
            F.count(F.lit(1)).cast("long").alias("n_customers"),
        )
    )
    deg_s = (
        e.groupBy("sk")
        .agg(F.count(F.lit(1)).alias("d"))
        .join(supp, F.col("sk") == supp["s_suppkey"])
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            F.sum("d").cast("long").alias("deg"),
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        )
    )
    per_nat = (
        deg_c.select(
            "nationkey", "deg", "n_customers", F.lit(0).cast("long").alias("n_suppliers")
        )
        .unionByName(
            deg_s.select(
                "nationkey",
                "deg",
                F.lit(0).cast("long").alias("n_customers"),
                "n_suppliers",
            )
        )
        .groupBy("nationkey")
        .agg(
            F.sum("deg").cast("long").alias("degree_sum"),
            F.sum("n_customers").cast("long").alias("n_customers"),
            F.sum("n_suppliers").cast("long").alias("n_suppliers"),
        )
        .join(internal, "nationkey", "left")
        .na.fill({"internal_edges": 0})
    )
    return (
        per_nat.crossJoin(F.broadcast(m1))
        .join(F.broadcast(nat), F.col("nationkey") == nat["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            "n_customers",
            "n_suppliers",
            "internal_edges",
            "degree_sum",
            F.floor(
                (
                    F.lit(4.0) * F.col("m").cast("double")
                    * F.col("internal_edges").cast("double")
                    - F.col("degree_sum").cast("double")
                    * F.col("degree_sum").cast("double")
                )
                / (
                    F.lit(4.0) * F.col("m").cast("double")
                    * F.col("m").cast("double")
                )
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("q_contrib_micro"),
        )
        .orderBy("nation")
    )


QUERIES["graph_modularity_nations"] = graph_modularity_nations
ORACLES["graph_modularity_nations"] = """
    WITH e AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), m1 AS (
      SELECT count(*)::BIGINT AS m FROM e
    ), internal AS (
      SELECT c_nationkey AS nationkey, count(*)::BIGINT AS internal_edges
      FROM e
      JOIN customer ON ck = c_custkey
      JOIN supplier ON sk = s_suppkey
      WHERE c_nationkey = s_nationkey
      GROUP BY 1
    ), deg_c AS (
      SELECT c_nationkey AS nationkey, sum(d)::BIGINT AS deg,
             count(*)::BIGINT AS n_customers
      FROM (SELECT ck, count(*)::BIGINT AS d FROM e GROUP BY ck)
      JOIN customer ON ck = c_custkey
      GROUP BY 1
    ), deg_s AS (
      SELECT s_nationkey AS nationkey, sum(d)::BIGINT AS deg,
             count(*)::BIGINT AS n_suppliers
      FROM (SELECT sk, count(*)::BIGINT AS d FROM e GROUP BY sk)
      JOIN supplier ON sk = s_suppkey
      GROUP BY 1
    ), per_nat AS (
      SELECT nationkey, sum(deg)::BIGINT AS degree_sum,
             sum(n_customers)::BIGINT AS n_customers,
             sum(n_suppliers)::BIGINT AS n_suppliers
      FROM (
        SELECT nationkey, deg, n_customers, 0::BIGINT AS n_suppliers FROM deg_c
        UNION ALL
        SELECT nationkey, deg, 0::BIGINT AS n_customers, n_suppliers FROM deg_s
      )
      GROUP BY 1
    )
    SELECT n_name AS nation, p.n_customers, p.n_suppliers,
           coalesce(i.internal_edges, 0)::BIGINT AS internal_edges,
           p.degree_sum,
           CAST(floor(
             (4.0 * (SELECT m FROM m1)::DOUBLE * coalesce(i.internal_edges, 0)::DOUBLE
              - p.degree_sum::DOUBLE * p.degree_sum::DOUBLE)
             / (4.0 * (SELECT m FROM m1)::DOUBLE * (SELECT m FROM m1)::DOUBLE)
             * 1000000.0) AS BIGINT) AS q_contrib_micro
    FROM per_nat p
    LEFT JOIN internal i USING (nationkey)
    JOIN nation ON nationkey = n_nationkey
    ORDER BY nation
"""


# --- the part co-purchase graph -------------------------------------------------
def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part pairs p1 < p2 ordered together, with ``support`` = the
    number of orders holding both — one undirected edge of the part
    co-purchase graph each."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("p1"), F.col("b.p").alias("p2"))
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )


def triangle_participation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the part co-purchase graph (parts
    ordered together in at least one order). Triangles are the basic
    community/cohesion signal — clustering coefficients, spam-graph
    detection, and feature engineering all start here.

    Scale path: DEGREE-ORDERED ORIENTATION (Schank-Wagner; MapReduce
    formulation Suri & Vassilvitskii WWW'11). Each undirected edge is
    oriented from the lower-(degree, id) endpoint to the higher, so
    every triangle is counted from exactly one wedge and the wedge
    self-join materializes sum(out_deg^2) pairs with out-degree
    bounded by O(sqrt(m)) — the hub that would explode a naive wedge
    join has huge IN-degree but small OUT-degree. The closing-edge
    probe is a semi-equi-join on (v, w). The oracle counts the same
    triangles with the naive a<b<c 3-way join — identical sets, so a
    hash match certifies the orientation trick is lossless.

    Orientation keys are packed as ``deg * 2^32 + node`` (single
    BIGINT compare in the join condition; part keys stay < 2^32 far
    past SF 1000) — no global row_number ranking, nothing driver-side.
    """
    und = _copurchase_pairs(spark, sf_dir).select(
        F.col("p1").alias("u"), F.col("p2").alias("v")
    )
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select("n", (F.col("deg") * F.lit(1 << 32) + F.col("n")).alias("rk"))
    )
    du, dv = deg.alias("du"), deg.alias("dv")
    keyed = (
        und.join(du, F.col("u") == F.col("du.n"))
        .join(dv, F.col("v") == F.col("dv.n"))
        .select("u", "v", F.col("du.rk").alias("rku"), F.col("dv.rk").alias("rkv"))
    )
    o = keyed.select(
        F.when(F.col("rku") < F.col("rkv"), F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(F.col("rku") < F.col("rkv"), F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.least("rku", "rkv").alias("rks"),
        F.greatest("rku", "rkv").alias("rkd"),
    )
    e1, e2, e3 = o.alias("e1"), o.alias("e2"), o.alias("e3")
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src")) & (F.col("e1.rkd") < F.col("e2.rkd")),
    ).select(
        F.col("e1.src").alias("x"),
        F.col("e1.dst").alias("y"),
        F.col("e2.dst").alias("z"),
    )
    tri = wedges.join(
        e3,
        (F.col("y") == F.col("e3.src")) & (F.col("z") == F.col("e3.dst")),
        "semi",
    )
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("p_partkey"))
        .groupBy("p_partkey")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )


TRIANGLE_SQL = """
WITH pe AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
), tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM pe e1
  JOIN pe e2 ON e1.v = e2.u
  JOIN pe e3 ON e3.u = e1.u AND e3.v = e2.v
), nodes AS (
  SELECT x AS p FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT p AS p_partkey, count(*) AS n_tri FROM nodes GROUP BY 1
"""

QUERIES["triangle_participation"] = triangle_participation
ORACLES["triangle_participation"] = TRIANGLE_SQL


def link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction scores on the co-purchase part graph: for the
    top-50 co-purchased part pairs (by support, key-tiebroken), the
    common-neighbor count and neighborhood Jaccard — the
    common-neighbors family (CN / Jaccard / Adamic-Adar) that powers
    'related items' at scale, in its EXACT-integer form (Jaccard in
    micro-units via BIGINT div; Adamic-Adar's per-neighbor 1/log(deg)
    is transcendental and engine-divergent, so the pinned contract is
    CN + Jaccard). Candidate-restricted end to end: the 50 candidate
    pairs broadcast into semi-joins against the adjacency list — the
    intersection work is O(deg(a) + deg(b)) per candidate, NEVER an
    all-pairs neighborhood join.

    100 TB: adjacency and degrees are edge-scaled aggregations; the
    scored pair set is bounded by the candidate list (a parameter),
    which is how production link prediction actually runs (score a
    candidate-generation output, not the n² pair space).

    50 rows: p1, p2, support, cn, deg1, deg2, jaccard_micro."""
    pairs = _copurchase_pairs(spark, sf_dir)
    cand = pairs.orderBy(
        F.col("support").desc(), F.col("p1"), F.col("p2")
    ).limit(50)
    adj = (
        pairs.select(F.col("p1").alias("p"), F.col("p2").alias("z"))
        .union(pairs.select(F.col("p2").alias("p"), F.col("p1").alias("z")))
        .distinct()
    )
    deg = adj.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    ca = F.broadcast(cand)
    # degrees restricted to candidate parts BEFORE broadcasting: the
    # full degree relation is SF-scaled (one row per distinct part) and
    # broadcasting it contradicts the candidate-restricted contract —
    # the ≤100-part candidate list is the small side
    cand_parts = F.broadcast(
        cand.select(F.col("p1").alias("p"))
        .union(cand.select(F.col("p2").alias("p")))
        .distinct()
    )
    deg_c = deg.join(cand_parts, "p")
    # r11 (guide §3.2): the p2-side of the common-neighbor equi-join is
    # SEMI-FILTERED by the broadcast candidate-part list BEFORE the
    # join — only neighborhoods of the ≤100 candidate parts reach the
    # (p2, z) exchange, instead of the whole SF-scaled adjacency (the
    # join condition p2 == p2x already implies p2x ∈ candidates, so the
    # filter drops only never-matching rows). At bench scale AQE then
    # collapses the join to a broadcast at runtime; at 100 TB the
    # shuffle is bounded by candidate-neighborhood volume either way.
    adj_c = adj.join(cand_parts, "p", "semi")
    common = (
        adj.join(ca, F.col("p") == F.col("p1"))
        .select("p1", "p2", "z")
        .join(
            adj_c.select(F.col("p").alias("p2x"), F.col("z").alias("zx")),
            (F.col("p2") == F.col("p2x")) & (F.col("z") == F.col("zx")),
        )
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    out = (
        cand.join(common, ["p1", "p2"], "left")
        .fillna(0, subset=["cn"])
        .join(
            F.broadcast(
                deg_c.withColumnRenamed("p", "p1").withColumnRenamed("deg", "deg1")
            ),
            "p1",
        )
        .join(
            F.broadcast(
                deg_c.withColumnRenamed("p", "p2").withColumnRenamed("deg", "deg2")
            ),
            "p2",
        )
    )
    return out.select(
        "p1",
        "p2",
        "support",
        "cn",
        "deg1",
        "deg2",
        F.expr("cn * 1000000 div (deg1 + deg2 - cn)").alias("jaccard_micro"),
    ).orderBy(F.col("support").desc(), "p1", "p2")


QUERIES["link_prediction_jaccard"] = link_prediction_jaccard
ORACLES["link_prediction_jaccard"] = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), pairs AS (
  SELECT a.p AS p1, b.p AS p2, count(*)::BIGINT AS support
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2
), cand AS (
  SELECT * FROM pairs ORDER BY support DESC, p1, p2 LIMIT 50
), adj AS (
  SELECT p1 AS p, p2 AS z FROM pairs
  UNION
  SELECT p2 AS p, p1 AS z FROM pairs
), deg AS (
  SELECT p, count(*)::BIGINT AS deg FROM adj GROUP BY 1
), common AS (
  SELECT c.p1, c.p2, count(*)::BIGINT AS cn
  FROM cand c
  JOIN adj x ON x.p = c.p1
  JOIN adj y ON y.p = c.p2 AND y.z = x.z
  GROUP BY 1, 2
)
SELECT c.p1, c.p2, c.support,
       COALESCE(m.cn, 0)::BIGINT AS cn,
       d1.deg AS deg1, d2.deg AS deg2,
       COALESCE(m.cn, 0) * 1000000 // (d1.deg + d2.deg - COALESCE(m.cn, 0))
         AS jaccard_micro
FROM cand c
LEFT JOIN common m ON m.p1 = c.p1 AND m.p2 = c.p2
JOIN deg d1 ON d1.p = c.p1
JOIN deg d2 ON d2.p = c.p2
ORDER BY c.support DESC, c.p1, c.p2
"""
