"""Round-9 third wave: the wide-pivot SQL surface (pinned-values
PIVOT certified against conditional aggregation), incremental
maintenance of a JOIN materialized view (the non-additive half of the
MV family — delta(A join B) algebra certified against rebuild),
integer-exact CUSUM changepoint detection per series, Merkle-style
bucket-digest table diff (anti-entropy reconciliation that reads only
differing key ranges), grid-blocked point-in-polygon containment with
integer cross-engine arithmetic, the SCD2 merge WRITE path (close +
insert, certified against rebuild-from-history), manifest-level
per-file Bloom skipping, and the 16th certified stream (watermark
late-data drop accounting across checkpointed availableNow passes).

Reference provenance: the reference pipeline (nilfredb/ETL-Extractor,
extract/*.py + main.py:97-306) materializes its star schema with
full-reload semantics only — no pivoted reporting marts, no
incremental view maintenance, no changepoint monitoring, no
reconciliation reads, no slowly-changing history. These are the
operators that surface the week its DW grows past full reloads,
built Spark-first under the repo's cross-engine conventions (integer
sufficient statistics, multiply-before-divide, pinned constants,
md5-fold hashing shared between engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_extractor_spark.functions.quantize import cents as _cents
from etl_extractor_spark.session import query_session
from etl_extractor_spark.sources.parquet import load_table

QUERIES: dict = {}
ORACLES: dict = {}


_CENTS_SQL = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


# --- 1. Wide pivot with PINNED values (the reporting-mart shape) --------------

# The synthetic orders span 1995..2001 at every SF (TESTDATA.md); the
# value list is pinned rather than discovered because discovery is the
# scale trap: groupBy().pivot(col) with no values runs an EXTRA
# distinct job over the fact table (and caps at
# spark.sql.pivotMaxValues) before the real aggregation starts.
_PIVOT_YEARS = tuple(str(y) for y in range(1995, 2002))


def pivot_wide_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation pivoted into one wide column per order year —
    the PIVOT surface of the SQL layer, certified against the
    conditional-aggregation form every engine can run. Spark's
    ``groupBy().pivot(values=...)`` compiles to exactly that
    conditional aggregation (PivotFirst over pre-aggregated partials),
    so the plan is one shuffle on the groupBy key; with pinned values
    there is no discovery pass and the column order is deterministic.

    100 TB: pivot output cardinality = |nations| rows x |years|
    columns — tiny; the only heavy stage is the pre-aggregation, which
    map-side combines per (nation, year) before the exchange. Missing
    cells surface as NULL from PIVOT and are pinned to 0 on BOTH
    engines so the wide mart is dense."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.substring(F.col("o_orderdate").cast("string"), 1, 4).alias("yr"),
        _cents("o_totalprice").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # customer is SF-scaled: no broadcast hint (plan-guard-enforced);
    # nation is a fixed 25-row dim and may hint.
    wide = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .pivot("yr", list(_PIVOT_YEARS))
        .agg(F.sum("cents"))
    )
    out = wide.select(
        "nation",
        *[
            F.coalesce(F.col(f"`{y}`"), F.lit(0)).cast("long").alias(f"y{y}")
            for y in _PIVOT_YEARS
        ],
    )
    return out.orderBy("nation")


QUERIES["pivot_wide_nation_year"] = pivot_wide_nation_year
ORACLES["pivot_wide_nation_year"] = f"""
    SELECT n_name AS nation,
           {", ".join(
               f"CAST(coalesce(sum(CASE WHEN substr(CAST(o_orderdate AS VARCHAR), 1, 4) = '{y}' "
               f"THEN {_CENTS_SQL} END), 0) AS BIGINT) AS y{y}"
               for y in _PIVOT_YEARS
           )}
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1 ORDER BY nation
"""


# --- 2. CUSUM changepoint per nation (integer-exact) ---------------------------


def cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-changepoint detection on each nation's daily-revenue
    series via the CUSUM statistic: over the ordered series x_1..x_n
    with prefix sums S_k, the change day is argmax_k |n*S_k - k*S_n|
    (the unnormalized CUSUM deviation — the k where the series' mean
    shifts). The statistic is computed in PURE INT64 (cents), so both
    engines select the identical argmax: n*S_k stays below 2^63 up to
    ~SF 10^4 per nation (n ~ 2.4k days; S_n ~ SF * 9e9 cents / nation).
    Tie-break: smallest k.

    100 TB: the fact scan aggregates to (nation, day) cardinality
    before any window — the window runs over ~2.4k rows per nation,
    partitioned by nation (25 independent series, no global sort).
    The same shape serves per-source ingest monitoring with millions
    of series: partitionBy(series) keeps every series' scan local to
    one task after the day-level rollup."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.substring(F.col("o_orderdate").cast("string"), 1, 10).alias("day"),
        _cents("o_totalprice").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        o.join(c, o.o_custkey == c.c_custkey)  # SF-scaled: AQE decides
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "day")
        .agg(F.sum("cents").alias("x"))
    )
    wseq = Window.partitionBy("nation").orderBy("day")
    wall = Window.partitionBy("nation")
    scored = (
        daily.withColumn("k", F.row_number().over(wseq))
        .withColumn("s_k", F.sum("x").over(wseq))
        .withColumn("n_days", F.count(F.lit(1)).over(wall))
        .withColumn("s_n", F.sum("x").over(wall))
        .withColumn(
            "d_abs",
            F.abs(F.col("n_days") * F.col("s_k") - F.col("k") * F.col("s_n")),
        )
    )
    wpick = Window.partitionBy("nation").orderBy(F.col("d_abs").desc(), F.col("k").asc())
    return (
        scored.withColumn("rn", F.row_number().over(wpick))
        .filter(F.col("rn") == 1)
        .select(
            "nation",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("day").alias("cp_day"),
            F.col("d_abs").cast("long").alias("cusum_dev"),
        )
        .orderBy("nation")
    )


QUERIES["cusum_changepoint_daily"] = cusum_changepoint_daily
ORACLES["cusum_changepoint_daily"] = f"""
    WITH daily AS (
      SELECT n_name AS nation,
             substr(CAST(o_orderdate AS VARCHAR), 1, 10) AS day,
             CAST(sum({_CENTS_SQL}) AS BIGINT) AS x
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    ), scored AS (
      SELECT nation, day,
             row_number() OVER w AS k,
             sum(x) OVER w AS s_k,
             count(*) OVER (PARTITION BY nation) AS n_days,
             sum(x) OVER (PARTITION BY nation) AS s_n
      FROM daily
      WINDOW w AS (PARTITION BY nation ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), dev AS (
      SELECT nation, day, k, n_days,
             abs(n_days * s_k - k * s_n) AS d_abs
      FROM scored
    ), pick AS (
      SELECT nation, day, n_days, d_abs,
             row_number() OVER (PARTITION BY nation
                                ORDER BY d_abs DESC, k ASC) AS rn
      FROM dev
    )
    SELECT nation, CAST(n_days AS BIGINT) AS n_days, day AS cp_day,
           CAST(d_abs AS BIGINT) AS cusum_dev
    FROM pick WHERE rn = 1 ORDER BY nation
"""


# --- 3. Merkle bucket-digest diff (anti-entropy reconciliation) ----------------

# Bucket count for the digest grid. Digest = SUM of per-row md5 folds
# (each in [0, 2^32)); per-bucket row count stays below 2^63 / 2^32 =
# 2^31 rows up to ~SF 10^5 at 64 buckets — and the bucket count is the
# scale knob (Cassandra/Dynamo run the same tree at depth >1).
_MERKLE_BUCKETS = 64


def merkle_range_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table reconciliation that reads ONLY differing key RANGES:
    each version aggregates to a per-range (row-count, digest)
    summary — digest = SUM of md5-fold(key:cents), order-independent
    and mergeable — and the row-level full-outer diff join is then
    restricted to ranges whose summaries differ. Rows in ranges with
    EQUAL summaries are counted as unchanged from the summary alone
    (Merkle step: equal digest + equal count => equal content, up to
    md5-sum collision). The oracle is the PLAIN full-outer diff over
    every row, so the driver hash certifies pruned == full end to end.

    Versions (deterministic fractions of the keyspace M =
    max(o_orderkey), integer arithmetic both engines): v1 = keys <=
    19M/20; v2 = v1 with keys in [15M/20, 16M/20) repriced +500
    (changes), keys in [17M/20, 18M/20) removed (deletes), and the
    keys > 19M/20 tail present (adds). Range-localized edits are the
    HONEST anti-entropy fixture — replica divergence concentrates in
    recently written ranges — and they keep the pruning fraction
    (~15% of ranges) scale-stable, where hash-bucketing would smear
    any edit pattern across every bucket.

    100 TB: stage 1 is a map-side-combined aggregation to
    2 x _MERKLE_BUCKETS summary rows; stage 2 re-reads only the
    differing ranges — with the table range-clustered on the key
    (Z-order/sort keys in the manifest layer) the re-read prunes at
    the scan (the anti-entropy repair pattern: digests ship between
    replicas, data only moves for ranges that disagree). The
    differing-range relation is joined via broadcast (<= 64 rows),
    never collected; the keyspace max joins in as a broadcast 1-row
    aggregate, never collected either."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _cents("o_totalprice").alias("cents")
    )
    mx = base.agg(F.max("o_orderkey").alias("mx"))
    keyed = base.crossJoin(F.broadcast(mx))
    in_rng = lambda lo, hi: (  # noqa: E731  — [lo*M/20, hi*M/20)
        (F.col("o_orderkey") >= F.expr(f"({lo} * mx) div 20"))
        & (F.col("o_orderkey") < F.expr(f"({hi} * mx) div 20"))
    )
    v1 = keyed.filter(F.col("o_orderkey") <= F.expr("(19 * mx) div 20")).select(
        "o_orderkey", "mx", F.col("cents").alias("c1")
    )
    v2 = keyed.filter(~in_rng(17, 18)).select(
        "o_orderkey",
        "mx",
        F.when(in_rng(15, 16), F.col("cents") + 500)
        .otherwise(F.col("cents"))
        .alias("c2"),
    )

    def fold(key: F.Column, cents: F.Column) -> F.Column:
        return F.conv(
            F.substring(
                F.md5(F.concat_ws(":", key.cast("string"), cents.cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")

    def summary(df: DataFrame, cents_col: str) -> DataFrame:
        # range bucket: floor(key / ceil((M+1)/B)) — contiguous key
        # ranges, so localized edits dirty few buckets.
        return (
            df.withColumn(
                "bucket",
                F.expr(f"o_orderkey div ((mx div {_MERKLE_BUCKETS}) + 1)"),
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(fold(F.col("o_orderkey"), F.col(cents_col))).alias("dg"),
            )
        )

    s1 = summary(v1, "c1").select("bucket", F.col("n").alias("n1"), F.col("dg").alias("dg1"))
    s2 = summary(v2, "c2").select("bucket", F.col("n").alias("n2"), F.col("dg").alias("dg2"))
    st = s1.join(s2, "bucket", "full_outer").select(
        "bucket",
        (
            F.coalesce("n1", F.lit(-1)).eqNullSafe(F.coalesce("n2", F.lit(-2)))
            & F.coalesce("dg1", F.lit(-1)).eqNullSafe(F.coalesce("dg2", F.lit(-2)))
        ).alias("eq"),
        F.coalesce("n1", F.lit(0)).alias("n1"),
    )
    # Equal buckets contribute their v1 row count as unchanged without
    # a row-level read; n1 == n2 there by the summary equality.
    unchanged_base = st.filter(F.col("eq")).agg(
        F.coalesce(F.sum("n1"), F.lit(0)).cast("long").alias("n_rows")
    ).select(F.lit("unchanged").alias("change"), "n_rows")
    diff_buckets = st.filter(~F.col("eq")).select("bucket")
    bcol = F.expr(f"o_orderkey div ((mx div {_MERKLE_BUCKETS}) + 1)")
    d1 = v1.withColumn("bucket", bcol).join(F.broadcast(diff_buckets), "bucket")
    d2 = v2.withColumn("bucket", bcol).join(F.broadcast(diff_buckets), "bucket")
    classes = (
        d1.select("o_orderkey", "c1")
        .join(d2.select("o_orderkey", "c2"), "o_orderkey", "full_outer")
        .select(
            F.when(F.col("c1").isNull(), F.lit("added"))
            .when(F.col("c2").isNull(), F.lit("deleted"))
            .when(F.col("c1") != F.col("c2"), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("change")
        )
        .groupBy("change")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    return (
        classes.unionByName(unchanged_base)
        .groupBy("change")
        .agg(F.sum("n_rows").cast("long").alias("n_rows"))
        .orderBy("change")
    )


QUERIES["merkle_range_diff"] = merkle_range_diff
ORACLES["merkle_range_diff"] = f"""
    WITH base AS (
      SELECT o_orderkey, {_CENTS_SQL} AS cents,
             (SELECT max(o_orderkey) FROM orders) AS mx
      FROM orders
    ), v1 AS (
      SELECT o_orderkey, cents AS c1 FROM base
      WHERE o_orderkey <= (19 * mx) // 20
    ), v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey >= (15 * mx) // 20
                   AND o_orderkey < (16 * mx) // 20
                  THEN cents + 500 ELSE cents END AS c2
      FROM base
      WHERE NOT (o_orderkey >= (17 * mx) // 20
                 AND o_orderkey < (18 * mx) // 20)
    ), diff AS (
      SELECT CASE WHEN c1 IS NULL THEN 'added'
                  WHEN c2 IS NULL THEN 'deleted'
                  WHEN c1 <> c2 THEN 'changed'
                  ELSE 'unchanged' END AS change
      FROM v1 FULL OUTER JOIN v2 USING (o_orderkey)
    )
    SELECT change, count(*)::BIGINT AS n_rows
    FROM diff GROUP BY change ORDER BY change
"""


# --- 4. Incremental JOIN-view maintenance (the non-additive MV half) -----------


def mv_incremental_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A JOIN materialized view (orders enriched with the customer
    dimension) maintained incrementally under deltas on BOTH sides:
    the MV is bootstrapped as O_old JOIN C_old, then a delta batch of
    new orders AND new customers lands and the view is patched with
    the exact inner-join delta algebra

        delta(O JOIN C) = dO JOIN C_full  UNION  O_old JOIN dC

    (exact because {O_old, dO} and {C_old, dC} each partition their
    table: dO x C_full covers dO x C_old and dO x dC; O_old x dC is
    the remaining term — nothing double-counts). The patch appends
    through the manifest sink; the oracle is the full O JOIN C
    rebuild, so the driver hash certifies delta maintenance == rebuild
    for the JOIN-view class, the sibling of the additive-aggregate MV
    (``mv_incremental_daily_revenue``) and the TF-IDF postings
    flagship.

    Splits (deterministic): dC = customers with c_custkey % 10 = 7
    (late dimension arrivals); dO = orders from 2001 onward.

    100 TB: both delta terms scan one delta side in full and prune
    the big side — dO JOIN C broadcasts/shuffles only new facts;
    O_old JOIN dC broadcasts the small dimension delta against the
    standing facts (at cluster scale a key index or partition-level
    bloom narrows that scan; the repo's manifest bloom layer is
    exactly that). The commit appends delta files only — the
    bootstrapped MV files are never rewritten."""
    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.sinks import manifest as MF

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.substring(F.col("o_orderdate").cast("string"), 1, 4).alias("year"),
        _cents("o_totalprice").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    dO = F.col("year") >= "2001"
    dC = F.col("c_custkey") % 10 == 7
    o_old, o_new = o.filter(~dO), o.filter(dO)
    c_old, c_new = c.filter(~dC), c.filter(dC)

    def enrich(of: DataFrame, cf: DataFrame) -> DataFrame:
        return of.join(cf, of.o_custkey == cf.c_custkey).select(
            "o_orderkey", "year", "cents", "c_mktsegment"
        )

    path = pid_scratch_dir("spark_graft_mv_join_")
    MF.write_with_manifest(
        spark, enrich(o_old, c_old), path, stats_cols=["year"], mode="overwrite"
    )
    # NO broadcast hint on c_new: the dimension delta is SF-scaled in
    # this fixture (repo policy bans hints on SF-scaled aliases); the
    # optimizer broadcasts it while its stats are small, and at
    # cluster scale the O_old x dC term is narrowed by a key index /
    # partition bloom instead (see docstring).
    delta = enrich(o_new, c).unionByName(enrich(o_old, c_new))
    MF.write_with_manifest(
        spark, delta, path, stats_cols=["year"], mode="append"
    )
    mv = MF.read_table(spark, path)
    return (
        mv.groupBy(F.col("c_mktsegment").alias("segment"), "year")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("segment", "year")
    )


QUERIES["mv_incremental_join_enrich"] = mv_incremental_join_enrich
ORACLES["mv_incremental_join_enrich"] = f"""
    SELECT c_mktsegment AS segment,
           substr(CAST(o_orderdate AS VARCHAR), 1, 4) AS year,
           count(*)::BIGINT AS n_orders,
           CAST(sum({_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2 ORDER BY segment, year
"""


# --- 5. SCD2 merge WRITE path (close + insert, certified vs rebuild) -----------

_SCD2_CHANGE_DATE = "2000-06-15"
_SCD2_BASE_DATE = "1995-01-01"


def scd2_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 WRITE path: a customer dimension with history columns
    is bootstrapped to parquet, a deterministic change batch arrives
    (keys % 7 = 3 move to a new segment; keys % 7 = 4 re-deliver
    their CURRENT segment — the no-op class), and
    ``sinks/merge.scd2_apply`` closes changed rows + inserts the new
    versions through a checkpointed overwrite. The read-back summary
    by (segment, is_current, valid_from) is certified against the
    oracle that derives the post-merge state directly from the change
    rule — rebuild-from-history, hash-for-hash. The no-op class is
    the semantic teeth: at-least-once redelivery of an already-applied
    change must create ZERO new versions (``scd2_point_in_time``
    covers the read side; this is the write side).

    100 TB: the change batch joins broadcast against current rows
    only; history rows stream through untouched. On a real lakehouse
    the overwrite is partition-scoped (sinks/merge's partition-COW);
    here the dim is small enough to rewrite whole."""
    from etl_extractor_spark.operators.checkpoints import reliable_checkpoint
    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.sinks.merge import scd2_apply

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    dim0 = c.select(
        F.col("c_custkey").alias("cust_key"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(_SCD2_BASE_DATE).alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changes = c.filter(F.col("c_custkey") % 7 == 3).select(
        F.col("c_custkey").alias("cust_key"),
        F.concat(F.lit("SEG-"), (F.col("c_custkey") % 5).cast("string")).alias(
            "segment"
        ),
    ).unionByName(
        c.filter(F.col("c_custkey") % 7 == 4).select(
            F.col("c_custkey").alias("cust_key"),
            F.col("c_mktsegment").alias("segment"),  # no-op redelivery
        )
    )
    path = pid_scratch_dir("spark_graft_scd2_")
    dim0.write.mode("overwrite").parquet(path)
    target = spark.read.parquet(path)
    merged = reliable_checkpoint(
        scd2_apply(target, changes, "cust_key", ["segment"], _SCD2_CHANGE_DATE)
    )
    merged.write.mode("overwrite").parquet(path)
    dim = spark.read.parquet(path)
    return (
        dim.groupBy("segment", "is_current", "valid_from")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .orderBy("segment", "is_current", "valid_from")
    )


QUERIES["scd2_merge_apply"] = scd2_merge_apply
ORACLES["scd2_merge_apply"] = f"""
    WITH post AS (
      -- unchanged / no-op keys: one current row, base valid_from
      SELECT c_mktsegment AS segment, TRUE AS is_current,
             '{_SCD2_BASE_DATE}' AS valid_from
      FROM customer WHERE c_custkey % 7 <> 3
      UNION ALL
      -- changed keys: the closed original version ...
      SELECT c_mktsegment, FALSE, '{_SCD2_BASE_DATE}'
      FROM customer WHERE c_custkey % 7 = 3
      UNION ALL
      -- ... plus the inserted new version
      SELECT 'SEG-' || CAST(c_custkey % 5 AS VARCHAR), TRUE,
             '{_SCD2_CHANGE_DATE}'
      FROM customer WHERE c_custkey % 7 = 3
    )
    SELECT segment, is_current, valid_from, count(*)::BIGINT AS n_rows
    FROM post GROUP BY 1, 2, 3 ORDER BY segment, is_current, valid_from
"""


# --- 6. Grid-blocked point-in-polygon containment (integer-exact) --------------

_PIP_CELL = 2048  # grid cell edge; covers the max polygon half-extent


def point_in_polygon_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial containment join without a geo library: each nation
    owns a convex quadrilateral (a diamond |x-cx|*h + |y-cy|*w <=
    w*h — all arithmetic INT64, so both engines decide containment
    identically; no transcendentals, no floats), customers project to
    deterministic md5-fold points, and the join is GRID-BLOCKED:
    polygons register in every cell their bbox overlaps (<= 16 cells
    here, guard-asserted), points land in exactly one cell, and candidate pairs exist
    only where cells match — the exact test runs on candidates alone.
    A point maps to ONE cell, so no post-join dedup is needed. The
    oracle brute-forces all nation x customer pairs (25 polygons —
    fine in SQL); Spark runs the blocked plan that scales to millions
    of polygons.

    100 TB: the polygon-cell relation is polygon-count-scaled and
    broadcasts; points shuffle at most once on cell id (or never,
    when the point table is already laid out by spatial key — the
    Z-order layer's morton keys are exactly that). Cell id uses
    truncating integer division on BOTH the point and the bbox range,
    so range coverage is monotone-consistent at negative
    coordinates."""
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"), F.col("n_name").alias("nation")
    )
    polys = n.select(
        "nk",
        "nation",
        ((F.col("nk") * 7919) % 20000 - 10000).alias("cx"),
        ((F.col("nk") * 104729) % 18000 - 9000).alias("cy"),
        (F.lit(1800) + (F.col("nk") % 7) * 150).alias("w"),
        (F.lit(1500) + (F.col("nk") % 5) * 200).alias("h"),
    )
    poly_cells = polys.select(
        "*",
        F.explode(
            F.sequence(
                F.expr(f"(cx - w) div {_PIP_CELL}"),
                F.expr(f"(cx + w) div {_PIP_CELL}"),
            )
        ).alias("cell_x"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.expr(f"(cy - h) div {_PIP_CELL}"),
                F.expr(f"(cy + h) div {_PIP_CELL}"),
            )
        ).alias("cell_y"),
    )
    fold = lambda s: F.conv(  # noqa: E731
        F.substring(F.md5(s), 1, 8), 16, 10
    ).cast("long")
    pts = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pk"),
        (fold(F.concat(F.col("c_custkey").cast("string"), F.lit(":x"))) % 20001
         - 10000).alias("px"),
        (fold(F.concat(F.col("c_custkey").cast("string"), F.lit(":y"))) % 18001
         - 9000).alias("py"),
    ).select(
        "pk", "px", "py",
        F.expr(f"px div {_PIP_CELL}").alias("cell_x"),
        F.expr(f"py div {_PIP_CELL}").alias("cell_y"),
    )
    hits = pts.join(
        F.broadcast(poly_cells), ["cell_x", "cell_y"]
    ).filter(
        F.abs(F.col("px") - F.col("cx")) * F.col("h")
        + F.abs(F.col("py") - F.col("cy")) * F.col("w")
        <= F.col("w") * F.col("h")
    )
    return (
        hits.groupBy("nation")
        .agg(F.count(F.lit(1)).cast("long").alias("n_points"))
        .orderBy("nation")
    )


QUERIES["point_in_polygon_join"] = point_in_polygon_join
ORACLES["point_in_polygon_join"] = """
    WITH polys AS (
      SELECT n_name AS nation,
             (n_nationkey * 7919) % 20000 - 10000 AS cx,
             (n_nationkey * 104729) % 18000 - 9000 AS cy,
             1800 + (n_nationkey % 7) * 150 AS w,
             1500 + (n_nationkey % 5) * 200 AS h
      FROM nation
    ), pts AS (
      SELECT c_custkey AS pk,
             (CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':x'), 1, 8))
                   AS BIGINT) % 20001) - 10000 AS px,
             (CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':y'), 1, 8))
                   AS BIGINT) % 18001) - 9000 AS py
      FROM customer
    )
    SELECT nation, count(*)::BIGINT AS n_points
    FROM polys, pts
    WHERE abs(px - cx) * h + abs(py - cy) * w <= w * h
    GROUP BY nation ORDER BY nation
"""


# --- 7. Manifest-level per-file Bloom skipping ---------------------------------


def bloom_file_skipping_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-lookup scan through the Bloom sidecar
    (``sinks/bloom.py``): orders are laid out hash-distributed on
    o_custkey across 32 files — the layout where min/max stats prune
    NOTHING (every file spans the key domain) — per-file Bloom
    filters are built with one distributed aggregation, and a
    5-key lookup reads only the files whose filters admit a key
    (~5 of 32 + false positives; the guard test pins pruning and
    zero false negatives). The real IN-filter still applies on the
    rows, so Bloom false positives cannot leak: the oracle is the
    plain full-scan filter and the driver hash certifies
    pruned-scan == full-scan.

    Lookup keys are SF-stable fractions of the dense customer
    keyspace (max/10, max/4, max/2, 3max/4, max). The max is a
    plan-time scalar (bounded single-row collect — the Bloom probe
    itself is driver-side metadata arithmetic, the
    ``bucket_pruned_lookup`` precedent).

    100 TB: build cost is one map-combinable pass per commit (do it
    in the writer); probe cost is metadata-sized. This is the
    secondary-index half of the skipping story — min/max/Z-order
    prune ranges (``manifest_time_travel``, ``zorder``), Blooms prune
    point lookups on high-cardinality hash-distributed keys."""
    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.sinks import bloom as BL

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", _cents("o_totalprice").alias("cents")
    )
    path = pid_scratch_dir("spark_graft_bloom_")
    o.repartition(32, "o_custkey").write.mode("overwrite").parquet(path)
    BL.attach_blooms(spark, path, "o_custkey")
    mx = load_table(spark, sf_dir, "customer").agg(
        F.max("c_custkey")
    ).collect()[0][0]
    keys = sorted({mx // 10, mx // 4, mx // 2, (3 * mx) // 4, mx})
    pruned = BL.read_bloom_pruned(spark, path, "o_custkey", keys)
    return (
        pruned.filter(F.col("o_custkey").isin(keys))
        .groupBy(F.col("o_custkey").alias("cust_key"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("cust_key")
    )


QUERIES["bloom_file_skipping_scan"] = bloom_file_skipping_scan
ORACLES["bloom_file_skipping_scan"] = f"""
    WITH mx AS (SELECT max(c_custkey) AS m FROM customer)
    SELECT o_custkey AS cust_key,
           count(*)::BIGINT AS n_orders,
           CAST(sum({_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM orders, mx
    WHERE o_custkey IN (m // 10, m // 4, m // 2, (3 * m) // 4, m)
    GROUP BY 1 ORDER BY cust_key
"""


# --- 8. Watermark late-data drop accounting (16th certified stream) ------------

# Pinned, replay-deterministic micro-batch mtimes (the file source
# orders by modification time; fixed constants make every replay see
# the identical batch sequence).
_LATE_MTIME0 = 1_700_000_000


def _build_late_batches(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the 3-batch late-data fixture: batch k carries the
    events of days 10k+1..10k+10, EXCEPT that every event_id % 20 == 0
    row ("straggler") is withheld until the FINAL batch — arriving
    2+ batches after its cohort, i.e. genuinely behind the watermark.
    One parquet file per batch with pinned, strictly increasing
    mtimes."""
    from etl_extractor_spark.operators.common import pid_scratch_dir

    e = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    # least(.., 2): day-31 rows would land in b=3 and be silently
    # dropped from the stream while the oracle keeps them — the pinned
    # fixture ends Jan 30, but a fixture change must not diverge.
    b = F.when(F.col("event_id") % 20 == 0, F.lit(2)).otherwise(
        F.least(F.expr("(dayofmonth(ts) - 1) div 10"), F.lit(2))
    )
    src = pid_scratch_dir("spark_graft_late_src_")
    _write_pinned_batches(
        [e.filter(b == k) for k in range(3)], src, "data"
    )
    return src


def _late_stream_agg(spark: SparkSession, src: str) -> DataFrame:
    """The watermarked tumbling aggregation over the batch-file stream
    (maxFilesPerTrigger=1 => one micro-batch per fixture batch)."""
    from etl_extractor_spark.operators.events import TS_FMT

    schema = spark.read.parquet(src + "/data-b0.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/data-*.parquet")
    )
    return (
        stream.withColumn("tsx", F.col("ts").cast("timestamp"))
        .withWatermark("tsx", "2 hours")
        .groupBy(F.window("tsx", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


def streaming_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16th certified stream: APPEND-mode watermark semantics under
    genuinely late data — which rows the engine DROPS and which
    windows it finalizes — pinned by a DuckDB oracle, so the driver
    hash certifies the late-data contract itself, not just
    convergence on clean input (every prior streaming twin replays
    data that is never late).

    The oracle encodes the micro-batch watermark rule measured on
    this engine (probe-verified, and the pytest guard re-checks the
    drop metric every run):

    - the late filter for micro-batch k uses the watermark computed
      from batches <= k-2 (max event time minus the 2 h delay) — the
      watermark in EFFECT during a batch is the one committed at the
      END of the previous batch, which itself reflects data through
      that batch's predecessor;
    - rows whose 1 h window end is <= that watermark are dropped
      (the fixture's stragglers from days 1..10; the guard asserts
      numRowsDroppedByWatermark > 0 — the fixture cannot go
      vacuous);
    - after the final no-data finalization batch, exactly the
      windows with end <= max(all event time) - 2 h are emitted; the
      held-back tail is the semantics, not an error (same class as
      ``streaming_outer_join_replay``'s null-emission rule).

    100 TB: this is the operator a production ingest pipeline runs
    FOR ITS SLOs — late-drop counts per window are the data-loss
    audit; the same plan runs against Kafka with the file source
    swapped out. State is one row per open window; the watermark
    bounds it."""
    from etl_extractor_spark.streaming import events_stream as SE

    src = _build_late_batches(spark, sf_dir)
    return SE.run_to_memory(
        _late_stream_agg(spark, src),
        output_mode="append",
        state_partitions=SE.state_partitions_for(spark, sf_dir),
    ).orderBy("window_start")


QUERIES["streaming_late_data_audit"] = streaming_late_data_audit
ORACLES["streaming_late_data_audit"] = """
    WITH e AS (
      SELECT ts, value,
             epoch_us(ts) // 3600000000 AS hr,
             CASE WHEN event_id % 20 = 0 THEN 2
                  ELSE (dayofmonth(ts) - 1) // 10 END AS b
      FROM events
    ), wm0 AS (
      SELECT max(epoch_us(ts)) - 7200000000 AS w FROM e WHERE b <= 0
    ), wmf AS (
      SELECT max(epoch_us(ts)) - 7200000000 AS w FROM e
    ), kept AS (
      SELECT hr, value FROM e, wm0
      WHERE b < 2 OR (hr + 1) * 3600000000 > wm0.w
    )
    SELECT strftime(make_timestamp(hr * 3600000000),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*)::BIGINT AS n_events,
           round(sum(value), 4) AS sum_value
    FROM kept, wmf
    WHERE (hr + 1) * 3600000000 <= wmf.w
    GROUP BY hr ORDER BY window_start
"""


# --- 9. Snapshot-aware incremental table diff (Delta-CDF analog) ---------------


def manifest_incremental_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change classes between two SNAPSHOTS of one manifest table,
    computed WITHOUT reading any shared data file: files present in
    both snapshots are byte-identical by the manifest's append-only
    contract, so the diff plans only (a) data files added since the
    base snapshot and (b) the delete files committed in between;
    the unchanged count comes from base-snapshot METADATA
    (total_rows) minus the delete-key count. This is the lakehouse
    incremental diff (Delta CDF / Iceberg changelog): cost scales
    with the CHANGE, not the table — the Merkle sibling
    (``merkle_range_diff``) solves the same problem when the two
    sides do NOT share physical files.

    Fixture: v1 = pre-2001 orders (snapshot 0); one commit deletes
    keys % 113 = 0 (pure deletes) and keys % 17 = 0 (updates:
    equality-delete + re-append at +500); one append commit adds the
    2001 tail + the repriced rows. The oracle is the plain
    full-outer diff of the two logical states; re-inserted keys
    reprice by a constant +500, so the file-level 'changed' class
    coincides with the value-level one (a byte-identical rewrite
    would need the Merkle digest layer — scoped there).

    100 TB: zero shared-file reads; the delta-file and delete-file
    scans are O(change); 'unchanged' is metadata arithmetic. The
    class join broadcasts the delete-key set (O(deletes))."""
    import os

    from etl_extractor_spark.operators.common import pid_scratch_dir, small_df
    from etl_extractor_spark.sinks import manifest as MF

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.substring(F.col("o_orderdate").cast("string"), 1, 10).alias("day"),
        _cents("o_totalprice").alias("cents"),
    )
    v1 = base.filter(F.col("day") < "2001-01-01").select("o_orderkey", "cents")
    path = pid_scratch_dir("spark_graft_incdiff_")
    MF.write_with_manifest(spark, v1, path, stats_cols=["o_orderkey"])
    del_keys = v1.filter(
        (F.col("o_orderkey") % 113 == 0) | (F.col("o_orderkey") % 17 == 0)
    ).select("o_orderkey")
    MF.write_equality_deletes(spark, path, del_keys)
    appends = base.filter(F.col("day") >= "2001-01-01").select(
        "o_orderkey", "cents"
    ).unionByName(
        v1.filter(F.col("o_orderkey") % 17 == 0).select(
            "o_orderkey", (F.col("cents") + 500).alias("cents")
        )
    )
    MF.write_with_manifest(
        spark, appends, path, stats_cols=["o_orderkey"], mode="append"
    )

    m = MF.read_manifest(path)
    snaps = m["snapshots"]
    s0, cur = snaps[0], snaps[-1]
    shared = set(s0["files"])
    new_files = [f for f in cur["files"] if f not in shared]
    new_rows = spark.read.parquet(
        *[os.path.join(path, f) for f in new_files]
    ).select("o_orderkey")
    by_name = {d["name"]: d for d in m.get("delete_files", [])}
    dk = None
    for name in cur.get("delete_files", []):
        part = MF.read_delete_file(spark, path, by_name[name])
        dk = part if dk is None else dk.unionByName(part)
    if dk is None:  # append-only change set: no delete files committed
        dk = spark.createDataFrame([], "o_orderkey long")
    dk = dk.distinct()
    n_deleted_keys = dk.count()  # bounded: O(deletes) metadata scale
    changed = new_rows.join(F.broadcast(dk), "o_orderkey", "left_semi")
    added = new_rows.join(F.broadcast(dk), "o_orderkey", "left_anti")
    deleted = dk.join(F.broadcast(changed.distinct()), "o_orderkey", "left_anti")
    unchanged_n = s0["total_rows"] - n_deleted_keys  # pure metadata
    counts = (
        added.select(F.lit("added").alias("change"))
        .unionByName(changed.select(F.lit("changed").alias("change")))
        .unionByName(deleted.select(F.lit("deleted").alias("change")))
        .groupBy("change")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .unionByName(
            small_df(
                spark, [("unchanged", unchanged_n)], "change string, n_rows long"
            )
        )
    )
    return counts.orderBy("change")


QUERIES["manifest_incremental_diff"] = manifest_incremental_diff
ORACLES["manifest_incremental_diff"] = f"""
    WITH base AS (
      SELECT o_orderkey,
             substr(CAST(o_orderdate AS VARCHAR), 1, 10) AS day,
             {_CENTS_SQL} AS cents
      FROM orders
    ), v1 AS (
      SELECT o_orderkey, cents AS c1 FROM base WHERE day < '2001-01-01'
    ), v2 AS (
      SELECT o_orderkey,
             CASE WHEN day < '2001-01-01' AND o_orderkey % 17 = 0
                  THEN cents + 500 ELSE cents END AS c2
      FROM base
      WHERE day >= '2001-01-01'
         OR (o_orderkey % 113 <> 0 OR o_orderkey % 17 = 0)
    ), diff AS (
      SELECT CASE WHEN c1 IS NULL THEN 'added'
                  WHEN c2 IS NULL THEN 'deleted'
                  WHEN c1 <> c2 THEN 'changed'
                  ELSE 'unchanged' END AS change
      FROM v1 FULL OUTER JOIN v2 USING (o_orderkey)
    )
    SELECT change, count(*)::BIGINT AS n_rows
    FROM diff GROUP BY change ORDER BY change
"""


# --- 10. Multinomial Naive Bayes document classifier ----------------------------

# Laplace-smoothed multinomial NB in integer micro-nat log space: the
# per-(class, word) weight floor(ln((n_cw + 1)/(n_c + V)) * 1e6) is the
# module-standard treatment of transcendental terms (see
# pipeline_ops6._col_entropy: flip odds ~1e-9/term); sums of weights x
# counts are exact int64 (|weight| < 2e7, doc token counts ~200 =>
# |score| < 4e9 per doc, no overflow at any SF).


def naive_bayes_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/score a multinomial Naive Bayes lang classifier on the
    documents table and emit the CONFUSION MATRIX (true x predicted
    counts) over the held-out quarter — the standard text-pipeline
    baseline classifier, expressed as three joins and an argmax
    window, no UDFs. Split is the repo's md5 bucket (doc_id % 4 = 0
    held out). The oracle re-derives the identical chain (token
    explode, Laplace weights, integer log-space argmax) in SQL, so
    the driver hash certifies train AND inference end to end.

    Fixture honesty: the synthetic corpus draws all langs from ONE
    vocabulary with mildly lang-biased frequencies (measured
    per-mille spreads of ~10-30%), so accuracy lands near the
    majority prior (~40-50%) — the row certifies the classifier
    MECHANICS exactly; discrimination is a property of real corpora.
    The guard test measures and pins that honesty bound.

    100 TB: training is one map-combined count per (lang, word);
    weights are vocab x classes and broadcast; scoring shuffles
    (doc, lang) partial scores — linear, no driver data paths, and
    the argmax is a 5-row-per-doc window."""
    from etl_extractor_spark.plans.pipeline_ops7 import _md5_bucket_col

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    d = d.withColumn("is_test", _md5_bucket_col(F.col("doc_id"), 4) == 0)
    tok = d.select(
        "doc_id",
        "lang",
        "is_test",
        F.explode(F.split(F.col("text"), " ")).alias("w"),
    ).filter(F.col("w") != "")

    train = tok.filter(~F.col("is_test"))
    cw = train.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("n_cw"))
    ctot = train.groupBy("lang").agg(F.count(F.lit(1)).alias("n_c"))
    vocab_n = train.select(F.countDistinct("w").alias("v"))
    langs = ctot.select("lang")
    # document priors from the TRAIN docs
    dprior = (
        d.filter(~F.col("is_test"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("d_c"))
        .crossJoin(
            F.broadcast(
                d.filter(~F.col("is_test")).agg(F.count(F.lit(1)).alias("d_n"))
            )
        )
        .select(
            "lang",
            F.floor(
                F.log(F.col("d_c").cast("double") / F.col("d_n").cast("double"))
                * 1e6
            )
            .cast("long")
            .alias("prior_w"),
        )
    )
    wts = (
        cw.join(ctot, "lang")
        .crossJoin(F.broadcast(vocab_n))
        .select(
            "lang",
            "w",
            F.floor(
                F.log(
                    (F.col("n_cw") + 1).cast("double")
                    / (F.col("n_c") + F.col("v")).cast("double")
                )
                * 1e6
            )
            .cast("long")
            .alias("wt"),
        )
    )
    oov = (
        ctot.crossJoin(F.broadcast(vocab_n))
        .select(
            "lang",
            F.floor(
                F.log(
                    F.lit(1.0) / (F.col("n_c") + F.col("v")).cast("double")
                )
                * 1e6
            )
            .cast("long")
            .alias("oov_w"),
        )
    )
    test_tok = (
        tok.filter(F.col("is_test"))
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    scored = (
        test_tok.crossJoin(F.broadcast(langs))
        .join(F.broadcast(wts), ["lang", "w"], "left")
        .join(F.broadcast(oov), "lang")
        .groupBy("doc_id", "true_lang", "lang")
        .agg(
            F.sum(
                F.col("c") * F.coalesce(F.col("wt"), F.col("oov_w"))
            ).alias("tok_score")
        )
        .join(F.broadcast(dprior), "lang")
        .select(
            "doc_id",
            "true_lang",
            "lang",
            (F.col("tok_score") + F.col("prior_w")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang").asc()
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("true_lang", F.col("lang").alias("pred_lang"))
    )
    return (
        pred.groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


QUERIES["naive_bayes_lang_confusion"] = naive_bayes_lang_confusion

def _nb_oracle() -> str:
    from etl_extractor_spark.plans.pipeline_ops7 import _md5_bucket_sql

    bucket = _md5_bucket_sql("doc_id", 4)
    return f"""
    WITH d AS (
      SELECT doc_id, text, lang, ({bucket}) = 0 AS is_test FROM documents
    ), tok AS (
      SELECT doc_id, lang, is_test, w
      FROM (SELECT doc_id, lang, is_test,
                   unnest(string_split(text, ' ')) AS w FROM d)
      WHERE w <> ''
    ), train AS (SELECT * FROM tok WHERE NOT is_test),
    cw AS (SELECT lang, w, count(*)::BIGINT AS n_cw FROM train GROUP BY 1, 2),
    ctot AS (SELECT lang, count(*)::BIGINT AS n_c FROM train GROUP BY 1),
    vocab AS (SELECT count(DISTINCT w)::BIGINT AS v FROM train),
    dprior AS (
      SELECT lang,
             CAST(floor(ln(CAST(count(*) AS DOUBLE)
                  / CAST((SELECT count(*) FROM d WHERE NOT is_test) AS DOUBLE))
                  * 1e6) AS BIGINT) AS prior_w
      FROM d WHERE NOT is_test GROUP BY lang
    ), wts AS (
      SELECT lang, w,
             CAST(floor(ln(CAST(n_cw + 1 AS DOUBLE)
                  / CAST(n_c + v AS DOUBLE)) * 1e6) AS BIGINT) AS wt
      FROM cw JOIN ctot USING (lang), vocab
    ), oov AS (
      SELECT lang,
             CAST(floor(ln(1.0 / CAST(n_c + v AS DOUBLE)) * 1e6) AS BIGINT)
               AS oov_w
      FROM ctot, vocab
    ), test_tok AS (
      SELECT doc_id, lang AS true_lang, w, count(*)::BIGINT AS c
      FROM tok WHERE is_test GROUP BY 1, 2, 3
    ), scored AS (
      SELECT t.doc_id, t.true_lang, l.lang,
             sum(t.c * coalesce(wts.wt, oov.oov_w)) + any_value(dp.prior_w)
               AS score
      FROM test_tok t
      CROSS JOIN (SELECT lang FROM ctot) l
      LEFT JOIN wts ON wts.lang = l.lang AND wts.w = t.w
      JOIN oov ON oov.lang = l.lang
      JOIN dprior dp ON dp.lang = l.lang
      GROUP BY 1, 2, 3
    ), pred AS (
      SELECT true_lang, lang AS pred_lang,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang ASC) AS rn
      FROM scored
    )
    SELECT true_lang, pred_lang, count(*)::BIGINT AS n_docs
    FROM pred WHERE rn = 1
    GROUP BY 1, 2 ORDER BY true_lang, pred_lang
    """


ORACLES["naive_bayes_lang_confusion"] = _nb_oracle()


# --- 11. Largest-remainder stratified allocation --------------------------------


def largest_remainder_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified budget allocation by the largest-remainder
    method (Hamilton's): a global train budget B = (8N) div 10 is
    split across language strata proportionally — base quota
    (n_s * B) div N per stratum, then the leftover R = B - sum(base)
    goes to the R strata with the largest remainders ((n_s * B) mod
    N; ties by lang ascending). The allocations sum EXACTLY to B with
    every quota within 1 of proportional — the property naive
    per-stratum rounding lacks. All arithmetic is int64
    (n_s * B <= N^2, safe to ~SF 10^3 on this corpus; beyond that the
    products move to DECIMAL like the module's other wide sums).

    100 TB: one count per stratum, then window arithmetic over
    |strata| rows — metadata scale. The companion membership draw is
    the md5-rank sample the repo already certifies
    (orders_sample_hash_det); this query certifies the QUOTAS."""
    d = load_table(spark, sf_dir, "documents").select("lang")
    strata = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = strata.agg(
        F.sum("n_docs").alias("n_total"),
    ).select("n_total", F.expr("(8 * n_total) div 10").alias("budget"))
    s = strata.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.expr("(n_docs * budget) div n_total").alias("base"),
        F.expr("(n_docs * budget) % n_total").alias("rem"),
        "budget",
    )
    wsum = Window.partitionBy(F.lit(1))
    wrank = Window.partitionBy(F.lit(1)).orderBy(
        F.col("rem").desc(), F.col("lang").asc()
    )
    out = (
        s.withColumn("leftover", F.col("budget") - F.sum("base").over(wsum))
        .withColumn("rk", F.row_number().over(wrank))
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("alloc_train"),
        )
    )
    return out.orderBy("lang")


QUERIES["largest_remainder_split"] = largest_remainder_split
ORACLES["largest_remainder_split"] = """
    WITH strata AS (
      SELECT lang, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1
    ), tot AS (
      SELECT sum(n_docs)::BIGINT AS n_total,
             (8 * sum(n_docs)::BIGINT) // 10 AS budget
      FROM strata
    ), s AS (
      SELECT lang, n_docs,
             (n_docs * budget) // n_total AS base,
             (n_docs * budget) % n_total AS rem,
             budget
      FROM strata, tot
    ), r AS (
      SELECT *,
             budget - sum(base) OVER () AS leftover,
             row_number() OVER (ORDER BY rem DESC, lang ASC) AS rk
      FROM s
    )
    SELECT lang, n_docs,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS alloc_train
    FROM r ORDER BY lang
"""


# --- 12. Time-weighted average (step-function TWAP) ------------------------------


def _ntz_us(c):
    from etl_extractor_spark.functions.dates import ntz_epoch_micros

    return ntz_epoch_micros(c)


def time_weighted_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of the event value stream: the
    value holds from each event until the next (step function), so
    TWAP = sum(v_i * dt_i) / sum(dt_i) over consecutive-event gaps.
    Exactness: values quantize to e4 units via the floor(x*1e4 + 0.5)
    half-up recipe, gaps are integer microseconds from the NTZ wall
    clock (timestampdiff against the NTZ epoch — no session-zone
    term anywhere), the num/den sums are exact int64
    (max |v_e4| * 30 days-in-us ~ 2.6e16 per user), and the readout
    is the one-identical-floor(double) final-scalar recipe. Ties on
    ts order by event_id, pinned on both engines.

    100 TB: one shuffle (window by user), per-user state is a lead()
    frame — the same shape as the certified sessionize/asof family;
    single-event users have no gap and are excluded identically by
    HAVING den > 0."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        _ntz_us("ts").alias("us"),
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias("v_e4"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    g = e.withColumn("nxt", F.lead("us").over(w)).filter(
        F.col("nxt").isNotNull()
    )
    return (
        g.groupBy("user_id")
        .agg(
            (F.count(F.lit(1)) + 1).cast("long").alias("n_events"),
            F.sum(F.col("nxt") - F.col("us")).cast("long").alias("span_us"),
            F.sum((F.col("nxt") - F.col("us")) * F.col("v_e4")).alias("num"),
        )
        .filter(F.col("span_us") > 0)
        .select(
            "user_id",
            "n_events",
            "span_us",
            F.floor(
                F.col("num").cast("double") / F.col("span_us").cast("double")
            )
            .cast("long")
            .alias("twap_e4"),
        )
        .orderBy("user_id")
    )


QUERIES["time_weighted_avg_value"] = time_weighted_avg_value
ORACLES["time_weighted_avg_value"] = """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_e4
      FROM events
    ), g AS (
      SELECT user_id, us, v_e4,
             lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nxt
      FROM e
    )
    SELECT user_id,
           (count(*) + 1)::BIGINT AS n_events,
           CAST(sum(nxt - us) AS BIGINT) AS span_us,
           CAST(floor(CAST(sum((nxt - us) * v_e4) AS DOUBLE)
                / CAST(sum(nxt - us) AS DOUBLE)) AS BIGINT) AS twap_e4
    FROM g WHERE nxt IS NOT NULL
    GROUP BY user_id
    HAVING sum(nxt - us) > 0
    ORDER BY user_id
"""


# --- 13. CSV corrupt-record quarantine (PERMISSIVE + DLQ accounting) ------------


def csv_quarantine_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input quarantine — the ingest-robustness contract the
    reference's extractors lack (extract/extract_csv.py:4-9 would
    crash or silently coerce): a CSV export of orders is corrupted
    deterministically (keys % 23 = 0 carry a non-numeric amount;
    keys % 31 = 0 lose their last field), read back PERMISSIVE with
    ``columnNameOfCorruptRecord``, and every row is routed to exactly
    one class — clean (aggregated), bad_number, truncated — with
    counts and the clean-side revenue certified against the oracle
    that re-derives the classes from the corruption rule itself
    (probe-pinned semantics: type-cast failure AND token-count
    mismatch both flag the corrupt column; short rows keep their
    parsed prefix).

    100 TB: the classify-and-route pass is map-only (one scan, no
    shuffle before the class rollup); the quarantine write would be a
    partitioned-by-class sink of the same frame — a second map-only
    branch. Classification reads the RAW line from the corrupt
    column, so no re-parse pass is needed."""
    import os

    from etl_extractor_spark.operators.common import pid_scratch_dir
    from pyspark.sql import types as T

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.substring(F.col("o_orderdate").cast("string"), 1, 10).alias("day"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias("amt"),
    )
    lines = o.select(
        F.when(
            F.col("o_orderkey") % 31 == 0,
            F.concat_ws(",", "o_orderkey", "day"),  # truncated: field lost
        )
        .when(
            F.col("o_orderkey") % 23 == 0,
            F.concat_ws(",", "o_orderkey", "day", F.lit("N/A")),  # bad number
        )
        .otherwise(F.concat_ws(",", "o_orderkey", "day", "amt"))
        .alias("value")
    )
    path = pid_scratch_dir("spark_graft_quarantine_")
    lines.write.mode("overwrite").text(path)

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("day", T.StringType()),
            T.StructField("amt", T.DecimalType(18, 2)),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    # Projection-robust classifier: whether a short row raises the
    # corrupt flag depends on CSV column pruning (measured: with the
    # final aggregate referencing only class+cents, Spark prunes and a
    # 2-token row parses as (prefix, null) with a NULL corrupt column;
    # a full-row materialization flags it). Both parses are covered:
    # a flagged N/A suffix is bad_number, any other flag is truncated,
    # and an unflagged NULL amount can only be a truncated row (every
    # order carries a price).
    classed = raw.select(
        F.when(
            F.col("_corrupt_record").isNotNull()
            & F.col("_corrupt_record").endswith(",N/A"),
            F.lit("bad_number"),
        )
        .when(F.col("_corrupt_record").isNotNull(), F.lit("truncated"))
        .when(F.col("amt").isNull(), F.lit("truncated"))
        .otherwise(F.lit("clean"))
        .alias("class"),
        (F.col("amt") * 100).cast("long").alias("cents"),
    )
    return (
        classed.groupBy("class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("cents"),
        )
        .orderBy("class")
    )


QUERIES["csv_quarantine_scan"] = csv_quarantine_scan
ORACLES["csv_quarantine_scan"] = f"""
    SELECT CASE WHEN o_orderkey % 31 = 0 THEN 'truncated'
                WHEN o_orderkey % 23 = 0 THEN 'bad_number'
                ELSE 'clean' END AS class,
           count(*)::BIGINT AS n_rows,
           CAST(coalesce(sum(CASE WHEN o_orderkey % 31 <> 0
                                   AND o_orderkey % 23 <> 0
                                  THEN {_CENTS_SQL} END), 0) AS BIGINT)
             AS cents
    FROM orders
    GROUP BY 1 ORDER BY class
"""


# --- 14. Golden-record survivorship (MDM merge) ----------------------------------


def golden_record_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Master-data survivorship: each customer arrives as 1-3 source
    records (key % 3 + 1 of them) with deterministically missing
    fields (record r blanks the name when (key + r) % 2 = 0 and the
    balance when (key + r) % 3 = 0), and the golden record takes, per FIELD,
    the value from the latest record that has one —
    ``max_by(value, r) FILTER (value IS NOT NULL)``, the
    latest-non-null-wins rule every MDM merge starts from. The
    readout aggregates golden records per nation (how many names
    survived, summed balances), certified against the oracle that
    re-derives survivorship from the blanking rule.

    100 TB: survivorship is ONE groupBy(cluster) with max_by
    aggregates — map-side combinable, no window, no self-join; the
    record explosion is a generator on the dimension. Pairs with the
    dedup/ER suite: clusters come from `dedup_clusters` /
    `editdist_name_join` upstream, survivorship is the merge step
    downstream."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_name",
        _cents("c_acctbal").alias("bal_cents"),
    )
    recs = c.select(
        "*",
        F.explode(
            F.sequence(F.lit(0), (F.col("c_custkey") % 3).cast("int"))
        ).alias("r"),
    ).select(
        "c_custkey",
        "c_nationkey",
        "r",
        F.when((F.col("c_custkey") + F.col("r")) % 2 != 0, F.col("c_name")).alias(
            "name"
        ),
        F.when(
            (F.col("c_custkey") + F.col("r")) % 3 != 0, F.col("bal_cents")
        ).alias("bal"),
    )
    golden = recs.groupBy("c_custkey", "c_nationkey").agg(
        F.expr("max_by(name, CASE WHEN name IS NOT NULL THEN r END)").alias(
            "name"
        ),
        F.expr("max_by(bal, CASE WHEN bal IS NOT NULL THEN r END)").alias("bal"),
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        golden.join(F.broadcast(n), golden.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.count("name").cast("long").alias("n_name_filled"),
            F.coalesce(F.sum("bal"), F.lit(0)).cast("long").alias("bal_cents"),
        )
        .orderBy("nation")
    )


QUERIES["golden_record_survivorship"] = golden_record_survivorship
ORACLES["golden_record_survivorship"] = """
    WITH recs AS (
      SELECT c_custkey, c_nationkey, r,
             CASE WHEN (c_custkey + r) % 2 <> 0 THEN c_name END AS name,
             CASE WHEN (c_custkey + r) % 3 <> 0
                  THEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
             END AS bal
      FROM customer,
           LATERAL (SELECT unnest(generate_series(0, CAST(c_custkey % 3 AS INT))) AS r)
    ), golden AS (
      SELECT c_custkey, c_nationkey,
             max_by(name, r) FILTER (name IS NOT NULL) AS name,
             max_by(bal, r) FILTER (bal IS NOT NULL) AS bal
      FROM recs GROUP BY 1, 2
    )
    SELECT n_name AS nation,
           count(*)::BIGINT AS n_customers,
           count(name)::BIGINT AS n_name_filled,
           CAST(coalesce(sum(bal), 0) AS BIGINT) AS bal_cents
    FROM golden JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1 ORDER BY nation
"""


# Shared CDC fixture (waves 9/10): ONE definition of the delete/update
# predicates and signed-delta projections — the batch MV, the streaming
# MV and the shared oracle must agree on the rule or they silently
# diverge (review catch: first cut copy-pasted them).
_CDC_DEL_MOD = 113
_CDC_UPD_MOD = 17
_CDC_REPRICE = 500


def _cdc_is_del() -> F.Column:
    return F.col("o_orderkey") % _CDC_DEL_MOD == 0


def _cdc_is_upd() -> F.Column:
    return (F.col("o_orderkey") % _CDC_UPD_MOD == 0) & ~_cdc_is_del()


def _cdc_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.substring(F.col("o_orderdate").cast("string"), 1, 10).alias("day"),
        _cents("o_totalprice").alias("cents"),
    )


def _cdc_signed_deltas(o: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(deletes, updates, inserts) as (day, dn, dc) signed-delta rows;
    deletes/updates hit pre-2001 facts, inserts are the 2001 tail."""
    pre = F.col("day") < "2001-01-01"
    deletes = o.filter(pre & _cdc_is_del()).select(
        "day", F.lit(-1).alias("dn"), (-F.col("cents")).alias("dc")
    )
    updates = o.filter(pre & _cdc_is_upd()).select(
        "day", F.lit(0).alias("dn"), F.lit(_CDC_REPRICE).alias("dc")  # after - before
    )
    inserts = o.filter(~pre).select(
        "day", F.lit(1).alias("dn"), F.col("cents").alias("dc")
    )
    return deletes, updates, inserts


def _write_pinned_batches(batches, src_dir: str, stem: str) -> None:
    """One single-file parquet per batch with pinned, strictly
    increasing mtimes (the replay-deterministic micro-batch fixture —
    shared with _build_late_batches' discipline)."""
    import glob
    import os
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    os.makedirs(src_dir, exist_ok=True)

    # The per-batch writes are independent single-file jobs that each
    # re-scan the source with a different filter; submitted serially
    # they pay job latency × n_batches. Submit them from a small
    # thread pool so the jobs overlap (guide §2.6) — the pinned-mtime
    # publication below stays sequential in the main thread, so batch
    # ordering semantics are unchanged.
    def _write_one(kb):
        k, b = kb
        tmp = os.path.join(src_dir, f"_tmp_b{k}")
        b.coalesce(1).write.parquet(tmp)
        return tmp

    # try/finally sweeps every _tmp_b* dir even when one pooled write
    # raises (advice r10: pool.map propagates the first failure and
    # the other threads' temp dirs were left in src_dir otherwise).
    try:
        with ThreadPoolExecutor(
            max_workers=min(4, max(1, len(batches)))
        ) as pool:
            tmps = list(pool.map(_write_one, enumerate(batches)))
        for k, tmp in enumerate(tmps):
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            dst = os.path.join(src_dir, f"{stem}-b{k}.parquet")
            shutil.copy(part, dst)
            os.utime(dst, (_LATE_MTIME0 + 60 * k, _LATE_MTIME0 + 60 * k))
    finally:
        for k in range(len(batches)):
            shutil.rmtree(
                os.path.join(src_dir, f"_tmp_b{k}"), ignore_errors=True
            )


# --- 15. Retraction-based MV maintenance (the third MV class) -------------------


def mv_cdc_signed_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate maintenance under a FULL CDC batch —
    inserts, updates AND deletes — via signed deltas from
    before/after images (the Debezium envelope): each delete
    contributes (-1, -cents) at its old day, each update
    (0, after - before), each insert (+1, +cents); the day-level
    partials merge into the stored MV and days whose count reaches
    zero DROP OUT, matching the rebuild exactly. Completes the MV
    trilogy: additive inserts (``mv_incremental_daily_revenue``),
    join views (``mv_incremental_join_enrich``), and now retractions
    — the class a CDC-fed warehouse actually needs, since updates
    and deletes cannot be expressed as append-only partials.

    CDC fixture (deterministic, disjoint): pre-2001 keys % 113 = 0
    are deleted; % 17 = 0 (and not % 113) are repriced +500 on the
    same day; the 2001 tail arrives as inserts. The oracle rebuilds
    the final logical state from the same rule — hash certifies
    maintenance == rebuild without ever rescanning base facts: the
    maintenance pass reads the CDC batch + the day-cardinality MV
    only.

    100 TB: delta volume is O(changes), merge shuffles MV-cardinality
    rows; checkpoint-before-overwrite barrier as in the sibling MVs.
    The n > 0 filter is the retraction subtlety: SUM-maintainable
    aggregates need the count column to know when a group dies
    (MIN/MAX would need a full per-group recompute on delete — the
    documented boundary of signed-delta maintenance)."""
    from etl_extractor_spark.operators.checkpoints import reliable_checkpoint
    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.sinks import manifest as MF

    o = _cdc_orders(spark, sf_dir)
    base = o.filter(F.col("day") < "2001-01-01")

    def day_agg(df: DataFrame) -> DataFrame:
        return df.groupBy("day").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )

    path = pid_scratch_dir("spark_graft_mv_cdc_")
    MF.write_with_manifest(spark, day_agg(base), path, stats_cols=["day"])

    deletes, updates, inserts = _cdc_signed_deltas(o)
    partials = (
        deletes.unionByName(updates)
        .unionByName(inserts)
        .groupBy("day")
        .agg(F.sum("dn").alias("n_orders"), F.sum("dc").alias("revenue_cents"))
    )
    merged = reliable_checkpoint(
        MF.read_table(spark, path)
        .unionByName(partials)
        .groupBy("day")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
        )
        .filter(F.col("n_orders") > 0)  # retraction: dead groups drop out
    )
    MF.write_with_manifest(spark, merged, path, stats_cols=["day"])
    mv = MF.read_table(spark, path)
    return (
        mv.groupBy(F.substring("day", 1, 4).alias("year"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("year")
    )


QUERIES["mv_cdc_signed_delta"] = mv_cdc_signed_delta
ORACLES["mv_cdc_signed_delta"] = f"""
    WITH o AS (
      SELECT o_orderkey,
             substr(CAST(o_orderdate AS VARCHAR), 1, 10) AS day,
             {_CENTS_SQL} AS cents
      FROM orders
    ), final AS (
      SELECT day,
             CASE WHEN day < '2001-01-01'
                   AND o_orderkey % 17 = 0 AND o_orderkey % 113 <> 0
                  THEN cents + 500 ELSE cents END AS cents
      FROM o
      WHERE day >= '2001-01-01'
         OR o_orderkey % 113 <> 0
    ), mv AS (
      SELECT day, count(*)::BIGINT AS n_orders,
             CAST(sum(cents) AS BIGINT) AS revenue_cents
      FROM final GROUP BY 1
    )
    SELECT substr(day, 1, 4) AS year,
           count(*)::BIGINT AS n_days,
           CAST(sum(n_orders) AS BIGINT) AS n_orders,
           CAST(sum(revenue_cents) AS BIGINT) AS revenue_cents
    FROM mv GROUP BY 1 ORDER BY year
"""


# --- 16. Clamped running balance via the reflection identity --------------------


def inventory_running_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inventory balance with a floor at zero:
    b_t = max(0, b_{t-1} + d_t) — the recurrence that LOOKS
    inherently sequential (each step's clamp depends on the previous
    balance) and is why naive ports reach for per-key Python loops.
    The REFLECTION IDENTITY makes it two window functions:

        b_t = S_t - min(0, min_{k<=t} S_k)

    (S = running sum of raw deltas; subtracting the running minimum
    replays every clamp at once). Both engines compute the identical
    int64 windows, and the pytest guard proves the identity against
    the literal Python recurrence event by event.

    Deltas (integer e2 units, half-up): purchases stock up (+value),
    every other event type draws down a quarter — mixed sign, so
    clamps actually fire (guard asserts so).

    100 TB: two stacked windows over the same (user, ts) ordering —
    ONE shuffle, no UDF, no per-key sequential loop; the identity is
    what turns an applyInPandas class into whole-stage codegen."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        _ntz_us("ts").alias("us"),
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
        )
        .otherwise(
            -F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT) div 4")
        )
        .alias("d"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wseq = Window.partitionBy("user_id").orderBy("us", "event_id")
    scanned = (
        e.withColumn("s", F.sum("d").over(w))
        .withColumn("m", F.least(F.lit(0), F.min("s").over(w)))
        .withColumn("rn", F.row_number().over(wseq))
    )
    bal = scanned.withColumn("b", F.col("s") - F.col("m"))
    return (
        bal.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.expr("max_by(b, rn)").cast("long").alias("final_balance"),
            F.max("b").cast("long").alias("peak_balance"),
            F.sum(F.when(F.col("b") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_zero_touches"),
        )
        .orderBy("user_id")
    )


QUERIES["inventory_running_clamp"] = inventory_running_clamp
ORACLES["inventory_running_clamp"] = """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                  ELSE -(CAST(floor(value * 100 + 0.5) AS BIGINT) // 4)
             END AS d
      FROM events
    ), sums AS (
      SELECT user_id, us, event_id,
             sum(d) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS s
      FROM e
    ), scanned AS (
      SELECT user_id, us, event_id, s,
             least(0, min(s) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW)) AS m
      FROM sums
    ), bal AS (
      SELECT user_id, s - m AS b,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY us, event_id) AS rn
      FROM scanned
    )
    SELECT user_id,
           count(*)::BIGINT AS n_events,
           CAST(max_by(b, rn) AS BIGINT) AS final_balance,
           CAST(max(b) AS BIGINT) AS peak_balance,
           CAST(sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero_touches
    FROM bal GROUP BY user_id ORDER BY user_id
"""


# --- 17. Monotonic timestamp repair (the second window-expressible recurrence) --

# Device clock skew: reported ts = true ts + md5-derived jitter in
# [-12 h, +12 h] (both endpoints attainable: fold % (86400e6 + 1)
# spans [0, 86400e6] inclusive) — wide enough that consecutive events
# (hours apart on this fixture) genuinely invert, so the repair path
# is exercised.
_TS_JITTER_MOD = 86_400_000_001
_TS_JITTER_HALF = 43_200_000_000


def monotonic_ts_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order event-time repair: along the INGEST order, make
    reported timestamps strictly increasing —
    repaired_t = max(reported_t, repaired_{t-1} + 1 us), the cleanup
    every ingest pipeline runs on device-clock-skewed streams. Like
    the clamp recurrence (``inventory_running_clamp``), it LOOKS
    sequential and is window-expressible by closed form:

        repaired_t = rn_t + max_{k<=t}(reported_k - rn_k)

    (each event pays one 1-us step per position since the running-max
    holder). Both engines compute identical int64 windows; the guard
    proves the closed form against the literal recurrence and that
    repairs actually fire.

    100 TB: one shuffle (window by user over ingest order), no UDF —
    same cost shape as sessionize. The repaired stream is what the
    watermark/sessionize family should consume downstream."""
    fold = F.conv(
        F.substring(F.md5(F.concat(F.col("event_id").cast("string"), F.lit(":j"))), 1, 12),
        16,
        10,
    ).cast("long")
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        (
            _ntz_us("ts")
            + (fold % _TS_JITTER_MOD - _TS_JITTER_HALF)
        ).alias("reported_us"),
        _ntz_us("ts").alias("true_us"),
    )
    wseq = Window.partitionBy("user_id").orderBy("true_us", "event_id")
    wrun = wseq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fixed = (
        e.withColumn("rn", F.row_number().over(wseq))
        .withColumn("hold", F.max(F.col("reported_us") - F.col("rn")).over(wrun))
        .withColumn("repaired_us", F.col("rn") + F.col("hold"))
    )
    return (
        fixed.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(
                F.when(F.col("repaired_us") != F.col("reported_us"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_repaired"),
            F.sum(F.col("repaired_us") - F.col("reported_us"))
            .cast("long")
            .alias("total_shift_us"),
            F.max("repaired_us").cast("long").alias("final_us"),
        )
        .orderBy("user_id")
    )


QUERIES["monotonic_ts_repair"] = monotonic_ts_repair
ORACLES["monotonic_ts_repair"] = f"""
    WITH e AS (
      SELECT user_id, event_id,
             epoch_us(ts)
               + (CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':j'),
                                       1, 12)) AS BIGINT)
                  % {_TS_JITTER_MOD} - {_TS_JITTER_HALF}) AS reported_us,
             epoch_us(ts) AS true_us
      FROM events
    ), seq AS (
      SELECT user_id, reported_us,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY true_us, event_id) AS rn
      FROM e
    ), fixed AS (
      SELECT user_id, reported_us,
             rn + max(reported_us - rn)
                    OVER (PARTITION BY user_id ORDER BY rn
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS repaired_us
      FROM seq
    )
    SELECT user_id,
           count(*)::BIGINT AS n_events,
           CAST(sum(CASE WHEN repaired_us <> reported_us THEN 1 ELSE 0 END)
                AS BIGINT) AS n_repaired,
           CAST(sum(repaired_us - reported_us) AS BIGINT) AS total_shift_us,
           CAST(max(repaired_us) AS BIGINT) AS final_us
    FROM fixed GROUP BY user_id ORDER BY user_id
"""


# --- 18. Streaming CDC-fed MV (17th certified stream) ----------------------------


def streaming_mv_cdc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """17TH CERTIFIED STREAM: the retraction MV maintained by the
    STREAMING incremental sink — CDC signed-delta rows (base inserts,
    then deletes + repricings, then the insert tail) replay through
    three pinned micro-batches into per-day SUM state, and the final
    state (dead days dropped) hash-matches the batch rebuild via the
    same oracle as ``mv_cdc_signed_delta``. SUM of signed deltas is
    associative + commutative, so the state is batch-order
    independent — the streaming form of the MV trilogy's retraction
    class, and the proof that the foreachBatch sink sustains
    NEGATIVE partials (every prior incremental stream only ever
    added).

    100 TB: this is the standing Debezium->lakehouse aggregate: state
    cardinality = |days|, per-batch work = O(batch), exactly-once via
    the sink's checkpointed batch ids."""
    import os

    from etl_extractor_spark.operators.common import pid_scratch_dir
    from etl_extractor_spark.sinks.incremental import read_state
    from etl_extractor_spark.streaming import events_stream as SE

    o = _cdc_orders(spark, sf_dir)
    pre = F.col("day") < "2001-01-01"
    deletes, updates, inserts = _cdc_signed_deltas(o)
    batches = [
        o.filter(pre).select(
            "day", F.lit(1).alias("dn"), F.col("cents").alias("dc")
        ),
        deletes.unionByName(updates),
        inserts,
    ]
    base = pid_scratch_dir("spark_graft_mvcdc_stream_")
    src = os.path.join(base, "src")
    _write_pinned_batches(batches, src, "cdc")

    schema = spark.read.parquet(src + "/cdc-b0.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/cdc-*.parquet")
    )
    SE.run_streaming_incremental_agg(
        stream,
        f"{base}/state",
        f"{base}/ckpt",
        keys=["day"],
        measures={"n_orders": ("sum", "dn"), "revenue_cents": ("sum", "dc")},
    )
    st = read_state(spark, f"{base}/state").filter(F.col("n_orders") > 0)
    return (
        st.groupBy(F.substring("day", 1, 4).alias("year"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("year")
    )


QUERIES["streaming_mv_cdc_replay"] = streaming_mv_cdc_replay
ORACLES["streaming_mv_cdc_replay"] = ORACLES["mv_cdc_signed_delta"]


# --- 19. Native recursive CTE (Spark 4 WITH RECURSIVE) ---------------------------


def recursive_cte_depth_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's native ``WITH RECURSIVE`` over a synthesized customer
    forest (parent(k) = k div 3; roots are k < 3 — key 0 is its own
    div-3 image, so the recursive member admits only k >= 3 or the
    fixpoint never exhausts, found the hard way at recursion level
    100): per-depth node
    counts and balance totals, certified against DuckDB running the
    SAME recursive SQL — the declarative replacement for the repo's
    hand-unrolled iterative-join hierarchies (``plans/recursive.py``
    predates engine support; this is the API-surface twin). Depth is
    O(log3 max-key): ~8 levels at sf0.001, ~17 at SF 1000 — recursion
    rounds grow logarithmically, each round a hash join on the
    parent key.

    100 TB: recursive CTEs compile to iterative joins with the same
    shuffle shape as the hand-rolled loop, but the ENGINE owns the
    fixpoint (no driver-side round trips, AQE applies per step)."""
    from etl_extractor_spark.sources.parquet import register_views

    # The recursive CTE accumulates one row per customer, and Spark's
    # default spark.sql.cteRecursionRowLimit is 1e6 — a >=SF-7 sweep
    # would throw RECURSION_ROW_LIMIT_EXCEEDED (review catch, verified
    # on 4.1.2). The limit is enforced at execution, so it is raised
    # in the session the frame belongs to; the caller's session keeps
    # its own limit. The real guard against runaway recursion here is
    # the level bound (log3 of the keyspace), not the row count.
    spark = query_session(spark, {"spark.sql.cteRecursionRowLimit": str(2**31 - 1)})
    register_views(spark, sf_dir, ("customer",))
    return spark.sql(
        """
        WITH RECURSIVE tree(k, depth, bal) AS (
          SELECT c_custkey, 1,
                 CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
          FROM customer WHERE c_custkey < 3
          UNION ALL
          SELECT c.c_custkey, t.depth + 1,
                 CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
          FROM customer c JOIN tree t ON c.c_custkey DIV 3 = t.k
          WHERE c.c_custkey >= 3  -- key 0 is its own div-3 parent: roots only seed
        )
        SELECT depth,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(bal) AS BIGINT) AS bal_cents
        FROM tree GROUP BY depth ORDER BY depth
        """
    )


QUERIES["recursive_cte_depth_rollup"] = recursive_cte_depth_rollup
ORACLES["recursive_cte_depth_rollup"] = """
    WITH RECURSIVE tree(k, depth, bal) AS (
      SELECT c_custkey, 1,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      FROM customer WHERE c_custkey < 3
      UNION ALL
      SELECT c.c_custkey, t.depth + 1,
             CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      FROM customer c JOIN tree t ON c.c_custkey // 3 = t.k
      WHERE c.c_custkey >= 3
    )
    SELECT depth,
           count(*)::BIGINT AS n_customers,
           CAST(sum(bal) AS BIGINT) AS bal_cents
    FROM tree GROUP BY depth ORDER BY depth
"""


# --- 20. Python UDTF (Spark 4 user-defined table function) -----------------------


def python_udtf_installments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's Python UDTF surface, certified end to end: a table
    function expands each order into its installment schedule
    (key % 3 + 1 parts, integer largest-remainder split — parts
    differ by at most 1 and sum EXACTLY to the order's cents), called
    through the SQL ``LATERAL`` join syntax. The oracle re-derives
    the schedule with generate_series + the same integer arithmetic,
    so the hash certifies the UDTF protocol (analyze/eval/yield,
    Arrow transport) — the API-surface sibling of the Python Data
    Source rows (``pyds_envelope_scan``).

    100 TB caveat, stated honestly: UDTFs are the row-at-a-time
    Python path — this one exists to certify the API; the same
    expansion in production is the pure-Catalyst
    posexplode(sequence(...)) the oracle uses. Keep UDTFs for logic
    that genuinely cannot be expressed declaratively."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="seq int, part_cents long")
    class Installments:
        def eval(self, key: int, cents: int):  # noqa: ANN001
            n = key % 3 + 1
            base, rem = divmod(cents, n)
            for i in range(n):
                yield i, base + (1 if i < rem else 0)

    spark = query_session(spark)
    spark.udtf.register("installments", Installments)
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _cents("o_totalprice").alias("cents")
    ).createOrReplaceTempView("_udtf_orders")
    return spark.sql(
        """
        SELECT f.seq,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(f.part_cents) AS BIGINT) AS cents
        FROM _udtf_orders, LATERAL installments(o_orderkey, cents) f
        GROUP BY f.seq ORDER BY f.seq
        """
    )


QUERIES["python_udtf_installments"] = python_udtf_installments
ORACLES["python_udtf_installments"] = f"""
    WITH o AS (
      SELECT o_orderkey AS k, {_CENTS_SQL} AS cents,
             o_orderkey % 3 + 1 AS n
      FROM orders
    ), parts AS (
      SELECT k, i.seq,
             cents // n + CASE WHEN i.seq < cents % n THEN 1 ELSE 0 END
               AS part_cents
      FROM o, LATERAL (SELECT unnest(generate_series(0, CAST(n - 1 AS INT)))
                       AS seq) i
    )
    SELECT CAST(seq AS INT) AS seq,
           count(*)::BIGINT AS n_orders,
           CAST(sum(part_cents) AS BIGINT) AS cents
    FROM parts GROUP BY seq ORDER BY seq
"""


# --- 21. Null-safe join semantics (<=> parity) -----------------------------------


def null_safe_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The null-safe equality join — Spark ``<=>`` vs ANSI
    ``IS NOT DISTINCT FROM`` — certified on a fixture where it
    actually matters: customers whose key % 37 = 0 lose their nation
    key (NULL), the dimension gains an UNKNOWN member with a NULL
    key, and the null-safe join routes every orphan to UNKNOWN
    instead of dropping it (a plain equi-join silently loses the
    NULL rows — the classic DW orphan bug the reference's sentinel
    pattern works around, operators/facts.py J1).

    100 TB: <=> compiles to the same hash join as = (null buckets
    hash like any key); no plan penalty."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 37 != 0, F.col("c_nationkey")).alias("nk"),
    )
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"), F.col("n_name").alias("nation")
    ).unionByName(
        spark.range(1).select(  # the UNKNOWN member is pure literals —
            F.lit(None).cast("int").alias("nk"),  # no second nation scan
            F.lit("UNKNOWN").alias("nation"),
        )
    )
    joined = c.join(F.broadcast(n), c.nk.eqNullSafe(n.nk))
    return (
        joined.groupBy("nation")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("nation")
    )


QUERIES["null_safe_join_parity"] = null_safe_join_parity
ORACLES["null_safe_join_parity"] = """
    WITH c AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 37 <> 0 THEN c_nationkey END AS nk
      FROM customer
    ), n AS (
      SELECT n_nationkey AS nk, n_name AS nation FROM nation
      UNION ALL
      SELECT NULL, 'UNKNOWN'
    )
    SELECT nation, count(*)::BIGINT AS n_customers
    FROM c JOIN n ON c.nk IS NOT DISTINCT FROM n.nk
    GROUP BY nation ORDER BY nation
"""


# --- 22. SQL pipe syntax (Spark 4 |> operator chain) -----------------------------


def pipe_syntax_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's SQL PIPE syntax (`|>`) running a real star rollup —
    scan |> filter |> join |> join |> aggregate |> sort — certified
    against the classic-SQL oracle computing the same thing. The pipe
    form compiles to the identical Catalyst plan as the nested form
    (filters still push to the scan, the join order is still the
    optimizer's), so this certifies the PARSER surface, not a new
    execution path; it matters because pipe-first SQL is how
    incremental pipeline authoring reads, and a user of the engine
    should be able to paste either dialect."""
    from etl_extractor_spark.sources.parquet import register_views

    spark = query_session(spark)
    register_views(spark, sf_dir, ("orders", "customer", "nation"))
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderdate >= TIMESTAMP_NTZ '1997-01-01 00:00:00'
        |> JOIN customer ON o_custkey = c_custkey
        |> JOIN nation ON c_nationkey = n_nationkey
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n_orders,
                     CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                              AS BIGINT)) AS BIGINT) AS revenue_cents
           GROUP BY n_name AS nation
        |> ORDER BY nation
        """
    )


QUERIES["pipe_syntax_star_revenue"] = pipe_syntax_star_revenue
ORACLES["pipe_syntax_star_revenue"] = f"""
    SELECT n_name AS nation,
           count(*)::BIGINT AS n_orders,
           CAST(sum({_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY 1 ORDER BY nation
"""


# --- 23. SQL scripting (Spark 4 BEGIN/DECLARE/IF) ---------------------------------


def sql_scripting_threshold_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL SCRIPTING (BEGIN ... END with DECLARE / SET /
    IF-ELSE): a script computes a data-derived integer threshold
    (half the max order cents), branches on the corpus's row-count
    parity to pick a label, and emits the per-status rollup of
    above-threshold orders — the procedural-ETL shape (variables +
    control flow + final SELECT) that previously required a driver
    program. The oracle reproduces the same logic as one declarative
    query, so the hash certifies the scripting engine's variable
    binding and branch selection.

    100 TB: scripting runs ON the engine (each statement is a normal
    Catalyst plan; variables are scalar literals at plan time) — no
    data moves through the script layer."""
    from etl_extractor_spark.sources.parquet import register_views

    spark = query_session(spark)
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        BEGIN
          DECLARE cutoff BIGINT;
          DECLARE label STRING;
          SET cutoff = (SELECT CAST(max(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                        * 100 AS BIGINT)) AS BIGINT) DIV 2
                        FROM orders);
          IF (SELECT count(*) FROM orders) % 2 = 0 THEN
            SET label = 'even-corpus';
          ELSE
            SET label = 'odd-corpus';
          END IF;
          SELECT o_orderstatus AS status,
                 label AS corpus_label,
                 CAST(count(*) AS BIGINT) AS n_big_orders,
                 CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT)) AS BIGINT) AS revenue_cents
          FROM orders
          WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                  > cutoff
          GROUP BY o_orderstatus, label
          ORDER BY status;
        END
        """
    )


QUERIES["sql_scripting_threshold_report"] = sql_scripting_threshold_report
ORACLES["sql_scripting_threshold_report"] = f"""
    WITH params AS (
      SELECT (SELECT max({_CENTS_SQL}) FROM orders) // 2 AS cutoff,
             CASE WHEN (SELECT count(*) FROM orders) % 2 = 0
                  THEN 'even-corpus' ELSE 'odd-corpus' END AS label
    )
    SELECT o_orderstatus AS status,
           label AS corpus_label,
           count(*)::BIGINT AS n_big_orders,
           CAST(sum({_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM orders, params
    WHERE {_CENTS_SQL} > cutoff
    GROUP BY 1, 2 ORDER BY status
"""


# --- 24. Case-insensitive collation (Spark 4 UTF8_LCASE) --------------------------


def collated_segment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 COLLATION surface: market segments arrive with
    inconsistent casing (keys % 3 = 0 lowercase, % 3 = 1 title-case
    — the multi-source reality MDM sees) and the rollup groups under
    ``UTF8_LCASE`` so case variants land in one group; the emitted
    group key is lower()-normalized so both engines print the same
    representative. The oracle groups by lower() — certifying that
    collated grouping is semantically the case-fold, while the
    engine-side benefit is that the COLUMN keeps its collation
    through joins/sorts without scattering lower() calls.

    100 TB: collation-aware grouping hashes the collation key —
    same shuffle as any groupBy, no normalization pass over the
    data."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 3 == 0, F.lower("c_mktsegment"))
        .when(F.col("c_custkey") % 3 == 1, F.initcap(F.lower("c_mktsegment")))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg_raw"),
    )
    return (
        c.groupBy(F.collate("seg_raw", "UTF8_LCASE").alias("seg_collated"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.count_distinct("seg_raw").cast("long").alias("n_case_variants"),
        )
        .select(
            F.lower("seg_collated").alias("segment"),
            "n_customers",
            "n_case_variants",
        )
        .orderBy("segment")
    )


QUERIES["collated_segment_rollup"] = collated_segment_rollup
ORACLES["collated_segment_rollup"] = """
    WITH c AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 3 = 0 THEN lower(c_mktsegment)
                  WHEN c_custkey % 3 = 1
                    THEN upper(substr(lower(c_mktsegment), 1, 1))
                         || substr(lower(c_mktsegment), 2)
                  ELSE c_mktsegment END AS seg_raw
      FROM customer
    )
    SELECT lower(seg_raw) AS segment,
           count(*)::BIGINT AS n_customers,
           count(DISTINCT seg_raw)::BIGINT AS n_case_variants
    FROM c GROUP BY 1 ORDER BY segment
"""


# --- 25. Deterministic ordered string aggregation --------------------------------


def ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG-class string aggregation made DETERMINISTIC: per
    nation, the three lexicographically-first customer names joined
    with '|'. collect_list order is partition-arrival order (never
    stable across runs/engines), so the sort happens INSIDE the
    aggregate domain — array_sort(collect_list(...)) then slice —
    and both engines print the identical string. This is the
    report-formatting shape (top-N names per group as one cell) that
    naive string_agg gets nondeterministically wrong.

    100 TB: collect_list per group is bounded ONLY by the slice
    semantics downstream — for unbounded groups use the top-K window
    first (window_top_orders pattern) so the collected array is
    K-sized; this fixture's groups are customer-per-nation sized and
    the docstring states the boundary."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.array_join(
                F.slice(F.array_sort(F.collect_list("c_name")), 1, 3), "|"
            ).alias("first_names"),
        )
        .orderBy("nation")
    )


QUERIES["ordered_string_agg"] = ordered_string_agg
ORACLES["ordered_string_agg"] = """
    SELECT n_name AS nation,
           count(*)::BIGINT AS n_customers,
           array_to_string(list_sort(list(c_name))[1:3], '|') AS first_names
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1 ORDER BY nation
"""


# --- 26. Telemetry burst collapse (lag-based debounce) ----------------------------

_BURST_GAP_US = 3_600_000_000  # 1 hour debounce window


def event_burst_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce repeated telemetry: within each (user, event_type)
    stream, keep a row only when it is the first or arrives >= 1 h
    after its PREDECESSOR (lag-based rule — the standard monitoring
    debounce). Stated honestly: this is the lag rule, not transitive
    chain-collapse — a burst longer than the window keeps its
    interior re-arming rows (every alerting system picks one; the
    lag rule is window-expressible and deterministic, the chain rule
    is the sessionize family, already certified as
    ``events_sessionize``).

    100 TB: one window by (user, type) — sessionize cost shape; the
    survivor set feeds alert fan-out at burst-collapsed volume."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", _ntz_us("ts").alias("us")
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    kept = e.withColumn("prev", F.lag("us").over(w)).filter(
        F.col("prev").isNull() | (F.col("us") - F.col("prev") >= _BURST_GAP_US)
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("event_type")
    )


QUERIES["event_burst_collapse"] = event_burst_collapse
ORACLES["event_burst_collapse"] = f"""
    WITH e AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS us
      FROM events
    ), lagged AS (
      SELECT user_id, event_type, us,
             lag(us) OVER (PARTITION BY user_id, event_type
                           ORDER BY us, event_id) AS prev
      FROM e
    )
    SELECT event_type,
           count(*)::BIGINT AS n_kept,
           count(DISTINCT user_id)::BIGINT AS n_users
    FROM lagged
    WHERE prev IS NULL OR us - prev >= {_BURST_GAP_US}
    GROUP BY 1 ORDER BY event_type
"""
