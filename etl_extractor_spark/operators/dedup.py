"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design (the point of each variant):

- exact:        one hash-groupBy shuffle on a 16-byte digest — the
                cheapest possible global dedup at 100 TB.
- ngram-jaccard: exact pairwise similarity via a shingle equi-join.
                Correct but O(sum of shingle-bucket^2); usable when
                shingles are selective (we use k=30 chars). This is the
                oracle for the approximate variants.
- minhash-lsh:  the 100 TB path. Per-doc signature (one groupBy over
                shingles), banded bucketing (explode 32 bands), join on
                band hash — candidate generation touches only colliding
                docs, never all pairs. Candidates are then verified with
                exact Jaccard, so precision is 1 and recall is the LSH
                recall (96 perms / 24 bands × 4 rows ⇒ >99.9% at s≥0.7).
- simhash:      64-bit signature via per-bit majority over token hashes;
                hamming-distance candidates via 4 × 16-bit band exact
                match (any pair at distance ≤3 shares at least one band
                by pigeonhole... with 4 bands distance ≤3 always shares
                ≥1 band), verified with bit_count.

Everything is deterministic: hash seeds are fixed, so results are
reproducible run to run.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_extractor_spark.functions.text import normalize_text

N_PERM = 96
BAND_ROWS = 4
N_BANDS = N_PERM // BAND_ROWS  # 24


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on normalized text: one row per content group with
    the canonical (min) id and the group size."""
    h = F.md5(F.lower(normalize_text(text_col)).cast("binary"))
    return (
        df.select(F.col(id_col), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def char_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 30) -> DataFrame:
    """Distinct character k-shingles per document — the shared substrate
    of the Jaccard and MinHash operators. Pure codegen: sequence +
    transform + explode, no Python."""
    from etl_extractor_spark.operators.common import fan_out

    positions = F.sequence(F.lit(1), F.greatest(F.lit(1), F.length(text_col) - F.lit(k - 1)))
    return (
        fan_out(df.filter(F.length(text_col) >= k))
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.array_distinct(
                    F.transform(positions, lambda i: F.substr(F.col(text_col), i, F.lit(k)))
                )
            ).alias("shingle"),
        )
    )


def _pair_jaccard(
    shingles: DataFrame,
    candidates: DataFrame | None = None,
    key: str = "shingle",
) -> DataFrame:
    """Jaccard for all key-colliding pairs (or only ``candidates``).
    ``key`` may be the raw shingle string or its 64-bit hash — joining
    on the hash shuffles 8-byte keys instead of k-char strings."""
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = shingles.alias("a")
    # sort-merge hint on every SF-scaled side: the shingle table comes
    # out of an explode, so Catalyst's static size estimate is the
    # PRE-explode file size — small enough that the planner picks
    # BroadcastHashJoin and builds the whole corpus-scaled shingle (or
    # per-doc sizes) table on the driver (observed OOM at sf1 on a
    # default 1g driver JVM; shuffle_hash also OOMs building the
    # per-task hash map there). SMJ spills — the only join that
    # survives 100× on both sides.
    b = shingles.alias("b").hint("merge")
    common = (
        a.join(b, (F.col(f"a.{key}") == F.col(f"b.{key}")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    if candidates is not None:
        common = common.join(candidates, ["id_a", "id_b"], "leftsemi")
    return (
        common.join(
            sizes.withColumnsRenamed({"doc_id": "id_a", "n": "n_a"}).hint(
                "merge"
            ),
            "id_a",
        )
        .join(
            sizes.withColumnsRenamed({"doc_id": "id_b", "n": "n_b"}).hint(
                "merge"
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 30, threshold: float = 0.5
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (the oracle semantics)."""
    sh = char_shingles(df, id_col, text_col, k)
    return _pair_jaccard(sh).filter(F.col("jaccard") >= threshold)


def hashed_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 30) -> DataFrame:
    """(doc_id, h0): every distinct shingle reduced to its 64-bit hash.
    The string shingles exist only transiently inside this projection —
    everything downstream (signatures AND verification) works on the
    8-byte hashes. Collision probability at 2^64 is negligible and the
    result is deterministic either way."""
    sh = char_shingles(df, id_col, text_col, k)
    return sh.select("doc_id", F.xxhash64("shingle").alias("h0"))


def doc_shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, k: int = 30
) -> DataFrame:
    """(doc_id, hs): the distinct shingle-hash SET of each document as
    one array column — the map-only substrate of the fast MinHash path.

    No explode, no shuffle: shingling, dedup, and hashing all happen
    row-locally inside codegen, so at 100 TB the signature stage reads
    the corpus once and writes nothing to the shuffle at all (the
    exploded ``hashed_shingles`` form shuffles one row per shingle —
    corpus-character-count rows — into its groupBy).

    Per-row memory is O(doc length): a 10 MB document carries a ~10M
    element array through this stage, fine for web/book corpora;
    chunk pathological docs upstream if needed.
    """
    from etl_extractor_spark.operators.common import fan_out

    positions = F.sequence(
        F.lit(1), F.greatest(F.lit(1), F.length(text_col) - F.lit(k - 1))
    )
    shingles = F.array_distinct(
        F.transform(positions, lambda i: F.substr(F.col(text_col), i, F.lit(k)))
    )
    return fan_out(df.filter(F.length(text_col) >= k)).select(
        F.col(id_col).alias("doc_id"),
        F.transform(shingles, lambda s: F.xxhash64(s)).alias("hs"),
    )


# Fixed multiply-add permutation family for the Arrow signature path:
# h_i(x) = a_i * x + b_i mod 2^64 (natural wraparound — numpy, so no
# ANSI overflow concerns). Seeded literals: deterministic across runs,
# cluster sizes, and engines; a_i forced odd (bijective mod 2^64).
#
# The coefficients are DRAWN in uint64 (seed-stable vs every prior
# round) but RETURNED as int64 reinterpretations: int64 `*`/`+` wrap
# bit-identically to uint64 (two's complement), while this
# deployment's numpy runs uint64 element-wise loops ~40× slower than
# int64 (measured r10: 10 M-element multiply ×5 — uint64 5.455 s,
# int64 0.132 s). Unsigned MIN over int64 bits = signed min over
# sign-flipped values: min_u(x) = min_s(x ^ SIGN) ^ SIGN.
_SIGN64 = -(2**63)  # int64 sign bit, the XOR mask of the unsigned-min trick


def _perm_coeffs(n_perm: int):
    import numpy as np

    rng = np.random.default_rng(0x5EED)
    a = rng.integers(1, 2**63, size=n_perm, dtype=np.uint64) * 2 + 1
    b = rng.integers(0, 2**63, size=n_perm, dtype=np.uint64)
    return a.view(np.int64), b.view(np.int64)


def minhash_signatures_arr(doc_hs: DataFrame, n_perm: int = N_PERM) -> DataFrame:
    """MinHash signatures from per-doc shingle-hash arrays, one Arrow
    batch pass: for each doc the full (n_perm × n_shingles) permutation
    grid is a single numpy broadcast multiply-add + min — no explode,
    no shuffle, no per-row JVM hashing loop. Output is the array form
    (doc_id, sig: array<long>); band with ``lsh_candidate_pairs_arr``."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    a, b = _perm_coeffs(n_perm)

    @pandas_udf("array<long>")
    def _sig(hs: pd.Series) -> pd.Series:
        # ≤ 1M shingles per doc-group: bounds the working set at ONE
        # 8 MB int64 buffer (+ the flat hash array), L3-resident per
        # permutation pass — there is no n_perm × shingles grid at all
        CHUNK = 1_048_576
        SIGN = np.int64(_SIGN64)

        # Whole-batch vectorization: concatenate every doc's shingle
        # hashes, then ONE in-place 1-D pass per permutation
        # (multiply–add, sign-flip, per-doc segment minima with
        # np.minimum.reduceat) — Python-loop cost is per (group ×
        # n_perm), memory is O(group), and every element-wise op runs
        # on int64, the fast dtype on this deployment (uint64 loops
        # measured ~40× slower; the arithmetic wraps bit-identically,
        # unsigned order restored by the sign-bit XOR). Replaces the
        # (n_perm × shingles) uint64 grid: same output bits, ~100×
        # less kernel time and n_perm× less memory traffic.
        lens = np.fromiter((len(x) for x in hs), dtype=np.int64, count=len(hs))
        out = np.empty((len(hs), len(a)), dtype=np.int64)
        mask = lens > 0
        # empty shingle sets (shouldn't occur under the length filter,
        # but must not crash the batch): identity = all-max signature
        out[~mask] = np.int64(-1)  # 0xFFFF... = unsigned max
        idx = np.flatnonzero(mask)
        i = 0
        while i < len(idx):
            # greedy doc-group whose total shingle count stays ≤ CHUNK
            # (a single huge doc forms its own group; the per-perm pass
            # is 1-D so even that group's memory stays O(doc))
            j, tot = i, 0
            while j < len(idx) and (j == i or tot + lens[idx[j]] <= CHUNK):
                tot += lens[idx[j]]
                j += 1
            grp = idx[i:j]
            flat = np.concatenate(
                [np.asarray(hs.iat[k], dtype=np.int64) for k in grp]
            )
            starts = np.zeros(len(grp), dtype=np.int64)
            np.cumsum(lens[grp[:-1]], out=starts[1:])
            buf = np.empty_like(flat)
            with np.errstate(over="ignore"):
                for p in range(len(a)):
                    np.multiply(flat, a[p], out=buf)  # int64 wraps like uint64
                    buf += b[p]
                    buf ^= SIGN  # unsigned order under signed min
                    out[grp, p] = np.minimum.reduceat(buf, starts)
            out[grp] ^= SIGN
            i = j
        return pd.Series(list(out))

    return doc_hs.select("doc_id", _sig("hs").alias("sig"))


def minhash_signatures(hashed: DataFrame, n_perm: int = N_PERM) -> DataFrame:
    """Per-doc MinHash signature: min over shingle-hashes of the i-th
    seeded permutation — one shuffle, partial min before it.

    Each permutation hashes the fixed 8-byte shingle hash with its seed:
    h_i(s) = xxhash64(h0(s), i) — ~3× cheaper than hashing the string
    n_perm times, identical LSH properties, still deterministic.
    (No multiply-add mixing: ANSI mode makes long overflow throw.)
    """
    aggs = [
        F.min(F.xxhash64(F.col("h0"), F.lit(i))).alias(f"h{i}")
        for i in range(n_perm)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_signatures_oph(hashed: DataFrame, n_perm: int = N_PERM) -> DataFrame:
    """One-Permutation-Hashing signatures (Li, Owen & Zhang, NIPS'12)
    with rotation densification (Shrivastava & Li, ICML'14): hash each
    shingle ONCE, split the hash space into n_perm bins, take the min
    per bin, and fill empty bins from the nearest non-empty bin to the
    right (cyclically).

    Versus the classic k-permutation scheme this does 1 hash per
    shingle instead of n_perm — at 100 TB that's the difference between
    one pass and 96 passes of hashing work — while the densified
    estimator keeps comparable variance. Output schema matches
    minhash_signatures (h0..h{n-1}) so the banded LSH is unchanged.
    """
    from pyspark.sql.functions import pandas_udf

    one = hashed.select(
        "doc_id", F.xxhash64("h0", F.lit(0x5EED)).alias("mh")
    ).withColumn("bin", F.pmod("mh", F.lit(n_perm)))
    sparse = one.groupBy("doc_id", "bin").agg(F.min("mh").alias("v"))
    assembled = sparse.groupBy("doc_id").agg(
        F.collect_list(F.struct("bin", "v")).alias("entries")
    )

    @pandas_udf("array<long>")
    def _densify(entries: pd.Series) -> pd.Series:
        # per-DOC work (the small dimension — never per-shingle): fill
        # the n_perm bins, then rotation-densify empty bins from the
        # nearest non-empty bin to the right, cyclically. An expression
        # formulation re-expands under projection collapse into O(n²)
        # plan nodes; the Arrow node is a hard projection barrier, so
        # this evaluates exactly once per row.
        def fill(es):
            bins = [None] * n_perm
            for e in es:
                bins[e["bin"]] = e["v"]
            last = None
            for j in range(2 * n_perm - 1, -1, -1):  # two passes: cyclic
                jj = j % n_perm
                if bins[jj] is not None:
                    last = bins[jj]
                elif j < n_perm:
                    bins[jj] = last
            return bins

        return entries.apply(fill)

    out = assembled.select("doc_id", _densify("entries").alias("sig"))
    return out.select(
        "doc_id", *[F.col("sig")[i].alias(f"h{i}") for i in range(n_perm)]
    )


def minhash_signatures_oph_arr(doc_hs: DataFrame, n_perm: int = N_PERM) -> DataFrame:
    """One-Permutation-Hashing on the per-doc array substrate: ONE
    multiply-add hash per shingle, bin by hash mod n_perm, min per bin,
    rotation-densify empty bins (Shrivastava & Li, ICML'14) — all
    inside a single Arrow batch pass, zero shuffle. This is the scale
    path past ~10^8 shingles per executor-core, where even the classic
    (n_perm × shingles) numpy grid is too much memory traffic; OPH
    touches each shingle hash once."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    # Same multiply-add mix as ever (h*C+D mod 2^64), computed in int64:
    # wraparound is bit-identical to the uint64 original, and int64
    # element-wise loops are the fast path on this deployment (uint64
    # measured ~40× slower — see minhash_signatures_arr). Unsigned
    # compares (bin minima) run under the sign-bit XOR; EMPTY
    # (0xFFFF... = unsigned max) is int64 -1.
    C = np.array([0x9E3779B97F4A7C15], dtype=np.uint64).view(np.int64)[0]
    D = np.array([0x5EED5EED5EED5EED], dtype=np.uint64).view(np.int64)[0]
    SIGN = np.int64(_SIGN64)
    # unsigned mod for the bin id: (x mod 2^64) % n_perm. numpy int64 %
    # is floor-mod (non-negative), so for negative x the true unsigned
    # value is x + 2^64 and the correction term is (2^64 % n_perm).
    POW64_MOD = pow(2, 64, n_perm)

    @pandas_udf("array<long>")
    def _sig(hs: pd.Series) -> pd.Series:
        # Whole-batch form: one concatenated flat pass + a single
        # scatter-min over (doc, bin) cells, then a VECTORIZED cyclic
        # right-nearest densify (2·n_perm column passes across all
        # docs, not a per-doc Python loop) — per-doc Python overhead
        # eliminated, arithmetic O(Σ shingles), memory O(batch).
        n = len(hs)
        if n == 0:
            return pd.Series([], dtype=object)
        lens = np.fromiter((len(x) for x in hs), dtype=np.int64, count=n)
        flat = (
            np.concatenate([np.asarray(x, dtype=np.int64) for x in hs])
            if int(lens.sum())
            else np.empty(0, dtype=np.int64)
        )
        with np.errstate(over="ignore"):
            mh = flat * C + D  # int64 wraps like uint64
            bins = (mh % n_perm + np.where(mh < 0, POW64_MOD, 0)) % n_perm
            doc_idx = np.repeat(np.arange(n), lens)
            out_f = np.full(n * n_perm, np.int64(2**63 - 1), dtype=np.int64)
            np.minimum.at(out_f, doc_idx * n_perm + bins, mh ^ SIGN)
            out = (out_f ^ SIGN).reshape(n, n_perm)  # untouched bins → -1
        # nearest non-empty bin to the RIGHT, cyclically (two passes),
        # advanced column-by-column across every doc at once
        last = np.zeros(n, dtype=np.int64)
        have = np.zeros(n, dtype=bool)
        for j in range(2 * n_perm - 1, -1, -1):
            jj = j % n_perm
            col = out[:, jj]
            nonempty = col != -1
            last = np.where(nonempty, col, last)
            have |= nonempty
            if j < n_perm:
                fill = ~nonempty & have
                if fill.any():
                    out[fill, jj] = last[fill]
        return pd.Series(list(out))

    return doc_hs.select("doc_id", _sig("hs").alias("sig"))


def band_frame_arr(
    signatures: DataFrame, n_perm: int = N_PERM, band_rows: int = BAND_ROWS
) -> DataFrame:
    """(doc_id, band_idx, band_hash) straight from the ``sig`` array
    column — 24 xxhash64s over array extracts, no 96-column
    materialization between the Arrow signature pass and the banding."""
    n_bands = n_perm // band_rows
    bands = F.array(
        *[
            F.xxhash64(
                *[F.col("sig")[b * band_rows + r] for r in range(band_rows)]
            )
            for b in range(n_bands)
        ]
    )
    return signatures.select(
        "doc_id", F.posexplode(bands).alias("band_idx", "band_hash")
    )


def lsh_candidate_pairs_arr(
    signatures: DataFrame, n_perm: int = N_PERM, band_rows: int = BAND_ROWS
) -> DataFrame:
    """Banded LSH candidates from array-form signatures."""
    banded = band_frame_arr(signatures, n_perm, band_rows)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def band_frame(
    signatures: DataFrame, n_perm: int = N_PERM, band_rows: int = BAND_ROWS
) -> DataFrame:
    """(doc_id, band_idx, band_hash): the banded form of a signature
    frame — the join key of LSH candidate generation, and the exact
    content of the persistent index in incremental dedup."""
    n_bands = n_perm // band_rows
    # xxhash64 over the band's long columns DIRECTLY — no concat_ws
    # string materialization per band (the string path allocated
    # n_bands strings per doc just to throw them away after hashing).
    bands = F.array(
        *[
            F.xxhash64(
                *[F.col(f"h{b * band_rows + r}") for r in range(band_rows)]
            )
            for b in range(n_bands)
        ]
    )
    return signatures.select(
        "doc_id", F.posexplode(bands).alias("band_idx", "band_hash")
    )


def lsh_candidate_pairs(signatures: DataFrame, n_perm: int = N_PERM, band_rows: int = BAND_ROWS) -> DataFrame:
    """Banded LSH: docs colliding on any band of the signature."""
    banded = band_frame(signatures, n_perm, band_rows)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 30,
    threshold: float = 0.5,
    oph: bool = False,
) -> DataFrame:
    """MinHash-LSH near-dup detection with exact-Jaccard verification:
    candidates from banded LSH (never all pairs), then the true Jaccard
    filter — precision 1.0, recall = LSH recall (≈1 at these params).

    Classic (default) path: per-doc shingle-hash ARRAYS end-to-end —
    the signature stage is map-only (``doc_shingle_hashes`` +
    ``minhash_signatures_arr``: zero shuffle, one Arrow pass), and the
    same persisted arrays ARE the verification sets, so nothing is
    re-aggregated for the verify join. The only shuffles in the whole
    operator are the banded candidate self-join and the candidate
    verify join — both proportional to |candidates|, never |corpus|.

    OPH variant (``oph=True``): same array substrate, but 1 multiply-add
    hash per shingle + bin-min + rotation densification instead of the
    full n_perm grid. Flip to it past ~10^8 shingles per executor-core,
    where the (n_perm × shingles) grid's memory traffic dominates.
    """
    doc_hs = doc_shingle_hashes(df, id_col, text_col, k).persist()
    sig_fn = minhash_signatures_oph_arr if oph else minhash_signatures_arr
    sigs = sig_fn(doc_hs).persist()
    cands = lsh_candidate_pairs_arr(sigs).persist()
    # candidate-restricted verify sets: only docs that appear in some
    # candidate pair keep their arrays in the join — the broadcast
    # semi-join keeps the verify shuffle proportional to |candidate
    # docs|, never |corpus| (without it, AQE falling back to a
    # sort-merge join would shuffle every doc's full array)
    cand_ids = (
        cands.select(F.col("id_a").alias("doc_id"))
        .union(cands.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    sets = doc_hs.join(F.broadcast(cand_ids), "doc_id", "semi")
    joined = (
        cands.join(sets.withColumnsRenamed({"doc_id": "id_a", "hs": "hs_a"}), "id_a")
        .join(sets.withColumnsRenamed({"doc_id": "id_b", "hs": "hs_b"}), "id_b")
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    return (
        joined.select(
            "id_a", "id_b", F.round(inter / union, 4).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Connected components by iterative min-label propagation: every
    node starts labeled with its own id; each round adopts the minimum
    label among itself and its neighbors; fixpoint when nothing changes
    (iterations ≈ component diameter).

    This is the operator that turns near-dup PAIRS into dedup GROUPS
    (keep one doc per component). At 100 TB you'd switch the inner step
    to the large-star/small-star formulation (alternating min-joins
    that provably converge in O(log n) rounds); the loop skeleton and
    convergence check are identical.

    nodes: single-column frame of ids; edges: (id_a, id_b) undirected.
    Returns (node, cluster_id = min id in component).
    """
    from etl_extractor_spark.operators.checkpoints import reliable_checkpoint

    bidir = (
        edges.selectExpr("id_a AS src", "id_b AS dst")
        .unionByName(edges.selectExpr("id_b AS src", "id_a AS dst"))
        .distinct()
        .persist()
    )
    labels = nodes.toDF("node").withColumn("lbl", F.col("node"))
    for _ in range(max_iter):
        neighbor_min = (
            bidir.join(labels, bidir.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        # each round's plan refers to the previous labels twice: cut it
        # on disk so the plan stays one round deep (same rule as the
        # star version below)
        new_labels = reliable_checkpoint(
            labels.join(neighbor_min, "node", "left").select(
                "node",
                F.least(F.col("lbl"), F.coalesce("nlbl", F.col("lbl"))).alias("lbl"),
            )
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("lbl", "old"), "node")
            .filter(F.col("lbl") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("node"), F.col("lbl").alias("cluster_id"))


def connected_components_star(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii,
    "Connected Components in MapReduce and Beyond", SoCC'14):

    - large-star(u): for every neighbor v > u, re-point v at
      m = min(N(u) ∪ {u})
    - small-star(u): re-point every neighbor v ≤ u (and u itself) at m

    Each round is two groupBy-min + joins; the edge set provably
    converges to per-component stars in O(log n) rounds — versus the
    O(diameter) rounds of plain min-label propagation. This is the
    100 TB path for chain-shaped duplicate clusters (crawl corpora
    produce exactly those: doc A ≈ B ≈ C ≈ ... with A !≈ C).

    Same contract as connected_components: nodes is a single-column id
    frame, edges is (id_a, id_b) undirected; returns
    (node, cluster_id = min id in component). Property-tested
    equivalent to min-label propagation (tests/test_operators.py).
    """

    def _checksum(e: DataFrame) -> tuple[int, int]:
        # decimal accumulator: summing 64-bit hashes overflows LONG
        # under ANSI mode; DECIMAL(38,0) holds ~1e18 rows' worth
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).first()
        return int(row["n"]), int(row["h"])

    def _star(e: DataFrame, large: bool) -> DataFrame:
        # bidirectional neighbor view, m = min(N(u) ∪ {u}).
        # ONE u-exchange per star (r11, guide §2.4): hash-partitioning
        # on u alone satisfies the clustered-distribution requirement
        # of the (u, v) dedup (subset rule: equal (u, v) pairs share a
        # u), of the groupBy(u), and of the u-keyed join — so the
        # repartition("u") is the star's only shuffle where the
        # previous form paid three (distinct by (u, v), agg by u, join
        # by u). The star rounds are fixed-overhead-bound at small
        # edge counts, so fewer exchanges = fewer stages per round.
        nbrs = (
            e.selectExpr("u", "v")
            .unionByName(e.selectExpr("v AS u", "u AS v"))
            .repartition("u")
            .dropDuplicates()
        )
        m = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # sort-merge hint: m is O(nodes) — same asymptote as nbrs —
        # so letting the planner broadcast it blows the driver heap the
        # moment the component graph outgrows the broadcast budget
        # (observed at sf1 on a default 1g driver JVM). SMJ spills.
        j = nbrs.join(m.hint("merge"), "u")
        if large:
            moved = j.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
            kept = j.filter(F.col("v") <= F.col("u")).select("u", "v")
            out = moved.unionByName(kept)
        else:
            moved = j.filter(F.col("v") <= F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
            self_edge = j.select("u", F.col("m").alias("v"))
            out = moved.unionByName(self_edge)
        return (
            out.filter(F.col("u") != F.col("v"))
            .repartition("u")
            .dropDuplicates()
        )

    # RELIABLE (disk) checkpoint after every round: each round's plan
    # references the previous round's twice per star, so lineage (and
    # Catalyst re-optimization time) grows exponentially without a hard
    # plan-truncation point. The shared helper carries the rest of the
    # rationale (survives executor loss, unlike localCheckpoint).
    from etl_extractor_spark.operators.checkpoints import (
        reliable_checkpoint as _ckpt,
    )

    e = _ckpt(
        edges.selectExpr("id_a AS u", "id_b AS v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    sig = _checksum(e)
    converged = False
    for _ in range(max_iter):
        new_e = _ckpt(_star(_star(e, large=True), large=False))
        new_sig = _checksum(new_e)
        e = new_e
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        # Unconverged labels are silently wrong downstream (split
        # clusters). Large-star/small-star needs O(log n) rounds, so
        # exhausting max_iter means something is off — fail loudly.
        raise RuntimeError(
            f"connected_components_star: checksum fixpoint not reached "
            f"within max_iter={max_iter} rounds; labels may be incomplete. "
            f"Raise max_iter (O(log n) rounds expected for n nodes)."
        )
    # at fixpoint every edge points a member at its component min;
    # orient and take the min per node to be robust to orientation
    members = (
        e.selectExpr("u AS node", "v AS lbl")
        .unionByName(e.selectExpr("v AS node", "u AS lbl"))
        .groupBy("node")
        .agg(F.min("lbl").alias("m"))
        .select("node", F.least("m", F.col("node")).alias("cluster_id"))
    )
    return (
        nodes.toDF("node")
        .join(members, "node", "left")
        .select(
            "node", F.coalesce("cluster_id", F.col("node")).alias("cluster_id")
        )
    )


def dedup_cluster_assignments(
    df: DataFrame, id_col: str, text_col: str, k: int = 30, threshold: float = 0.5
) -> DataFrame:
    """End-to-end dedup grouping: exact n-gram Jaccard pairs →
    connected components (large-star/small-star, the O(log n)-round
    formulation) → (doc_id, cluster_id, is_canonical)."""
    pairs = ngram_jaccard_pairs(df, id_col, text_col, k, threshold).select(
        "id_a", "id_b"
    )
    nodes = df.select(F.col(id_col).cast("long")).distinct()
    cc = connected_components_star(nodes, pairs)
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        (F.col("node") == F.col("cluster_id")).alias("is_canonical"),
    )


def md5_long(c) -> Column:
    """First 64 bits of md5 as a signed BIGINT, built from two 32-bit
    hex halves with overflow-safe arithmetic (no shiftleft wrap relied
    on) — the same construction is expressible in DuckDB, which is what
    makes the md5-hashed SimHash variant oracle-checkable."""
    h = F.md5(c)
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    signed_hi = F.when(hi >= F.lit(1 << 31), hi - F.lit(1 << 32)).otherwise(hi)
    return signed_hi * F.lit(1 << 32) + lo


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, hash_fn=None
) -> DataFrame:
    """64-bit SimHash per doc: per-bit majority vote over token hashes.

    Expressed as codegen: explode tokens → 64-bit token hash (xxhash64
    by default; pass ``hash_fn=md5_long`` for the oracle-checkable
    variant) → for each bit sum (+1/−1) → sign bits reassembled with
    bit shifts.
    """
    from etl_extractor_spark.operators.common import fan_out

    hasher = hash_fn if hash_fn is not None else F.xxhash64
    toks = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(normalize_text(text_col)), " ")).alias("tok"),
    ).withColumn("th", hasher(F.col("tok")))

    def _mask(i: int) -> int:  # bit 63 is the sign bit of a signed long
        return (1 << i) if i < 63 else -(1 << 63)

    bit_aggs = [
        F.sum(
            F.when(F.col("th").bitwiseAND(F.lit(_mask(i))) != 0, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    votes = toks.groupBy("doc_id").agg(*bit_aggs)
    sig = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(_mask(i))).otherwise(F.lit(0))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return votes.select("doc_id", sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    hash_fn=None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs at hamming distance ≤ max_hamming via 16-bit band
    blocking (pigeonhole: ≤3 differing bits over 4 bands ⇒ ≥1 equal
    band) + exact bit_count verification. Pass a precomputed
    ``sigs`` (doc_id, simhash) frame to reuse the corpus-scale
    signature pass — callers that also need the signatures directly
    (the contract audit) would otherwise execute it twice."""
    if sigs is None:
        sigs = simhash_signatures(df, id_col, text_col, hash_fn=hash_fn)
    bands = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), 16 * b).bitwiseAND(F.lit(0xFFFF))
            for b in range(4)
        ]
    )
    banded = sigs.select(
        "doc_id", "simhash", F.posexplode(bands).alias("band_idx", "band_val")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def duplicated_spans(
    df: DataFrame, id_col: str, text_col: str, min_len: int = 30
) -> DataFrame:
    """ExactSubstr-style duplicated-span detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): find
    every maximal character span that is covered by some exact
    substring of length >= ``min_len`` occurring at least twice in the
    corpus (across documents OR repeated within one), and report
    per-document span stats.

    The single-node reference algorithm is a suffix array — inherently
    sequential and memory-bound at 100 TB. The distributed design here
    is the shingle-hash equivalent:

    1. explode each doc into its length-``min_len`` shingle positions
       (map-side, no shuffle; the row blowup is the algorithm's real
       cost and is linear in corpus bytes),
    2. count shingle occurrences by 64-bit xxhash (one shuffle on an
       8-byte key with map-side partial counts — we never shuffle the
       shingle strings themselves),
    3. mark positions whose shingle repeats (shuffle join on the same
       hash key; Catalyst reuses the partitioning from step 2),
    4. merge overlapping marked intervals per doc with a
       gaps-and-islands window (partitionBy doc_id — co-partitioned
       with nothing else; spans per doc are tiny).

    Output: one row per input doc (zero-filled for clean docs) with
    n_dup_spans, dup_chars, dup_frac. Dropping/clipping the spans
    (the paper's actual dedup) is a trivial substring on top.

    The reference has no analog; nearest is its full-row
    drop_duplicates (`main.py:108`).
    """
    from pyspark.sql import Window

    d = df.select(id_col, F.col(text_col).alias("__txt"))
    pos = (
        d.filter(F.char_length("__txt") >= min_len)
        .withColumn(
            "pos",
            F.explode(
                F.sequence(
                    F.lit(1), F.char_length("__txt") - F.lit(min_len - 1)
                )
            ),
        )
        .select(
            id_col,
            "pos",
            F.xxhash64(
                F.substring(F.col("__txt"), F.col("pos"), F.lit(min_len))
            ).alias("h"),
        )
    )
    dup_h = (
        pos.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("h")
    )
    marked = pos.join(dup_h, "h").select(
        id_col, "pos", (F.col("pos") + F.lit(min_len - 1)).alias("end")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = marked.withColumn(
        "is_new",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0),
    ).withColumn("span_id", F.sum("is_new").over(w))
    per_doc = (
        islands.groupBy(id_col, "span_id")
        .agg(F.min("pos").alias("s"), F.max("end").alias("e"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_dup_spans"),
            F.sum(F.col("e") - F.col("s") + 1).alias("dup_chars"),
        )
    )
    return (
        d.select(id_col, F.char_length("__txt").alias("__n"))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce("dup_chars", F.lit(0)).cast("long").alias("dup_chars"),
            F.round(
                F.coalesce("dup_chars", F.lit(0)) / F.col("__n"), 4
            ).alias("dup_frac"),
        )
    )


def ngram_containment_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 30, min_bps: int = 8000
) -> DataFrame:
    """Directional n-gram CONTAINMENT pairs: C(a→b) = |A∩B| / |A|.
    Jaccard misses quote-inclusion — a short document wholly contained
    in a long one has small |A∩B|/|A∪B| but containment 1.0 from the
    short side; dedup pipelines (Lee et al. 2022) check both metrics.
    Same shingle substrate and candidate bounding as `_pair_jaccard`;
    the score is integer basis points (n_common * 10000 div n_a) — no
    float threshold boundary. Emits BOTH directions that clear
    ``min_bps``."""
    sh = char_shingles(df, id_col, text_col, k)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    both = common.unionByName(
        common.select(
            F.col("id_b").alias("id_a"),
            F.col("id_a").alias("id_b"),
            "n_common",
        )
    )
    return (
        both.join(sizes.withColumnsRenamed({"doc_id": "id_a", "n": "n_a"}), "id_a")
        .select(
            "id_a",
            "id_b",
            F.expr("n_common * 10000 div n_a").alias("containment_bps"),
        )
        .filter(F.col("containment_bps") >= min_bps)
    )
