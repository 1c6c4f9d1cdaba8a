"""Bounded blocked-pairs near-dup operators.

Plain blocking (pairwise self-join within a block key) is exact but
quadratic per block: on a real corpus one (lang, source) block — or one
IVF label bucket — holds billions of rows and the self-join explodes.
These operators bound that: blocks at or under ``max_block_size`` take
the exact pairwise path; oversized blocks are routed through an LSH
sub-bucketing stage (MinHash bands for text, sign-bit RP-LSH codes for
embeddings) so the candidate join stays near-linear, then candidates are
verified with the *same* exact metric as the small-block path. Both
overflow stages are the package's one banded-LSH candidate path: the
block columns join the bucket key of ``minhash.bucket_pairs`` over
narrow rows, and the shingle hashes or vectors re-join the surviving
pairs through ``minhash.pair_payload``.

Semantics: exact below the cap, LSH-recall above it (banding can miss a
pair; it never admits a false positive because every candidate is
re-verified). With a cap above the largest observed block the output is
bit-identical to the unbounded exact operator — which is how the DuckDB
oracle checks these at sf0.01 while tests force a tiny cap to prove the
overflow path stays sub-quadratic.

No counterpart in the reference (duva has no dedup at all — it
full-refreshes every sync, SURVEY §2a); part of the LLM-pipeline
extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duva_spark.llm import minhash, similarity


def _split_by_block_size(
    df: DataFrame, block_cols: list[str], max_block_size: int
) -> tuple[DataFrame, DataFrame] | None:
    """(small, big) split by block population, or None when no block
    exceeds the cap (the common case — callers then keep the plain exact
    plan with no routing joins and no overflow branch at all).

    The existence check is a driver action, but on the AGGREGATED block-
    size frame — O(#distinct blocks) rows, never O(data) — the same
    runtime-adaptive planning AQE does with shuffle statistics. When a
    split is needed, membership routes via BROADCAST left-semi joins on
    that tiny key frame, so the data never shuffles just to be routed.

    The size frame is materialized with ``localCheckpoint`` rather than
    ``persist``: the split branch hands frames referencing it back to
    the caller, so an explicit unpersist would either recompute or leak
    a CacheManager entry; checkpoint blocks are freed by the
    ContextCleaner once the caller's result is unreachable (ADVICE r3)."""
    sizes = df.groupBy(*block_cols).agg(F.count("*").alias("_bn")).localCheckpoint()
    big_keys = sizes.filter(F.col("_bn") > max_block_size).drop("_bn")
    if big_keys.limit(1).count() == 0:
        return None
    small_keys = sizes.filter(F.col("_bn") <= max_block_size).drop("_bn")
    return (
        df.join(F.broadcast(small_keys), block_cols, "left_semi"),
        df.join(F.broadcast(big_keys), block_cols, "left_semi"),
    )


# ---------------------------------------------------------------------------
# Text: n-gram Jaccard pairs, exact within bounded blocks, MinHash-LSH above
# ---------------------------------------------------------------------------


def _pair_jaccard() -> F.Column:
    """Jaccard from one intersection + precomputed set sizes:
    |A∪B| = |A|+|B|-|A∩B|, so the per-pair work is a single
    array_intersect over long arrays — no per-pair array_union
    allocation, no string comparisons."""
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return F.round(inter / (F.col("_sza") + F.col("_szb") - inter), 6)


def _pair_containment() -> F.Column:
    """Broder containment |A∩B| / min(|A|,|B|) from the same
    intersection — the asymmetric metric that catches a short doc
    quoted whole inside a long one, which symmetric Jaccard dilutes."""
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return F.round(inter / F.least(F.col("_sza"), F.col("_szb")), 6)


def _exact_jaccard_pairs(
    s: DataFrame, block_cols: list[str], threshold: float, metric: str = "jaccard"
) -> DataFrame:
    """Pairwise hashed-shingle similarity within blocks as ONE integer
    matmul per block (applyInPandas): the block's docs become a 0/1
    incidence matrix M over the block's shingle vocabulary, M·Mᵀ gives
    every pairwise intersection size at once, and |A∪B| = |A|+|B|-|A∩B|.
    Exact — the matmul is integer arithmetic held in float64 — and
    vectorized C instead of a per-pair array_intersect join. A bounded
    block caps the matrix. Input: block cols + (_id, _sh: array<long>).

    ``metric`` picks the thresholded measure: symmetric ``jaccard``
    (|A∩B|/|A∪B|) or Broder ``containment`` (|A∩B|/min(|A|,|B|)); the
    containment output carries BOTH columns (the Jaccard comes free
    from the same intersection, and the jaccard-vs-containment gap is
    the metric's whole point).

    Pandas pre-filters with an epsilon margin; the exact ROUND(x,6) >=
    threshold cut happens in Spark (HALF_UP, matching the oracle). The
    margin covers a full 1e-6 rounding step: ROUND(x,6) >= t implies
    x >= t - 5e-7 for any t, so a 1e-9 margin could drop a pair in
    [t-5e-7, t-1e-9) that the exact cut keeps — the same
    epsilon-vs-rounding-grid class the r4 review fixed in semdedup."""
    import pandas as pd

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = pdf["_id"].to_numpy()
        sets = pdf["_sh"].tolist()
        vocab = {h: j for j, h in enumerate({h for hs in sets for h in hs})}
        m = np.zeros((len(ids), len(vocab)), dtype=np.float64)
        for i, hs in enumerate(sets):
            for h in hs:
                m[i, vocab[h]] = 1.0
        inter = m @ m.T
        sz = m.sum(axis=1)
        with np.errstate(invalid="ignore", divide="ignore"):
            # 0/0 (empty shingle sets) → nan → dropped by the keep mask
            jac = inter / (sz[:, None] + sz[None, :] - inter)
            sel = (
                jac
                if metric == "jaccard"
                else inter / np.minimum(sz[:, None], sz[None, :])
            )
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = sel[iu, ju] >= threshold - 1e-6
        ia, jb = ids[iu[keep]], ids[ju[keep]]
        swap = ia > jb  # id_a < id_b regardless of input order
        out = {
            "id_a": np.where(swap, jb, ia),
            "id_b": np.where(swap, ia, jb),
        }
        if metric == "containment":
            out["containment"] = sel[iu, ju][keep]
        out["jaccard"] = jac[iu, ju][keep]
        return pd.DataFrame(out)

    if metric == "jaccard":
        schema = "id_a long, id_b long, jaccard double"
        raw = s.groupBy(*block_cols).applyInPandas(block_pairs, schema)
        return (
            raw.withColumn("jaccard", F.round("jaccard", 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    schema = "id_a long, id_b long, containment double, jaccard double"
    raw = s.groupBy(*block_cols).applyInPandas(block_pairs, schema)
    return (
        raw.withColumn("containment", F.round("containment", 6))
        .withColumn("jaccard", F.round("jaccard", 6))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment", "jaccard")
    )


def jaccard_overflow_candidates(
    big: DataFrame,
    block_cols: list[str],
    n_hashes: int = minhash.N_HASHES,
    n_bands: int = minhash.N_BANDS,
) -> DataFrame:
    """MinHash-band candidate pairs within oversized blocks: the band key
    is (block, band_idx, band_hash) so candidates never cross blocks and
    the self-join is linear in the band-bucket sizes, not the block size.
    Input: block cols + (_id, _sh); output: (id_a, id_b, sh_a, sh_b).
    Exposed separately so tests can bound the candidate row count."""
    # _sh already holds 60-bit shingle hashes; folded into [0, P) they
    # equal minhash.base_hash on the raw strings. localCheckpoint: the
    # band table feeds the bucket explode and both verify sides; blocks
    # free themselves with the result, unlike a persist().
    sig = (
        big.withColumn("_hs", F.transform("_sh", lambda h: h % minhash.MERSENNE_P))
        .select(*block_cols, "_id", "_sh", *minhash.minhash_signature("_hs", n_hashes))
        .select(*block_cols, "_id", "_sh", *minhash.band_hashes(n_hashes, n_bands))
        .localCheckpoint()
    )
    buckets = minhash.band_explode(sig, "_id", n_bands, block_cols=block_cols)
    pairs = minhash.bucket_pairs(buckets, "_id", [*block_cols, "band_idx", "band_hash"])
    return minhash.pair_payload(pairs, sig, "_id", "_sh", "sh_a", "sh_b")


def bounded_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float = 0.3,
    k: int = 3,
    max_block_size: int | None = 2000,
    metric: str = "jaccard",
) -> DataFrame:
    """Blocked exact n-gram set-similarity pairs with a block-size bound.

    Blocks ≤ max_block_size: exact pairwise (quadratic but bounded by
    cap² per block). Blocks above: MinHash-LSH candidates within the
    block, verified with the identical hashed-shingle metric — same
    metric, LSH recall. ``max_block_size=None`` disables the bound
    (exact everywhere; only safe when block sizes are known small).

    ``metric="jaccard"`` (default) thresholds symmetric Jaccard and
    emits (id_a, id_b, jaccard); ``metric="containment"`` thresholds
    Broder containment |A∩B|/min(|A|,|B|) and emits (id_a, id_b,
    containment, jaccard) — the production shape for
    short-doc-quoted-in-long detection (r4 verdict item 3: this retires
    the unbounded crossJoin demo). Note the overflow path's MinHash
    bands collide on JACCARD similarity, so a contained pair with low
    symmetric Jaccard has reduced LSH recall above the cap — candidates
    are still verified with exact containment, so no false positives
    either way.

    Shingles are hashed to 60-bit longs ONCE per side (the same
    md5-derived hash the MinHash oracle uses), so every pairwise compare
    is long-vs-long — identical values modulo ~2^-60 collisions,
    shared with the DuckDB oracle which hashes the same way.
    """
    if metric not in ("jaccard", "containment"):
        raise ValueError(f"unknown metric {metric!r}")
    from duva_spark.operators.parallel import ensure_min_parallelism

    words = F.split(F.col(text_col), " ")
    # shingle hashing is the compute-heavy leg; floor its parallelism so
    # a single-row-group input doesn't serialize it (no-op at scale)
    s = ensure_min_parallelism(df).select(
        *block_cols,
        F.col(id_col).alias("_id"),
        F.array_distinct(
            F.transform(minhash.word_shingles(words, k), minhash.md5_hash60)
        ).alias("_sh"),
    )
    if max_block_size is None:
        return _exact_jaccard_pairs(s, block_cols, threshold, metric)
    split = _split_by_block_size(s, block_cols, max_block_size)
    if split is None:  # nothing oversized → pure exact plan
        return _exact_jaccard_pairs(s, block_cols, threshold, metric)
    small, big = split
    exact = _exact_jaccard_pairs(small, block_cols, threshold, metric)
    cand = jaccard_overflow_candidates(big, block_cols).withColumns(
        {"_sza": F.size("sh_a"), "_szb": F.size("sh_b")}
    )
    if metric == "jaccard":
        lsh = (
            cand.withColumn("jaccard", _pair_jaccard())
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    else:
        lsh = (
            cand.withColumn("containment", _pair_containment())
            .withColumn("jaccard", _pair_jaccard())
            .filter(F.col("containment") >= threshold)
            .select("id_a", "id_b", "containment", "jaccard")
        )
    return exact.unionByName(lsh)


# ---------------------------------------------------------------------------
# Embeddings: cosine pairs, exact within bounded blocks, hyperplane-LSH above
# ---------------------------------------------------------------------------


def _exact_cosine_pairs(e: DataFrame, block_cols: list[str], threshold: float) -> DataFrame:
    """All-pairs cosine within a block (applyInPandas): every (i, j)
    pair of the block's vector matrix scored at once by the shared
    index-order kernel ``similarity._cosine6``, upper triangle filtered
    by threshold. A bounded block (≤ max_block_size) caps the n×n
    arrays, so memory is fixed per task, and the inner loop is
    vectorized C instead of a per-pair JVM fold.

    The pandas side pre-filters with an epsilon margin and the exact
    ROUND(x, 6) >= threshold cut happens in Spark — rounding semantics
    (HALF_UP) stay identical to every other query and the DuckDB oracle.
    """
    import pandas as pd

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = pdf["_id"].to_numpy()
        v = np.stack(pdf["_v"].to_numpy())
        sims = similarity._cosine6(v[:, None, :], v[None, :, :])
        iu, ju = np.triu_indices(len(ids), k=1)
        # full-rounding-step margin: ROUND(x,6) >= t admits x down to
        # t - 5e-7, which a 1e-9 margin would drop (same grid-epsilon
        # class as the r4 semdedup fix)
        keep = sims[iu, ju] >= threshold - 1e-6
        ia, jb = ids[iu[keep]], ids[ju[keep]]
        swap = ia > jb  # id_a < id_b regardless of input order
        return pd.DataFrame(
            {
                "id_a": np.where(swap, jb, ia),
                "id_b": np.where(swap, ia, jb),
                "cosine_sim": sims[iu, ju][keep],
            }
        )

    raw = e.groupBy(*block_cols).applyInPandas(
        block_pairs, "id_a long, id_b long, cosine_sim double"
    )
    return (
        raw.withColumn("cosine_sim", F.round("cosine_sim", 6))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def cosine_overflow_candidates(
    big: DataFrame,
    block_cols: list[str],
    dim: int,
    n_bits: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Hyperplane-LSH candidates within oversized blocks: each of
    ``n_tables`` independent tables assigns an ``n_bits`` sign-bit code;
    pairs sharing (block, table, code) become candidates (OR across
    tables for recall). Sub-bucket population ≈ block/2^n_bits per
    table, so the self-join is near-linear; only (block, table, code,
    id) rows enter it, and the vectors re-join for the surviving pairs.
    Input: block cols + (_id, _v); output: (id_a, id_b, va, vb)
    distinct pairs. Table t codes with plane seed t
    (``similarity.rplsh_codes_arrow``)."""
    coded = similarity.rplsh_codes_arrow(
        big, dim, n_bits, n_tables, 0, "_id", "_v", out_id="_id", out_vec="_v",
        keep=tuple(block_cols),
    )
    pairs = minhash.bucket_pairs(coded, "_id", [*block_cols, "tbl", "code"])
    return minhash.pair_payload(pairs, big, "_id", "_v", "va", "vb")


def bounded_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_cols: list[str],
    threshold: float = 0.4,
    dim: int = 64,
    max_block_size: int | None = 2000,
    n_bits: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Embedding-cosine near-dup pairs with a block-size bound: exact
    pairwise for blocks ≤ max_block_size, hyperplane-LSH sub-bucketing
    (verified with the same exact cosine) above."""
    e = df.select(*block_cols, F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    if max_block_size is None:
        return _exact_cosine_pairs(e, block_cols, threshold)
    split = _split_by_block_size(e, block_cols, max_block_size)
    if split is None:  # nothing oversized → pure exact plan
        return _exact_cosine_pairs(e, block_cols, threshold)
    small, big = split
    exact = _exact_cosine_pairs(small, block_cols, threshold)
    lsh = similarity.cosine_pairs_arrow(
        cosine_overflow_candidates(big, block_cols, dim, n_bits, n_tables),
        keep=("id_a", "id_b"), q_col="va", c_col="vb",
    ).filter(F.col("cosine_sim") >= threshold)
    return exact.unionByName(lsh)
