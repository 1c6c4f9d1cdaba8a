"""Deterministic MinHash + banded LSH near-duplicate detection.

Everything is JVM-side Column arithmetic (md5 → hex→int → affine hashes →
array_min), so signatures are computed in whole-stage codegen with no
Python UDFs and are reproducible across engines — the DuckDB oracle
recomputes the identical pipeline (same md5-derived base hash, same
affine constants, same banding).

Scale design: every banded-LSH variant in the package (MinHash bands
here and in ``blocked``, SimHash/aHash chunks in ``simhash``, hyperplane
codes in ``blocked``) runs one candidate path: ``bucket_pairs`` self-joins
narrow (id, bucket key) rows, keeps id_a < id_b and dedupes, then
``pair_payload`` re-joins the payload each side needs for verification
(shingle hashes, bit hashes, vectors) onto the surviving pairs only — so
payloads never enter the bucket shuffle and no O(n²) comparisons run.
Skewed buckets (e.g. boilerplate-heavy corpora) are handled by AQE
skew-join splitting.

(The reference has no dedup of any kind — duva full-refreshes every
sync, SURVEY §2a; this is part of the BASELINE.json LLM-pipeline
extension.)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column

# 2^31 - 1 (prime). Affine hash products stay < 2^62: no int64 overflow
# in either Spark or DuckDB.
MERSENNE_P = 2147483647

N_HASHES = 24
N_BANDS = 8  # 3 rows per band


def hash_params(n_hashes: int = N_HASHES) -> list[tuple[int, int]]:
    """Deterministic affine-hash constants (a_i, b_i), identical to the
    generator used for the SQL oracle."""
    return [
        (((2 * i + 1) * 2654435761) % MERSENNE_P, ((i + 1) * 40503) % MERSENNE_P)
        for i in range(n_hashes)
    ]


def md5_hash60(col: Column) -> Column:
    """String → uniform 60-bit non-negative int (first 15 hex chars of md5).

    Cross-engine reproducible: DuckDB equivalent is
    CAST('0x' || substr(md5(s), 1, 15) AS BIGINT).
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def base_hash(col: Column) -> Column:
    """String → uniform int in [0, P)."""
    return md5_hash60(col) % MERSENNE_P


def word_shingles(words: Column, k: int = 3) -> Column:
    """k-word shingles of a words array (distinct, order-insensitive set).

    Documents shorter than k words yield an empty shingle set (their
    minhash values are null and they never enter LSH buckets).

    Construction is zip_with over shifted slices (w ⊗ w[2:] ⊗ … ⊗ w[k:])
    rather than transform+element_at — ~10× faster in codegen (no
    per-index bounds-checked lookups); the trailing entries where a shift
    ran past the end come back null and are filtered.
    """
    acc = words
    for j in range(1, k):
        shifted = F.slice(words, j + 1, F.size(words))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(
        F.size(words) >= k,
        F.array_distinct(F.filter(acc, lambda x: x.isNotNull())),
    ).otherwise(F.array().cast("array<string>"))


def _affine(a: int, b: int):
    # closure, not default-arg lambda: PySpark counts lambda params to
    # pick the HOF arity, so defaults would mis-bind.
    return lambda h: (a * h + b) % MERSENNE_P


def minhash_signature(hs: Column | str, n_hashes: int = N_HASHES) -> list[Column]:
    """mh_0..mh_{n-1}: the min of each affine hash over ``hs``, an array
    of shingle hashes already in [0, P) (null when the array is empty).
    The one MinHash signature of the package."""
    return [
        F.array_min(F.transform(hs, _affine(a, b))).alias(f"mh_{i}")
        for i, (a, b) in enumerate(hash_params(n_hashes))
    ]


def with_signature(
    df: DataFrame, text_col: str = "text", k: int = 3, n_hashes: int = N_HASHES
) -> DataFrame:
    """Adds _shingles, _hs (the hashed shingle SET, array<long>) and
    mh_0..mh_{n-1}.

    The per-shingle base hash (md5 → int) is materialized once as `_hs`
    and the n affine minima are computed over it — without this, Catalyst
    re-evaluates the md5 pipeline once per signature column (n× the
    dominant cost). `_hs` is kept (distinct) because downstream Jaccard
    verification runs over hashed shingle sets — 10× narrower to persist
    and compare than string arrays, with identical results on both
    engines (the oracle hashes the same way, so the negligible collision
    behavior is shared).
    """
    from duva_spark.operators.parallel import ensure_min_parallelism

    # The per-shingle md5 base hash dominates the signature pass;
    # spread a single-split scan across cores first (no-op on any
    # multi-split input — guide §2.5/§6).
    df = ensure_min_parallelism(df)
    words = F.split(F.col(text_col), " ")
    return (
        df.withColumn("_shingles", word_shingles(words, k))
        .withColumn("_hs", F.array_distinct(F.transform("_shingles", base_hash)))
        .select("*", *minhash_signature("_hs", n_hashes))
    )


def band_hashes(n_hashes: int = N_HASHES, n_bands: int = N_BANDS) -> list[Column]:
    rows = n_hashes // n_bands
    return [
        F.md5(F.concat_ws(",", *[F.col(f"mh_{b * rows + r}") for r in range(rows)])).alias(
            f"band_{b}"
        )
        for b in range(n_bands)
    ]


def band_explode(
    sig: DataFrame,
    id_col: str,
    n_bands: int,
    out_id: str | None = None,
    block_cols: Sequence[str] = (),
) -> DataFrame:
    """Explode a signature frame (band_0..band_{B-1}) to narrow
    (*block_cols, id, band_idx, band_hash) rows — the only columns that
    enter the LSH bucket shuffle."""
    bands_arr = F.array(
        *[
            F.struct(F.lit(b).alias("band_idx"), F.col(f"band_{b}").alias("band_hash"))
            for b in range(n_bands)
        ]
    )
    out = out_id or id_col
    return sig.select(
        *block_cols, F.col(id_col).alias(out), F.explode(bands_arr).alias("bk")
    ).select(*block_cols, out, "bk.band_idx", "bk.band_hash")


def bucket_pairs(
    buckets: DataFrame, id_col: str, key: Sequence[str], per: Sequence[str] = ()
) -> DataFrame:
    """The LSH bucket self-join: narrow (*per, *key, id) rows joined on
    (*per, *key), kept where id_a < id_b and deduped on
    (*per, id_a, id_b) — a pair that collides in several buckets counts
    once. ``per`` columns tag independent configurations sharing one
    shuffle (``band_sensitivity``'s grid); block columns belong in
    ``key``, since a pair never spans two blocks. Returns
    (*per, id_a, id_b); payloads re-join afterwards (``pair_payload``)."""
    cols = [*per, *key]
    a = buckets.select(*cols, F.col(id_col).alias("id_a"))
    b = buckets.select(*cols, F.col(id_col).alias("id_b"))
    return (
        a.join(b, cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(*per, "id_a", "id_b")
        .dropDuplicates([*per, "id_a", "id_b"])
    )


def pair_payload(
    pairs: DataFrame, side: DataFrame, id_col: str, col: str, out_a: str, out_b: str
) -> DataFrame:
    """Attach ``side``'s ``col`` to every (id_a, id_b) pair, once per
    side: as ``out_a`` keyed by id_a and ``out_b`` keyed by id_b. The
    shuffle is bounded by pair volume; the pairs' own columns come first."""
    return (
        pairs.join(side.select(F.col(id_col).alias("id_a"), F.col(col).alias(out_a)), "id_a")
        .join(side.select(F.col(id_col).alias("id_b"), F.col(col).alias(out_b)), "id_b")
        .select(*pairs.columns, out_a, out_b)
    )


def candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    sig: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b), deduplicated across bands.

    ``sig`` (optional): a prebuilt, already-materialized signature frame
    (id_col, _hs, mh_0..mh_{n-1}); the band keys are derived from its mh
    columns and no second corpus scan/hash pass runs — for callers that
    share one signature checkpoint across several consumers.

    Plan shape, tuned for scale:
    1. signature stage computed ONCE and persisted (it feeds the band
       explode and both sides of the shingle re-join — at 100 TB this is
       "write the signature table, then join against it");
    2. bands explode to narrow (id, band_idx, band_hash) rows — shingle
       arrays never enter the bucket shuffle;
    3. ``bucket_pairs``: self-equi-join on the band key + pair dedup on
       narrow rows;
    4. ``pair_payload``: HASHED shingle sets (array<long>, not strings)
       re-joined only for surviving candidate pairs — Jaccard over
       hashes matches the oracle, which hashes identically.
    """
    if sig is not None:
        # derive the band keys from the shared checkpoint's mh columns
        # (a handful of md5s per row — recomputing them per consumer is
        # far cheaper than a second shingle-hash corpus pass)
        sig = sig.select(id_col, "_hs", *band_hashes(n_hashes, n_bands))
    else:
        # with_signature floors its own parallelism — probing again here
        # would just re-compile the physical plan for a no-op
        src = df.select(id_col, text_col)
        sig = with_signature(src, text_col, k, n_hashes).select(
            id_col, "_hs", *band_hashes(n_hashes, n_bands)
        )
        # localCheckpoint: consumed by the band explode and both verify
        # sides; blocks are freed with the result's lifetime (ADVICE r3).
        sig = sig.localCheckpoint()
    # Docs shorter than k words have an EMPTY shingle set: every mh_i is
    # null and concat_ws skips nulls, so they'd all share the md5('')
    # band key in every band — a corpus with many short rows (titles,
    # empty strings) would self-join that bucket quadratically, only for
    # the null-Jaccard verify to drop every pair. Excluding them here is
    # output-identical (the SQL mirror's NULL band keys never equi-join)
    # and keeps the band join linear; q_lsh_band_load's census applies
    # the same exclusion.
    buckets = band_explode(sig.filter(F.size("_hs") > 0), id_col, n_bands)
    pairs = bucket_pairs(buckets, id_col, ["band_idx", "band_hash"])
    return pair_payload(pairs, sig, id_col, "_hs", "sh_a", "sh_b")


def shingle_jaccard() -> Column:
    """Exact Jaccard of the re-joined hashed shingle sets sh_a/sh_b,
    rounded to 6 places (the oracle rounds identically)."""
    return F.round(
        F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b")), 6
    )


def near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 3,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    sig: DataFrame | None = None,
) -> DataFrame:
    """LSH candidates verified with exact shingle-set Jaccard ≥ threshold.

    Returns (id_a, id_b, jaccard) — jaccard rounded to 6 places.
    ``sig`` passes through to candidate_pairs (shared signature frame).
    """
    cand = candidate_pairs(df, id_col, text_col, k, n_hashes, n_bands, sig=sig)
    return (
        cand.withColumn("jaccard", shingle_jaccard())
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def band_sensitivity(
    df: DataFrame,
    true_pairs: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 3,
    n_hashes: int = N_HASHES,
    grid: tuple[tuple[int, int], ...] = ((4, 6), (8, 3), (12, 2)),
    sig: DataFrame | None = None,
) -> DataFrame:
    """Banding sensitivity curve: per (n_bands, rows_per_band) grid
    point, the LSH candidate volume and the precision/recall of its
    verified pairs against ``true_pairs`` — the EXACT (id_a, id_b)
    ground-truth set at the same threshold (the lossless prefix-filter
    join), so recall needs no pooling heuristic.

    One-pass shape (the rplsh_topk_grid trick, banded): the 24-hash
    signature computes ONCE (checkpointed); every grid point's band
    keys are md5s over SLICES of those same columns, built as one
    struct-array explode — so the whole grid costs one signature pass
    plus a single narrow bucket shuffle carrying sum(n_bands) rows per
    doc, with candidates deduped per config inside it (``bucket_pairs``
    keyed ``per`` config). Verification re-joins hashed shingle sets
    only for surviving candidates (``pair_payload``). Never
    all-pairs at any grid point; the ground-truth job is the separate
    linear prefix-filter operator.
    """
    # ``sig`` (optional): a prebuilt, already-materialized signature
    # frame (id_col, _hs, mh_0..mh_{n-1}) — callers that also need the
    # hashed shingle sets elsewhere (the band-curve query feeds them to
    # the prefix-filter ground truth) build it once and share it.
    if sig is None:
        # with_signature floors its own parallelism (no second probe)
        src = df.select(id_col, text_col)
        sig = with_signature(src, text_col, k, n_hashes).select(
            id_col, "_hs", *[f"mh_{i}" for i in range(n_hashes)]
        )
        sig = sig.localCheckpoint()
    # each grid point's band keys are band_hashes over the first
    # nb * rows of the shared mh columns
    entries = [
        F.struct(
            F.lit(nb).alias("n_bands"),
            F.lit(rows).alias("rows_per_band"),
            F.lit(b).alias("band_idx"),
            bh.alias("band_hash"),
        )
        for nb, rows in grid
        for b, bh in enumerate(band_hashes(nb * rows, nb))
    ]
    # short docs (empty shingle set) share md5('') in every band on the
    # Spark side only (concat_ws skips nulls; the SQL mirror's NULL band
    # keys never equi-join) — exclude them, as candidate_pairs does
    buckets = (
        sig.filter(F.size("_hs") > 0)
        .select(F.col(id_col), F.explode(F.array(*entries)).alias("bk"))
        .select(id_col, "bk.*")
    )
    # the full (n_bands, rows_per_band) pair keys the config: a grid
    # could legitimately repeat n_bands at different row counts (e.g.
    # (8,3) vs (8,2) over 24 hashes), and collapsing on n_bands alone
    # would undercount one of them
    cand = bucket_pairs(
        buckets, id_col, ["band_idx", "band_hash"], per=["n_bands", "rows_per_band"]
    )
    ver = pair_payload(cand, sig, id_col, "_hs", "sh_a", "sh_b").withColumn(
        "jaccard", shingle_jaccard()
    )
    ag = ver.groupBy("n_bands", "rows_per_band").agg(
        F.count("*").alias("n_candidates"),
        F.sum(
            F.when(F.col("jaccard") >= threshold, 1).otherwise(0)
        ).alias("n_true"),
    )
    # a maximally selective config with ZERO candidates must still
    # appear as a zero row, not vanish from the curve — left-join the
    # aggregate onto the literal grid (the oracle mirrors this)
    spark = df.sparkSession
    grid_df = spark.createDataFrame(
        list(grid), "n_bands int, rows_per_band int"
    )
    tot = true_pairs.agg(F.count("*").alias("n_true_total"))
    joined = grid_df.join(ag, ["n_bands", "rows_per_band"], "left").crossJoin(
        tot
    )
    n_cand = F.coalesce(F.col("n_candidates"), F.lit(0))
    n_true = F.coalesce(F.col("n_true"), F.lit(0))
    return joined.select(
        "n_bands",
        "rows_per_band",
        n_cand.cast("long").alias("n_candidates"),
        n_true.cast("long").alias("n_true"),
        F.col("n_true_total").cast("long").alias("n_true_total"),
        F.when(n_cand > 0, F.round(n_true * 1.0 / n_cand, 6))
        .otherwise(F.lit(0.0))
        .alias("pair_precision"),
        F.when(
            F.col("n_true_total") > 0,
            F.round(n_true * 1.0 / F.col("n_true_total"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("pair_recall"),
    )


def corpus_index(
    corpus_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """The persisted signature index of a corpus: (id, _hs,
    band_0..band_{B-1}), materialized (localCheckpoint) so every delta
    tick joins against it WITHOUT recomputing corpus signatures. At
    100 TB this frame is written once to storage and appended to; here
    it is the checkpointed in-session equivalent."""
    # with_signature floors its own parallelism (no second probe)
    src = corpus_df.select(id_col, text_col)
    return (
        with_signature(src, text_col, k, n_hashes)
        .select(id_col, "_hs", *band_hashes(n_hashes, n_bands))
        .localCheckpoint()
    )


def delta_pairs_against_index(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 3,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """Match a NEW batch against a prebuilt ``corpus_index``: the
    batch's bands equi-join the index's band table (cost O(|batch| ×
    bucket occupancy), never corpus×corpus), candidates verify with
    exact Jaccard over the hashed shingle sets. Returns
    (new_id, corpus_id, jaccard) for matches ≥ threshold. This is the
    per-tick body of the streaming ingest pipeline
    (q_stream_true_incremental_dedup runs it per micro-batch)."""
    sig_n = corpus_index(new_df, id_col, text_col, k, n_hashes, n_bands)
    cand = (
        band_explode(sig_n, id_col, n_bands, "new_id")
        .join(band_explode(index, id_col, n_bands, "corpus_id"), ["band_idx", "band_hash"])
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    jn = sig_n.select(F.col(id_col).alias("new_id"), F.col("_hs").alias("sh_a"))
    jc = index.select(F.col(id_col).alias("corpus_id"), F.col("_hs").alias("sh_b"))
    return (
        cand.join(jn, "new_id")
        .join(jc, "corpus_id")
        .withColumn("jaccard", shingle_jaccard())
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


def incremental_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 3,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """Delta-vs-corpus near-dup check: match a NEW batch against the
    existing corpus without re-pairing the corpus with itself.

    This is the shape an ingest pipeline actually runs every tick: the
    corpus signature/band table is the persisted index (at 100 TB it is
    written once and appended to — ``corpus_index``), and each incoming
    batch joins its bands against it (``delta_pairs_against_index``) —
    cost O(|batch| × bucket occupancy), never O(|corpus|²) and never
    corpus×corpus. Returns (new_id, corpus_id, jaccard) for verified
    matches ≥ threshold.
    """
    index = corpus_index(corpus_df, id_col, text_col, k, n_hashes, n_bands)
    return delta_pairs_against_index(
        new_df, index, id_col, text_col, threshold, k, n_hashes, n_bands
    )
