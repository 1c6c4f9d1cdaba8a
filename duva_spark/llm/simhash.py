"""SimHash document fingerprints.

simhash(doc) packs, for each bit position j, the majority vote of bit j
across the (md5-derived) hashes of the document's words: bit_j = 1 iff
Σ_w (2·((h(w)>>j)&1) − 1) > 0.

Implementation is explode-free: one `aggregate` (fold) over the words
array accumulates all per-bit counters as an array<int> inside codegen —
no shuffle at all for signature computation. Near-dup pairs then use
bit-chunk bands on the MinHash-LSH candidate path (``minhash.bucket_pairs``
over narrow (id, chunk) rows, hashes re-joined by ``minhash.pair_payload``):
hamming-similar docs share a chunk by pigeonhole.

Default 32 bits: bit 63 would risk signed-overflow in the final pack on
engines without unsigned 64-bit ints (the DuckDB oracle among them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from duva_spark.llm.minhash import bucket_pairs, md5_hash60, pair_payload


def simhash(words: Column, n_bits: int = 32) -> Column:
    """SimHash of a words array, packed into a long.

    Bit positions are unrolled in Python (shift amounts must be literals
    for the JVM shift intrinsics); the per-word fold stays a single
    `aggregate` over the array — no explode, no shuffle.
    """

    def bit_deltas(w: Column) -> Column:
        h = md5_hash60(w)
        return F.array(*[(F.shiftright(h, j) % 2) * 2 - 1 for j in range(n_bits)])

    counters = F.aggregate(
        words,
        F.array_repeat(F.lit(0).cast("long"), n_bits),
        lambda acc, w: F.zip_with(acc, bit_deltas(w), lambda a, d: a + d),
    )
    powers = F.array(*[F.lit(1 << j).cast("long") for j in range(n_bits)])
    packed_bits = F.zip_with(
        counters, powers, lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(packed_bits, F.lit(0).cast("long"), lambda acc, v: acc + v)


def with_simhash(
    df: DataFrame, text_col: str = "text", out: str = "simhash", n_bits: int = 32
) -> DataFrame:
    return df.withColumn(out, simhash(F.split(F.col(text_col), " "), n_bits))


def hamming_distance(a: Column, b: Column, n_bits: int = 32) -> Column:
    """Popcount of a XOR b via bit_count (JVM intrinsic)."""
    return F.bit_count(a.bitwiseXOR(b))


def hash_banded_pairs(
    sig: DataFrame,
    id_col: str,
    hash_col: str,
    n_bits: int,
    n_chunks: int,
    max_hamming: int,
) -> DataFrame:
    """Chunk-banded LSH over ANY packed bit-hash column — the candidate
    machinery shared by SimHash text near-dup and perceptual-hash image
    near-dup.

    Pigeonhole: two hashes within `max_hamming` (< n_chunks) bits must
    agree exactly on at least one of n_chunks bit-chunks — so candidates
    come from equi-joins on (chunk_idx, chunk_value), linear like
    MinHash banding, and are verified with an exact popcount. Returns
    (id_a, id_b, _ha, _hb, hamming): the pair's two hashes ride along
    for ``banded_pair_explain``."""
    # Fail-closed guards (r11 ADVICE): uneven chunking would silently
    # drop the top n_bits % n_chunks bits from every band, and
    # max_hamming >= n_chunks voids the pigeonhole guarantee — either
    # way "exact-complete" would quietly become "approximate".
    if n_bits % n_chunks != 0:
        raise ValueError(
            f"n_bits ({n_bits}) must be divisible by n_chunks ({n_chunks}): "
            "uneven chunks would ignore the top bits and break the "
            "pigeonhole completeness guarantee"
        )
    if max_hamming >= n_chunks:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < n_chunks ({n_chunks}) "
            "for the pigeonhole guarantee (a pair differing in every "
            "chunk would be missed)"
        )
    chunk = n_bits // n_chunks
    mask = (1 << chunk) - 1
    chunks_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_idx"),
                F.shiftright(F.col(hash_col), i * chunk).bitwiseAND(mask).alias("chunk_val"),
            )
            for i in range(n_chunks)
        ]
    )
    # localCheckpoint: the signature table feeds the chunk explode and
    # both hash re-joins, and it can be an Arrow mapInPandas pass over
    # the payload column (the image-aHash leg) that would otherwise run
    # three times; blocks free with the result's lineage
    sig = sig.select(id_col, hash_col).localCheckpoint()
    buckets = sig.select(id_col, F.explode(chunks_arr).alias("c")).select(
        id_col, "c.chunk_idx", "c.chunk_val"
    )
    pairs = bucket_pairs(buckets, id_col, ["chunk_idx", "chunk_val"])
    return (
        pair_payload(pairs, sig, id_col, hash_col, "_ha", "_hb")
        .withColumn("hamming", hamming_distance(F.col("_ha"), F.col("_hb")))
        .filter(F.col("hamming") <= max_hamming)
    )


def banded_pair_explain(
    sig: DataFrame,
    id_col: str,
    hash_col: str,
    n_bits: int,
    n_chunks: int,
    max_hamming: int,
    modality: str,
) -> DataFrame:
    """Near-dup EXPLANATION rows for every qualifying pair: which LSH
    chunks matched (count + bitmap, bit i set = chunk i agreed — i.e.
    which band(s) actually produced the candidate), the exact hamming,
    and the margin to the threshold. The audit surface a production
    dedup pipeline exposes so a reviewer can see WHY two items were
    merged. Reads the pair hashes ``hash_banded_pairs`` already
    re-joined (shuffle bounded by pair volume), never all-pairs."""
    from functools import reduce

    j = hash_banded_pairs(sig, id_col, hash_col, n_bits, n_chunks, max_hamming)
    chunk = n_bits // n_chunks
    mask = (1 << chunk) - 1
    matches = [
        F.shiftright(F.col("_ha"), i * chunk).bitwiseAND(F.lit(mask))
        == F.shiftright(F.col("_hb"), i * chunk).bitwiseAND(F.lit(mask))
        for i in range(n_chunks)
    ]
    n_matched = reduce(
        lambda x, y: x + y, [F.when(m, 1).otherwise(0) for m in matches]
    )
    mask_col = reduce(
        lambda x, y: x + y,
        [F.when(m, 1 << i).otherwise(0) for i, m in enumerate(matches)],
    )
    return j.select(
        F.lit(modality).alias("modality"),
        "id_a",
        "id_b",
        F.col("hamming").cast("int").alias("hamming"),
        (F.lit(max_hamming) - F.col("hamming")).cast("int").alias("margin"),
        n_matched.cast("int").alias("n_chunks_matched"),
        mask_col.cast("int").alias("matched_chunk_mask"),
    )


def near_duplicate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_bits: int = 32,
    n_chunks: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs via chunk-banded LSH (hash_banded_pairs
    over the SimHash signature). Returns (id_a, id_b, hamming)."""
    sig = with_simhash(df.select(id_col, text_col), text_col, "sh", n_bits)
    return hash_banded_pairs(sig, id_col, "sh", n_bits, n_chunks, max_hamming).select(
        "id_a", "id_b", "hamming"
    )
