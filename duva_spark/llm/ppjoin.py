"""EXACT set-similarity self-join via prefix filtering (PPJoin-style).

MinHash-LSH (llm/minhash.py) is the probabilistic near-dup join: fast,
linear, but with a recall curve. This operator is its deterministic
complement — the prefix-filtering algorithm of Chaudhuri et al. (SSJoin)
/ Xiao et al. (PPJoin): ALL pairs with Jaccard ≥ t, no misses, still
without the all-pairs cliff.

The filter: order every document's token set by a canonical global
rarity order (ascending document frequency, ties by token value). Two
sets with Jaccard ≥ t must share at least one token among their first
``|s| - ceil(t·|s|) + 1`` rarest tokens — if the prefixes were disjoint,
the maximum possible overlap is below the Jaccard bound (pigeonhole on
the suffix). So candidates = equi-join on PREFIX tokens only, and the
prefix is short for high thresholds (10% of the set at t = 0.9).
Rare-first ordering makes prefix buckets small: the most selective
tokens generate the candidates.

Dataflow, all narrow/keyed — no cartesian, no driver state:

1. hashed shingle sets per doc (same md5-derived tokens as the MinHash
   pipeline, so both operators verify with the identical Jaccard);
2. global token frequencies — one groupBy on the token;
3. per-doc ordered token array via sort_array(collect_list(struct(cnt,
   token))) — the canonical order is materialized per document, no
   global rank window (a global row_number would be a single-partition
   stage; lexicographic (cnt, token) structs give the same total order
   for free);
4. prefix explode → self equi-join on the token, ``minhash.bucket_pairs``
   with the prefix token as the bucket key (the ONLY place pairs form;
   bucket size is bounded by document frequency of the prefix token,
   and the rarest tokens come first by construction);
5. exact Jaccard verify on the candidate pairs.

At 100 TB the shape holds: frequencies and ordered arrays are one
shuffle each; the candidate join is an equi-join whose hot keys are by
construction the RAREST tokens of each set's prefix; a stop-token cap
(drop tokens with df > cap from prefixes — they cannot be in a short
prefix of any reasonably-sized set anyway) is the documented knob for
degenerate corpora. Reference: no counterpart (duva has no similarity
ops, SURVEY §2a-iii).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duva_spark.llm import minhash


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    k: int = 3,
    stop_token_df_cap: int | None = None,
    sets: DataFrame | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with shingle-set Jaccard ≥ threshold —
    exact when ``stop_token_df_cap`` is None. Returns (id_a, id_b,
    jaccard rounded to 6).

    ``stop_token_df_cap`` is the degenerate-corpus knob the module
    docstring names: tokens whose document frequency exceeds the cap
    are dropped FROM PREFIXES (the candidate-generating position only
    — verification still uses full sets), which bounds every candidate
    bucket at the cap even when the whole corpus shares a boilerplate
    token. The trade is recall: a pair whose prefixes overlap ONLY on
    a stop token is missed (PPJoin's documented stop-word variant), so
    the default stays exact and the cap is an explicit opt-in for
    corpora where the prefix buckets would otherwise go quadratic.

    ``sets`` (optional) is a prebuilt, already-materialized hashed
    shingle-set frame — (_id, hs) with hs the DISTINCT base-hash set
    over k-shingles, i.e. exactly the ``_hs`` column the MinHash
    signature pipeline computes. Callers that already paid the
    per-shingle md5 pass (q_minhash_band_curve's signature checkpoint)
    hand it in so the ground-truth join does not re-scan and re-hash
    the corpus (r12 verdict item 5)."""
    from duva_spark.operators.parallel import ensure_min_parallelism

    if sets is not None:
        docs = sets.filter(F.size("hs") > 0)
    else:
        # Per-shingle md5 hashing dominates the doc pass; spread a
        # single-split scan across cores first (no-op on multi-split
        # input).
        df = ensure_min_parallelism(df)
        words = F.split(F.col(text_col), " ")
        hs = F.array_distinct(
            F.transform(minhash.word_shingles(words, k), minhash.base_hash)
        )
        # localCheckpoint, not persist: consumed by the token explode and
        # both verify sides; checkpoint blocks free themselves with the
        # result's lifetime instead of leaking a CacheManager entry
        # (ADVICE r3).
        docs = (
            df.select(F.col(id_col).alias("_id"), hs.alias("hs"))
            .filter(F.size("hs") > 0)
            .localCheckpoint()
        )
    toks = docs.select("_id", F.explode("hs").alias("h"))
    freq = toks.groupBy("h").agg(F.count("*").alias("cnt"))
    ordered = (
        toks.join(freq, "h")
        .groupBy("_id")
        .agg(F.array_sort(F.collect_list(F.struct("cnt", "h"))).alias("ord"))
    )
    pref_slice = (
        f"slice(ord, 1, cast(size(ord) - ceil({threshold} * size(ord)) + 1 as int))"
    )
    if stop_token_df_cap is not None:
        # the (cnt, h) structs already carry each token's df — the stop
        # filter is free, no extra join
        pref_slice = f"filter({pref_slice}, x -> x.cnt <= {int(stop_token_df_cap)})"
    prefix = ordered.select(
        "_id",
        F.expr(f"transform({pref_slice}, x -> x.h)").alias("pref"),
    )
    ptoks = prefix.select("_id", F.explode("pref").alias("h"))
    cand = minhash.bucket_pairs(ptoks, "_id", ["h"])
    return (
        minhash.pair_payload(cand, docs, "_id", "hs", "sh_a", "sh_b")
        .withColumn("jaccard", minhash.shingle_jaccard())
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
