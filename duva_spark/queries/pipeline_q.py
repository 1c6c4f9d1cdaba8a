"""Training-data pipeline queries: the corpus-prep operations a
large-scale LLM data pipeline runs between raw ingest and shard packing
— deterministic sampling, normalization, vocabulary stats, quantization,
and the composite filter→dedup→select pipeline. All oracle-checked.

No counterpart in the reference (duva is an ETL/sync service, SURVEY
§2a); these extend the LLM-pipeline surface of BASELINE.json alongside
duva_spark/llm/*.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duva_spark.catalog import load_table
from duva_spark.llm import dedup, minhash, textstats
from duva_spark.llm.similarity import index_sum_sql
from duva_spark.queries import exact_avg, exact_avg_sql, register
from duva_spark.queries.llm_q import (
    _LANG_PRED,
    _NTOK,
    _QUALITY,
    _lab,
    _lr_features,
    _lr_scored,
    _sql_in_list,
)

# ---------------------------------------------------------------------------
# Deterministic hash sampling
# ---------------------------------------------------------------------------

_H100 = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100"


@register(
    "q_hash_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_H100} < 10
    """,
    description=(
        "Deterministic 10% corpus sample by md5(doc_id): reproducible across "
        "engines/runs/cluster sizes with zero coordination — the scalable "
        "alternative to rand()-based sampling (no seed plumbing, no reservoir), "
        "and a plain pushed-down filter at any corpus size."
    ),
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = minhash.md5_hash60(F.col("doc_id").cast("string"))
    return docs.filter(h % 100 < 10).select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# Fixed-k reservoir sample (round 12 — completes the sampling family
# next to q_hash_sample's fixed-RATE sample)
# ---------------------------------------------------------------------------


@register(
    "q_reservoir_sample",
    oracle="""
    SELECT doc_id, source, lang, h AS rank_h
    FROM (
      SELECT doc_id, source, lang,
             CAST('0x' || substr(md5('rsv1:' || CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
      FROM documents
    )
    ORDER BY h, doc_id
    LIMIT 100
    """,
    description=(
        "Fixed-k uniform reservoir sample: the exact-size companion to "
        "q_hash_sample's fixed-rate sample: each row gets a salt-keyed "
        "60-bit hash rank and the k=100 smallest ranks are the sample. "
        "Distributionally identical to Vitter's reservoir algorithm (any "
        "k-subset is equally likely under the uniform hash) but "
        "deterministic, engine-independent and MERGEABLE: top-k of a "
        "union is the top-k of per-partition top-k's, which is exactly "
        "what Spark's TakeOrderedAndProject physical operator computes — "
        "each task keeps a k-row heap, the driver merges #partitions * k "
        "rows, and NO global sort or single-partition stage ever exists "
        "(plan-asserted in tests/test_plans.py). Re-salting draws a fresh "
        "independent sample; rank_h is emitted so downstream stages can "
        "verify membership without re-hashing. 100 TB: the scan is "
        "embarrassingly parallel and the only cross-task traffic is k "
        "rows per task — the canonical bounded-driver sample at any "
        "corpus size."
    ),
)
def q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = minhash.md5_hash60(
        F.concat(F.lit("rsv1:"), F.col("doc_id").cast("string"))
    )
    return (
        docs.select("doc_id", "source", "lang", h.alias("rank_h"))
        .orderBy("rank_h", "doc_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Stopword-strip normalization
# ---------------------------------------------------------------------------


@register(
    "q_stopword_strip",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE doc_id <= 50),
    k AS (SELECT doc_id, ws,
                 list_filter(ws, x -> x NOT IN ({_sql_in_list(textstats.STOPWORDS)})) AS kept
          FROM w)
    SELECT doc_id,
           len(ws)   AS n_before,
           len(kept) AS n_after,
           md5(array_to_string(kept, ' ')) AS norm_fp
    FROM k
    """,
    description=(
        "Stopword-strip normalization: per-doc token filter against the "
        "language marker stopword list, with an md5 fingerprint of the "
        "normalized text — per-row codegen array ops, scan-speed at any size."
    ),
)
def q_stopword_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50)
    ws = F.split(F.col("text"), " ")
    stop = set(textstats.STOPWORDS)

    def keep(w):
        return ~w.isin(*stop)

    kept = F.filter(ws, keep)
    return docs.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_before"),
        F.size(kept).cast("long").alias("n_after"),
        F.md5(F.concat_ws(" ", kept)).alias("norm_fp"),
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary: top bigrams
# ---------------------------------------------------------------------------


@register(
    "q_top_bigrams",
    oracle="""
    WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
    b AS (SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS bigram
          FROM w)
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM b
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
    description=(
        "Corpus-level top-20 bigrams: zip-shifted bigram arrays (no "
        "per-index lookups) → explode → count → TakeOrderedAndProject. The "
        "explode shuffle carries (bigram) rows only; top-n is per-partition "
        "heaps + driver merge of 20 rows."
    ),
)
def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    bigrams = F.filter(
        F.zip_with(ws, F.slice(ws, 2, F.size(ws)), lambda a, b: F.concat(a, F.lit(" "), b)),
        lambda x: x.isNotNull(),
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@register(
    "q_zipf_fit",
    oracle="""
    WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS w
               FROM documents),
    c AS (SELECT source, w, COUNT(*) AS n FROM w GROUP BY source, w),
    top AS (SELECT source, n,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY n DESC, w) AS rank
            FROM c QUALIFY rank <= 50)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_top,
           ROUND(regr_slope(ln(n), ln(rank)), 6) AS zipf_slope
    FROM top GROUP BY source
    """,
    description=(
        "Zipf-fit diagnostic per source: OLS slope of ln(frequency) vs "
        "ln(rank) over each source's top-50 words — natural text sits "
        "near -1; a flat slope flags templated/synthetic content and a "
        "steep one flags degenerate repetition, the cheap corpus-health "
        "check next to q_heaps_law's growth curve. One corpus-scale "
        "shuffle (the (source, word) count); the rank window and the "
        "regression run over the vocabulary-sized count table, and the "
        "per-source OLS is a 5-sum aggregate over 50 rows."
    ),
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("n"))
    )
    w = W.partitionBy("source").orderBy(F.desc("n"), F.asc("w"))
    top = counts.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 50)
    pts = top.select(
        "source",
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    agg = pts.groupBy("source").agg(
        F.count("*").alias("n_top"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n_top")
    # try_divide: a source with a single distinct top word has zero x
    # variance; the oracle's regr_slope returns NULL there, and plain /
    # would throw under the session's ANSI mode
    slope = F.try_divide(
        n * F.col("sxy") - F.col("sx") * F.col("sy"),
        n * F.col("sxx") - F.col("sx") * F.col("sx"),
    )
    return agg.select(
        "source", n.cast("long").alias("n_top"), F.round(slope, 6).alias("zipf_slope")
    )


# ---------------------------------------------------------------------------
# Length histogram
# ---------------------------------------------------------------------------


@register(
    "q_length_histogram",
    oracle=f"""
    SELECT CAST(FLOOR({_NTOK} / 20) * 20 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(CAST(FLOOR(({_QUALITY}) * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE) / (COUNT({_QUALITY}) * 1e6), 6) AS avg_quality
    FROM documents
    GROUP BY 1
    """,
    description=(
        "Token-length histogram (width-20 buckets) with per-bucket quality — "
        "the length-distribution profile every corpus-prep run starts with; "
        "one partial-agg shuffle of (bucket) rows."
    ),
)
def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    bucket = (F.floor(textstats.token_count_ws(t) / 20) * 20).cast("long")
    return docs.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_docs"),
        exact_avg(textstats.quality_score(t), 6).alias("avg_quality"),
    )


# ---------------------------------------------------------------------------
# Embedding quantization (int8)
# ---------------------------------------------------------------------------

_EMB_D = "list_transform(embedding, x -> CAST(x AS DOUBLE))"


@register(
    "q_embed_quantize",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_EMB_D} AS v FROM embeddings),
    s AS (SELECT vec_id, v, list_min(v) AS mn, (list_max(v) - list_min(v)) / 255.0 AS sc FROM e),
    q AS (SELECT vec_id, v, mn, sc,
                 list_transform(v, x -> CAST(ROUND((x - mn) / sc) AS INTEGER)) AS qv
          FROM s)
    SELECT vec_id,
           qv[1]  AS q_first,
           qv[64] AS q_last,
           ROUND({index_sum_sql(64, "ABS(qv[i] * sc + mn - v[i])")} / 64, 6) AS mae
    FROM q
    """,
    description=(
        "Per-vector int8 quantization (min/max affine, the FAISS SQ8 scheme) "
        "with reconstruction MAE — 4× storage cut for the ANN path, computed "
        "as pure codegen array math, zero shuffle. Assumes non-constant "
        "vectors (scale > 0), as any real embedding table satisfies."
    ),
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    t = emb.select("vec_id", v.alias("v")).select(
        "vec_id", "v", F.array_min("v").alias("mn"),
        ((F.array_max("v") - F.array_min("v")) / 255.0).alias("sc"),
    )

    def quant(x):
        return F.round((x - F.col("mn")) / F.col("sc")).cast("int")

    q = t.select("vec_id", "v", "mn", "sc", F.transform("v", quant).alias("qv"))
    mae = (
        F.aggregate(
            F.zip_with("qv", "v", lambda b, x: F.abs(b * F.col("sc") + F.col("mn") - x)),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )
        / 64
    )
    return q.select(
        "vec_id",
        F.element_at("qv", 1).alias("q_first"),
        F.element_at("qv", 64).alias("q_last"),
        F.round(mae, 6).alias("mae"),
    )


# ---------------------------------------------------------------------------
# Composite corpus-prep pipeline
# ---------------------------------------------------------------------------


@register(
    "q_corpus_prep_pipeline",
    oracle=f"""
    WITH keep AS (
      SELECT doc_id, source, text, {_NTOK} AS nt, {_QUALITY} AS q
      FROM documents
      WHERE {_QUALITY} >= 0.5 AND {_LANG_PRED} = 'en'
      QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT)  AS total_tokens,
           ROUND(CAST(SUM(CAST(FLOOR(q * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE)
                 / (COUNT(*) * 1e6), 6) AS avg_quality
    FROM keep
    GROUP BY source
    """,
    description=(
        "The composite corpus-prep pipeline end-to-end: quality filter → "
        "language filter → exact dedup (min-id keeper among survivors) → "
        "per-source token budget. Filters run at scan speed before the "
        "single dedup shuffle; the final agg is map-side combined. "
        "avg_quality accumulates the 6-dp per-doc scores as EXACT scaled "
        "integers (the money_cents/calibration trick): a float AVG's "
        "partial-sum order varies with shuffle fetch order, and a value "
        "on a 5e-7 rounding boundary can flip its last digit between "
        "otherwise-identical runs — exact accumulation makes the result "
        "order-independent on both engines."
    ),
)
def q_corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    filtered = docs.filter(
        (textstats.quality_score(t) >= 0.5) & (textstats.predicted_lang(t) == "en")
    )
    kept = dedup.dedup_exact(filtered, ["text"], "doc_id")
    q_scaled = F.floor(textstats.quality_score(t) * 1e6 + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(textstats.token_count_ws(t)).cast("long").alias("total_tokens"),
        F.round(
            F.sum(q_scaled).cast("double") / (F.count("*").cast("double") * 1e6), 6
        ).alias("avg_quality"),
    )


# ---------------------------------------------------------------------------
# Document chunking (token windows with stride)
# ---------------------------------------------------------------------------


@register(
    "q_doc_chunking",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE doc_id <= 100),
    c AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(ws) + 1, 40),
                        st -> {'idx': CAST((st - 1) // 40 AS BIGINT),
                               'ch': ws[st:st+49]})) AS u
          FROM w)
    SELECT doc_id,
           u.idx AS chunk_idx,
           CAST(len(u.ch) AS BIGINT) AS n_tokens,
           md5(array_to_string(u.ch, ' ')) AS chunk_fp
    FROM c
    """,
    description=(
        "Document chunking into 50-token windows on a 40-token stride "
        "(10-token overlap) — the context-window splitter every training "
        "pipeline runs before tokenization. Pure codegen sequence/slice + "
        "posexplode; rows fan out ~len/stride with no shuffle."
    ),
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 100)
    ws = F.split(F.col("text"), " ")
    starts = F.sequence(F.lit(1), F.size(ws), F.lit(40))

    def chunk_at(st):
        return F.slice(ws, st, 50)

    chunks = F.transform(starts, chunk_at)
    return (
        docs.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.size("chunk").cast("long").alias("n_tokens"),
            F.md5(F.concat_ws(" ", "chunk")).alias("chunk_fp"),
        )
    )


# ---------------------------------------------------------------------------
# Benchmark contamination check
# ---------------------------------------------------------------------------

_GRAM8 = (
    "list_distinct(list_transform(range(1, len(ws) - 6), i -> "
    + " || ' ' || ".join(f"ws[i+{j}]" if j else "ws[i]" for j in range(8))
    + "))"
)


@register(
    "q_ngram_contamination",
    headline=True,
    oracle=f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws, {_H100} AS h
               FROM documents),
    g AS (SELECT doc_id, h,
                 CAST('0x' || substr(md5(unnest({_GRAM8})), 1, 15) AS BIGINT) AS gh
          FROM d WHERE len(ws) >= 8),
    ev AS (SELECT DISTINCT gh FROM g WHERE h < 10),
    tr AS (SELECT doc_id, gh FROM g WHERE h >= 10)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
    FROM tr JOIN ev USING (gh)
    GROUP BY doc_id
    """,
    description=(
        "Benchmark-contamination check: training docs sharing any word "
        "8-gram with the held-out eval split (deterministic 10% hash "
        "sample). Grams are hashed to fixed-width 60-bit keys; the eval "
        "gram set is broadcast (benchmark suites are tiny next to a "
        "100 TB corpus), so the only shuffle is the per-doc overlap "
        "count. The standard pre-training decontamination gate "
        "(GPT-3/PaLM style n-gram overlap)."
    ),
)
def q_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import minhash

    docs = load_table(spark, sf_dir, "documents")
    h = (
        minhash.md5_hash60(F.col("doc_id").cast("string"))
        % 100
    )
    grams = docs.select(
        "doc_id",
        h.alias("h"),
        F.explode(minhash.word_shingles(F.split(F.col("text"), " "), 8)).alias("gram"),
    ).select("doc_id", "h", minhash.md5_hash60(F.col("gram")).alias("gh"))
    ev = grams.filter(F.col("h") < 10).select("gh").distinct()
    tr = grams.filter(F.col("h") >= 10)
    return (
        tr.join(F.broadcast(ev), "gh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_grams"))
    )


# ---------------------------------------------------------------------------
# Source/language mixture sampling
# ---------------------------------------------------------------------------

# Target language mixture (multilingual-pretraining style reweighting:
# downsample the dominant language, upsample the low-resource ones).
MIX_WEIGHTS: dict[str, float] = {"en": 0.4, "de": 0.2, "es": 0.15, "fr": 0.15, "zh": 0.1}

_MIX_CASE = (
    "CASE lang " + " ".join(f"WHEN '{k}' THEN {v}" for k, v in MIX_WEIGHTS.items()) + " END"
)
_H10000 = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000"


@register(
    "q_mixture_sampling",
    headline=True,
    oracle=f"""
    WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, {_MIX_CASE} AS tw
               FROM documents GROUP BY lang),
    cap AS (SELECT MIN(n_docs / tw) AS cap FROM c),
    thr AS (SELECT lang, n_docs,
                   CAST(FLOOR(10000 * tw * cap / n_docs) AS BIGINT) AS hash_threshold
            FROM c, cap),
    s AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_sampled
          FROM documents d JOIN thr ON d.lang = thr.lang
          WHERE {_H10000} < hash_threshold
          GROUP BY d.lang)
    SELECT thr.lang AS lang, n_docs, hash_threshold,
           COALESCE(n_sampled, 0) AS n_sampled
    FROM thr LEFT JOIN s ON thr.lang = s.lang
    """,
    description=(
        "Deterministic mixture sampling: resample the corpus toward a "
        "target language mix. Per-language acceptance thresholds derive "
        "from observed counts (largest feasible corpus at the target mix, "
        "no language oversampled past 1.0), and acceptance is an integer "
        "hash-threshold test — reproducible across engines, runs, and "
        "cluster sizes, zero coordination. The per-language stats table "
        "is tiny and broadcast; the corpus-side pass is a pushed-down "
        "filter + one partial-agg shuffle."
    ),
)
def q_mixture_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tw = F.lit(None).cast("double")
    for k, v in reversed(MIX_WEIGHTS.items()):
        tw = F.when(F.col("lang") == k, F.lit(v)).otherwise(tw)
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs")).withColumn("tw", tw)
    cap = counts.agg(F.min(F.col("n_docs") / F.col("tw")).alias("cap"))
    thr = counts.crossJoin(F.broadcast(cap)).select(
        "lang",
        "n_docs",
        F.floor(F.lit(10000) * F.col("tw") * F.col("cap") / F.col("n_docs")).alias(
            "hash_threshold"
        ),
    )
    h = (
        minhash.md5_hash60(F.col("doc_id").cast("string"))
        % 10000
    )
    sampled = (
        docs.select("lang", h.alias("h"))
        .join(F.broadcast(thr), "lang")
        .filter(F.col("h") < F.col("hash_threshold"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"))
    )
    return thr.join(F.broadcast(sampled), "lang", "left").select(
        "lang", "n_docs", "hash_threshold", F.coalesce("n_sampled", F.lit(0)).alias("n_sampled")
    )


# ---------------------------------------------------------------------------
# Adaptive (percentile-derived) quality filtering
# ---------------------------------------------------------------------------


@register(
    "q_adaptive_quality_filter",
    oracle=f"""
    WITH q AS (SELECT source, {_QUALITY} AS quality, {_NTOK} AS n_tok FROM documents),
    thr AS (SELECT source, quantile_cont(quality, 0.25) AS q25 FROM q GROUP BY source)
    SELECT q.source AS source,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(n_tok) AS BIGINT) AS kept_tokens,
           ROUND(CAST(SUM(CAST(FLOOR((quality) * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE) / (COUNT(quality) * 1e6), 6) AS avg_kept_quality
    FROM q JOIN thr ON q.source = thr.source
    WHERE q.quality >= q25
    GROUP BY q.source
    """,
    description=(
        "Adaptive quality filtering: the cut line is the per-source p25 "
        "of the quality score (data-derived, not a global constant — the "
        "CCNet-style per-bucket approach), then the corpus is filtered "
        "against its own source's threshold. Per-source thresholds are a "
        "tiny broadcast frame; the corpus sees one scan + one agg "
        "shuffle. The p25 comes from operators/quantile."
        "grouped_quantile_cont, so no reducer buffers a source's raw "
        "quality vector; exact interpolation matches quantile_cont."
    ),
)
def q_adaptive_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.operators.quantile import grouped_quantile_cont

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    q = docs.select(
        "source",
        textstats.quality_score(t).alias("quality"),
        textstats.token_count_ws(t).alias("n_tok"),
    )
    thr = grouped_quantile_cont(q, ["source"], "quality", {"q25": 0.25})
    return (
        q.join(F.broadcast(thr), "source")
        .filter(F.col("quality") >= F.col("q25"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_tok").cast("long").alias("kept_tokens"),
            exact_avg(F.col("quality"), 6).alias("avg_kept_quality"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic training-order shuffle (shard + position assignment)
# ---------------------------------------------------------------------------


@register(
    "q_shuffle_shards",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS hh
      FROM documents
    )
    SELECT doc_id, hh % 16 AS shard,
           ROW_NUMBER() OVER (PARTITION BY hh % 16 ORDER BY hh, doc_id) AS pos
    FROM h
    """,
    description=(
        "Deterministic global shuffle for training-data ordering: each doc "
        "gets a seeded md5 hash; shard = hash % n_shards, position = rank "
        "of the hash within the shard. Reproducible across engines, runs, "
        "and cluster sizes with zero coordination — and it never does a "
        "global sort: the only exchange is a hash partition on shard, and "
        "each shard orders independently (n_shards scales with the corpus, "
        "so per-shard sorts stay bounded). The scalable replacement for "
        "orderBy(rand())."
    ),
)
def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    hh = minhash.md5_hash60(F.concat(F.lit("42:"), F.col("doc_id").cast("string")))
    w = W.partitionBy("shard").orderBy("hh", "doc_id")
    return (
        docs.select("doc_id", hh.alias("hh"))
        .withColumn("shard", F.col("hh") % 16)
        .select("doc_id", "shard", F.row_number().over(w).alias("pos"))
    )


# ---------------------------------------------------------------------------
# Stratified exact-count sampling
# ---------------------------------------------------------------------------


@register(
    "q_stratified_sample",
    oracle="""
    WITH h AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS hh
      FROM documents
    )
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS pick
    FROM h
    QUALIFY pick <= 20
    """,
    description=(
        "Stratified EXACT-count sampling: exactly min(20, |stratum|) docs "
        "per language, chosen by seeded md5 order — deterministic across "
        "engines and cluster sizes, unlike rand()-based sampleBy which is "
        "only approximate. The complement of q_mixture_sampling "
        "(threshold/approximate): this is the per-group top-n shape, one "
        "hash exchange on the stratum key, per-stratum rank bounded by "
        "stratum size. With millions of strata this stays one shuffle; "
        "for FEW huge strata the hash-threshold variant is the scale "
        "path (documented trade-off)."
    ),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    hh = minhash.md5_hash60(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
    w = W.partitionBy("lang").orderBy("hh", "doc_id")
    return (
        docs.select("doc_id", "lang", hh.alias("hh"))
        .withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") <= 20)
        .select("doc_id", "lang", "pick")
    )


# ---------------------------------------------------------------------------
# Cross-document repeated n-gram detection (boilerplate mining)
# ---------------------------------------------------------------------------


@register(
    "q_repeated_ngrams",
    oracle=f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT doc_id,
                 CAST('0x' || substr(md5(unnest({_GRAM8})), 1, 15) AS BIGINT) AS gh
          FROM d WHERE len(ws) >= 8)
    SELECT gh,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS example_doc
    FROM g
    GROUP BY gh
    HAVING COUNT(*) >= 2
    ORDER BY n_docs DESC, gh
    LIMIT 50
    """,
    description=(
        "Cross-document repeated-substring mining: every word 8-gram "
        "(per-doc distinct, hashed to a 60-bit key) grouped corpus-wide; "
        "grams appearing in ≥2 docs are boilerplate/template candidates — "
        "the detection pass behind exact-substring dedup (Lee et al.'s "
        "dedup-training-data shape, bounded to fixed-width grams so it "
        "stays one explode + one count shuffle instead of suffix-array "
        "construction). Top-50 by doc frequency plans as "
        "TakeOrderedAndProject; gram keys are fixed-width ints, so the "
        "shuffle carries no strings."
    ),
)
def q_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grams = dedup.gram_keys(docs, "doc_id", "text", 8)
    return (
        grams.groupBy("gh")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("example_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.asc("gh"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Vocabulary induction + OOV coverage
# ---------------------------------------------------------------------------


@register(
    "q_vocab_coverage",
    oracle="""
    WITH w AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
               FROM documents),
    freq AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
    vocab AS (SELECT word FROM freq ORDER BY cnt DESC, word LIMIT 100)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE v.word IS NULL) AS BIGINT) AS n_oov,
           ROUND(COUNT(*) FILTER (WHERE v.word IS NULL) * 1.0 / COUNT(*), 6)
             AS oov_rate
    FROM w LEFT JOIN vocab v USING (word)
    GROUP BY source
    """,
    description=(
        "Vocabulary induction + out-of-vocabulary coverage: the top-100 "
        "corpus vocabulary (by frequency, deterministic tie-break) is "
        "built with one count shuffle + TakeOrderedAndProject, then "
        "BROADCAST left-joined back to the token stream for per-source "
        "OOV rates — the tokenizer-coverage report a pretraining "
        "pipeline runs before committing to a vocab. The corpus explodes "
        "once; the vocab side is always driver-size by construction."
    ),
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("source", F.explode(F.split("text", " ")).alias("word"))
    vocab = (
        w.groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(100)
        .select("word", F.lit(1).alias("_in_vocab"))
    )
    j = w.join(F.broadcast(vocab), "word", "left")
    oov = F.count(F.when(F.col("_in_vocab").isNull(), 1))
    return j.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        oov.alias("n_oov"),
        F.round(oov * 1.0 / F.count("*"), 6).alias("oov_rate"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM perplexity scoring (CCNet-style quality filter)
# ---------------------------------------------------------------------------


def _doc_nll_census(per_doc: DataFrame, docs: DataFrame) -> DataFrame:
    """Shared per-language census over per-doc average-NLL scores —
    one implementation of the (n_docs, mean/best/worst) contract for
    the unigram and bigram perplexity filters (the r5 review flagged
    the copy; rounding or column changes now land in one place)."""
    return (
        per_doc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            exact_avg(F.col("avg_nll"), 6).alias("mean_doc_nll"),
            F.round(F.min("avg_nll"), 6).alias("best_doc_nll"),
            F.round(F.max("avg_nll"), 6).alias("worst_doc_nll"),
        )
    )


@register(
    "q_unigram_perplexity",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    vocab AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word),
    tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM vocab),
    scored AS (
      SELECT t.doc_id, -ln(v.cnt / tot.n) AS nll
      FROM tok t JOIN vocab v USING (word) CROSS JOIN tot
    ),
    per_doc AS (
      SELECT doc_id, ROUND(CAST(SUM(CAST(FLOOR((nll) * 1e9 + 0.5) AS HUGEINT)) AS DOUBLE) / (COUNT(nll) * 1e9), 6) AS avg_nll, COUNT(*) AS n_tok
      FROM scored GROUP BY doc_id
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(CAST(FLOOR((p.avg_nll) * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE) / (COUNT(p.avg_nll) * 1e6), 6) AS mean_doc_nll,
           ROUND(MIN(p.avg_nll), 6) AS best_doc_nll,
           ROUND(MAX(p.avg_nll), 6) AS worst_doc_nll
    FROM per_doc p JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """,
    description=(
        "Unigram-LM perplexity scoring — the CCNet-style statistical "
        "quality filter (docs whose tokens are improbable under the "
        "corpus LM are outliers/noise): token counts in one shuffle, "
        "corpus total as a 1-row broadcast, per-token -ln p joined back "
        "on the fixed-width word key, then per-doc average negative "
        "log-likelihood aggregated per language. At 100 TB the vocab "
        "table is Zipf-bounded (≪ corpus) and the join is "
        "broadcast-able after a frequency cut; every stage here is a "
        "plain hash shuffle — no driver-side model state."
    ),
)
def q_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    vocab = tok.groupBy("word").agg(F.count("*").alias("cnt"))
    tot = vocab.agg(F.sum("cnt").cast("double").alias("n"))
    scored = (
        tok.join(vocab, "word")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", (-F.log(F.col("cnt") / F.col("n"))).alias("nll"))
    )
    per_doc = scored.groupBy("doc_id").agg(exact_avg(F.col("nll"), 9, 6).alias("avg_nll"))
    return _doc_nll_census(per_doc, docs)


@register(
    "q_epoch_capped_mixture",
    oracle="""
    WITH t AS (SELECT source,
                      CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) AS toks
               FROM documents GROUP BY source),
    tot AS (SELECT SUM(toks) AS total, CAST(COUNT(*) AS DOUBLE) AS ns FROM t)
    SELECT source,
           CAST(toks AS BIGINT) AS n_tokens,
           ROUND(LEAST(1.0, (0.5 * total / ns) / toks), 6) AS sample_rate,
           CAST(CASE WHEN (0.5 * total / ns) > toks THEN 1 ELSE 0 END AS BIGINT)
             AS under_budget
    FROM t CROSS JOIN tot
    """,
    description=(
        "Epoch-capped domain mixture (the LLaMA-recipe data card): "
        "given a token budget (half the corpus here) split uniformly "
        "across sources, each source's sampling rate is min(1, "
        "share/available) — a domain smaller than its share is flagged "
        "under_budget (it would need multiple epochs, which the cap "
        "forbids; its surplus re-allocates in the next planning "
        "iteration). Distinct from the temperature/threshold mixtures: "
        "this is the hard single-epoch constraint. One token-count "
        "aggregation per source + a one-row broadcast — scan-level at "
        "any scale."
    ),
)
def q_epoch_capped_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("double").alias("toks")
    )
    tot = t.agg(
        F.sum("toks").alias("total"), F.count("*").cast("double").alias("ns")
    )
    share = F.lit(0.5) * F.col("total") / F.col("ns")
    return t.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("toks").cast("long").alias("n_tokens"),
        F.round(F.least(F.lit(1.0), share / F.col("toks")), 6).alias("sample_rate"),
        F.when(share > F.col("toks"), 1).otherwise(0).cast("long").alias("under_budget"),
    )


@register(
    "q_bigram_perplexity",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    uni AS (SELECT unnest(ws) AS w FROM tok),
    ucnt AS (SELECT w, COUNT(*) AS cnt FROM uni GROUP BY w),
    utot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM ucnt),
    bi0 AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(ws)),
                          i -> {'w1': ws[i], 'w2': ws[i + 1]})) AS b
            FROM tok),
    bi AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bi0),
    bcnt AS (SELECT w1, w2, COUNT(*) AS bc FROM bi GROUP BY w1, w2),
    ctx AS (SELECT w1, CAST(SUM(bc) AS DOUBLE) AS cc FROM bcnt GROUP BY w1),
    scored AS (
      SELECT b.doc_id,
             -ln(0.7 * (bc.bc / ctx.cc) + 0.3 * (u.cnt / utot.n)) AS nll
      FROM bi b
      JOIN bcnt bc USING (w1, w2)
      JOIN ctx USING (w1)
      JOIN ucnt u ON u.w = b.w2
      CROSS JOIN utot
    ),
    per_doc AS (
      SELECT doc_id, ROUND(CAST(SUM(CAST(FLOOR((nll) * 1e9 + 0.5) AS HUGEINT)) AS DOUBLE) / (COUNT(nll) * 1e9), 6) AS avg_nll
      FROM scored GROUP BY doc_id
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(CAST(FLOOR((p.avg_nll) * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE) / (COUNT(p.avg_nll) * 1e6), 6) AS mean_doc_nll,
           ROUND(MIN(p.avg_nll), 6) AS best_doc_nll,
           ROUND(MAX(p.avg_nll), 6) AS worst_doc_nll
    FROM per_doc p JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """,
    description=(
        "Interpolated bigram-LM perplexity (λ=0.7 bigram MLE + 0.3 "
        "unigram backoff — the strictly stronger sibling of the "
        "unigram CCNet filter: it scores word ORDER, so shuffled or "
        "templated text stands out even when its word distribution is "
        "clean). Same scale shape as the unigram path: bigram and "
        "context tables are Zipf-bounded (≪ corpus) so the per-token "
        "joins broadcast after a frequency cut at 100 TB; one narrow "
        "explode, three hash-key joins, two aggregations — no driver "
        "state. Docs under two words carry no bigrams and drop out of "
        "the per-doc average on both engines."
    ),
)
def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.split("text", " ").alias("ws"))
    # sequence(0, -1) counts DOWN in Spark, so guard short docs
    bi = tok.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(ws) >= 2 THEN "
                "transform(sequence(0, size(ws) - 2),"
                " i -> struct(ws[i] AS w1, ws[i + 1] AS w2)) "
                "ELSE array() END"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    uni = tok.select(F.explode("ws").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count("*").alias("cnt"))
    utot = ucnt.agg(F.sum("cnt").cast("double").alias("n"))
    bcnt = bi.groupBy("w1", "w2").agg(F.count("*").alias("bc"))
    ctx = bcnt.groupBy("w1").agg(F.sum("bc").cast("double").alias("cc"))
    scored = (
        bi.join(bcnt, ["w1", "w2"])
        .join(ctx, "w1")
        .join(ucnt.withColumnRenamed("w", "w2"), "w2")
        .crossJoin(F.broadcast(utot))
        .select(
            "doc_id",
            (
                -F.log(
                    F.lit(0.7) * (F.col("bc") / F.col("cc"))
                    + F.lit(0.3) * (F.col("cnt") / F.col("n"))
                )
            ).alias("nll"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(exact_avg(F.col("nll"), 9, 6).alias("avg_nll"))
    return _doc_nll_census(per_doc, docs)


@register(
    "q_perplexity_buckets",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    vocab AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word),
    tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM vocab),
    scored AS (
      SELECT t.doc_id, -ln(v.cnt / tot.n) AS nll
      FROM tok t JOIN vocab v USING (word) CROSS JOIN tot
    ),
    per_doc AS (
      SELECT doc_id, ROUND(CAST(SUM(CAST(FLOOR((nll) * 1e9 + 0.5) AS HUGEINT)) AS DOUBLE) / (COUNT(nll) * 1e9), 6) AS avg_nll
      FROM scored GROUP BY doc_id
    ),
    thr AS (SELECT ROUND(quantile_cont(avg_nll, 1.0/3), 6) AS lo,
                   ROUND(quantile_cont(avg_nll, 2.0/3), 6) AS hi
            FROM per_doc)
    SELECT CASE WHEN avg_nll <= lo THEN 'head'
                WHEN avg_nll <= hi THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(CAST(FLOOR((avg_nll) * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE) / (COUNT(avg_nll) * 1e6), 6) AS mean_nll
    FROM per_doc CROSS JOIN thr
    GROUP BY 1
    """,
    description=(
        "CCNet head/middle/tail quality bucketing: per-doc unigram-LM "
        "negative log-likelihood (the verified q_unigram_perplexity "
        "scoring stage), cut at the corpus 1/3 and 2/3 perplexity "
        "terciles. The thresholds come from the repo's distributed "
        "exact-quantile operator (two-pass range-partitioned — no "
        "global sort, no NTILE single-partition window), broadcast "
        "back as one row; bucketing is then a scan-level CASE. Both "
        "the per-doc score and the thresholds are rounded to the same "
        "6-dp grid on both engines so the boundary comparison is "
        "engine-stable."
    ),
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.operators.quantile import quantile_cont

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    vocab = tok.groupBy("word").agg(F.count("*").alias("cnt"))
    tot = vocab.agg(F.sum("cnt").cast("double").alias("n"))
    per_doc = (
        tok.join(vocab, "word")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", (-F.log(F.col("cnt") / F.col("n"))).alias("nll"))
        .groupBy("doc_id")
        .agg(exact_avg(F.col("nll"), 9, 6).alias("avg_nll"))
        # consumed twice (threshold fit + bucketing scan) — materialize
        # the per-doc scores once instead of re-running the token
        # pipeline; blocks free with the result (the repo's standard
        # localCheckpoint-over-persist rationale)
        .localCheckpoint()
    )
    thr = quantile_cont(per_doc, "avg_nll", [1 / 3, 2 / 3])
    b = thr.agg(
        F.round(F.max(F.when(F.col("q") < 0.5, F.col("quantile"))), 6).alias("lo"),
        F.round(F.max(F.when(F.col("q") > 0.5, F.col("quantile"))), 6).alias("hi"),
    )
    return (
        per_doc.crossJoin(F.broadcast(b))
        .select(
            "avg_nll",
            F.when(F.col("avg_nll") <= F.col("lo"), "head")
            .when(F.col("avg_nll") <= F.col("hi"), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            exact_avg(F.col("avg_nll"), 6).alias("mean_nll"),
        )
    )


@register(
    "q_pmi_bigrams",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    uni AS (SELECT unnest(ws) AS word FROM tok),
    ucnt AS (SELECT word, COUNT(*) AS cnt FROM uni GROUP BY word),
    utot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM ucnt),
    bi AS (
      SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]))
               AS bigram
      FROM tok
    ),
    bcnt AS (SELECT bigram, COUNT(*) AS bcount FROM bi GROUP BY bigram HAVING COUNT(*) >= 5),
    btot AS (SELECT CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS bn FROM bi LIMIT 1),
    pmi AS (
      SELECT b.bigram, b.bcount,
             ROUND(ln((b.bcount / btot.bn) /
                      ((a.cnt / utot.n) * (c.cnt / utot.n))), 6) AS pmi
      FROM bcnt b
      JOIN ucnt a ON a.word = string_split(b.bigram, ' ')[1]
      JOIN ucnt c ON c.word = string_split(b.bigram, ' ')[2]
      CROSS JOIN utot CROSS JOIN btot
    )
    SELECT bigram, CAST(bcount AS BIGINT) AS bcount, pmi
    FROM pmi
    ORDER BY pmi DESC, bigram
    LIMIT 20
    """,
    description=(
        "Pointwise mutual information collocations: top-20 bigrams by "
        "PMI (min support 5) — the classic statistical phrase miner "
        "(word2vec-phrases / tokenizer-merge precursor). Unigram and "
        "bigram counts are two hash shuffles; totals are 1-row "
        "broadcasts; the per-bigram probability join hits the "
        "Zipf-bounded vocab table twice (broadcast-able at scale); "
        "top-20 is TakeOrderedAndProject."
    ),
)
def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    tok = docs.select(ws.alias("ws"))
    uni = tok.select(F.explode("ws").alias("word"))
    ucnt = uni.groupBy("word").agg(F.count("*").alias("cnt"))
    utot = ucnt.agg(F.sum("cnt").cast("double").alias("n"))
    bigrams = tok.select(
        F.explode(
            F.zip_with(
                F.col("ws"),
                F.slice(F.col("ws"), 2, F.greatest(F.size("ws") - 1, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram")
    ).filter(~F.col("bigram").rlike("^[^ ]*$"))  # drop the unpaired tail
    bcnt = bigrams.groupBy("bigram").agg(F.count("*").alias("bcount")).filter("bcount >= 5")
    btot = bigrams.agg(F.count("*").cast("double").alias("bn"))
    parts = F.split("bigram", " ")
    b = bcnt.withColumn("w1", parts[0]).withColumn("w2", parts[1])
    a1 = ucnt.select(F.col("word").alias("w1"), F.col("cnt").alias("cnt1"))
    a2 = ucnt.select(F.col("word").alias("w2"), F.col("cnt").alias("cnt2"))
    pmi = (
        b.join(a1, "w1")
        .join(a2, "w2")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
        .select(
            "bigram",
            F.col("bcount").cast("long").alias("bcount"),
            F.round(
                F.log(
                    (F.col("bcount") / F.col("bn"))
                    / ((F.col("cnt1") / F.col("n")) * (F.col("cnt2") / F.col("n")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return pmi.orderBy(F.desc("pmi"), F.asc("bigram")).limit(20)


@register(
    "q_train_val_test",
    oracle=f"""
    WITH s AS (
      SELECT CASE WHEN {_H100} < 80 THEN 'train'
                  WHEN {_H100} < 90 THEN 'val'
                  ELSE 'test' END AS split,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM s GROUP BY split
    """,
    description=(
        "Canonical 80/10/10 train/val/test split by doc-id hash: "
        "disjoint and exhaustive BY CONSTRUCTION (one hash, three "
        "half-open ranges), reproducible across engines/runs/cluster "
        "sizes, and stable under corpus growth (a doc's split never "
        "changes when others arrive — the property random splits lose). "
        "Same md5 ranges the contamination check keys on, so eval "
        "leakage is checkable against the very same function."
    ),
)
def q_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = minhash.md5_hash60(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test").alias("split")
    )
    return docs.select(split, textstats.token_count_ws(F.col("text")).alias("n_tok")).groupBy(
        "split"
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )


@register(
    "q_length_bucketed_batching",
    oracle="""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
    ),
    b AS (
      SELECT doc_id, n_tok, (n_tok - 1) // 16 AS len_bucket,
             ROW_NUMBER() OVER (PARTITION BY (n_tok - 1) // 16
                                ORDER BY n_tok, doc_id) - 1 AS pos
      FROM t
    ),
    batches AS (
      SELECT len_bucket, pos // 8 AS batch_idx, n_tok FROM b
    )
    SELECT len_bucket, batch_idx,
           CAST(COUNT(*) AS BIGINT) AS batch_size,
           CAST(MAX(n_tok) AS BIGINT) AS max_len,
           CAST(MAX(n_tok) * COUNT(*) - SUM(n_tok) AS BIGINT) AS padding_waste
    FROM batches
    GROUP BY len_bucket, batch_idx
    """,
    description=(
        "Length-bucketed batching — the padding-efficiency op every "
        "training loader runs: docs bucket by length/16, rank within "
        "the bucket (ties pinned by id), chunk into batches of 8, and "
        "report per-batch padding waste (max_len x size - sum_len). "
        "Grouping similar lengths cuts pad-token compute versus random "
        "batching. One window shuffle on the bucket key; buckets scale "
        "with length range, not corpus size, and each bucket's rank is "
        "independent — at extreme per-bucket cardinality the "
        "distributed prefix sum replaces the ranking window."
    ),
)
def q_length_bucketed_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", textstats.token_count_ws(F.col("text")).alias("n_tok"))
    b = t.withColumn("len_bucket", ((F.col("n_tok") - 1) / 16).cast("long")).withColumn(
        "pos",
        F.row_number().over(W.partitionBy("len_bucket").orderBy("n_tok", "doc_id")) - 1,
    )
    batches = b.withColumn("batch_idx", (F.col("pos") / 8).cast("long"))
    return batches.groupBy("len_bucket", "batch_idx").agg(
        F.count("*").alias("batch_size"),
        F.max("n_tok").cast("long").alias("max_len"),
        (F.max("n_tok") * F.count("*") - F.sum("n_tok")).cast("long").alias("padding_waste"),
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 and vector search
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard RRF damping constant (Cormack et al.)


def _rrf_ctes() -> str:
    """Shared CTE chain ending in the fused top-10 (``rrf``) — used by
    q_rrf_hybrid_search and composed further by the cross-encoder
    rerank oracle so the two cannot drift."""
    from duva_spark.queries.llm_q import _COS_QC, _bm25_sql

    return f"""bm AS ({_bm25_sql()}),
    lex AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
            FROM bm),
    qv_t AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    s AS (SELECT c.vec_id AS doc_id, ROUND({_COS_QC}, 6) AS cosine_sim
          FROM (SELECT vec_id, embedding AS cv FROM embeddings) c, qv_t
          WHERE c.vec_id <> 0),
    vec AS (SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY cosine_sim DESC, doc_id) AS vec_rank
            FROM s
            QUALIFY vec_rank <= 20),
    f AS (SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id, lex_rank, vec_rank
          FROM lex FULL JOIN vec ON lex.doc_id = vec.doc_id),
    rrf AS (SELECT doc_id, lex_rank, vec_rank,
                   ROUND(COALESCE(CAST(1 AS DOUBLE) / (60 + lex_rank), 0)
                         + COALESCE(CAST(1 AS DOUBLE) / (60 + vec_rank), 0), 6)
                     AS rrf_score
            FROM f
            ORDER BY rrf_score DESC, doc_id
            LIMIT 10)"""


def _rrf_sql() -> str:
    return f"""
    WITH {_rrf_ctes()}
    SELECT doc_id, lex_rank, vec_rank, rrf_score FROM rrf
    """


@register(
    "q_rrf_hybrid_search",
    oracle=_rrf_sql(),  # composed from llm_q's BM25 + cosine leg SQL (top import)
    headline=True,
    description=(
        "Hybrid retrieval: reciprocal-rank fusion (1/(60+rank)) of the "
        "BM25 lexical top-20 and the cosine vector top-20 for one probe "
        "(doc_id == vec_id keys the two legs together). Each leg is a "
        "TakeOrderedAndProject over scan-level scoring — the fusion "
        "itself joins two <=k-row frames, so at 100 TB the cost IS the "
        "two legs; the RRF join is broadcast-trivial. Rank windows run "
        "on <=20 rows post-top-k, never on the corpus."
    ),
)
def q_rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from duva_spark.llm import similarity
    from duva_spark.queries.llm_q import q_bm25_search

    lex = q_bm25_search(spark, sf_dir).limit(20)
    lex_ranked = lex.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .cast("long")
        .alias("lex_rank"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    vec = similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=20)
    vec_ranked = vec.select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("vec_rank")
    )
    fused = lex_ranked.join(vec_ranked, "doc_id", "full_outer")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("vec_rank")), F.lit(0.0)),
        6,
    )
    return (
        fused.select("doc_id", "lex_rank", "vec_rank", rrf.alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Character-class entropy (gibberish / binary-blob detector)
# ---------------------------------------------------------------------------


@register(
    "q_char_class_entropy",
    oracle="""
    WITH c AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n,
             CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) AS n_lower,
             CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) AS n_upper,
             CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS n_digit,
             CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) AS n_space
      FROM documents
      WHERE length(text) > 0
    ),
    e AS (
      SELECT doc_id, n, n_lower, n_upper, n_digit, n_space,
             n - n_lower - n_upper - n_digit - n_space AS n_other
      FROM c
    )
    SELECT doc_id,
           ROUND(
             (CASE WHEN n_lower > 0 THEN -(n_lower / n) * ln(n_lower / n) ELSE 0 END)
           + (CASE WHEN n_upper > 0 THEN -(n_upper / n) * ln(n_upper / n) ELSE 0 END)
           + (CASE WHEN n_digit > 0 THEN -(n_digit / n) * ln(n_digit / n) ELSE 0 END)
           + (CASE WHEN n_space > 0 THEN -(n_space / n) * ln(n_space / n) ELSE 0 END)
           + (CASE WHEN n_other > 0 THEN -(n_other / n) * ln(n_other / n) ELSE 0 END),
           4) AS char_entropy_nats
    FROM e
    """,
    headline=True,
    description=(
        "Quality signal: Shannon entropy (nats) of the 5-way character-"
        "class distribution (lower/upper/digit/space/other) per document "
        "— near-zero entropy flags single-class blobs (base64 dumps, "
        "digit walls, whitespace floods) that slip past length/stopword "
        "filters. Pure codegen column arithmetic (regexp_replace length "
        "deltas — no explode, no UDF): runs at scan speed with zero "
        "exchanges, so it composes into any ingest pass for free."
    ),
)
def q_char_class_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n = F.length("text").cast("double")
    klass = {
        "n_lower": F.length(F.regexp_replace("text", "[^a-z]", "")).cast("double"),
        "n_upper": F.length(F.regexp_replace("text", "[^A-Z]", "")).cast("double"),
        "n_digit": F.length(F.regexp_replace("text", "[^0-9]", "")).cast("double"),
        "n_space": (
            F.length("text") - F.length(F.regexp_replace("text", " ", ""))
        ).cast("double"),
    }
    base = docs.select("doc_id", n.alias("n"), *[v.alias(k) for k, v in klass.items()])
    base = base.withColumn(
        "n_other",
        F.col("n") - F.col("n_lower") - F.col("n_upper") - F.col("n_digit") - F.col("n_space"),
    )

    def term(c: str):
        p = F.col(c) / F.col("n")
        return F.when(F.col(c) > 0, -p * F.log(p)).otherwise(F.lit(0.0))

    entropy = term("n_lower") + term("n_upper") + term("n_digit") + term("n_space") + term("n_other")
    return base.select("doc_id", F.round(entropy, 4).alias("char_entropy_nats"))


# ---------------------------------------------------------------------------
# BPE-style adjacent-pair counting (the tokenizer-training inner loop)
# ---------------------------------------------------------------------------


@register(
    "q_bpe_pair_counts",
    oracle="""
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    p AS (
      SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair
      FROM w
      WHERE length(w) >= 2
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM p
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 30
    """,
    headline=True,
    description=(
        "Tokenizer training inner loop: corpus-wide adjacent character-"
        "pair frequencies within words — exactly the statistic one BPE "
        "merge round maximizes. Two Generate (explode) stages fan out "
        "linearly in corpus bytes, then ONE count shuffle on the 2-char "
        "pair key (alphabet-bounded cardinality, map-side combined) and "
        "a TakeOrderedAndProject top-30 — the same shape at 100 TB, "
        "where the pair-count table stays tiny regardless of corpus."
    ),
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Event debounce (burst suppression against the previous raw event)
# ---------------------------------------------------------------------------


@register(
    "q_event_debounce",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
             ) AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us >= 300000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM g
    GROUP BY event_type
    """,
    description=(
        "Debounce / burst suppression: per (user, event_type) stream, an "
        "event within 5 minutes of its predecessor is noise (double-"
        "clicks, retry storms) — LAG over one hash partitioning on the "
        "key, compared in exact integer microseconds, then a per-type "
        "keep/drop census. One shuffle; per-key window state is O(1). "
        "The streaming sibling is dropDuplicatesWithinWatermark; this is "
        "the batch/backfill form with value-hash-checked semantics."
    ),
)
def q_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    kept = F.when(gap.isNull() | (gap >= 300_000_000), 1).otherwise(0)
    return (
        ev.select("event_type", kept.alias("kept"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("kept").cast("long").alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# TF-IDF per-source signature terms
# ---------------------------------------------------------------------------


@register(
    "q_tfidf_top_terms",
    oracle="""
    WITH words AS (
      SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM words WHERE length(term) > 3
      GROUP BY source, term
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    ns AS (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_src FROM documents),
    scored AS (
      SELECT tf.source, tf.term,
             ROUND(tf * ln(CAST(n_src AS DOUBLE) / df), 4) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN ns
    )
    SELECT source, term, tfidf,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY tfidf DESC, term) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
    description=(
        "Per-source signature terms by TF-IDF: term frequency per "
        "(source, term), document frequency ACROSS sources reuses the "
        "tf frame (no second corpus pass), the source count broadcasts "
        "as a 1-row frame, and the per-source top-5 window runs on the "
        "vocab-sized agg output — corpus-sized data crosses the wire "
        "once, in the tf shuffle (map-side combined)."
    ),
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.length("term") > 3)
    tf = words.groupBy("source", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    ns = docs.agg(F.countDistinct("source").alias("n_src"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(ns))
        .select(
            "source",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_src").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("term"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= 5
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis, deterministic)
# ---------------------------------------------------------------------------

_TWO60 = 1152921504606846976  # 2^60: the 15-hex-digit md5 prefix universe


@register(
    "q_weighted_sample",
    oracle=f"""
    WITH k AS (
      SELECT lang, doc_id,
             -ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) + 0.5)
                 / {_TWO60}.0) / n_chars AS es_key
      FROM documents
      WHERE n_chars > 0
    )
    SELECT lang, doc_id, ROUND(es_key, 8) AS es_key,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY es_key, doc_id) AS rank
    FROM k
    QUALIFY rank <= 5
    """,
    description=(
        "Weighted sampling WITHOUT replacement (Efraimidis-Spirakis "
        "A-ES): per-row key -ln(u)/w with u derived from md5(doc_id) — "
        "deterministic across engines, runs, and cluster sizes, no "
        "reservoir state, no coordination. Weight = n_chars (longer "
        "docs proportionally likelier). Top-5 smallest keys per "
        "language = a valid weighted sample; the rank window partitions "
        "by language, and at extreme per-key cardinality the same key "
        "feeds TakeOrdered per group instead. The production form of "
        "'sample 1M docs proportional to quality' on 100 TB."
    ),
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = minhash.md5_hash60(F.col("doc_id").cast("string"))
    u = (h + F.lit(0.5)) / F.lit(float(_TWO60))
    key = -F.log(u) / F.col("n_chars")
    k = docs.select("lang", "doc_id", key.alias("es_key"))
    w = W.partitionBy("lang").orderBy(F.asc("es_key"), F.asc("doc_id"))
    return (
        k.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("lang", "doc_id", F.round("es_key", 8).alias("es_key"), "rank")
    )


# ---------------------------------------------------------------------------
# Word-level Markov table (next-token conditional probabilities)
# ---------------------------------------------------------------------------


@register(
    "q_word_markov",
    oracle="""
    WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
    b AS (SELECT unnest(list_transform(range(1, len(ws)),
                   i -> {'head': ws[i], 'nxt': ws[i+1]})) AS u
          FROM w),
    p AS (SELECT u.head AS head, u.nxt AS nxt FROM b),
    cnt AS (SELECT head, nxt, CAST(COUNT(*) AS BIGINT) AS n
            FROM p GROUP BY head, nxt),
    tot AS (SELECT head, CAST(SUM(n) AS BIGINT) AS n_head FROM cnt GROUP BY head),
    top_heads AS (SELECT head FROM tot ORDER BY n_head DESC, head LIMIT 10)
    SELECT cnt.head, nxt, n,
           ROUND(CAST(n AS DOUBLE) / n_head, 6) AS p,
           ROW_NUMBER() OVER (PARTITION BY cnt.head ORDER BY n DESC, nxt) AS rank
    FROM cnt
    JOIN tot USING (head)
    JOIN top_heads USING (head)
    QUALIFY rank <= 3
    """,
    description=(
        "Word-level Markov table: P(next | head) for the 10 most "
        "frequent head words, top-3 continuations each — the token-"
        "level sibling of the event-transition matrix and the statistic "
        "behind n-gram LM sanity checks. Bigram pairs come from the "
        "zip-shift (no per-index array lookups); ONE count shuffle on "
        "(head, next); head totals reuse that aggregate; the head "
        "shortlist joins back as a broadcast."
    ),
)
def q_word_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    pairs = F.filter(
        F.zip_with(
            ws,
            F.slice(ws, 2, F.size(ws)),
            lambda a, b: F.struct(a.alias("head"), b.alias("nxt")),
        ),
        lambda x: x.nxt.isNotNull(),
    )
    p = docs.select(F.explode(pairs).alias("u")).select("u.head", "u.nxt")
    cnt = p.groupBy("head", "nxt").agg(F.count("*").alias("n"))
    tot = cnt.groupBy("head").agg(F.sum("n").alias("n_head"))
    top_heads = tot.orderBy(F.desc("n_head"), F.asc("head")).limit(10).select("head")
    w = W.partitionBy("head").orderBy(F.desc("n"), F.asc("nxt"))
    return (
        cnt.join(tot, "head")
        .join(F.broadcast(top_heads), "head")
        .select(
            "head",
            "nxt",
            "n",
            F.round(F.col("n").cast("double") / F.col("n_head"), 6).alias("p"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
    )


# ---------------------------------------------------------------------------
# Benford first-digit conformance (data-quality / fraud screen)
# ---------------------------------------------------------------------------


@register(
    "q_benford_digit_test",
    oracle="""
    WITH d AS (
      SELECT substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS digit
      FROM orders
      WHERE o_totalprice >= 1
    ),
    c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
    t AS (SELECT digit, n, CAST(SUM(n) OVER () AS BIGINT) AS total FROM c)
    SELECT digit, n,
           ROUND(CAST(n AS DOUBLE) / total, 6) AS p_obs,
           ROUND(log10(1 + 1.0 / CAST(digit AS BIGINT)), 6) AS p_benford,
           ROUND(POWER(CAST(n AS DOUBLE) / total - log10(1 + 1.0 / CAST(digit AS BIGINT)), 2)
                 / log10(1 + 1.0 / CAST(digit AS BIGINT)), 8) AS chi2_term
    FROM t
    """,
    description=(
        "Benford first-digit conformance: observed leading-digit shares "
        "of order totals vs the log10(1+1/d) law, with per-digit "
        "chi-square terms — the standard fabricated-data / unit-mixup "
        "screen for financial facts. One count shuffle to NINE digit "
        "keys (map-side combined to nothing); the share window runs on "
        "the 9-row aggregate. Floor before cast on both engines — "
        "DuckDB CAST(double AS BIGINT) rounds where Spark truncates, "
        "the cross-engine trap this query exists to document."
    ),
)
def q_benford_digit_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = orders.select(
        F.substring(F.floor("o_totalprice").cast("string"), 1, 1).alias("digit")
    )
    c = d.groupBy("digit").agg(F.count("*").alias("n"))
    t = c.withColumn("total", F.sum("n").over(W.partitionBy()))
    p_obs = F.col("n").cast("double") / F.col("total")
    p_ben = F.log10(1 + 1.0 / F.col("digit").cast("long"))
    return t.select(
        "digit",
        "n",
        F.round(p_obs, 6).alias("p_obs"),
        F.round(p_ben, 6).alias("p_benford"),
        F.round(F.pow(p_obs - p_ben, 2) / p_ben, 8).alias("chi2_term"),
    )


# ---------------------------------------------------------------------------
# Distribution drift: population stability index between corpus halves
# ---------------------------------------------------------------------------


@register(
    "q_psi_drift",
    oracle=f"""
    WITH b AS (
      SELECT CAST(FLOOR(n_chars / 100) AS BIGINT) AS bucket,
             CASE WHEN {_H100} < 50 THEN 1 ELSE 0 END AS in_a
      FROM documents
    ),
    c AS (
      SELECT bucket,
             CAST(SUM(in_a) AS BIGINT) AS n_a,
             CAST(SUM(1 - in_a) AS BIGINT) AS n_b
      FROM b GROUP BY bucket
    ),
    t AS (
      SELECT bucket, n_a, n_b,
             SUM(n_a) OVER () AS tot_a,
             SUM(n_b) OVER () AS tot_b,
             COUNT(*) OVER () AS k
      FROM c
    )
    SELECT bucket, n_a, n_b,
           ROUND((CAST(n_a AS DOUBLE) + 1) / (tot_a + k), 6) AS p_a,
           ROUND((CAST(n_b AS DOUBLE) + 1) / (tot_b + k), 6) AS p_b,
           ROUND(((CAST(n_a AS DOUBLE) + 1) / (tot_a + k)
                  - (CAST(n_b AS DOUBLE) + 1) / (tot_b + k))
                 * ln(((CAST(n_a AS DOUBLE) + 1) / (tot_a + k))
                      / ((CAST(n_b AS DOUBLE) + 1) / (tot_b + k))), 8) AS psi_term
    FROM t
    """,
    description=(
        "Distribution-drift detection: population stability index of "
        "the document-length distribution between the two md5-hash "
        "halves of the corpus (stand-in for yesterday-vs-today or "
        "source-A-vs-B), Laplace-smoothed so empty buckets stay finite. "
        "PSI > 0.2 is the standard retrain/investigate trigger. One "
        "count shuffle to length-bucket keys; the share windows run on "
        "the bucket-sized aggregate, never the corpus. Deterministic "
        "split — identical across engines and cluster sizes."
    ),
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    h = minhash.md5_hash60(F.col("doc_id").cast("string"))
    b = docs.select(
        (F.floor(F.col("n_chars") / 100)).cast("long").alias("bucket"),
        F.when(h % 100 < 50, 1).otherwise(0).alias("in_a"),
    )
    c = b.groupBy("bucket").agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum(1 - F.col("in_a")).cast("long").alias("n_b"),
    )
    w = W.partitionBy()
    t = c.select(
        "bucket",
        "n_a",
        "n_b",
        F.sum("n_a").over(w).alias("tot_a"),
        F.sum("n_b").over(w).alias("tot_b"),
        F.count("*").over(w).alias("k"),
    )
    p_a = (F.col("n_a").cast("double") + 1) / (F.col("tot_a") + F.col("k"))
    p_b = (F.col("n_b").cast("double") + 1) / (F.col("tot_b") + F.col("k"))
    return t.select(
        "bucket",
        "n_a",
        "n_b",
        F.round(p_a, 6).alias("p_a"),
        F.round(p_b, 6).alias("p_b"),
        F.round((p_a - p_b) * F.log(p_a / p_b), 8).alias("psi_term"),
    )


# ---------------------------------------------------------------------------
# Quality-classifier drift monitor (round 12, verdict item 8a): PSI/KS
# of the trained LR's OWN score distribution between two corpus halves
# ---------------------------------------------------------------------------


def _quality_drift_oracle() -> str:
    """The shared unrolled-GD chain's final scoring pass, decile-bucketed
    per corpus half; PSI terms exactly as q_psi_drift, the KS statistic
    kept in the exact integer domain (|cum_a*tot_b - cum_b*tot_a|) so no
    float division ever crosses the engine boundary, and the PSI total
    summed on the 1e-8 grid (order-free integer sum of the already-
    rounded terms)."""
    from duva_spark.queries.llm_q import _LR_ROUNDS, _lr_ctes

    t = _LR_ROUNDS - 1
    ctes = _lr_ctes()
    ctes.append(
        f"sb AS (SELECT LEAST(CAST(FLOOR(p * 10) AS INT), 9) AS bin,"
        f" CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS in_a FROM p{t})"
    )
    ctes.append(
        "dc AS (SELECT bin, CAST(SUM(in_a) AS BIGINT) AS n_a,"
        " CAST(SUM(1 - in_a) AS BIGINT) AS n_b FROM sb GROUP BY bin)"
    )
    ctes.append(
        "dt AS (SELECT bin, n_a, n_b,"
        " CAST(SUM(n_a) OVER () AS BIGINT) AS tot_a,"
        " CAST(SUM(n_b) OVER () AS BIGINT) AS tot_b,"
        " COUNT(*) OVER () AS k,"
        " CAST(SUM(n_a) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND CURRENT ROW) AS BIGINT) AS cum_a,"
        " CAST(SUM(n_b) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND CURRENT ROW) AS BIGINT) AS cum_b"
        " FROM dc)"
    )
    ctes.append(
        "dd AS (SELECT bin, n_a, n_b,"
        " ROUND((CAST(n_a AS DOUBLE) + 1) / (tot_a + k), 6) AS p_a,"
        " ROUND((CAST(n_b AS DOUBLE) + 1) / (tot_b + k), 6) AS p_b,"
        " ROUND(((CAST(n_a AS DOUBLE) + 1) / (tot_a + k)"
        "        - (CAST(n_b AS DOUBLE) + 1) / (tot_b + k))"
        "       * ln(((CAST(n_a AS DOUBLE) + 1) / (tot_a + k))"
        "            / ((CAST(n_b AS DOUBLE) + 1) / (tot_b + k))), 8) AS psi_term,"
        " CAST(ABS(cum_a * tot_b - cum_b * tot_a) AS BIGINT) AS ks_num"
        " FROM dt)"
    )
    return (
        "WITH " + ",\n    ".join(ctes)
        + """
    SELECT bin, n_a, n_b, p_a, p_b, psi_term, ks_num,
           CAST(SUM(CAST(FLOOR(psi_term * 1e8 + 0.5) AS BIGINT)) OVER ()
                AS BIGINT) AS psi_total_e8,
           CAST(MAX(ks_num) OVER () AS BIGINT) AS ks_stat_num,
           (SUM(CAST(FLOOR(psi_term * 1e8 + 0.5) AS BIGINT)) OVER ())
             > 20000000 AS drift_alert
    FROM dd
    """
    )


@register(
    "q_quality_drift_monitor",
    oracle=_quality_drift_oracle(),
    description=(
        "Quality-classifier drift monitor: the deploy-time gate a "
        "production filter pipeline runs before trusting yesterday's "
        "classifier on today's crawl: the distilled LR (shared "
        "unrolled-GD oracle chain, final-round weights — the SAME chain "
        "as q_lr_quality_distill so the monitor audits the model the "
        "pipeline actually serves) scores the whole corpus, the score "
        "distribution is decile-bucketed per corpus half (doc_id parity = "
        "the stand-in for yesterday-vs-today ingest windows), and the "
        "monitor reports BOTH standard drift statistics per bin: "
        "Laplace-smoothed PSI terms (q_psi_drift's exact form, totalled "
        "on the 1e-8 integer grid so the sum is order-free) and the "
        "Kolmogorov-Smirnov statistic kept in the exact integer domain "
        "(ks_num = |cum_a*tot_b - cum_b*tot_a|; divide by tot_a*tot_b "
        "off-engine to read the classic D statistic). drift_alert fires "
        "at the standard PSI > 0.2 retrain trigger. Differs from "
        "q_psi_drift in WHAT it monitors: not a raw feature but the "
        "model's own output distribution — the signal that catches "
        "feature drift, label drift and serving skew at once. The windows "
        "run on the 10-row decile frame (bounded by the statistic's "
        "definition, exemption-listed); everything corpus-sized is the "
        "one scoring pass. 100 TB: score deciles are map-side-combined, "
        "the monitor itself never shuffles the corpus; at 1e12 docs swap "
        "the bigint KS cross-product to decimal(38,0) — the query's only "
        "N-dependent arithmetic."
    ),
)
def q_quality_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    lab = _lab(load_table(spark, sf_dir, "documents"))
    _, scored = _lr_scored(lab, _lr_features(lab))
    sb = scored.select(
        F.least(F.floor(F.col("p") * 10).cast("int"), F.lit(9)).alias("bin"),
        F.when(F.col("_id") % 2 == 0, 1).otherwise(0).alias("in_a"),
    )
    dc = sb.groupBy("bin").agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum(1 - F.col("in_a")).cast("long").alias("n_b"),
    )
    whole = W.partitionBy()
    cum = W.partitionBy().orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    dt = dc.select(
        "bin",
        "n_a",
        "n_b",
        F.sum("n_a").over(whole).alias("tot_a"),
        F.sum("n_b").over(whole).alias("tot_b"),
        F.count("*").over(whole).alias("k"),
        F.sum("n_a").over(cum).alias("cum_a"),
        F.sum("n_b").over(cum).alias("cum_b"),
    )
    p_a = (F.col("n_a").cast("double") + 1) / (F.col("tot_a") + F.col("k"))
    p_b = (F.col("n_b").cast("double") + 1) / (F.col("tot_b") + F.col("k"))
    dd = dt.select(
        "bin",
        "n_a",
        "n_b",
        F.round(p_a, 6).alias("p_a"),
        F.round(p_b, 6).alias("p_b"),
        F.round((p_a - p_b) * F.log(p_a / p_b), 8).alias("psi_term"),
        F.abs(
            F.col("cum_a") * F.col("tot_b") - F.col("cum_b") * F.col("tot_a")
        ).cast("long").alias("ks_num"),
    )
    psi_e8 = F.sum(F.floor(F.col("psi_term") * 1e8 + 0.5).cast("long")).over(whole)
    return dd.select(
        "bin",
        "n_a",
        "n_b",
        "p_a",
        "p_b",
        "psi_term",
        "ks_num",
        psi_e8.cast("long").alias("psi_total_e8"),
        F.max("ks_num").over(whole).cast("long").alias("ks_stat_num"),
        (psi_e8 > 20000000).alias("drift_alert"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter prefilter (runtime-filter pattern at the API level)
# ---------------------------------------------------------------------------

_GRAM6 = (
    "list_distinct(list_transform(range(1, len(ws) - 4), i -> "
    + " || ' ' || ".join(f"ws[i+{j}]" if j else "ws[i]" for j in range(6))
    + "))"
)


@register(
    "q_bloom_decontaminate",
    oracle=f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws, {_H100} AS h
               FROM documents),
    g AS (SELECT doc_id, h,
                 CAST('0x' || substr(md5(unnest({_GRAM6})), 1, 15) AS BIGINT) AS gh
          FROM d WHERE len(ws) >= 6),
    ev AS (SELECT DISTINCT gh FROM g WHERE h < 5),
    tr AS (SELECT doc_id, gh FROM g WHERE h >= 5)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
    FROM tr SEMI JOIN ev USING (gh)
    GROUP BY doc_id
    """,
    description=(
        "Decontamination via a Bloom prefilter: the eval split's 6-gram "
        "set is folded into a 128 KiB bitset (distributed build — only "
        "distinct bit positions reach the driver, bounded by m no matter "
        "the corpus size) and the training side probes it in an "
        "Arrow-vectorized UDF before the exact confirm join. "
        "Value-identical to the plain gram join (Bloom has no false "
        "negatives; the confirm join kills false positives) but only the "
        "candidate sliver of the corpus reaches the shuffle — the "
        "runtime-filter pattern Spark injects for equi-joins "
        "(InjectRuntimeFilter), lifted to the API for pipeline stages "
        "the optimizer can't see through."
    ),
)
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import bloom

    docs = load_table(spark, sf_dir, "documents")
    h = (
        minhash.md5_hash60(F.col("doc_id").cast("string"))
        % 100
    )
    grams = docs.select(
        "doc_id",
        h.alias("h"),
        F.explode(minhash.word_shingles(F.split(F.col("text"), " "), 6)).alias("gram"),
    ).select("doc_id", "h", minhash.md5_hash60(F.col("gram")).alias("gh"))
    ev = grams.filter(F.col("h") < 5).select("gh").distinct()
    tr = grams.filter(F.col("h") >= 5).select("doc_id", "gh")
    return (
        bloom.prefilter_semi_join(tr, ev, "gh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_grams"))
    )


@register(
    "q_bloom_incremental_new_docs",
    headline=True,
    oracle=f"""
    WITH d AS (SELECT doc_id, lang, md5(text) AS ch, {_H100} AS h FROM documents),
    corpus AS (SELECT DISTINCT ch FROM d WHERE h < 90),
    batch AS (SELECT doc_id, lang, ch FROM d WHERE h >= 90)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_new
    FROM batch ANTI JOIN corpus USING (ch)
    GROUP BY lang
    """,
    description=(
        "Incremental ingest gate: which docs in the new batch are "
        "genuinely new (content hash unseen in the corpus)? The corpus "
        "content-hash set becomes a Bloom bitset; batch rows the bloom "
        "rejects are DEFINITELY new (no false negatives) and skip the "
        "join entirely — only the bloom-candidate tail goes through the "
        "exact anti join to be confirmed or rescued. At 100 TB the "
        "corpus never re-shuffles per batch: the bitset build moves "
        "bounded bytes and the batch-side work is one broadcast-read "
        "scan plus a sliver-sized join."
    ),
)
def q_bloom_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import bloom

    docs = load_table(spark, sf_dir, "documents")
    h = (
        minhash.md5_hash60(F.col("doc_id").cast("string"))
        % 100
    )
    d = docs.select("doc_id", "lang", F.md5(F.col("text")).alias("ch"), h.alias("h"))
    corpus = d.filter(F.col("h") < 90).select("ch").distinct()
    batch = d.filter(F.col("h") >= 90).select("doc_id", "lang", "ch")
    return (
        bloom.prefilter_anti_join(batch, corpus, "ch")
        .groupBy("lang")
        .agg(F.count("*").alias("n_new"))
    )


# ---------------------------------------------------------------------------
# Temperature-based mixture sampling (multinomial alpha-reweighting)
# ---------------------------------------------------------------------------

_TEMP_ALPHA = 0.3


@register(
    "q_temperature_mixture",
    headline=True,
    oracle=f"""
    WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
    t AS (SELECT SUM(POW(n_docs, {_TEMP_ALPHA})) AS wsum, SUM(n_docs) AS ntot FROM c),
    r AS (SELECT lang, n_docs,
                 (POW(n_docs, {_TEMP_ALPHA}) / wsum) * ntot / n_docs AS rate
          FROM c, t),
    m AS (SELECT MAX(rate) AS maxrate FROM r),
    thr AS (SELECT lang, n_docs,
                   CAST(FLOOR(10000 * ROUND(rate / maxrate, 6)) AS BIGINT)
                     AS hash_threshold
            FROM r, m),
    s AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_sampled
          FROM documents d JOIN thr ON d.lang = thr.lang
          WHERE {_H10000} < hash_threshold
          GROUP BY d.lang)
    SELECT thr.lang AS lang, n_docs, hash_threshold,
           COALESCE(n_sampled, 0) AS n_sampled
    FROM thr LEFT JOIN s ON thr.lang = s.lang
    """,
    description=(
        "Temperature-based mixture sampling (the mT5/XLM-R multinomial "
        "alpha-reweighting, alpha=0.3): per-language sampling rate "
        "proportional to n^(alpha-1), normalized so the most-upweighted "
        "(smallest) language keeps everything — downsamples the "
        "high-resource head instead of steering toward a fixed target "
        "mix (q_mixture_sampling's policy). Acceptance is the same "
        "deterministic integer hash-threshold test: reproducible across "
        "engines/runs/cluster sizes, zero coordination; the per-language "
        "stats frame is tiny and broadcast, the corpus pass is one "
        "pushed-down filter + one partial-agg shuffle. The rate is "
        "rounded to 6 dp before the floor so the cross-engine POW "
        "difference (JVM vs libm, ~1 ulp) cannot move a threshold."
    ),
)
def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    tot = counts.agg(
        F.sum(F.pow("n_docs", F.lit(_TEMP_ALPHA))).alias("wsum"),
        F.sum("n_docs").alias("ntot"),
    )
    r = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        (
            (F.pow("n_docs", F.lit(_TEMP_ALPHA)) / F.col("wsum"))
            * F.col("ntot")
            / F.col("n_docs")
        ).alias("rate"),
    )
    m = r.agg(F.max("rate").alias("maxrate"))
    thr = r.crossJoin(F.broadcast(m)).select(
        "lang",
        "n_docs",
        F.floor(F.lit(10000) * F.round(F.col("rate") / F.col("maxrate"), 6)).alias(
            "hash_threshold"
        ),
    )
    h = (
        minhash.md5_hash60(F.col("doc_id").cast("string"))
        % 10000
    )
    sampled = (
        docs.select("lang", h.alias("h"))
        .join(F.broadcast(thr), "lang")
        .filter(F.col("h") < F.col("hash_threshold"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"))
    )
    return thr.join(F.broadcast(sampled), "lang", "left").select(
        "lang",
        "n_docs",
        "hash_threshold",
        F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
    )


# ---------------------------------------------------------------------------
# Doc-level duplicated-span ratio (exact-substring dedup, removal pass)
# ---------------------------------------------------------------------------


@register(
    "q_dup_span_ratio",
    headline=True,
    oracle=f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT doc_id,
                 CAST('0x' || substr(md5(unnest({_GRAM8})), 1, 15) AS BIGINT) AS gh
          FROM d WHERE len(ws) >= 8),
    dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
    tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id),
    hit AS (SELECT doc_id, COUNT(*) AS n_dup FROM g SEMI JOIN dup USING (gh)
            GROUP BY doc_id)
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup_grams,
           ROUND(COALESCE(n_dup, 0) * 1.0 / n_grams, 6) AS dup_ratio,
           COALESCE(n_dup, 0) * 1.0 / n_grams >= 0.2 AS is_boilerplate
    FROM tot LEFT JOIN hit USING (doc_id)
    """,
    description=(
        "Doc-level duplicated-span ratio — the removal/annotation pass of "
        "exact-substring dedup (Lee et al. 2022's train-data dedup, bounded "
        "to fixed-width 8-grams instead of suffix arrays): the fraction of "
        "a doc's distinct word 8-grams that also occur in another document, "
        "flagging boilerplate-heavy docs at >=20%. Complements "
        "q_repeated_ngrams (the corpus-side gram census) with the per-doc "
        "actionable filter. Grams travel as 60-bit ints, never strings: "
        "one count shuffle for the global doc-frequency, one int-keyed "
        "LEFT join back carrying a dup marker, and a single per-doc "
        "aggregation counts total and duplicated grams together — no "
        "suffix-array construction, no all-pairs stage, linear at any "
        "corpus size. The join (not a window over gh) is deliberate: a "
        "viral boilerplate gram with millions of doc hits streams through "
        "a hash-join probe, where a count-over-window would buffer the "
        "whole hot partition group."
    ),
)
def q_dup_span_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_doc = dedup.dup_span_counts(docs, "doc_id", "text", k=8, min_df=2)
    n_dup = F.col("n_dup")
    return per_doc.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        n_dup.cast("long").alias("n_dup_grams"),
        F.round(n_dup * 1.0 / F.col("n_grams"), 6).alias("dup_ratio"),
        (n_dup * 1.0 / F.col("n_grams") >= 0.2).alias("is_boilerplate"),
    )


_POSGRAM8 = (
    "list_transform(range(1, len(ws) - 6), i -> {'pos': i, 'g': "
    + " || ' ' || ".join(f"ws[i+{j}]" if j else "ws[i]" for j in range(8))
    + "})"
)

# Shared CTE chain for the variable-length span oracles (k=8, min_df=2,
# min_span=16): positional grams -> distinct-doc gram frequency ->
# duplicated positions -> lag/running-sum interval merge -> per-span
# (1-based start s, inclusive end e). Used by q_dup_spans_exact and
# q_dup_spans_removed so the two oracles cannot drift.
_SPAN_CTES = f"""
    d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g0 AS (SELECT doc_id, unnest({_POSGRAM8}) AS u
           FROM d WHERE len(ws) >= 8),
    g AS (SELECT doc_id, u.pos AS pos,
                 CAST('0x' || substr(md5(u.g), 1, 15) AS BIGINT) AS gh
          FROM g0),
    dup AS (SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM g)
            GROUP BY gh HAVING COUNT(*) >= 2),
    hit AS (SELECT doc_id, pos FROM g SEMI JOIN dup USING (gh)),
    lg AS (SELECT doc_id, pos,
                  CASE WHEN pos > COALESCE(
                           lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
                           -9) + 8
                       THEN 1 ELSE 0 END AS new_span
           FROM hit),
    sp AS (SELECT doc_id, pos,
                  SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
           FROM lg),
    per_span AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
                 FROM sp GROUP BY doc_id, span_id
                 HAVING MAX(pos) - MIN(pos) + 8 >= 16)
"""


@register(
    "q_dup_spans_exact",
    headline=True,
    oracle=f"""
    WITH {_SPAN_CTES},
    agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
                   CAST(SUM(e - s + 1) AS BIGINT) AS covered
            FROM per_span GROUP BY doc_id),
    alld AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words
             FROM documents)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(covered, 0) AS BIGINT) AS covered_words,
           ROUND(COALESCE(covered, 0) * 1.0 / n_words, 6) AS span_coverage
    FROM alld LEFT JOIN agg USING (doc_id)
    """,
    description=(
        "Variable-length duplicated-SPAN report — the full Lee et al. 2022 "
        "exact-substring semantics that q_dup_span_ratio bounds to gram "
        "counts: per-doc maximal duplicated regions (interval union of "
        "overlapping/adjacent duplicated word-8-gram extents, merged spans "
        "under 16 words dropped — the paper's min-span floor scaled to the "
        "test corpus), with TRUE word coverage of the union rather than the "
        "gram-hit fraction. Distributed without a suffix array: positional "
        "grams travel as (doc, int pos, 60-bit key); one DISTINCT-pair "
        "shuffle computes gram doc-frequency; a semi-join hash probe marks "
        "duplicated positions (a viral boilerplate gram streams, never "
        "buffers); the interval merge is a lag/running-sum window "
        "partitioned by DOC id — state bounded by one document's length, "
        "never by corpus-wide gram frequency, so the operator has no "
        "hot-key partition at any corpus size."
    ),
)
def q_dup_spans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dup_spans_exact(docs, "doc_id", "text", k=8, min_df=2, min_span=16)


@register(
    "q_dup_spans_removed",
    oracle=f"""
    WITH {_SPAN_CTES},
    spl AS (SELECT doc_id, list({{'s': s, 'e': e}}) AS spans
            FROM per_span GROUP BY doc_id),
    sel AS (SELECT d.doc_id, ws,
                   CASE WHEN spans IS NULL THEN range(1, len(ws) + 1)
                        ELSE list_filter(range(1, len(ws) + 1),
                             i -> len(list_filter(spans,
                                  sp -> i >= sp.s AND i <= sp.e)) = 0)
                   END AS keep
            FROM d LEFT JOIN spl USING (doc_id))
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(len(keep) AS BIGINT) AS n_words_kept,
           COALESCE(array_to_string(list_transform(keep, i -> ws[i]), ' '), '')
               AS cleaned_text
    FROM sel
    """,
    description=(
        "The REMOVAL pass of exact-substring dedup (Lee et al. 2022): "
        "every merged duplicated span of >=16 words is cut out of the "
        "document and the cleaned text returned — the transform "
        "q_dup_spans_exact only reports. Span discovery shares the "
        "interval machinery (and this oracle shares the identical CTE "
        "chain, so the two queries cannot drift); the per-doc span list "
        "re-attaches through ONE join keyed on doc id, and the cut is a "
        "higher-order index-filter over the words array inside codegen — "
        "no explode/re-aggregate round trip, so reconstruction costs a "
        "projection, not a shuffle. At 100 TB the cleaned corpus is "
        "written back partition-parallel with text never crossing the "
        "wire except for its own (bounded) span list."
    ),
)
def q_dup_spans_removed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.remove_dup_spans(docs, "doc_id", "text", k=8, min_df=2, min_span=16)


@register(
    "q_contamination_spans",
    oracle=f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws, {_H100} AS h
               FROM documents),
    g0 AS (SELECT doc_id, h, unnest({_POSGRAM8}) AS u
           FROM d WHERE len(ws) >= 8),
    g AS (SELECT doc_id, h, u.pos AS pos,
                 CAST('0x' || substr(md5(u.g), 1, 15) AS BIGINT) AS gh
          FROM g0),
    ev AS (SELECT DISTINCT gh FROM g WHERE h < 10),
    hit AS (SELECT doc_id, pos FROM g SEMI JOIN ev USING (gh)
            WHERE h >= 10),
    lg AS (SELECT doc_id, pos,
                  CASE WHEN pos > COALESCE(
                           lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
                           -9) + 8
                       THEN 1 ELSE 0 END AS new_span
           FROM hit),
    sp AS (SELECT doc_id, pos,
                  SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
           FROM lg),
    per_span AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
                 FROM sp GROUP BY doc_id, span_id),
    agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
                   CAST(SUM(e - s + 1) AS BIGINT) AS covered
            FROM per_span GROUP BY doc_id),
    alld AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words
             FROM documents WHERE {_H100} >= 10)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(covered, 0) AS BIGINT) AS covered_words,
           ROUND(COALESCE(covered, 0) * 1.0 / n_words, 6) AS contamination_ratio
    FROM alld LEFT JOIN agg USING (doc_id)
    """,
    description=(
        "Span-level benchmark contamination: for every training doc, the "
        "maximal contiguous regions whose word 8-grams appear in the "
        "held-out eval split (deterministic 10% hash sample), with true "
        "word coverage — upgrades q_ngram_contamination's shared-gram "
        "COUNT to 'how much contiguous eval text leaked', the signal "
        "that separates licensing boilerplate from a verbatim benchmark "
        "answer. Same distributed span machinery as dup_spans_exact with "
        "the doc-frequency stage swapped for the eval gram set — "
        "benchmark suites are tiny next to a training corpus, so the "
        "marker semi-join probes a BROADCAST set and the gram stream "
        "never shuffles; the interval merge stays doc-partitioned."
    ),
)
def q_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import minhash

    docs = load_table(spark, sf_dir, "documents")
    h = minhash.md5_hash60(F.col("doc_id").cast("string")) % 100
    eval_grams = dedup.gram_keys(docs.filter(h < 10), "doc_id").select("gh")
    train = docs.filter(h >= 10)
    return dedup.contamination_spans(train, eval_grams, "doc_id", "text", k=8)


# ---------------------------------------------------------------------------
# Tokenizer fertility (subwords per word / bytes per subword)
# ---------------------------------------------------------------------------


@register(
    "q_tokenizer_fertility",
    oracle="""
    WITH w AS (SELECT lang, n_chars, string_split(text, ' ') AS ws
               FROM documents),
    s AS (SELECT lang, n_chars,
                 len(ws) AS n_words,
                 list_sum(list_transform(ws,
                     x -> CAST(ceil(length(x) / 4.0) AS BIGINT))) AS n_sub
          FROM w)
    SELECT lang,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
           ROUND(SUM(n_sub) * 1.0 / SUM(n_words), 6) AS fertility,
           ROUND(SUM(n_chars) * 1.0 / SUM(n_sub), 6) AS chars_per_subword
    FROM s GROUP BY lang
    """,
    description=(
        "Tokenizer fertility report: per-language subwords-per-word and "
        "chars-per-subword under a fixed-rate subword model (ceil(len/4), "
        "the BPE-fertility proxy — a real vocab swaps in via the same "
        "per-word lambda). Fertility drift across languages is the "
        "standard signal that a tokenizer under-serves a script, and "
        "chars-per-subword calibrates per-language token budgets for "
        "mixture planning. The whole computation folds into the scan "
        "projection (higher-order array aggregate, no explode), leaving "
        "one partial-aggregated groupBy on lang — scan-speed at 100 TB."
    ),
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    n_sub = F.aggregate(
        ws,
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.ceil(F.length(x) / 4).cast("long"),
    )
    per_doc = docs.select(
        "lang",
        F.col("n_chars"),
        F.size(ws).cast("long").alias("n_words"),
        n_sub.alias("n_sub"),
    )
    return per_doc.groupBy("lang").agg(
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_sub").cast("long").alias("n_subwords"),
        F.round(F.sum("n_sub") * 1.0 / F.sum("n_words"), 6).alias("fertility"),
        F.round(F.sum("n_chars") * 1.0 / F.sum("n_sub"), 6).alias("chars_per_subword"),
    )


# ---------------------------------------------------------------------------
# Per-source unigram entropy (corpus diversity signal)
# ---------------------------------------------------------------------------


@register(
    "q_source_entropy",
    oracle="""
    WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word
               FROM documents),
    cnt AS (SELECT source, word, COUNT(*) AS c FROM w GROUP BY source, word),
    tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY source)
    SELECT c.source,
           CAST(t.n AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           ROUND(-SUM((c * 1.0 / t.n) * LN(c * 1.0 / t.n)), 6) AS entropy_nats
    FROM cnt c JOIN tot t ON c.source = t.source
    GROUP BY c.source, t.n
    """,
    description=(
        "Per-source unigram Shannon entropy (nats), with token and vocab "
        "counts — the corpus-diversity signal that separates template/"
        "boilerplate-heavy sources (low entropy) from organic text, used "
        "alongside the repetition signals to down-weight degenerate "
        "domains in mixture planning. Two partial-aggregated count "
        "shuffles ((source, word) then source) plus a broadcast of the "
        "per-source totals; the word stream explodes once and nothing "
        "else moves — scan-bounded at any corpus size."
    ),
)
def q_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select("source", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("c"))
    )
    tot = cnt.groupBy("source").agg(F.sum("c").alias("n"))
    p = F.col("c") * 1.0 / F.col("n")
    return (
        cnt.join(F.broadcast(tot), "source")
        .groupBy("source", "n")
        .agg(
            F.count("*").cast("long").alias("vocab"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
        )
        .select(
            "source",
            F.col("n").cast("long").alias("n_tokens"),
            "vocab",
            "entropy_nats",
        )
    )


# ---------------------------------------------------------------------------
# Repeat-epochs plan (data-constrained scaling)
# ---------------------------------------------------------------------------


@register(
    "q_repeat_epochs_plan",
    oracle="""
    WITH t AS (SELECT source,
                      CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks
               FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(toks) AS DOUBLE) AS total,
                   CAST(COUNT(*) AS DOUBLE) AS ns FROM t)
    SELECT source,
           toks AS n_tokens,
           CAST(CEIL((2.0 * total / ns) / toks) AS BIGINT) AS epochs_needed,
           LEAST(CAST(FLOOR(2.0 * total / ns) AS BIGINT), 4 * toks)
             AS tokens_served,
           CAST(CASE WHEN 2.0 * total / ns > 4 * toks THEN 1 ELSE 0 END
                AS BIGINT) AS under_served
    FROM t CROSS JOIN tot
    """,
    description=(
        "Repeat-epochs plan under data-constrained scaling (Muennighoff "
        "et al. 2023): a token budget of 2x the corpus split uniformly "
        "across sources; per source, the epochs needed to fill its "
        "share, the tokens actually servable under the ~4-epoch "
        "useful-repetition ceiling (returns decay to noise beyond it), "
        "and an under_served flag where even 4 epochs cannot fill the "
        "share (the deficit re-allocates to data-rich domains in the "
        "next planning iteration). Complements q_epoch_capped_mixture "
        "(the single-epoch hard cap) with the multi-epoch regime. One "
        "token-count aggregation + a 1-row broadcast — scan-level."
    ),
)
def q_repeat_epochs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("toks")
    )
    tot = t.agg(
        F.sum("toks").cast("double").alias("total"),
        F.count("*").cast("double").alias("ns"),
    )
    share = F.lit(2.0) * F.col("total") / F.col("ns")
    return t.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("toks").alias("n_tokens"),
        F.ceil(share / F.col("toks")).cast("long").alias("epochs_needed"),
        F.least(F.floor(share).cast("long"), F.lit(4) * F.col("toks")).alias(
            "tokens_served"
        ),
        F.when(share > 4 * F.col("toks"), 1).otherwise(0).cast("long").alias(
            "under_served"
        ),
    )


# ---------------------------------------------------------------------------
# Gram novelty curve (corpus ordering / diminishing-returns audit)
# ---------------------------------------------------------------------------


@register(
    "q_gram_novelty",
    oracle=f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT doc_id,
                 CAST('0x' || substr(md5(unnest({_GRAM8})), 1, 15) AS BIGINT) AS gh
          FROM d WHERE len(ws) >= 8),
    mx AS (SELECT MAX(doc_id) + 1 AS m FROM g),
    first AS (SELECT gh, MIN(doc_id) AS first_doc FROM g GROUP BY gh),
    occ AS (SELECT g.doc_id, g.gh, (f.first_doc = g.doc_id) AS is_first
            FROM g JOIN first f ON f.gh = g.gh),
    b AS (SELECT CAST(FLOOR(10.0 * doc_id / m) AS BIGINT) AS decile,
                 is_first
          FROM occ CROSS JOIN mx)
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (WHERE is_first) AS BIGINT) AS n_novel,
           ROUND(COUNT(*) FILTER (WHERE is_first) * 1.0 / COUNT(*), 6)
             AS novelty_rate
    FROM b GROUP BY decile
    """,
    description=(
        "Gram novelty curve — the diminishing-returns audit of corpus "
        "ordering: docs are split into ingestion-order deciles (by id) "
        "and each decile reports what fraction of its word 8-grams is "
        "globally first-seen there. A flattening curve is the signal "
        "that additional data from the same sources stops adding "
        "content (and that later shards mostly repay dedup, not "
        "training). Grams travel as 60-bit ints: one min-aggregate "
        "shuffle for first-seen, one int-keyed join back (a first_doc "
        "column attach, skew-tolerant for viral grams the same way the "
        "dup-span marker join is), one decile aggregation; the max-id "
        "bound attaches as a 1-row broadcast."
    ),
)
def q_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    g = dedup.gram_keys(docs, "doc_id", "text", 8)
    # same value the oracle derives from g (max id among docs with >= 8
    # words), but computed from the doc frame — no third shingle+md5
    # materialization of the corpus just for one scalar
    mx = (
        docs.filter(F.size(F.split("text", " ")) >= 8)
        .agg((F.max("doc_id") + 1).alias("m"))
    )
    first = g.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    occ = g.join(first, "gh").select(
        "doc_id", (F.col("first_doc") == F.col("doc_id")).alias("is_first")
    )
    b = occ.crossJoin(F.broadcast(mx)).select(
        F.floor(F.lit(10.0) * F.col("doc_id") / F.col("m")).cast("long").alias(
            "decile"
        ),
        "is_first",
    )
    novel = F.sum(F.when(F.col("is_first"), 1).otherwise(0))
    return b.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_grams"),
        novel.cast("long").alias("n_novel"),
        F.round(novel * 1.0 / F.count("*"), 6).alias("novelty_rate"),
    )


_H60_DOCID = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"
_BUCKET = (
    "CAST('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 15) AS BIGINT)"
    " % 4096"
)


@register(
    "q_dsir_selection",
    headline=True,
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang = 'en' AS is_target, {_BUCKET} AS bucket
      FROM documents
    ),
    counts AS (
      SELECT bucket, COUNT(*) AS r_cnt,
             SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS t_cnt
      FROM tok GROUP BY bucket
    ),
    tot AS (SELECT CAST(SUM(r_cnt) AS DOUBLE) AS n_raw,
                   CAST(SUM(t_cnt) AS DOUBLE) AS n_tgt FROM counts),
    ratio AS (
      SELECT bucket,
             ln((t_cnt + 1) / (n_tgt + 4096.0))
               - ln((r_cnt + 1) / (n_raw + 4096.0)) AS lr
      FROM counts CROSS JOIN tot
    ),
    w AS (
      SELECT doc_id, SUM(lr) AS log_w
      FROM tok JOIN ratio USING (bucket) GROUP BY doc_id
    )
    SELECT d.doc_id, d.lang, d.source,
           ROUND(w.log_w, 6) AS log_w,
           ROUND(w.log_w + (-ln(-ln(({_H60_DOCID} + 0.5)
                                    / 1152921504606846976.0))), 6) AS sample_key
    FROM documents d JOIN w USING (doc_id)
    ORDER BY ROUND(w.log_w + (-ln(-ln(({_H60_DOCID} + 0.5)
                                      / 1152921504606846976.0))), 6) DESC,
             d.doc_id
    LIMIT 50
    """,
    description=(
        "DSIR data selection (Xie et al. 2023): documents featurized as "
        "word unigrams hashed into 4,096 buckets; a target (lang='en') "
        "and a raw Laplace-smoothed bucket LM give each doc an "
        "importance log-weight sum_b c_b(ln p_b - ln q_b); the corpus "
        "is resampled by deterministic Gumbel top-k (weighted sampling "
        "without replacement as a plain ORDER BY LIMIT). Both model "
        "tables are <= 4,096 rows regardless of corpus size and attach "
        "as broadcasts; the only corpus-sized exchanges are two "
        "map-side-combined aggregations, and the resample plans as "
        "TakeOrderedAndProject - no global sort at any scale."
    ),
)
def q_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import hashed_lm

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "is_target", F.col("lang") == "en"
    )
    picked = hashed_lm.dsir_resample(
        docs, "doc_id", "text", "is_target", k=50, n_buckets=4096
    )
    return picked.select(
        "doc_id",
        "lang",
        "source",
        F.round("log_w", 6).alias("log_w"),
        F.round("sample_key", 6).alias("sample_key"),
    )


@register(
    "q_nb_lang_classifier",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, lang, text, {_H60_DOCID} % 100 < 70 AS is_train
      FROM documents
    ),
    tok AS (
      SELECT doc_id, lang, is_train, {_BUCKET} AS bucket FROM split
    ),
    lik AS (
      SELECT lang AS label, bucket, ln(COUNT(*) + 1) AS ln_cnt1
      FROM tok WHERE is_train GROUP BY lang, bucket
    ),
    per_label AS (
      SELECT lang AS label, COUNT(*) AS d_l FROM split WHERE is_train GROUP BY lang
    ),
    nd AS (SELECT CAST(SUM(d_l) AS DOUBLE) AS n_docs FROM per_label),
    toks_l AS (
      SELECT lang AS label, COUNT(*) AS n_l FROM tok WHERE is_train GROUP BY lang
    ),
    stats AS (
      SELECT p.label, ln(p.d_l / nd.n_docs) AS ln_prior,
             ln(t.n_l + 4096.0) AS ln_denom
      FROM per_label p CROSS JOIN nd JOIN toks_l t USING (label)
    ),
    sparse AS (
      SELECT t.doc_id, l.label, SUM(l.ln_cnt1) AS s1
      FROM tok t JOIN lik l USING (bucket)
      WHERE NOT t.is_train
      GROUP BY t.doc_id, l.label
    ),
    ntok AS (
      SELECT doc_id, COUNT(*) AS n_tok FROM tok WHERE NOT is_train GROUP BY doc_id
    ),
    scored AS (
      SELECT n.doc_id, s.label,
             s.ln_prior + COALESCE(sp.s1, 0.0) - n.n_tok * s.ln_denom AS score
      FROM ntok n CROSS JOIN stats s
      LEFT JOIN sparse sp ON sp.doc_id = n.doc_id AND sp.label = s.label
    ),
    pred AS (
      SELECT doc_id, label AS pred_lang
      FROM scored
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY ROUND(score, 6) DESC, label ASC) = 1
    )
    SELECT d.lang AS true_lang, p.pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred p JOIN documents d USING (doc_id)
    GROUP BY d.lang, p.pred_lang
    """,
    description=(
        "Count-trained multinomial Naive Bayes language classifier "
        "(the fasttext-shaped linear model trained by aggregation "
        "alone): deterministic 70/30 hash split, per-(label, bucket) "
        "Laplace-smoothed log-likelihood table (<= 4,096 x L rows, "
        "broadcast), held-out docs scored by one broadcast join + "
        "per-doc sum (unseen pairs need no dense grid - their smoothed "
        "term factors into a per-label constant), argmax with a "
        "rounded-score deterministic tie-break, reported as a "
        "true-vs-predicted confusion matrix. Training IS a shuffle-"
        "frugal aggregation, so the classifier retrains per-corpus at "
        "any scale - the trainable upgrade over the q_lang_confusion "
        "stopword heuristic."
    ),
)
def q_nb_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import hashed_lm

    docs = load_table(spark, sf_dir, "documents")
    h100 = hashed_lm.md5_hash60(F.col("doc_id").cast("string")) % 100
    split = docs.withColumn("is_train", h100 < 70)
    train = split.filter("is_train")
    test = split.filter(~F.col("is_train"))
    lik, stats = hashed_lm.nb_train(train, "lang", "text", n_buckets=4096)
    scored = hashed_lm.nb_score(test, "doc_id", "text", lik, stats, n_buckets=4096)
    pred = hashed_lm.nb_predict(scored, "doc_id")
    return (
        pred.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy(F.col("lang").alias("true_lang"), F.col("pred_label").alias("pred_lang"))
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


_HASH_GRID = (8, 16, 4096)  # candidate bucket counts; last = the live dial


@register(
    "q_feature_hash_collisions",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    wc AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word),
    wb AS (
      SELECT g.b,
             CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) % g.b AS bucket,
             cnt
      FROM wc CROSS JOIN (VALUES {", ".join(f"({b})" for b in _HASH_GRID)}) AS g(b)
    ),
    bl AS (
      SELECT b, bucket, COUNT(*) AS load, CAST(SUM(cnt) AS BIGINT) AS toks
      FROM wb GROUP BY b, bucket
    ),
    tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM wc)
    SELECT b AS hash_buckets,
           load AS words_in_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           ROUND(CAST(SUM(toks) AS DOUBLE) / tot.n, 6) AS token_share
    FROM bl CROSS JOIN tot GROUP BY b, load, tot.n
    """,
    description=(
        "Feature-hash collision census - the operational audit that "
        "sizes the hashed-LM bucket count (the dial behind "
        "q_dsir_selection / q_nb_lang_classifier, the way "
        "q_lsh_band_load sizes the MinHash banding). For each "
        "candidate bucket count the Zipf-bounded vocabulary hashes to "
        "its buckets, and the report histograms bucket load alongside "
        "the FRACTION OF TOKEN MASS sitting in buckets of that load - "
        "the quantity that actually bounds how much probability the "
        "hashing trick conflates; the grid makes the quality/width "
        "trade-off visible in one pass. All aggregates are "
        "vocabulary-sized (far sub-corpus); the grid and the "
        "token-mass total attach as broadcasts."
    ),
)
def q_feature_hash_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import hashed_lm

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("word"))
    wc = tok.groupBy("word").agg(F.count("*").alias("cnt"))
    grid = docs.sparkSession.createDataFrame(
        [(b,) for b in _HASH_GRID], "b int"
    )
    wb = wc.crossJoin(F.broadcast(grid)).select(
        "b", "cnt", hashed_lm.bucket_of(F.col("word"), F.col("b")).alias("bucket")
    )
    bl = wb.groupBy("b", "bucket").agg(
        F.count("*").alias("load"), F.sum("cnt").alias("toks")
    )
    tot = wc.agg(F.sum("cnt").cast("double").alias("n"))
    return (
        bl.crossJoin(F.broadcast(tot))
        .groupBy(F.col("b").alias("hash_buckets"), F.col("load").alias("words_in_bucket"), "n")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.round(F.sum("toks").cast("double") / F.col("n"), 6).alias(
                "token_share"
            ),
        )
        .drop("n")
    )


@register(
    "q_stupid_backoff_nll",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, lang, string_split(text, ' ') AS ws,
             {_H60_DOCID} % 100 < 70 AS is_train
      FROM documents
    ),
    uni_tr AS (SELECT unnest(ws) AS w FROM split WHERE is_train),
    ucnt AS (SELECT w, COUNT(*) AS cnt FROM uni_tr GROUP BY w),
    utot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n,
                    CAST(COUNT(*) AS DOUBLE) AS v FROM ucnt),
    bi_tr AS (
      SELECT unnest(list_transform(range(1, len(ws)),
                    i -> {{'w1': ws[i], 'w2': ws[i + 1]}})) AS b
      FROM split WHERE is_train
    ),
    bcnt AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS bc
             FROM bi_tr GROUP BY 1, 2),
    ctx AS (SELECT w1, CAST(SUM(bc) AS DOUBLE) AS cc FROM bcnt GROUP BY w1),
    ho0 AS (
      SELECT doc_id, unnest(list_transform(range(1, len(ws)),
                     i -> {{'w1': ws[i], 'w2': ws[i + 1]}})) AS b
      FROM split WHERE NOT is_train
    ),
    ho AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM ho0),
    scored AS (
      SELECT h.doc_id,
             CASE WHEN bc.bc IS NOT NULL THEN -ln(bc.bc / ctx.cc)
                  ELSE -ln(0.4 * (COALESCE(u.cnt, 0) + 1)
                           / (utot.n + utot.v)) END AS nll,
             CASE WHEN bc.bc IS NULL THEN 1 ELSE 0 END AS backed
      FROM ho h
      LEFT JOIN bcnt bc ON bc.w1 = h.w1 AND bc.w2 = h.w2
      LEFT JOIN ctx ON ctx.w1 = h.w1
      LEFT JOIN ucnt u ON u.w = h.w2
      CROSS JOIN utot
    ),
    per_doc AS (
      SELECT doc_id, ROUND(CAST(SUM(CAST(FLOOR((nll) * 1e9 + 0.5) AS HUGEINT)) AS DOUBLE) / (COUNT(nll) * 1e9), 6) AS avg_nll,
             CAST(SUM(backed) AS DOUBLE) AS bk, CAST(COUNT(*) AS DOUBLE) AS nt
      FROM scored GROUP BY doc_id
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(CAST(FLOOR((p.avg_nll) * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE) / (COUNT(p.avg_nll) * 1e6), 6) AS mean_doc_nll,
           ROUND(SUM(p.bk) / SUM(p.nt), 6) AS backoff_rate
    FROM per_doc p JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """,
    description=(
        "Stupid Backoff held-out scoring (Brants et al. 2007 - the "
        "smoothing designed FOR MapReduce-scale distributed LMs: no "
        "normalization pass, so the model stays two count tables): "
        "bigram/unigram counts train on the deterministic 70% hash "
        "split; held-out bigrams score bc/cc when seen, else back off "
        "to 0.4 x the add-one unigram relative frequency (the add-one "
        "keeps unseen-unigram NLL finite - a documented deviation, "
        "Brants leaves that case undefined). Reports per-language "
        "held-out NLL plus the BACKOFF RATE - the coverage signal a "
        "corpus-vs-corpus domain shift moves first. Same 100 TB shape "
        "as the interpolated-bigram filter: Zipf-bounded count tables, "
        "hash-key joins broadcastable after a frequency cut, no "
        "driver-side model state."
    ),
)
def q_stupid_backoff_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import hashed_lm

    docs = load_table(spark, sf_dir, "documents")
    h100 = hashed_lm.md5_hash60(F.col("doc_id").cast("string")) % 100
    split = docs.select(
        "doc_id", "lang", F.split("text", " ").alias("ws"), (h100 < 70).alias("is_train")
    )
    bigrams = lambda df: df.select(  # noqa: E731
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(ws) >= 2 THEN "
                "transform(sequence(0, size(ws) - 2),"
                " i -> struct(ws[i] AS w1, ws[i + 1] AS w2)) "
                "ELSE array() END"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    train = split.filter("is_train")
    ucnt = train.select(F.explode("ws").alias("w")).groupBy("w").agg(
        F.count("*").alias("cnt")
    )
    utot = ucnt.agg(
        F.sum("cnt").cast("double").alias("n"),
        F.count("*").cast("double").alias("v"),
    )
    bcnt = bigrams(train).groupBy("w1", "w2").agg(F.count("*").alias("bc"))
    ctx = bcnt.groupBy("w1").agg(F.sum("bc").cast("double").alias("cc"))
    ho = bigrams(split.filter(~F.col("is_train")))
    scored = (
        ho.join(bcnt, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(ucnt.withColumnRenamed("w", "w2"), "w2", "left")
        .crossJoin(F.broadcast(utot))
        .select(
            "doc_id",
            F.when(
                F.col("bc").isNotNull(), -F.log(F.col("bc") / F.col("cc"))
            )
            .otherwise(
                -F.log(
                    F.lit(0.4)
                    * (F.coalesce(F.col("cnt"), F.lit(0)) + 1)
                    / (F.col("n") + F.col("v"))
                )
            )
            .alias("nll"),
            F.when(F.col("bc").isNull(), 1).otherwise(0).alias("backed"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        exact_avg(F.col("nll"), 9, 6).alias("avg_nll"),
        F.sum("backed").cast("double").alias("bk"),
        F.count("*").cast("double").alias("nt"),
    )
    return (
        per_doc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            exact_avg(F.col("avg_nll"), 6).alias("mean_doc_nll"),
            F.round(F.sum("bk") / F.sum("nt"), 6).alias("backoff_rate"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge-rule TRAINING (the bounded loop over the word-frequency table)
# ---------------------------------------------------------------------------


def _bpe_oracle(
    n_merges: int, through_final_seqs: bool = False, alphabet: str = "char"
) -> str:
    """Unrolled chained-CTE replay of the BPE trainer (the kmeans/
    PageRank oracle pattern): round r counts adjacent pairs over sq_r,
    best_r is the (count DESC, a, b) argmax, sq_{r+1} applies the merge
    greedily left-to-right via window functions — candidate positions,
    overlap chains grouped by the i-ROW_NUMBER trick (overlaps only
    exist when a=b), odd chain offsets taken, absorbed positions (one
    past a taken merge) dropped, sequences reassembled in position
    order."""
    syms0 = (
        "list_transform(range(1, length(w) + 1), i -> w[i])"
        if alphabet == "char"
        # GPT-2 byte-fallback universe: UTF-8 bytes as 2-char uppercase
        # hex symbols (llm/bpe.symbolize's oracle twin)
        else "regexp_extract_all(hex(encode(w)), '..')"
    )
    ctes = [
        f"""sq_1 AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt,
             {syms0} AS syms
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> ''
      GROUP BY w
    )"""
    ]
    for r in range(1, n_merges + 1):
        ctes.append(f"""p_{r} AS MATERIALIZED (
      SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS n
      FROM (SELECT cnt, syms[i] AS a, syms[i + 1] AS b
            FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM sq_{r}))
      GROUP BY a, b
    )""")
        # sentinel: if the vocabulary is fully merged before round r
        # (p_r empty), emit an unmatchable chr(1) pair with count -1 so
        # later rounds become exact no-ops instead of emptying every
        # downstream CTE — mirroring the operator's early break. Real
        # pairs (count >= 1) always outrank it; the trainer's final
        # union filters sentinel rows out.
        ctes.append(f"""best_{r} AS MATERIALIZED (
      SELECT a, b, n FROM (
        SELECT a, b, n FROM p_{r}
        UNION ALL SELECT chr(1), chr(1), CAST(-1 AS BIGINT)
      ) ORDER BY n DESC, a, b LIMIT 1
    )""")
        if r == n_merges and not through_final_seqs:
            break
        ctes.append(f"""pos_{r} AS MATERIALIZED (
      SELECT q.w, q.cnt, q.i, q.syms[q.i] AS s,
             (q.i < len(q.syms) AND q.syms[q.i] = be.a
              AND q.syms[q.i + 1] = be.b) AS cand
      FROM (SELECT w, cnt, syms, unnest(range(1, len(syms) + 1)) AS i
            FROM sq_{r}) q
      CROSS JOIN best_{r} be
    )""")
        ctes.append(f"""tk_{r} AS MATERIALIZED (
      SELECT w, i FROM (
        SELECT w, i, ROW_NUMBER() OVER (PARTITION BY w, g ORDER BY i) AS rn
        FROM (SELECT w, i, i - ROW_NUMBER() OVER (PARTITION BY w ORDER BY i) AS g
              FROM pos_{r} WHERE cand)
      ) WHERE rn % 2 = 1
    )""")
        ctes.append(f"""sq_{r + 1} AS MATERIALIZED (
      SELECT o.w, any_value(o.cnt) AS cnt, list(o.tok ORDER BY o.i) AS syms
      FROM (
        SELECT p.w, p.cnt, p.i,
               CASE WHEN t.i IS NOT NULL
                    THEN (SELECT a || b FROM best_{r}) ELSE p.s END AS tok
        FROM pos_{r} p
        LEFT JOIN tk_{r} t ON p.w = t.w AND p.i = t.i
        LEFT JOIN tk_{r} t2 ON p.w = t2.w AND p.i = t2.i + 1
        WHERE t2.i IS NULL
      ) o
      GROUP BY o.w
    )""")
    if through_final_seqs:
        # emit only the CTE chain (caller appends its own final SELECT
        # over sq_{n_merges+1}, the fully-merged sequences)
        return ",\n    ".join(ctes)
    union = "\n      UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_round, a AS left_sym,"
        f" b AS right_sym, a || b AS merged, n AS pair_count FROM best_{r}"
        f" WHERE n >= 1"
        for r in range(1, n_merges + 1)
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT * FROM ({union})
    ORDER BY merge_round
    """
    )


@register(
    "q_bpe_train_merges",
    oracle=_bpe_oracle(8),
    description=(
        "BPE merge-rule TRAINING (Sennrich et al. 2016): 8 bounded merge "
        "rounds over the word-frequency table — the trainer half of the "
        "tokenizer story whose single-round statistic is "
        "q_bpe_pair_counts. The corpus is scanned exactly once (the "
        "vocab groupBy); each round is one vocab-bounded pair-count "
        "shuffle, a TakeOrderedAndProject argmax (ONE row to the "
        "driver, the kcenter/kmeans bounded-iteration contract), and a "
        "pure-codegen greedy merge fold with the winning pair inlined "
        "as literals — no UDF, no join, no corpus shuffle at any "
        "scale. Exact-integer counts and (count DESC, pair ASC) "
        "tie-breaks make the loop bit-deterministic across engines; "
        "the oracle replays all 8 rounds as an unrolled CTE chain with "
        "window-function greedy merging."
    ),
)
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import bpe

    docs = load_table(spark, sf_dir, "documents")
    return bpe.bpe_train_frame(docs, "text", n_merges=8)


# ---------------------------------------------------------------------------
# DoReMi mixture reweighting (multiplicative weights over domain excess NLL)
# ---------------------------------------------------------------------------

_DOREMI_B, _DOREMI_ETA, _DOREMI_S, _DOREMI_T = 512, 0.5, 0.1, 4


def _doremi_ctes(t_rounds: int) -> list[str]:
    """Unrolled multiplicative-weights CTE chain (the kmeans/PageRank
    oracle pattern): the corpus-sized token count happens once (cnt);
    everything after runs on the ≤ D×B-row grid. Per round t: mixture
    q{t} over buckets, per-domain mixture NLL rounded to 6 dp (the
    round-per-iteration drift truncation), excess vs the own-LM
    baseline, exp(η·E) update, normalize + uniform-smooth, round to
    9 dp. MATERIALIZED throughout (DuckDB inlines CTEs per reference).
    Shared by q_doremi_weights (4 rounds) and q_doremi_sensitivity
    (8 rounds, snapshot union) — the trajectory replay cannot drift."""
    b, eta, s = _DOREMI_B, _DOREMI_ETA, _DOREMI_S
    bucket = (
        "CAST('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 15)"
        f" AS BIGINT) % {b}"
    )
    ctes = [
        f"tok AS MATERIALIZED (SELECT lang AS domain, {bucket} AS bucket FROM documents)",
        "cnt AS MATERIALIZED (SELECT domain, bucket, CAST(COUNT(*) AS BIGINT) AS c"
        " FROM tok GROUP BY domain, bucket)",
        "nd AS MATERIALIZED (SELECT domain, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY domain)",
        "doms AS MATERIALIZED (SELECT domain FROM nd)",
        "dc AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS d FROM doms)",
        "bks AS MATERIALIZED (SELECT DISTINCT bucket FROM cnt)",
        "grid AS MATERIALIZED (SELECT d.domain, b.bucket, COALESCE(c.c, 0) AS c, nd.n"
        " FROM doms d CROSS JOIN bks b"
        " LEFT JOIN cnt c ON c.domain = d.domain AND c.bucket = b.bucket"
        " JOIN nd ON nd.domain = d.domain)",
        f"p AS MATERIALIZED (SELECT domain, bucket, c, n,"
        f" (c + 1) / (n + {float(b)}) AS p FROM grid)",
        "base AS MATERIALIZED (SELECT domain,"
        " ROUND(-SUM(c * ln(p)) / ANY_VALUE(n), 6) AS b FROM p GROUP BY domain)",
        "a0 AS MATERIALIZED (SELECT doms.domain, 1.0 / dc.d AS w"
        " FROM doms CROSS JOIN dc)",
    ]
    for t in range(t_rounds):
        ctes.append(
            f"q{t} AS MATERIALIZED (SELECT p.bucket, SUM(a.w * p.p) AS q"
            f" FROM p JOIN a{t} a ON a.domain = p.domain GROUP BY p.bucket)"
        )
        ctes.append(
            f"e{t} AS MATERIALIZED (SELECT p.domain,"
            f" GREATEST(0.0, ROUND(ROUND(-SUM(p.c * ln(q.q)) / ANY_VALUE(p.n), 6)"
            f" - ANY_VALUE(base.b), 6)) AS e"
            f" FROM p JOIN q{t} q ON q.bucket = p.bucket"
            f" JOIN base ON base.domain = p.domain"
            f" GROUP BY p.domain)"
        )
        ctes.append(
            f"u{t} AS MATERIALIZED (SELECT a.domain, a.w * exp({eta} * e.e) AS uw"
            f" FROM a{t} a JOIN e{t} e ON e.domain = a.domain)"
        )
        ctes.append(
            f"a{t + 1} AS MATERIALIZED (SELECT u.domain,"
            f" ROUND({1.0 - s} * u.uw / (SELECT SUM(uw) FROM u{t})"
            f" + {s} / (SELECT d FROM dc), 9) AS w FROM u{t} u)"
        )
    return ctes


def _doremi_oracle() -> str:
    t_rounds = _DOREMI_T
    return (
        "WITH "
        + ",\n    ".join(_doremi_ctes(t_rounds))
        + f"""
    SELECT base.domain, base.b AS baseline_nll, e{t_rounds - 1}.e AS excess,
           a{t_rounds}.w AS weight
    FROM base
    JOIN e{t_rounds - 1} ON e{t_rounds - 1}.domain = base.domain
    JOIN a{t_rounds} ON a{t_rounds}.domain = base.domain
    ORDER BY base.domain
    """
    )


_DOREMI_SNAPSHOTS = (2, 4, 8)


def _doremi_sensitivity_oracle() -> str:
    """The round-budget sensitivity union over the SHARED trajectory
    chain unrolled to max(snapshots): weights after rounds 2/4/8 are
    prefixes of one replay."""
    parts = [
        f"SELECT CAST({r} AS BIGINT) AS rounds, domain, w AS weight FROM a{r}"
        for r in sorted(_DOREMI_SNAPSHOTS)
    ]
    return (
        "WITH "
        + ",\n    ".join(_doremi_ctes(max(_DOREMI_SNAPSHOTS)))
        + "\n    SELECT * FROM ("
        + " UNION ALL ".join(parts)
        + ") ORDER BY rounds, domain"
    )


@register(
    "q_doremi_sensitivity",
    oracle=_doremi_sensitivity_oracle(),
    description=(
        "DoReMi round-budget sensitivity: the mixture weights after 2, 4 "
        "and 8 exponentiated-gradient rounds — does the mixture converge "
        "on this corpus, and how much does the default 4-round budget "
        "leave on the table? The weights after k rounds are a prefix of "
        "the 8-round trajectory, so the whole table costs ONE corpus scan "
        "(the shared domain×bucket count) plus 8 bounded rounds — not one "
        "run per budget — and the oracle reuses q_doremi_weights' "
        "unrolled-CTE chain verbatim, just extended to 8 rounds with a "
        "snapshot union (the two replays cannot drift). Returns (rounds, "
        "domain, weight)."
    ),
)
def q_doremi_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import hashed_lm

    docs = load_table(spark, sf_dir, "documents")
    return hashed_lm.doremi_weight_curve(
        docs,
        "lang",
        "text",
        n_buckets=_DOREMI_B,
        eta=_DOREMI_ETA,
        smoothing=_DOREMI_S,
        snapshots=_DOREMI_SNAPSHOTS,
    )


@register(
    "q_doremi_weights",
    headline=True,
    oracle=_doremi_oracle(),
    description=(
        "DoReMi-style mixture reweighting (Xie et al. 2023): 4 "
        "multiplicative-weights rounds over per-domain EXCESS NLL — each "
        "domain's NLL under the current mixture hashed-unigram LM minus "
        "its NLL under its own LM (the perfectly-fit reference), "
        "exponentiated-gradient update with uniform smoothing. The "
        "iterative upgrade of the static mixture planners "
        "(q_mixture_sampling family): weights move toward the domains the "
        "mixture models worst. The corpus is scanned ONCE for the "
        "domain×bucket count table (≤ D×512 rows, broadcast-sized by "
        "construction); every round is one aggregation over that table "
        "with the current weights attached as a D-row broadcast, and the "
        "driver holds D floats — the kcenter/kmeans bounded-iteration "
        "contract. Every round rounds the weights to 6 dp, which "
        "truncates cross-engine summation drift; the oracle replays all "
        "rounds as an unrolled MATERIALIZED-CTE chain."
    ),
)
def q_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import hashed_lm

    docs = load_table(spark, sf_dir, "documents")
    out = hashed_lm.doremi_frame(
        docs,
        "lang",
        "text",
        n_buckets=_DOREMI_B,
        eta=_DOREMI_ETA,
        smoothing=_DOREMI_S,
        rounds=_DOREMI_T,
    )
    return out.select(
        F.col("domain"),
        F.round("baseline_nll", 6).alias("baseline_nll"),
        F.round("excess", 6).alias("excess"),
        F.round("weight", 9).alias("weight"),
    ).orderBy("domain")


# ---------------------------------------------------------------------------
# Sentence-granularity exact dedup (Lee et al.'s sentence-level deployment)
# ---------------------------------------------------------------------------

_SENT_SPLIT = (
    "list_filter(list_transform(string_split(' ' || text || ' ', ' the '),"
    " s -> trim(s)), s -> s <> '')"
)


@register(
    "q_dup_sentences",
    headline=True,
    oracle=f"""
    WITH sd AS MATERIALIZED (
      SELECT doc_id, {_SENT_SPLIT} AS sents FROM documents
    ),
    sg AS MATERIALIZED (
      SELECT doc_id,
             unnest(list_transform(range(1, len(sents) + 1),
                    i -> {{'pos': i,
                          'sh': CAST('0x' || substr(md5(sents[i]), 1, 15)
                                AS BIGINT)}})) AS u
      FROM sd
    ),
    s0 AS MATERIALIZED (SELECT doc_id, u.pos AS pos, u.sh AS sh FROM sg),
    dup AS MATERIALIZED (
      SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM s0)
      GROUP BY sh HAVING COUNT(*) >= 2
    ),
    hit AS MATERIALIZED (SELECT doc_id, pos FROM s0 SEMI JOIN dup USING (sh)),
    lg AS (SELECT doc_id, pos,
                  CASE WHEN pos > COALESCE(
                           lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
                           -9) + 1
                       THEN 1 ELSE 0 END AS new_span
           FROM hit),
    spn AS (SELECT doc_id, pos,
                   SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
            FROM lg),
    per_span AS MATERIALIZED (
      SELECT doc_id, MIN(pos) AS s, MAX(pos) AS e
      FROM spn GROUP BY doc_id, span_id
    ),
    agg AS MATERIALIZED (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(e - s + 1) AS BIGINT) AS covered
      FROM per_span GROUP BY doc_id
    )
    SELECT sd.doc_id,
           CAST(len(sd.sents) AS BIGINT) AS n_sents,
           CAST(COALESCE(agg.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(agg.covered, 0) AS BIGINT) AS covered_sents,
           CASE WHEN len(sd.sents) = 0 THEN 0.0
                ELSE ROUND(COALESCE(agg.covered, 0) * 1.0 / len(sd.sents), 6)
           END AS sent_coverage
    FROM sd LEFT JOIN agg USING (doc_id)
    """,
    description=(
        "Sentence-granularity exact dedup — the sentence-level "
        "deployment of Lee et al. 2022's exact-substring pass (their "
        "practical pipelines dedup at sentence boundaries as well as "
        "50-token spans): a sentence is duplicated when its exact hash "
        "occurs in >= 2 distinct documents; maximal RUNS of consecutive "
        "duplicated sentences merge through the SAME interval machinery "
        "as the word-gram span family (merge_covered_intervals, "
        "unit_len=1 — a pure re-parameterization, which is the point). "
        "The synthetic corpus has no punctuation, so the determiner "
        "token ' the ' stands in as the sentence boundary (documented "
        "on the operator; real corpora pass punctuation). Scale shape "
        "identical to q_dup_spans_exact with the 23x-amplified gram "
        "stream replaced by the ~sentence-count stream: one "
        "DISTINCT-pair doc-frequency shuffle, a semi-join marker probe, "
        "and the one doc-partitioned window."
    ),
)
def q_dup_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dup_sentence_spans(
        docs, "doc_id", "text", boundary=" the ", min_df=2, min_span=1
    )


@register(
    "q_bpe_encode",
    oracle=(
        "WITH "
        + _bpe_oracle(8, through_final_seqs=True)
        + """,
    dw AS MATERIALIZED (
      SELECT doc_id, w
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> ''
    ),
    ag AS MATERIALIZED (
      SELECT dw.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(length(dw.w)) AS BIGINT) AS n_char_tokens,
             CAST(SUM(len(s.syms)) AS BIGINT) AS n_bpe_tokens
      FROM dw JOIN sq_9 s ON s.w = dw.w
      GROUP BY dw.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(ag.n_words, 0) AS BIGINT) AS n_words,
           CAST(COALESCE(ag.n_char_tokens, 0) AS BIGINT) AS n_char_tokens,
           CAST(COALESCE(ag.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
           CASE WHEN COALESCE(ag.n_char_tokens, 0) > 0
                THEN ROUND(ag.n_bpe_tokens * 1.0 / ag.n_char_tokens, 6)
                ELSE 0.0 END AS compression
    FROM documents d LEFT JOIN ag USING (doc_id)
    """
    ),
    description=(
        "BPE tokenizer APPLICATION — the other half of the train/encode "
        "loop (q_bpe_train_merges trains these same 8 rules): every "
        "document is re-tokenized under the trained merges and the "
        "per-doc token census reported (char tokens vs BPE tokens vs "
        "the compression ratio — the statistic that prices a tokenizer "
        "before it ships). The encode is a PURE PER-ROW PASS: an Arrow "
        "mapInPandas kernel applies the 8 merges in training order "
        "with a per-task word→count memo — no vocabulary lookup join, "
        "zero exchanges before the per-doc aggregate, so at 100 TB "
        "encoding runs embarrassingly parallel (30.7x over the "
        "interpreted per-word greedy-fold chain at sf0.1, which is "
        "kept only as the test-side reference). The oracle reuses "
        "the trainer's CTE chain through the final merged sequences "
        "(sq_9) and joins documents' words against it — vocabulary-"
        "table semantics and per-word-fold semantics provably agree."
    ),
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import bpe

    docs = load_table(spark, sf_dir, "documents")
    rules = bpe.bpe_train(docs, "text", n_merges=8)
    return bpe.encode_token_counts(docs, rules, "doc_id", "text")


def _fertility_oracle() -> str:
    """BOTH trained tokenizers' chains in one WITH (no CTE-name
    overlap: BPE = sq_/p_/best_/pos_/tk_, unigram = words/sc/v0/
    m{r}/d{r}_/w{r}_/c{r}), restricted to the unigram trainer's
    16-char word universe so the head-to-head is apples-to-apples;
    per-language sums join each word against its fully-merged BPE
    sequence (sq_9) and its final-model Viterbi pieces (the
    one-round-extended chain, the q_unigram_encode pattern)."""
    from duva_spark.queries.llm_q import _UNI_CAP, _UNI_R, _unigram_ctes

    r_enc, cap = _UNI_R + 1, _UNI_CAP
    return (
        "WITH "
        + _bpe_oracle(8, through_final_seqs=True)
        + ",\n    "
        + ",\n    ".join(_unigram_ctes(r_enc))
        + f""",
    dwl AS MATERIALIZED (
      SELECT lang, w
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' AND len(w) <= {cap}
    ),
    ag AS (
      SELECT dwl.lang,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(length(dwl.w)) AS BIGINT) AS n_chars,
             CAST(SUM(len(b.syms)) AS BIGINT) AS n_bpe_tokens,
             CAST(SUM(len(u.pieces)) AS BIGINT) AS n_unigram_tokens
      FROM dwl
      JOIN sq_9 b ON b.w = dwl.w
      JOIN w{r_enc}_{cap} u ON u.w = dwl.w
      GROUP BY dwl.lang
    )
    SELECT lang, n_words, n_chars, n_bpe_tokens, n_unigram_tokens,
           ROUND(n_bpe_tokens * 1.0 / n_words, 6) AS bpe_fertility,
           ROUND(n_unigram_tokens * 1.0 / n_words, 6) AS unigram_fertility
    FROM ag
    """
    )


@register(
    "q_tokenizer_fertility_trained",
    oracle=_fertility_oracle(),
    description=(
        "Per-language fertility (tokens per word) for BOTH TRAINED "
        "tokenizer families head-to-head — the real-vocabulary upgrade "
        "q_tokenizer_fertility's fixed-rate proxy promises: the metric "
        "picks a tokenizer for a multilingual corpus (high fertility "
        "on a language = that language pays more sequence length per "
        "word, trains slower and truncates sooner; the XLM-R/NLLB "
        "tokenizer-audit step). Both models train as usual (8 BPE "
        "merges; 3 unigram hard-EM rounds), then ONE Arrow-kernel scan "
        "encodes every word both ways (per-task word→count memos — "
        "Zipf makes most words repeats; pinned value-identical to the "
        "test-side interpreted-HOF fold reference, no join) "
        "and a language groupBy sums exact token counts; "
        "restricted to the unigram trainer's 16-char word universe so "
        "the comparison is apples-to-apples. The oracle nests BOTH "
        "verified training chains in one WITH (they share no CTE "
        "names) — the head-to-head provably scores the same two "
        "models the train queries verify. Returns (lang, n_words, "
        "n_chars, n_bpe_tokens, n_unigram_tokens, bpe_fertility, "
        "unigram_fertility)."
    ),
)
def q_tokenizer_fertility_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import bpe, unigram
    from duva_spark.queries.llm_q import _UNI_CAP, _UNI_L, _UNI_R, _UNI_SEED

    docs = load_table(spark, sf_dir, "documents")
    rules = bpe.bpe_train(docs, "text", n_merges=8)
    lp = unigram.unigram_trained_lp(
        docs, "text", max_len=_UNI_L, n_seed=_UNI_SEED, rounds=_UNI_R,
        word_cap=_UNI_CAP,
    )
    per_doc = unigram.fertility_counts(
        docs, rules, lp,
        group_col="lang", text_col="text", word_cap=_UNI_CAP, max_len=_UNI_L,
    )
    ag = per_doc.groupBy("lang").agg(
        F.sum("nw").cast("long").alias("n_words"),
        F.sum("nc").cast("long").alias("n_chars"),
        F.sum("nb").cast("long").alias("n_bpe_tokens"),
        F.sum("nu").cast("long").alias("n_unigram_tokens"),
    # a language whose every word falls to the cap has no dwl rows in
    # the oracle — drop it here too rather than emit a 0/NULL row
    ).filter(F.col("n_words") > 0)
    return ag.select(
        "lang",
        "n_words",
        "n_chars",
        "n_bpe_tokens",
        "n_unigram_tokens",
        F.round(F.col("n_bpe_tokens") * 1.0 / F.col("n_words"), 6).alias(
            "bpe_fertility"
        ),
        F.round(F.col("n_unigram_tokens") * 1.0 / F.col("n_words"), 6).alias(
            "unigram_fertility"
        ),
    )


# ---------------------------------------------------------------------------
# End-to-end curation retention funnel (the composition flagship)
# ---------------------------------------------------------------------------

from duva_spark.llm.funnel import FUNNEL_STAGES as _FUNNEL_STAGES  # noqa: E402


def _funnel_stage_union(stage_names, agg: str = "fagg") -> str:
    """The per-stage unpivot rows over the single aggregate row — the
    report shape every compiled funnel shares."""
    rows = []
    for k, stage in enumerate(stage_names, start=1):
        src, out = (f"n{k - 1}" if k > 1 else "n1"), f"n{k}"
        rows.append(
            f"SELECT {k} AS stage_ord, '{stage}' AS stage,"
            f" {src} AS docs_in, {out} AS docs_out,"
            f" {src} - {out} AS dropped,"
            f" CASE WHEN {src} > 0 THEN ROUND({out} * 1.0 / {src}, 6)"
            f" ELSE 0.0 END AS retention,"
            f" CASE WHEN n1 > 0 THEN ROUND({out} * 1.0 / n1, 6)"
            f" ELSE 0.0 END AS cum_retention FROM {agg}"
        )
    return " UNION ALL ".join(rows)


def _funnel_feature_ctes() -> str:
    """The shared feature CTEs of every funnel oracle (quality flag,
    repetition verdict, content hash + fingerprint + id-hash, eval-gram
    contamination marks) — the SQL twin of ``funnel.funnel_features``,
    shared by the canonical and alt configs so the feature semantics
    cannot drift between pipelines. Quality and repetition flags come
    from the SAME oracle texts as their standalone queries (the
    repetition battery nests verbatim as a WITH-subquery)."""
    from duva_spark.queries.llm_q import _FPRINT, _PASS_STRUCT, _gopher_rep_oracle

    # the language-agnostic STRUCTURAL subset of the battery: the
    # English-stopword rule is per-language in production (and zeroes a
    # multilingual corpus), so the funnel gates on the other four rules
    pass_gopher = _PASS_STRUCT
    return f"""
    WITH fq AS MATERIALIZED (
      SELECT doc_id, {pass_gopher} AS pass_gopher FROM documents
    ),
    frep AS MATERIALIZED (
      SELECT doc_id, pass_repetition FROM ({_gopher_rep_oracle()}) t
    ),
    fd AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS ws, md5(text) AS ch,
             {_FPRINT} AS fp, {_H100} AS h
      FROM documents
    ),
    fg AS MATERIALIZED (
      SELECT doc_id, h,
             CAST('0x' || substr(md5(unnest({_GRAM8})), 1, 15) AS BIGINT) AS gh
      FROM fd WHERE len(ws) >= 8
    ),
    fe AS MATERIALIZED (SELECT DISTINCT gh FROM fg WHERE h < 10),
    fcont AS MATERIALIZED (
      SELECT DISTINCT doc_id FROM fg SEMI JOIN fe USING (gh) WHERE h >= 10
    ),"""


def _funnel_oracle() -> str:
    """Sequential replay of the seven-stage canonical funnel: the
    shared feature CTEs, the nested-boolean chain with two
    conditional-MIN keeper windows over the survivor set, one aggregate
    row, the stage unpivot."""
    union = _funnel_stage_union(_FUNNEL_STAGES)
    return _funnel_feature_ctes() + f"""
    ff1 AS MATERIALIZED (
      SELECT fd.doc_id, fd.ch, fd.fp,
             fd.h >= 10 AS b2,
             fd.h >= 10 AND fq.pass_gopher AS b3,
             fd.h >= 10 AND fq.pass_gopher AND frep.pass_repetition AS b4,
             fcont.doc_id IS NOT NULL AS contaminated
      FROM fd JOIN fq USING (doc_id) JOIN frep USING (doc_id)
      LEFT JOIN fcont USING (doc_id)
    ),
    ff2 AS (
      SELECT *, b4 AND doc_id = MIN(CASE WHEN b4 THEN doc_id END)
                    OVER (PARTITION BY ch) AS b5
      FROM ff1
    ),
    ff3 AS (
      SELECT *, b5 AND doc_id = MIN(CASE WHEN b5 THEN doc_id END)
                    OVER (PARTITION BY fp) AS b6
      FROM ff2
    ),
    ff4 AS MATERIALIZED (
      SELECT *, b6 AND NOT contaminated AS b7 FROM ff3
    ),
    fagg AS MATERIALIZED (
      SELECT CAST(COUNT(*) AS BIGINT) AS n1,
             CAST(COALESCE(SUM(CASE WHEN b2 THEN 1 END), 0) AS BIGINT) AS n2,
             CAST(COALESCE(SUM(CASE WHEN b3 THEN 1 END), 0) AS BIGINT) AS n3,
             CAST(COALESCE(SUM(CASE WHEN b4 THEN 1 END), 0) AS BIGINT) AS n4,
             CAST(COALESCE(SUM(CASE WHEN b5 THEN 1 END), 0) AS BIGINT) AS n5,
             CAST(COALESCE(SUM(CASE WHEN b6 THEN 1 END), 0) AS BIGINT) AS n6,
             CAST(COALESCE(SUM(CASE WHEN b7 THEN 1 END), 0) AS BIGINT) AS n7
      FROM ff4
    )
    SELECT * FROM ({union}) ORDER BY stage_ord
    """


@register(
    "q_pipeline_funnel",
    headline=True,
    oracle=_funnel_oracle(),
    description=(
        "End-to-end curation retention funnel — the composition "
        "flagship: seven SEQUENTIAL stages over the documents table "
        "(ingest → 90% train holdout → Gopher quality battery → Gopher "
        "repetition battery → exact dedup canonical keeper → near-dup "
        "fingerprint keeper → eval-set decontamination), each stage's "
        "predicate evaluated over the SURVIVORS of the previous one — "
        "the per-stage retention report a FineWeb/RefinedWeb-style "
        "production pipeline publishes. Composes five verified operator "
        "families in ONE pass: the stage booleans nest (b_k = b_{k-1} & "
        "pred_k), the two dedup keepers are conditional-MIN windows over "
        "the survivor set (so the canonical doc is chosen among "
        "survivors, not the raw corpus), contamination is the broadcast "
        "eval-gram probe, and a single aggregation row unpivots to the "
        "seven funnel rows. At 100 TB: two doc-keyed hash-partition "
        "windows, one broadcast semi-join, one global count row — no "
        "corpus-sized exchange beyond the flag joins."
    ),
)
def q_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm.funnel import curation_funnel

    docs = load_table(spark, sf_dir, "documents")
    return curation_funnel(docs)


def _funnel_alt_oracle() -> str:
    """The ALT_STAGES config replayed: same shared feature CTEs, the
    reordered nested-boolean chain (80% holdout → exact-dedup keeper →
    quality → decontaminate → fingerprint keeper → repetition last)."""
    from duva_spark.llm.funnel import ALT_STAGES

    names = ("ingest",) + tuple(s.name for s in ALT_STAGES)
    union = _funnel_stage_union(names)
    return _funnel_feature_ctes() + f"""
    fa1 AS MATERIALIZED (
      SELECT fd.doc_id, fd.ch, fd.fp, fq.pass_gopher, frep.pass_repetition,
             fd.h >= 20 AS b2,
             fcont.doc_id IS NOT NULL AS contaminated
      FROM fd JOIN fq USING (doc_id) JOIN frep USING (doc_id)
      LEFT JOIN fcont USING (doc_id)
    ),
    fa2 AS (
      SELECT *, b2 AND doc_id = MIN(CASE WHEN b2 THEN doc_id END)
                    OVER (PARTITION BY ch) AS b3
      FROM fa1
    ),
    fa3 AS (SELECT *, b3 AND pass_gopher AS b4 FROM fa2),
    fa4 AS (SELECT *, b4 AND NOT contaminated AS b5 FROM fa3),
    fa5 AS (
      SELECT *, b5 AND doc_id = MIN(CASE WHEN b5 THEN doc_id END)
                    OVER (PARTITION BY fp) AS b6
      FROM fa4
    ),
    fa6 AS MATERIALIZED (SELECT *, b6 AND pass_repetition AS b7 FROM fa5),
    fagg AS MATERIALIZED (
      SELECT CAST(COUNT(*) AS BIGINT) AS n1,
             CAST(COALESCE(SUM(CASE WHEN b2 THEN 1 END), 0) AS BIGINT) AS n2,
             CAST(COALESCE(SUM(CASE WHEN b3 THEN 1 END), 0) AS BIGINT) AS n3,
             CAST(COALESCE(SUM(CASE WHEN b4 THEN 1 END), 0) AS BIGINT) AS n4,
             CAST(COALESCE(SUM(CASE WHEN b5 THEN 1 END), 0) AS BIGINT) AS n5,
             CAST(COALESCE(SUM(CASE WHEN b6 THEN 1 END), 0) AS BIGINT) AS n6,
             CAST(COALESCE(SUM(CASE WHEN b7 THEN 1 END), 0) AS BIGINT) AS n7
      FROM fa6
    )
    SELECT * FROM ({union}) ORDER BY stage_ord
    """


@register(
    "q_pipeline_funnel_alt",
    oracle=_funnel_alt_oracle(),
    description=(
        "A SECOND curation pipeline expressed purely as data through "
        "the declarative funnel compiler (llm/funnel.py compile_funnel "
        "— predicate/keeper/probe stages over the shared feature "
        "frame): 80% holdout, exact-dedup BEFORE the quality gates "
        "(the cheap-first ordering that shrinks the corpus before the "
        "expensive per-doc batteries), decontamination mid-stream, "
        "fingerprint near-dup, repetition battery LAST. Demonstrates "
        "the compiler generates the same one-pass nested-boolean + "
        "conditional-MIN-keeper plan shape for ANY stage order — the "
        "canonical q_pipeline_funnel runs through the identical "
        "compiler (property-tested equal to the original hand-built "
        "plan), and the oracle shares the canonical funnel's feature "
        "CTEs verbatim so feature semantics cannot drift between "
        "configs. Keeper semantics stay sequential: the canonical "
        "copy is chosen among THIS pipeline's survivors."
    ),
)
def q_pipeline_funnel_alt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm.funnel import ALT_STAGES, compile_funnel, funnel_features

    docs = load_table(spark, sf_dir, "documents")
    return compile_funnel(funnel_features(docs), ALT_STAGES)


# ---------------------------------------------------------------------------
# Per-source corpus datasheet
# ---------------------------------------------------------------------------


def _datasheet_oracle() -> str:
    from duva_spark.queries.llm_q import _PASS_STRUCT

    return f"""
    WITH b AS MATERIALIZED (
      SELECT source, lang, md5(text) AS ch, {_NTOK} AS n,
             CASE WHEN {_PASS_STRUCT} THEN 1.0 ELSE 0.0 END AS q
      FROM documents
    ),
    lc AS MATERIALIZED (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
      FROM b GROUP BY source, lang
    ),
    top AS MATERIALIZED (
      SELECT source, lang AS top_lang, c AS top_c FROM lc
      QUALIFY ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, lang) = 1
    ),
    agg AS MATERIALIZED (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n) AS BIGINT) AS n_tokens,
             ROUND(AVG(n), 6) AS mean_words,
             ROUND(AVG(q), 6) AS quality_rate,
             ROUND(1.0 - COUNT(DISTINCT ch) * 1.0 / COUNT(*), 6) AS dup_rate,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
      FROM b GROUP BY source
    )
    SELECT agg.*, top.top_lang,
           ROUND(top.top_c * 1.0 / agg.n_docs, 6) AS top_lang_share
    FROM agg JOIN top USING (source)
    ORDER BY source
    """


@register(
    "q_corpus_datasheet",
    oracle=_datasheet_oracle(),
    description=(
        "Per-source corpus datasheet (Gebru et al. 2021, 'Datasheets "
        "for Datasets'): the one-row-per-source summary a corpus "
        "release publishes — doc/token counts, mean doc length, "
        "structural-quality pass rate (the shared _PASS_STRUCT "
        "contract), exact-duplicate rate (1 - distinct content hashes "
        "/ docs), language count, and the dominant language with its "
        "share (count-desc, lang-asc tie). One groupBy over "
        "scan-projected columns plus a source-partitioned top-1 "
        "window; source cardinality bounds every post-shuffle table."
    ),
)
def q_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    flagged = textstats.gopher_flags(docs)
    b = flagged.select(
        "source",
        "lang",
        F.md5("text").alias("ch"),
        F.col("n_words").alias("n"),
        F.when(textstats.structural_pass(), 1.0).otherwise(0.0).alias("q"),
    )
    lc = b.groupBy("source", "lang").agg(F.count("*").alias("c"))
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("lang"))
    top = (
        lc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("source", F.col("lang").alias("top_lang"), F.col("c").alias("top_c"))
    )
    agg = b.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n").alias("n_tokens"),
        F.round(F.avg("n"), 6).alias("mean_words"),
        F.round(F.avg("q"), 6).alias("quality_rate"),
        F.round(1.0 - F.countDistinct("ch") / F.count("*"), 6).alias("dup_rate"),
        F.countDistinct("lang").alias("n_langs"),
    )
    return (
        agg.join(top, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "mean_words",
            "quality_rate",
            "dup_rate",
            "n_langs",
            "top_lang",
            F.round(F.col("top_c") / F.col("n_docs"), 6).alias("top_lang_share"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram LM (the KenLM / CCNet production smoothing)
# ---------------------------------------------------------------------------

_KN_D = 0.75


@register(
    "q_kneser_ney_nll",
    headline=True,
    oracle=f"""
    WITH split AS (
      SELECT doc_id, lang, string_split(text, ' ') AS ws,
             {_H60_DOCID} % 100 < 70 AS is_train
      FROM documents
    ),
    uni_tr AS (SELECT unnest(ws) AS w FROM split WHERE is_train),
    ucnt AS (SELECT w, COUNT(*) AS cnt FROM uni_tr GROUP BY w),
    vtot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM ucnt),
    bi_tr AS (
      SELECT unnest(list_transform(range(1, len(ws)),
                    i -> {{'w1': ws[i], 'w2': ws[i + 1]}})) AS b
      FROM split WHERE is_train
    ),
    bcnt AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS bc
             FROM bi_tr GROUP BY 1, 2),
    ctx AS (SELECT w1, CAST(SUM(bc) AS DOUBLE) AS cc,
                   CAST(COUNT(*) AS DOUBLE) AS n1p
            FROM bcnt GROUP BY w1),
    cont AS (SELECT w2, CAST(COUNT(*) AS DOUBLE) AS rc FROM bcnt GROUP BY w2),
    btot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS bt FROM bcnt),
    ho0 AS (
      SELECT doc_id, unnest(list_transform(range(1, len(ws)),
                     i -> {{'w1': ws[i], 'w2': ws[i + 1]}})) AS b
      FROM split WHERE NOT is_train
    ),
    ho AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM ho0),
    scored AS (
      SELECT h.doc_id,
             -ln(
               CASE WHEN ctx.cc IS NULL THEN
                 (COALESCE(cont.rc, 0) + 1) / (btot.bt + vtot.v)
               ELSE
                 (CASE WHEN bc.bc IS NULL THEN 0.0
                       ELSE (bc.bc - {_KN_D}) / ctx.cc END)
                 + ({_KN_D} * ctx.n1p / ctx.cc)
                   * ((COALESCE(cont.rc, 0) + 1) / (btot.bt + vtot.v))
               END
             ) AS nll,
             CASE WHEN bc.bc IS NULL THEN 1 ELSE 0 END AS unseen_bi,
             CASE WHEN ctx.cc IS NULL THEN 1 ELSE 0 END AS unseen_ctx
      FROM ho h
      LEFT JOIN bcnt bc ON bc.w1 = h.w1 AND bc.w2 = h.w2
      LEFT JOIN ctx ON ctx.w1 = h.w1
      LEFT JOIN cont ON cont.w2 = h.w2
      CROSS JOIN btot CROSS JOIN vtot
    ),
    per_doc AS (
      SELECT doc_id, ROUND(CAST(SUM(CAST(FLOOR((nll) * 1e9 + 0.5) AS HUGEINT)) AS DOUBLE) / (COUNT(nll) * 1e9), 6) AS avg_nll,
             CAST(SUM(unseen_bi) AS DOUBLE) AS ub,
             CAST(SUM(unseen_ctx) AS DOUBLE) AS uc,
             CAST(COUNT(*) AS DOUBLE) AS nt
      FROM scored GROUP BY doc_id
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(CAST(FLOOR((p.avg_nll) * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE) / (COUNT(p.avg_nll) * 1e6), 6) AS mean_doc_nll,
           ROUND(SUM(p.ub) / SUM(p.nt), 6) AS unseen_bigram_rate,
           ROUND(SUM(p.uc) / SUM(p.nt), 6) AS unseen_ctx_rate
    FROM per_doc p JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """,
    description=(
        "Interpolated Kneser-Ney bigram LM held-out scoring (Kneser & "
        "Ney 1995; Chen & Goodman 1998 eq. 4.25) — the smoothing KenLM "
        "ships and CCNet's perplexity filter actually runs, completing "
        "the LM-filter family next to the fixed-lambda interpolation "
        "(q_bigram_perplexity) and Stupid Backoff (q_stupid_backoff_"
        "nll): absolute discount D=0.75 off every seen bigram, the "
        "freed mass re-spent on the CONTINUATION unigram P_cont(w) = "
        "types-preceding-w / bigram-types (how many contexts a word "
        "completes, not how often it occurs — the 'San Francisco' "
        "correction: 'Francisco' is frequent but predictable, so KN "
        "scores it low in novel contexts). Trains on the deterministic "
        "70% hash split; unseen held-out contexts fall back to P_cont "
        "alone, and unseen continuation words take an add-one floor "
        "over (bigram-types + vocab) — the same documented finite-NLL "
        "deviation the Stupid-Backoff query makes (exact KN leaves "
        "both undefined). 100 TB shape identical to its siblings: "
        "Zipf-bounded count tables (bcnt and its two marginals), "
        "hash-key joins broadcastable after a frequency cut, two "
        "aggregations, zero driver-side model state. Reports per-"
        "language held-out NLL plus the unseen-bigram and unseen-"
        "context rates (the coverage split KN reacts to first)."
    ),
)
def q_kneser_ney_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import hashed_lm

    docs = load_table(spark, sf_dir, "documents")
    h100 = hashed_lm.md5_hash60(F.col("doc_id").cast("string")) % 100
    split = docs.select(
        "doc_id", "lang", F.split("text", " ").alias("ws"), (h100 < 70).alias("is_train")
    )
    bigrams = lambda df: df.select(  # noqa: E731
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(ws) >= 2 THEN "
                "transform(sequence(0, size(ws) - 2),"
                " i -> struct(ws[i] AS w1, ws[i + 1] AS w2)) "
                "ELSE array() END"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    train = split.filter("is_train")
    ucnt = train.select(F.explode("ws").alias("w")).groupBy("w").agg(
        F.count("*").alias("cnt")
    )
    vtot = ucnt.agg(F.count("*").cast("double").alias("v"))
    bcnt = bigrams(train).groupBy("w1", "w2").agg(F.count("*").alias("bc"))
    ctx = bcnt.groupBy("w1").agg(
        F.sum("bc").cast("double").alias("cc"),
        F.count("*").cast("double").alias("n1p"),
    )
    cont = bcnt.groupBy(F.col("w2")).agg(F.count("*").cast("double").alias("rc"))
    btot = bcnt.agg(F.count("*").cast("double").alias("bt"))
    ho = bigrams(split.filter(~F.col("is_train")))
    d = F.lit(_KN_D)
    pcont = (F.coalesce(F.col("rc"), F.lit(0)) + 1) / (F.col("bt") + F.col("v"))
    p = F.when(F.col("cc").isNull(), pcont).otherwise(
        F.when(F.col("bc").isNull(), F.lit(0.0)).otherwise(
            (F.col("bc") - d) / F.col("cc")
        )
        + (d * F.col("n1p") / F.col("cc")) * pcont
    )
    scored = (
        ho.join(bcnt, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(btot))
        .crossJoin(F.broadcast(vtot))
        .select(
            "doc_id",
            (-F.log(p)).alias("nll"),
            F.when(F.col("bc").isNull(), 1).otherwise(0).alias("unseen_bi"),
            F.when(F.col("cc").isNull(), 1).otherwise(0).alias("unseen_ctx"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        exact_avg(F.col("nll"), 9, 6).alias("avg_nll"),
        F.sum("unseen_bi").cast("double").alias("ub"),
        F.sum("unseen_ctx").cast("double").alias("uc"),
        F.count("*").cast("double").alias("nt"),
    )
    return (
        per_doc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            exact_avg(F.col("avg_nll"), 6).alias("mean_doc_nll"),
            F.round(F.sum("ub") / F.sum("nt"), 6).alias("unseen_bigram_rate"),
            F.round(F.sum("uc") / F.sum("nt"), 6).alias("unseen_ctx_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Rendezvous (HRW) resharding stability vs modulo sharding
# ---------------------------------------------------------------------------

_RDV_S = 16  # shards before; resharding adds one


def _rdv_oracle() -> str:
    s0, s1 = _RDV_S, _RDV_S + 1
    h = (
        "CAST('0x' || substr(md5(CAST(s AS VARCHAR) || ':' ||"
        " CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"
    )
    hh = (
        "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"
    )
    return f"""
    WITH grid AS (
      SELECT doc_id, CAST(s AS INT) AS s, {h} AS hw
      FROM documents, range({s1}) t(s)
    ),
    rdv AS (
      SELECT doc_id,
             MAX(CASE WHEN rn0 = 1 AND s < {s0} THEN s END) AS r0,
             MAX(CASE WHEN rn1 = 1 THEN s END) AS r1
      FROM (SELECT doc_id, s,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY CASE WHEN s < {s0} THEN hw END
                                        DESC NULLS LAST, s DESC) AS rn0,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY hw DESC, s DESC) AS rn1
            FROM grid)
      GROUP BY doc_id
    ),
    moved AS (
      SELECT d.doc_id,
             CASE WHEN ({hh} % {s0}) <> ({hh} % {s1}) THEN 1 ELSE 0 END AS mod_moved,
             CASE WHEN r.r0 <> r.r1 THEN 1 ELSE 0 END AS rdv_moved
      FROM documents d JOIN rdv r USING (doc_id)
    ),
    ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(mod_moved) AS BIGINT) AS m_mod,
                  CAST(SUM(rdv_moved) AS BIGINT) AS m_rdv
           FROM moved)
    SELECT 'modulo' AS scheme, n_docs, m_mod AS n_moved,
           ROUND(m_mod * 1.0 / n_docs, 6) AS moved_fraction FROM ag
    UNION ALL
    SELECT 'rendezvous', n_docs, m_rdv,
           ROUND(m_rdv * 1.0 / n_docs, 6) FROM ag
    """


@register(
    "q_rendezvous_resharding",
    oracle=_rdv_oracle(),
    description=(
        "Rendezvous (highest-random-weight) sharding vs modulo under "
        "a reshard from 16 to 17 shards — the stability property that "
        "decides whether growing a training-data layout invalidates "
        "its caches/checkpoints: modulo reassigns ~16/17 of all "
        "documents (every residue shifts), while HRW provably moves "
        "only the ~1/17 whose new shard WINS the weight race "
        "(Thaler & Ravishankar 1996; the scheme behind consistent "
        "cache and object-store placement). The HRW winner is a pure "
        "scan projection — greatest() over 17 md5-derived "
        "(weight, shard) structs, no explode, no shuffle, and adding "
        "a shard re-hashes NOTHING (weights for existing shards are "
        "unchanged — the monotonicity that makes the proof work). "
        "Returns the two-row census (scheme, n_docs, n_moved, "
        "moved_fraction); expected fractions ~0.94 vs ~0.059. The "
        "oracle replays the weight race as a per-doc rank window over "
        "an unnested (doc, shard) grid."
    ),
)
def q_rendezvous_resharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import minhash

    s0, s1 = _RDV_S, _RDV_S + 1
    docs = load_table(spark, sf_dir, "documents")

    def weight(s: int):
        return minhash.md5_hash60(
            F.concat(F.lit(f"{s}:"), F.col("doc_id").cast("string"))
        )

    def rdv_shard(n: int):
        return F.greatest(
            *[F.struct(weight(s).alias("hw"), F.lit(s).alias("s")) for s in range(n)]
        )["s"]

    hh = minhash.md5_hash60(F.col("doc_id").cast("string"))
    moved = docs.select(
        F.when(hh % s0 != hh % s1, 1).otherwise(0).alias("mod_moved"),
        F.when(rdv_shard(s0) != rdv_shard(s1), 1).otherwise(0).alias("rdv_moved"),
    )
    ag = moved.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("mod_moved").cast("long").alias("m_mod"),
        F.sum("rdv_moved").cast("long").alias("m_rdv"),
    )
    a = ag.select(
        F.lit("modulo").alias("scheme"),
        "n_docs",
        F.col("m_mod").alias("n_moved"),
        F.round(F.col("m_mod") * 1.0 / F.col("n_docs"), 6).alias("moved_fraction"),
    )
    b = ag.select(
        F.lit("rendezvous").alias("scheme"),
        "n_docs",
        F.col("m_rdv").alias("n_moved"),
        F.round(F.col("m_rdv") * 1.0 / F.col("n_docs"), 6).alias("moved_fraction"),
    )
    return a.unionByName(b)


# ---------------------------------------------------------------------------
# Recursive interpolated Kneser-Ney TRIGRAM LM (the full Chen-Goodman shape)
# ---------------------------------------------------------------------------


def _kn3_oracle(min_count: int = 1) -> str:
    """The recursive order-3 KN replay, parameterized by the trigram
    count floor: ``min_count=1`` is the full model, ``min_count=2`` the
    KenLM-style singleton-pruned variant (every trigram-level marginal
    derives from the PRUNED table, so the level still renormalizes over
    the surviving types; dropped trigrams re-route through the same
    unseen-trigram / unseen-context backoff chain)."""
    prune = f"\n              HAVING COUNT(*) >= {min_count}" if min_count > 1 else ""
    return f"""
    WITH split AS (
      SELECT doc_id, lang, string_split(text, ' ') AS ws,
             {_H60_DOCID} % 100 < 70 AS is_train
      FROM documents
    ),
    uni_tr AS (SELECT unnest(ws) AS w FROM split WHERE is_train),
    ucnt AS (SELECT w, COUNT(*) AS cnt FROM uni_tr GROUP BY w),
    vtot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM ucnt),
    bi_tr AS (
      SELECT unnest(list_transform(range(1, len(ws)),
                    i -> {{'w1': ws[i], 'w2': ws[i + 1]}})) AS b
      FROM split WHERE is_train
    ),
    bcnt AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS bc
             FROM bi_tr GROUP BY 1, 2),
    cont AS (SELECT w2 AS w3, CAST(COUNT(*) AS DOUBLE) AS rc FROM bcnt GROUP BY w2),
    btot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS bt FROM bcnt),
    tri_tr AS (
      SELECT unnest(list_transform(range(1, len(ws) - 1),
                    i -> {{'w1': ws[i], 'w2': ws[i + 1], 'w3': ws[i + 2]}})) AS t
      FROM split WHERE is_train AND len(ws) >= 3
    ),
    t3cnt AS (SELECT t.w1 AS w1, t.w2 AS w2, t.w3 AS w3, COUNT(*) AS c3
              FROM tri_tr GROUP BY 1, 2, 3{prune}),
    ctx12 AS (SELECT w1, w2, CAST(SUM(c3) AS DOUBLE) AS cc12,
                     CAST(COUNT(*) AS DOUBLE) AS n1p12
              FROM t3cnt GROUP BY w1, w2),
    mid AS (SELECT w2, CAST(COUNT(*) AS DOUBLE) AS m2 FROM t3cnt GROUP BY w2),
    c23 AS (SELECT w2, w3, CAST(COUNT(*) AS DOUBLE) AS c23t
            FROM t3cnt GROUP BY w2, w3),
    n1p2 AS (SELECT w2, CAST(COUNT(*) AS DOUBLE) AS fw FROM c23 GROUP BY w2),
    ho0 AS (
      SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
                     i -> {{'w1': ws[i], 'w2': ws[i + 1], 'w3': ws[i + 2]}})) AS t
      FROM split WHERE NOT is_train AND len(ws) >= 3
    ),
    ho AS (SELECT doc_id, t.w1 AS w1, t.w2 AS w2, t.w3 AS w3 FROM ho0),
    scored AS (
      SELECT h.doc_id,
             -ln(
               CASE WHEN ctx12.cc12 IS NULL THEN
                 CASE WHEN mid.m2 IS NULL THEN
                   (COALESCE(cont.rc, 0) + 1) / (btot.bt + vtot.v)
                 ELSE
                   (CASE WHEN c23.c23t IS NULL THEN 0.0
                         ELSE (c23.c23t - 0.75) / mid.m2 END)
                   + (0.75 * n1p2.fw / mid.m2)
                     * ((COALESCE(cont.rc, 0) + 1) / (btot.bt + vtot.v))
                 END
               ELSE
                 (CASE WHEN t3.c3 IS NULL THEN 0.0
                       ELSE (t3.c3 - 0.75) / ctx12.cc12 END)
                 + (0.75 * ctx12.n1p12 / ctx12.cc12)
                   * (CASE WHEN mid.m2 IS NULL THEN
                        (COALESCE(cont.rc, 0) + 1) / (btot.bt + vtot.v)
                      ELSE
                        (CASE WHEN c23.c23t IS NULL THEN 0.0
                              ELSE (c23.c23t - 0.75) / mid.m2 END)
                        + (0.75 * n1p2.fw / mid.m2)
                          * ((COALESCE(cont.rc, 0) + 1) / (btot.bt + vtot.v))
                      END)
               END
             ) AS nll,
             CASE WHEN t3.c3 IS NULL THEN 1 ELSE 0 END AS unseen_tri,
             CASE WHEN ctx12.cc12 IS NULL THEN 1 ELSE 0 END AS unseen_ctx
      FROM ho h
      LEFT JOIN t3cnt t3 ON t3.w1 = h.w1 AND t3.w2 = h.w2 AND t3.w3 = h.w3
      LEFT JOIN ctx12 ON ctx12.w1 = h.w1 AND ctx12.w2 = h.w2
      LEFT JOIN mid ON mid.w2 = h.w2
      LEFT JOIN c23 ON c23.w2 = h.w2 AND c23.w3 = h.w3
      LEFT JOIN n1p2 ON n1p2.w2 = h.w2
      LEFT JOIN cont ON cont.w3 = h.w3
      CROSS JOIN btot CROSS JOIN vtot
    ),
    per_doc AS (
      SELECT doc_id, ROUND(CAST(SUM(CAST(FLOOR((nll) * 1e9 + 0.5) AS HUGEINT)) AS DOUBLE) / (COUNT(nll) * 1e9), 6) AS avg_nll,
             CAST(SUM(unseen_tri) AS DOUBLE) AS ut,
             CAST(SUM(unseen_ctx) AS DOUBLE) AS uc,
             CAST(COUNT(*) AS DOUBLE) AS nt
      FROM scored GROUP BY doc_id
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(CAST(FLOOR((p.avg_nll) * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE) / (COUNT(p.avg_nll) * 1e6), 6) AS mean_doc_nll,
           ROUND(SUM(p.ut) / SUM(p.nt), 6) AS unseen_trigram_rate,
           ROUND(SUM(p.uc) / SUM(p.nt), 6) AS unseen_ctx_rate
    FROM per_doc p JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """


@register(
    "q_kneser_ney_trigram",
    oracle=_kn3_oracle(),
    description=(
        "RECURSIVE interpolated Kneser-Ney trigram LM (Chen & Goodman "
        "1998 eq. 4.28 at order 3) — the full KenLM production shape the "
        "bigram query (q_kneser_ney_nll) introduces one level of: the "
        "trigram level discounts actual counts and re-spends the mass on "
        "the BIGRAM-level KN distribution, which itself is built from "
        "CONTINUATION type counts (N1+(.w2w3) over N1+(.w2.)) and "
        "recurses into the continuation unigram with the same add-one "
        "floor as the bigram query (the documented finite-NLL deviation). "
        "Fallback chain for unseen contexts: trigram-context miss -> "
        "bigram-KN level -> continuation unigram. The bigram-level "
        "interpolation weight is D·N1+(w2*) with N1+(w2*) = |{w3 : "
        "N1+(.w2w3) > 0}| derived from the trigram middle table — exactly "
        "the discounted mass the level frees, so each level renormalizes "
        "(Chen-Goodman eq. 4.25). All SIX model tables (trigram counts + "
        "its two marginals, the type-count table N1+(.w2w3), its w2 "
        "marginal, continuation counts) are Zipf-bounded marginals of the "
        "same two count tables — hash-key joins broadcastable after a "
        "frequency cut, two aggregations, zero driver state; the 100 TB "
        "shape is unchanged from the bigram sibling, plus one wider "
        "explode. Reports per-language held-out NLL and the "
        "unseen-trigram / unseen-trigram-context rates (the trigram level "
        "saturates coverage far sooner — visibly higher unseen rates than "
        "the bigram query on the same split)."
    ),
)
def q_kneser_ney_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kn3_frame(spark, sf_dir, min_count=1)


_KN_GATE_CACHE: dict = {}


def _data_fingerprint(sf_dir: str) -> tuple:
    """Cheap (mtime_ns, size) fingerprint of the documents parquet under
    sf_dir — stat() only, no data read. Used to invalidate the memoized
    KN broadcast-gate verdict if the input is regenerated in-process."""
    import os
    from pathlib import Path

    target = Path(sf_dir) / "documents.parquet"
    try:
        if target.is_dir():
            parts = sorted(p for p in target.iterdir() if p.suffix == ".parquet")
            return tuple((p.name, os.stat(p).st_mtime_ns, os.stat(p).st_size) for p in parts)
        st = os.stat(target)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return ("missing",)


def _kn3_frame(spark: SparkSession, sf_dir: str, min_count: int) -> DataFrame:
    from duva_spark.llm import hashed_lm

    d = F.lit(0.75)
    docs = load_table(spark, sf_dir, "documents")
    h100 = hashed_lm.md5_hash60(F.col("doc_id").cast("string")) % 100
    split = docs.select(
        "doc_id", "lang", F.split("text", " ").alias("ws"), (h100 < 70).alias("is_train")
    )
    bigrams = lambda df: df.select(  # noqa: E731
        F.explode(
            F.expr(
                "CASE WHEN size(ws) >= 2 THEN "
                "transform(sequence(0, size(ws) - 2),"
                " i -> struct(ws[i] AS w1, ws[i + 1] AS w2)) "
                "ELSE array() END"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    trigrams = lambda df: df.select(  # noqa: E731
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(ws) >= 3 THEN "
                "transform(sequence(0, size(ws) - 3),"
                " i -> struct(ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3)) "
                "ELSE array() END"
            )
        ).alias("t"),
    ).select("doc_id", "t.w1", "t.w2", "t.w3")
    train = split.filter("is_train")
    ucnt = train.select(F.explode("ws").alias("w")).groupBy("w").agg(
        F.count("*").alias("cnt")
    )
    vtot = ucnt.agg(F.count("*").cast("double").alias("v"))
    bcnt = bigrams(train).groupBy("w1", "w2").agg(F.count("*").alias("bc"))
    cont = bcnt.groupBy(F.col("w2").alias("w3")).agg(
        F.count("*").cast("double").alias("rc")
    )
    btot = bcnt.agg(F.count("*").cast("double").alias("bt"))
    t3cnt = trigrams(train).groupBy("w1", "w2", "w3").agg(F.count("*").alias("c3"))
    if min_count > 1:
        # KenLM-style count pruning: drop sub-floor trigram types BEFORE
        # any marginal is taken, so every trigram-level table (and the
        # scoring joins) shrinks together and the level renormalizes
        # over the survivors; pruned trigrams re-route through the
        # existing unseen-trigram / unseen-context backoff chain.
        t3cnt = t3cnt.filter(F.col("c3") >= min_count)
    ctx12 = t3cnt.groupBy("w1", "w2").agg(
        F.sum("c3").cast("double").alias("cc12"),
        F.count("*").cast("double").alias("n1p12"),
    )
    mid = t3cnt.groupBy("w2").agg(F.count("*").cast("double").alias("m2"))
    c23 = t3cnt.groupBy("w2", "w3").agg(F.count("*").cast("double").alias("c23t"))
    # bigram-level interpolation weight fw = |{w3 : N1+(.w2w3) > 0}| —
    # derived from the trigram MIDDLE table (c23), not from forward
    # bigram types: D·fw is exactly the discounted mass the level
    # frees, so the level renormalizes (ADVICE r8 — the previous
    # bcnt-derived fw counted bigram types occurring only doc-initially
    # or in 2-word docs and inflated the weight)
    n1p2 = c23.groupBy("w2").agg(F.count("*").cast("double").alias("fw"))
    ho = trigrams(split.filter(~F.col("is_train")))
    pcont = (F.coalesce(F.col("rc"), F.lit(0)) + 1) / (F.col("bt") + F.col("v"))
    pkn2 = F.when(F.col("m2").isNull(), pcont).otherwise(
        F.when(F.col("c23t").isNull(), F.lit(0.0)).otherwise(
            (F.col("c23t") - d) / F.col("m2")
        )
        + (d * F.col("fw") / F.col("m2")) * pcont
    )
    p = F.when(F.col("cc12").isNull(), pkn2).otherwise(
        F.when(F.col("c3").isNull(), F.lit(0.0)).otherwise(
            (F.col("c3") - d) / F.col("cc12")
        )
        + (d * F.col("n1p12") / F.col("cc12")) * pkn2
    )
    # Model-table joins are explicitly broadcast (r9 verdict item 7, the
    # trigram-side spill chase): mid/n1p2/cont are unigram-type-sized
    # (AQE would convert them anyway), but ctx12/c23 are BIGRAM-type
    # tables — Zipf-bounded yet past AQE's 10 MB auto-threshold at sweep
    # scale (~994k rows at 997-vocab/10M docs), so without the hint the
    # held-out stream re-shuffles for three separate sort-merge joins.
    # With the hints the corpus-sized ho stream shuffles exactly ONCE
    # (the irreducible t3cnt join). Measured (same-session interleaved
    # A/B, r10): 1M docs pruned 23.5 -> 12.3 s (1.9x), unpruned
    # 21.6 -> 17.5 s; 10M pruned 392 -> 377 s single-run — at 10M the
    # t3cnt count shuffle's single-host spill dominates, so the join
    # savings shrink to ~4% there (BASELINE.md round-10 section).
    # Open-vocab fail-closed gate (r10 ADVICE): bigram-type tables grow
    # with vocabulary squared and can outgrow a driver, so the hints are
    # applied only after counting both tables against
    # spark.duva.kn.maxBroadcastTypes (default 4M rows ≈ low hundreds
    # of MB); an oversized model degrades automatically to the pre-r10
    # sort-merge chain instead of OOMing. Both type counts come from
    # ONE eager aggregation job (two multi-column countDistincts over
    # the trigram-TYPE table — no per-value sketch state, so the
    # r11 approx-distinct expand hazard does not apply), deliberately
    # WITHOUT persisting t3cnt: a persist here would outlive the query
    # in any session that does not clearCache between queries (r11
    # review), and the one extra trigram aggregation the gate costs is
    # the price of a leak-free automatic bound.
    max_types = int(spark.conf.get("spark.duva.kn.maxBroadcastTypes", "4000000"))
    # The cache key includes a cheap data fingerprint (mtime+size of the
    # documents parquet tree) so regenerating the data under the same
    # path in one process invalidates the memoized verdict — a stale
    # True would broadcast bigram tables sized for the OLD data and turn
    # the fail-closed OOM gate fail-open (r11 ADVICE).
    gate_key = (sf_dir, _data_fingerprint(sf_dir), min_count, max_types)
    if gate_key not in _KN_GATE_CACHE:
        # one eager aggregation job; memoized per (input, prune, bound)
        # so repeated invocations in a session (bench min-of-N, repeated
        # user queries) pay the gate exactly once — measured +1.6 s at
        # sf0.1 on the first run, 0 after
        cnts = t3cnt.agg(
            F.countDistinct("w1", "w2").alias("c12t"),
            F.countDistinct("w2", "w3").alias("c23t"),
        ).first()
        _KN_GATE_CACHE[gate_key] = max(cnts["c12t"], cnts["c23t"]) <= max_types
    big = F.broadcast if _KN_GATE_CACHE[gate_key] else (lambda df: df)
    scored = (
        ho.join(t3cnt, ["w1", "w2", "w3"], "left")
        .join(big(ctx12), ["w1", "w2"], "left")
        .join(F.broadcast(mid), "w2", "left")
        .join(big(c23), ["w2", "w3"], "left")
        .join(F.broadcast(n1p2), "w2", "left")
        .join(F.broadcast(cont), "w3", "left")
        .crossJoin(F.broadcast(btot))
        .crossJoin(F.broadcast(vtot))
        .select(
            "doc_id",
            (-F.log(p)).alias("nll"),
            F.when(F.col("c3").isNull(), 1).otherwise(0).alias("unseen_tri"),
            F.when(F.col("cc12").isNull(), 1).otherwise(0).alias("unseen_ctx"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        exact_avg(F.col("nll"), 9, 6).alias("avg_nll"),
        F.sum("unseen_tri").cast("double").alias("ut"),
        F.sum("unseen_ctx").cast("double").alias("uc"),
        F.count("*").cast("double").alias("nt"),
    )
    return (
        per_doc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            exact_avg(F.col("avg_nll"), 6).alias("mean_doc_nll"),
            F.round(F.sum("ut") / F.sum("nt"), 6).alias("unseen_trigram_rate"),
            F.round(F.sum("uc") / F.sum("nt"), 6).alias("unseen_ctx_rate"),
        )
    )


@register(
    "q_kneser_ney_trigram_pruned",
    oracle=_kn3_oracle(min_count=2),
    headline=True,  # r9: the count-pruning thesis — benched + plan-reported
    description=(
        "Singleton-pruned recursive KN trigram LM — the count-table "
        "pruning KenLM actually ships (its default prune drops singleton "
        "n-grams at the higher orders): trigram types with count 1 are "
        "dropped BEFORE any marginal is taken, so all four trigram-level "
        "model tables (counts, context marginal, the N1+(.w2w3) type "
        "table and its w2 marginal) shrink together and the level "
        "renormalizes over the survivors; the pruned mass re-routes "
        "through the existing unseen-trigram / unseen-context "
        "interpolation chain into the bigram-KN level (documented "
        "deviation from KenLM's adjusted-count redistribution: the "
        "interpolation weight absorbs the freed mass structurally, no "
        "count rewrite needed). Singletons are the bulk of the trigram "
        "TYPE table on any corpus (uniform- random synthetic vocab AND "
        "Zipf text), so the held-out scoring joins stop carrying a table "
        "that grows like the corpus — the pruned variant scales like the "
        "bigram query where the full trigram does not (SCALE.md). Same "
        "output shape as q_kneser_ney_trigram; the visibly higher "
        "unseen_trigram_rate IS the pruning, the near-identical NLL is "
        "why KenLM defaults to it."
    ),
)
def q_kneser_ney_trigram_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kn3_frame(spark, sf_dir, min_count=2)


# ---------------------------------------------------------------------------
# Native language-ID: NB vs stopword heuristic, head-to-head on one split
# ---------------------------------------------------------------------------

from duva_spark.queries import REGISTRY as _REG2  # noqa: E402 — q_nb_lang_classifier registered above


@register(
    "q_nb_langid_confusion",
    oracle=f"""
    WITH nbc AS ({_REG2["q_nb_lang_classifier"].oracle}),
    hx AS (SELECT lang, {_LANG_PRED} AS p FROM documents
           WHERE NOT ({_H60_DOCID} % 100 < 70)),
    hrows AS (SELECT 'heuristic' AS method, lang,
                     CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(CASE WHEN p = lang THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_correct
              FROM hx GROUP BY lang),
    nrows AS (SELECT 'nb' AS method, true_lang AS lang,
                     CAST(SUM(n_docs) AS BIGINT) AS n_docs,
                     CAST(SUM(CASE WHEN pred_lang = true_lang THEN n_docs
                              ELSE 0 END) AS BIGINT) AS n_correct
              FROM nbc GROUP BY true_lang),
    u AS (SELECT * FROM hrows UNION ALL SELECT * FROM nrows),
    tot AS (SELECT method, '_all' AS lang,
                   CAST(SUM(n_docs) AS BIGINT) AS n_docs,
                   CAST(SUM(n_correct) AS BIGINT) AS n_correct
            FROM u GROUP BY method)
    SELECT method, lang, n_docs, n_correct,
           ROUND(n_correct * 1.0 / n_docs, 6) AS accuracy
    FROM (SELECT * FROM u UNION ALL SELECT * FROM tot)
    """,
    description=(
        "Native language-ID head-to-head — the measurement that closes "
        "COVERAGE known-gap #2 (language-ID was a stopword heuristic; "
        "the production upgrade is a trained classifier, and the "
        "in-engine count-trained NB IS trained infrastructure): both "
        "predictors run on the SAME deterministic 30% held-out slice "
        "(the q_nb_lang_classifier split), reported per language plus "
        "the '_all' totals as (method, lang, n_docs, n_correct, "
        "accuracy). The NB rows reuse the verified "
        "q_nb_lang_classifier oracle text verbatim, so this eval is "
        "pinned to already-verified semantics; the engine's production "
        "path is hashed_lm.nb_langid (NB when a labeled slice exists, "
        "the heuristic kept as the documented fallback). Data caveat, "
        "stated so the numbers read honestly: the synthetic corpus "
        "draws every language's text from ONE shared vocabulary, so "
        "no text-level language signal exists — both predictors "
        "degenerate toward the majority class and the comparison "
        "measures the priors (NB learns the class skew the heuristic "
        "cannot, hence NB's higher _all accuracy); on real multilingual "
        "text the NB's per-language token likelihoods dominate instead. "
        "Cost shape: "
        "the heuristic is a scan projection; the NB is two training "
        "aggregations + a broadcast-model scoring join — both retrain/"
        "re-run per corpus at any scale."
    ),
)
def q_nb_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import hashed_lm

    docs = load_table(spark, sf_dir, "documents")
    h100 = hashed_lm.md5_hash60(F.col("doc_id").cast("string")) % 100
    split = docs.withColumn("is_train", h100 < 70)
    train = split.filter("is_train")
    test = split.filter(~F.col("is_train"))
    nbp = hashed_lm.nb_langid(test, train, "doc_id", "text")
    nb_cells = nbp.join(docs.select("doc_id", "lang"), "doc_id").select(
        F.lit("nb").alias("method"),
        "lang",
        (F.col("lang_pred") == F.col("lang")).alias("ok"),
    )
    heur_cells = test.select(
        F.lit("heuristic").alias("method"),
        "lang",
        (textstats.predicted_lang(F.col("text")) == F.col("lang")).alias("ok"),
    )
    cells = nb_cells.unionByName(heur_cells)
    per_lang = cells.groupBy("method", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("long").alias("n_correct"),
    )
    tot = per_lang.groupBy("method").agg(
        F.lit("_all").alias("lang"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_correct").cast("long").alias("n_correct"),
    )
    return per_lang.unionByName(tot).select(
        "method",
        "lang",
        "n_docs",
        "n_correct",
        F.round(F.col("n_correct") * 1.0 / F.col("n_docs"), 6).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# Byte-level BPE (GPT-2-style byte-fallback alphabet)
# ---------------------------------------------------------------------------


@register(
    "q_bpe_byte_train_merges",
    oracle=_bpe_oracle(8, alphabet="byte"),
    description=(
        "BYTE-level BPE training (the GPT-2/tiktoken construction, "
        "Radford et al. 2019): words decompose into their UTF-8 bytes "
        "— a closed 256-symbol base alphabet, so no word is ever OOV "
        "and multi-byte codepoints merge back together from byte "
        "pieces — then the exact same 8-round trainer runs (pair-count "
        "shuffle, TakeOrderedAndProject argmax, codegen greedy-merge "
        "fold; llm/bpe.py with alphabet='byte'). Symbols are 2-char "
        "uppercase-hex byte strings rather than GPT-2's printable "
        "bytes-to-unicode remap: the bijection is what matters (tokens "
        "stay losslessly decodable via unhex) and hex compares "
        "identically under both engines' binary collation. Note the "
        "synthetic corpus is pure ASCII, so the learned merges "
        "correspond 1:1 to the char-level trainer's — the byte path's "
        "value (and its tests) is the multi-byte fallback behavior. "
        "Same 100 TB shape as q_bpe_train_merges: ONE corpus scan, "
        "then vocab-bounded rounds."
    ),
)
def q_bpe_byte_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import bpe

    docs = load_table(spark, sf_dir, "documents")
    return bpe.bpe_train_frame(docs, "text", n_merges=8, alphabet="byte")


@register(
    "q_bpe_byte_encode",
    headline=True,  # the session's new operator family: byte-fallback BPE encode at scan speed
    oracle=(
        "WITH "
        + _bpe_oracle(8, through_final_seqs=True, alphabet="byte")
        + """,
    dw AS MATERIALIZED (
      SELECT doc_id, w
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> ''
    ),
    ag AS MATERIALIZED (
      SELECT dw.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(octet_length(encode(dw.w))) AS BIGINT) AS n_byte_tokens,
             CAST(SUM(len(s.syms)) AS BIGINT) AS n_bpe_tokens
      FROM dw JOIN sq_9 s ON s.w = dw.w
      GROUP BY dw.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(ag.n_words, 0) AS BIGINT) AS n_words,
           CAST(COALESCE(ag.n_byte_tokens, 0) AS BIGINT) AS n_byte_tokens,
           CAST(COALESCE(ag.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
           CASE WHEN COALESCE(ag.n_byte_tokens, 0) > 0
                THEN ROUND(ag.n_bpe_tokens * 1.0 / ag.n_byte_tokens, 6)
                ELSE 0.0 END AS compression
    FROM documents d LEFT JOIN ag USING (doc_id)
    """
    ),
    description=(
        "Byte-level BPE tokenizer APPLICATION: every document "
        "re-tokenized under the 8 trained byte merges, reporting the "
        "per-doc census (raw UTF-8 bytes vs BPE tokens vs compression "
        "— bytes-per-token is the actual capacity unit an LLM budget "
        "is priced in). Pure per-row pass like q_bpe_encode: the same "
        "Arrow kernel over hex-pair byte symbols, zero exchanges "
        "before the per-doc aggregate."
    ),
)
def q_bpe_byte_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import bpe

    docs = load_table(spark, sf_dir, "documents")
    rules = bpe.bpe_train(docs, "text", n_merges=8, alphabet="byte")
    return bpe.encode_token_counts(
        docs, rules, "doc_id", "text", alphabet="byte"
    ).select(
        "doc_id",
        "n_words",
        F.col("n_char_tokens").alias("n_byte_tokens"),
        "n_bpe_tokens",
        "compression",
    )


# ---------------------------------------------------------------------------
# Moore-Lewis cross-entropy-difference selection (r9 verdict item 5)
# ---------------------------------------------------------------------------


@register(
    "q_moore_lewis_selection",
    headline=True,
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang = 'en' AS is_target, {_BUCKET} AS bucket
      FROM documents
    ),
    counts AS (
      SELECT bucket, COUNT(*) AS r_cnt,
             SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS t_cnt
      FROM tok GROUP BY bucket
    ),
    tot AS (SELECT CAST(SUM(r_cnt) AS DOUBLE) AS n_raw,
                   CAST(SUM(t_cnt) AS DOUBLE) AS n_tgt FROM counts),
    ratio AS (
      SELECT bucket,
             ln((t_cnt + 1) / (n_tgt + 4096.0))
               - ln((r_cnt + 1) / (n_raw + 4096.0)) AS lr
      FROM counts CROSS JOIN tot
    ),
    w AS (
      SELECT doc_id, SUM(lr) AS log_w
      FROM tok JOIN ratio USING (bucket) GROUP BY doc_id
    ),
    ml AS (
      SELECT d.doc_id, d.source,
             ROUND(-w.log_w / len(string_split(d.text, ' ')), 6) AS mls
      FROM documents d JOIN w USING (doc_id)
    ),
    kept AS (SELECT * FROM ml ORDER BY mls ASC, doc_id ASC LIMIT 50),
    ks AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
             ROUND(MIN(mls), 6) AS best_score
      FROM kept GROUP BY source
    ),
    tots AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total
      FROM documents GROUP BY source
    )
    SELECT t.source AS source, t.n_total AS n_total,
           CAST(COALESCE(ks.n_kept, 0) AS BIGINT) AS n_kept,
           ROUND(COALESCE(ks.n_kept, 0) * 1.0 / t.n_total, 6) AS kept_share,
           ks.best_score AS best_score
    FROM tots t LEFT JOIN ks USING (source)
    """,
    description=(
        "Moore-Lewis cross-entropy-difference selection (Moore & Lewis "
        "2010, 'Intelligent Selection of Language Model Training "
        "Data' — the CCNet/data-selection standard and the classic "
        "companion to the shipped DSIR): each document is scored by "
        "H_target(doc) - H_raw(doc), the per-token cross-entropy "
        "difference under the SAME two Laplace-smoothed hashed-unigram "
        "LMs q_dsir_selection already builds — algebraically "
        "-log_w / n_tok, so the verified dsir_log_weights machinery is "
        "reused unchanged. Low scores = target-like; the budget keeps "
        "the k=50 best (rounded-score rank, doc_id tie-break, plans as "
        "TakeOrderedAndProject — no global sort), reported as per-"
        "source kept volume (n_total, n_kept, kept_share, best_score) "
        "with zero-kept sources preserved by the totals left join. "
        "100 TB shape: identical to DSIR — two model tables <= 4,096 "
        "rows attach as broadcasts, the corpus-sized exchanges are two "
        "map-side-combined count aggregations + the per-doc reduce, "
        "and the final report is source-cardinality-sized."
    ),
)
def q_moore_lewis_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import hashed_lm

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "is_target", F.col("lang") == "en"
    )
    w = hashed_lm.dsir_log_weights(docs, "doc_id", "text", "is_target", n_buckets=4096)
    ml = docs.join(w, "doc_id").select(
        "doc_id",
        "source",
        F.round(
            -F.col("log_w") / F.size(F.split(F.col("text"), " ")), 6
        ).alias("mls"),
    )
    kept = ml.orderBy(F.col("mls").asc(), F.col("doc_id").asc()).limit(50)
    ks = kept.groupBy("source").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.round(F.min("mls"), 6).alias("best_score"),
    )
    tots = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_total"))
    return tots.join(F.broadcast(ks), "source", "left").select(
        "source",
        "n_total",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.round(
            F.coalesce(F.col("n_kept"), F.lit(0)) * 1.0 / F.col("n_total"), 6
        ).alias("kept_share"),
        "best_score",
    )


# ---------------------------------------------------------------------------
# Likelihood-sensitive language-ID eval (r9 verdict item 4)
# ---------------------------------------------------------------------------

_MARKED_TEXT_SQL = (
    "array_to_string(list_transform(string_split(text, ' '), "
    "w -> CASE WHEN CAST('0x' || substr(md5(w || '|' || lang), 1, 15) AS BIGINT)"
    " % 5 = 0 THEN lang || '_' || w ELSE w END), ' ')"
)


@register(
    "q_nb_langid_synth",
    oracle=f"""
    WITH docs2 AS (
      SELECT doc_id, lang, {_MARKED_TEXT_SQL} AS text FROM documents
    ),
    nbc AS ({_REG2["q_nb_lang_classifier"].oracle.replace("documents", "docs2")}),
    test AS (SELECT lang, text FROM docs2 WHERE NOT ({_H60_DOCID} % 100 < 70)),
    hx AS (SELECT lang, {_LANG_PRED} AS p FROM test),
    maj AS (
      SELECT lang AS m FROM docs2 WHERE {_H60_DOCID} % 100 < 70
      GROUP BY lang ORDER BY COUNT(*) DESC, lang ASC LIMIT 1
    ),
    hrows AS (SELECT 'heuristic' AS method, lang,
                     CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(CASE WHEN p = lang THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_correct
              FROM hx GROUP BY lang),
    mrows AS (SELECT 'majority' AS method, t.lang,
                     CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(CASE WHEN t.lang = maj.m THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_correct
              FROM test t CROSS JOIN maj GROUP BY t.lang),
    nrows AS (SELECT 'nb' AS method, true_lang AS lang,
                     CAST(SUM(n_docs) AS BIGINT) AS n_docs,
                     CAST(SUM(CASE WHEN pred_lang = true_lang THEN n_docs
                              ELSE 0 END) AS BIGINT) AS n_correct
              FROM nbc GROUP BY true_lang),
    u AS (SELECT * FROM hrows UNION ALL SELECT * FROM mrows
          UNION ALL SELECT * FROM nrows),
    tot AS (SELECT method, '_all' AS lang,
                   CAST(SUM(n_docs) AS BIGINT) AS n_docs,
                   CAST(SUM(n_correct) AS BIGINT) AS n_correct
            FROM u GROUP BY method)
    SELECT method, lang, n_docs, n_correct,
           ROUND(n_correct * 1.0 / n_docs, 6) AS accuracy
    FROM (SELECT * FROM u UNION ALL SELECT * FROM tot)
    """,
    description=(
        "Likelihood-sensitive language-ID eval, the successor to "
        "q_nb_langid_confusion, whose head-to-head can only measure class "
        "priors because the synthetic corpus draws every language from "
        "ONE shared vocabulary. This query derives a SYNTHETIC LEXICAL "
        "SIGNAL inside its prep stage, documented as such: each token is "
        "deterministically re-keyed to '<lang>_<token>' when "
        "md5(token|lang) % 5 == 0 — a per-language ~20% sub-vocabulary "
        "simulating loanwords/function words, derived only from columns "
        "the row already carries and applied identically on both engines "
        "and both splits. Three predictors run on the SAME deterministic "
        "30% held-out slice: the count-trained NB (verified "
        "q_nb_lang_classifier oracle text reused verbatim over the marked "
        "docs), the stopword heuristic, and the train-split majority "
        "class (the prior ceiling both baselines degenerate to on "
        "unmarked text). With the lexical signal present the NB's "
        "per-language likelihoods separate and its accuracy clears the "
        "prior ceiling decisively (~0.99 vs ~0.44 at sf0.01) — the eval "
        "now exercises the classifier, not the class skew. Cost shape "
        "unchanged: one codegen token-transform projection + two training "
        "aggregations + a broadcast-model scoring join."
    ),
)
def q_nb_langid_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import hashed_lm

    docs = load_table(spark, sf_dir, "documents")
    marked = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda w: F.when(
                hashed_lm.md5_hash60(F.concat(w, F.lit("|"), F.col("lang"))) % 5
                == 0,
                F.concat(F.col("lang"), F.lit("_"), w),
            ).otherwise(w),
        ),
        " ",
    )
    docs2 = docs.select("doc_id", "lang", marked.alias("text"))
    h100 = hashed_lm.md5_hash60(F.col("doc_id").cast("string")) % 100
    split = docs2.withColumn("is_train", h100 < 70)
    train = split.filter("is_train")
    test = split.filter(~F.col("is_train"))
    nbp = hashed_lm.nb_langid(test, train, "doc_id", "text")
    nb_cells = nbp.join(docs2.select("doc_id", "lang"), "doc_id").select(
        F.lit("nb").alias("method"),
        "lang",
        (F.col("lang_pred") == F.col("lang")).alias("ok"),
    )
    heur_cells = test.select(
        F.lit("heuristic").alias("method"),
        "lang",
        (textstats.predicted_lang(F.col("text")) == F.col("lang")).alias("ok"),
    )
    maj = (
        train.groupBy("lang")
        .agg(F.count("*").alias("_n"))
        .orderBy(F.col("_n").desc(), F.col("lang").asc())
        .limit(1)
        .select(F.col("lang").alias("m"))
    )
    maj_cells = test.crossJoin(F.broadcast(maj)).select(
        F.lit("majority").alias("method"),
        "lang",
        (F.col("lang") == F.col("m")).alias("ok"),
    )
    cells = nb_cells.unionByName(heur_cells).unionByName(maj_cells)
    per_lang = cells.groupBy("method", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("long").alias("n_correct"),
    )
    tot = per_lang.groupBy("method").agg(
        F.lit("_all").alias("lang"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_correct").cast("long").alias("n_correct"),
    )
    return per_lang.unionByName(tot).select(
        "method",
        "lang",
        "n_docs",
        "n_correct",
        F.round(F.col("n_correct") * 1.0 / F.col("n_docs"), 6).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# Data-constrained effective-data decay (r9 verdict item 8c)
# ---------------------------------------------------------------------------


@register(
    "q_repeat_epochs_decay",
    oracle="""
    WITH t AS (SELECT source,
                      CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS u
               FROM documents GROUP BY source),
    e AS (SELECT unnest(range(1, 7)) AS epoch),
    g AS (
      SELECT source, u, epoch,
             u + u * 15.39 * (1 - exp(-(epoch - 1) / 15.39)) AS eff
      FROM t CROSS JOIN e
    ),
    p AS (
      SELECT source, u, epoch, eff,
             u + u * 15.39 * (1 - exp(-(epoch - 2) / 15.39)) AS eff_prev
      FROM g
    )
    SELECT source, CAST(epoch AS BIGINT) AS epoch, u AS unique_tokens,
           ROUND(eff, 4) AS effective_tokens,
           ROUND(CASE WHEN epoch = 1 THEN eff ELSE eff - eff_prev END, 4)
             AS marginal_tokens,
           ROUND(eff / (epoch * u), 6) AS value_per_served
    FROM p
    """,
    description=(
        "Data-constrained effective-data decay (Muennighoff et al. "
        "2023, 'Scaling Data-Constrained Language Models'): the "
        "published repeated-token value model D' = U + U*R*_D*(1 - "
        "exp(-R_D/R*_D)) with the paper's fitted R*_D = 15.39, applied "
        "per source over an epoch grid 1..6 on top of the repeat-"
        "epochs plan's own unique-token counts — the planning table "
        "that says WHAT each additional epoch is worth: "
        "effective_tokens (the model's worth of the served stream), "
        "marginal_tokens (this epoch's increment — monotonically "
        "decaying by construction), and value_per_served (effective / "
        "raw served, the decay share that rationalizes the 4-epoch "
        "ceiling q_repeat_epochs_plan enforces: it falls below ~0.9 "
        "past epoch 4). One token-count aggregation + an enum-sized "
        "epoch-grid attach — scan-level at any corpus size; exp() "
        "values cross-engine-pinned by the 4/6-dp rounds like every "
        "other libm site in the registry."
    ),
)
def q_repeat_epochs_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("u")
    )
    epochs = spark.range(1, 7).select(F.col("id").alias("epoch"))
    rstar = F.lit(15.39)
    u = F.col("u")
    eff_at = lambda e: u + u * rstar * (  # noqa: E731
        1 - F.exp(-(e - 1) / rstar)
    )
    g = t.crossJoin(F.broadcast(epochs)).select(
        "source",
        "u",
        "epoch",
        eff_at(F.col("epoch")).alias("eff"),
        eff_at(F.col("epoch") - 1).alias("eff_prev"),
    )
    return g.select(
        "source",
        F.col("epoch").cast("long").alias("epoch"),
        F.col("u").alias("unique_tokens"),
        F.round(F.col("eff"), 4).alias("effective_tokens"),
        F.round(
            F.when(F.col("epoch") == 1, F.col("eff")).otherwise(
                F.col("eff") - F.col("eff_prev")
            ),
            4,
        ).alias("marginal_tokens"),
        F.round(F.col("eff") / (F.col("epoch") * F.col("u")), 6).alias(
            "value_per_served"
        ),
    )


# ---------------------------------------------------------------------------
# BPE-dropout (r9 verdict item 8b)
# ---------------------------------------------------------------------------


def _bpe_dropout_oracle(n_merges: int = 8, p_inv: int = 10) -> str:
    """Training chain (reused verbatim from _bpe_oracle) + a SECOND
    application chain over the vocabulary with the deterministic
    dropout mask: a candidate at 1-based position i of word w under
    rule r is dropped when md5_60("w|r|i") % p_inv == 0 — the same
    window-function greedy-merge replay, one extra predicate. The mask
    is a pure function of (word, rule, position), so absorbed
    positions' draws can't matter in either engine and the replay is
    order-free."""
    train = _bpe_oracle(n_merges, through_final_seqs=True)
    ctes = [train, "dq_1 AS (SELECT * FROM sq_1)"]
    for r in range(1, n_merges + 1):
        mask = (
            f"CAST('0x' || substr(md5(q.w || '|{r}|' || CAST(q.i AS VARCHAR)),"
            f" 1, 15) AS BIGINT) % {p_inv} <> 0"
        )
        ctes.append(f"""dpos_{r} AS MATERIALIZED (
      SELECT q.w, q.cnt, q.i, q.syms[q.i] AS s,
             (q.i < len(q.syms) AND q.syms[q.i] = be.a
              AND q.syms[q.i + 1] = be.b AND {mask}) AS cand
      FROM (SELECT w, cnt, syms, unnest(range(1, len(syms) + 1)) AS i
            FROM dq_{r}) q
      CROSS JOIN best_{r} be
    )""")
        ctes.append(f"""dtk_{r} AS MATERIALIZED (
      SELECT w, i FROM (
        SELECT w, i, ROW_NUMBER() OVER (PARTITION BY w, g ORDER BY i) AS rn
        FROM (SELECT w, i, i - ROW_NUMBER() OVER (PARTITION BY w ORDER BY i) AS g
              FROM dpos_{r} WHERE cand)
      ) WHERE rn % 2 = 1
    )""")
        ctes.append(f"""dq_{r + 1} AS MATERIALIZED (
      SELECT o.w, any_value(o.cnt) AS cnt, list(o.tok ORDER BY o.i) AS syms
      FROM (
        SELECT p.w, p.cnt, p.i,
               CASE WHEN t.i IS NOT NULL
                    THEN (SELECT a || b FROM best_{r}) ELSE p.s END AS tok
        FROM dpos_{r} p
        LEFT JOIN dtk_{r} t ON p.w = t.w AND p.i = t.i
        LEFT JOIN dtk_{r} t2 ON p.w = t2.w AND p.i = t2.i + 1
        WHERE t2.i IS NULL
      ) o
      GROUP BY o.w
    )""")
    f = n_merges + 1
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    dw AS MATERIALIZED (
      SELECT source, w
      FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> ''
    ),
    ag AS (
      SELECT dw.source,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(len(s.syms)) AS BIGINT) AS n_bpe_tokens,
             CAST(SUM(len(d.syms)) AS BIGINT) AS n_bpe_dropout
      FROM dw JOIN sq_{f} s ON s.w = dw.w JOIN dq_{f} d ON d.w = dw.w
      GROUP BY dw.source
    )
    SELECT source, n_words, n_bpe_tokens, n_bpe_dropout,
           ROUND(n_bpe_tokens * 1.0 / n_words, 6) AS fertility_std,
           ROUND(n_bpe_dropout * 1.0 / n_words, 6) AS fertility_dropout,
           ROUND(n_bpe_dropout * 1.0 / n_bpe_tokens, 6) AS dropout_ratio
    FROM ag
    """
    )


@register(
    "q_bpe_dropout_fertility",
    oracle=_bpe_dropout_oracle(8),
    description=(
        "BPE-dropout (Provilkov et al. 2020, 'BPE-Dropout: Simple and "
        "Effective Subword Regularization') — the stochastic-"
        "segmentation variant of the shipped encode kernel, under a "
        "DETERMINISTIC seed so runs and engines agree: during each "
        "rule's greedy left-to-right scan, a matching candidate at "
        "position i of word w is skipped when md5_60('w|r|i') % 10 == 0 "
        "(p = 0.1, the paper's recommended rate). The mask is a pure "
        "function of (word, rule, position) — not a sequential RNG — "
        "so absorbed positions' draws are outcome-irrelevant in any "
        "implementation order, which is what makes the DuckDB replay "
        "(the trainer's window-function merge chain run a second time "
        "with one extra mask predicate) exact. Reports the per-source "
        "fertility delta: dropped merges leave finer segmentations, so "
        "dropout fertility runs above standard (the regularization "
        "signal a trainer prices against robustness gains). Rules come "
        "from the standard (non-dropout) trainer, per the paper. Cost "
        "shape: the training loop (one corpus scan + vocab-bounded "
        "rounds) + ONE Arrow encode pass computing both segmentations "
        "off a shared per-task word memo — zero exchanges before the "
        "source-level aggregate."
    ),
)
def q_bpe_dropout_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import bpe

    docs = load_table(spark, sf_dir, "documents")
    rules = bpe.bpe_train(docs, "text", n_merges=8)
    enc = bpe.encode_dropout_counts(docs, rules, "doc_id", "source", "text")
    return (
        enc.groupBy("source")
        .agg(
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
            F.sum("n_bpe_dropout").cast("long").alias("n_bpe_dropout"),
        )
        .select(
            "source",
            "n_words",
            "n_bpe_tokens",
            "n_bpe_dropout",
            F.round(F.col("n_bpe_tokens") * 1.0 / F.col("n_words"), 6).alias(
                "fertility_std"
            ),
            F.round(F.col("n_bpe_dropout") * 1.0 / F.col("n_words"), 6).alias(
                "fertility_dropout"
            ),
            F.round(
                F.col("n_bpe_dropout") * 1.0 / F.col("n_bpe_tokens"), 6
            ).alias("dropout_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary-growth fit
# ---------------------------------------------------------------------------


@register(
    "q_heaps_law_fit",
    oracle="""
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' ')) AS nt,
             string_split(text, ' ') AS ws
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws) - 1),
                    i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS g3
      FROM d WHERE len(ws) >= 3
    ),
    fd AS (SELECT g3, MIN(doc_id) AS f FROM g GROUP BY g3),
    np AS (SELECT f AS doc_id, COUNT(*) AS newt FROM fd GROUP BY f),
    cur AS (
      SELECT d.doc_id,
             SUM(d.nt) OVER (ORDER BY d.doc_id) AS cum_tok,
             SUM(COALESCE(np.newt, 0)) OVER (ORDER BY d.doc_id) AS cum_typ
      FROM d LEFT JOIN np USING (doc_id)
    ),
    pts AS (
      SELECT CAST(FLOOR(ln(cum_tok) * 1e6 + 0.5) AS HUGEINT) AS x,
             CAST(FLOOR(ln(cum_typ) * 1e6 + 0.5) AS HUGEINT) AS y
      FROM cur WHERE cum_typ >= 1
    ),
    s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS beta,
           ROUND(EXP((CAST(sy AS DOUBLE)
                      - (CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE))
                        * CAST(sx AS DOUBLE))
                     / (CAST(n AS DOUBLE) * 1e6)), 4) AS heaps_k,
           ROUND(POWER(CAST(n * sxy - sx * sy AS DOUBLE), 2)
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 4) AS r_squared
    FROM s
    """,
    description=(
        "Heaps'-law vocabulary-growth FIT V(n) = K*n^beta over distinct "
        "word TRIGRAMS — the regression upgrade of q_heaps_law (which "
        "reports the 10-point word-level curve with a per-point "
        "ln-ratio, no fit; words saturate at this corpus's closed "
        "vocabulary, so the fit runs on the still-growing trigram "
        "space) and the other side of the q_gram_novelty diminishing-"
        "returns audit: per-doc new-type counts come from the gram "
        "first-occurrence table (MIN doc per gram — one bounded "
        "shuffle), both cumulative curves ride the distributed two-"
        "pass prefix-sum operator (range partition + per-range window "
        "+ broadcast offsets; NO unpartitioned window), and the "
        "log-log OLS runs on EXACT gridded integers: ln values gridded "
        "at 1e6, all five moment sums accumulated as decimal(38,0)/"
        "HUGEINT, slope/intercept/R^2 derived from the one exact "
        "rational on both engines (the exact_avg discipline applied "
        "to regression). Classic result recovered: beta ~ 0.7-0.9 on "
        "growing-vocabulary corpora, R^2 near 1."
    ),
)
def q_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.operators.prefix_sum import running_sum

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("nt"),
        F.split(F.col("text"), " ").alias("ws"),
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(ws) >= 3 THEN "
                "transform(sequence(0, size(ws) - 3),"
                " i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2])) "
                "ELSE array() END"
            )
        ).alias("g3"),
    )
    np_ = (
        grams.groupBy("g3")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("newt"))
    )
    base = d.select("doc_id", "nt").join(np_, "doc_id", "left").select(
        "doc_id", "nt", F.coalesce(F.col("newt"), F.lit(0)).alias("newt")
    )
    c1 = running_sum(base, "doc_id", "nt", out_col="cum_tok")
    cur = running_sum(c1, "doc_id", "newt", out_col="cum_typ")
    pts = cur.filter(F.col("cum_typ") >= 1).select(
        F.floor(F.log("cum_tok") * 1e6 + 0.5).cast("decimal(38,0)").alias("x"),
        F.floor(F.log("cum_typ") * 1e6 + 0.5).cast("decimal(38,0)").alias("y"),
    )
    s = pts.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = num / den
    return s.select(
        F.col("n").cast("long").alias("n_points"),
        F.round(slope, 4).alias("beta"),
        F.round(
            F.exp(
                (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
                / (F.col("n").cast("double") * F.lit(1e6))
            ),
            4,
        ).alias("heaps_k"),
        F.round(F.pow(num, 2) / (den * deny), 4).alias("r_squared"),
    )


# ---------------------------------------------------------------------------
# Capped water-filling token-budget allocation
# ---------------------------------------------------------------------------


@register(
    "q_budget_waterfill",
    oracle="""
    WITH t AS (SELECT source,
                      CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS u
               FROM documents GROUP BY source),
    caps AS (
      SELECT source, u,
             CASE WHEN CAST('0x' || substr(md5(source), 1, 15) AS BIGINT)
                       % 3 = 0
                  THEN u ELSE 4 * u END AS cap
      FROM t
    ),
    b AS (SELECT 2 * CAST(SUM(u) AS BIGINT) AS budget FROM t),
    cand AS (
      SELECT c AS thr FROM (SELECT DISTINCT cap AS c FROM caps
                            UNION SELECT 0)
    ),
    seg AS (
      SELECT cand.thr,
             CAST(COALESCE(SUM(CASE WHEN caps.cap <= cand.thr
                                    THEN caps.cap END), 0) AS BIGINT) AS sat,
             CAST(COALESCE(SUM(CASE WHEN caps.cap > cand.thr
                                    THEN 1 END), 0) AS BIGINT) AS free,
             MIN(CASE WHEN caps.cap > cand.thr THEN caps.cap END) AS nxt
      FROM cand CROSS JOIN caps
      GROUP BY cand.thr
    ),
    pick AS (
      SELECT seg.thr, b.budget - seg.sat AS bsat, seg.free
      FROM seg CROSS JOIN b
      WHERE seg.free > 0
        AND seg.thr * seg.free < b.budget - seg.sat
        AND seg.nxt * seg.free >= b.budget - seg.sat
    )
    SELECT caps.source AS source, caps.u AS unique_tokens,
           caps.cap AS cap,
           CASE WHEN pick.thr IS NULL OR caps.cap * pick.free <= pick.bsat
                THEN ROUND(caps.cap * 1.0, 2)
                ELSE ROUND(pick.bsat * 1.0 / pick.free, 2) END AS alloc_tokens,
           COALESCE(caps.cap * pick.free <= pick.bsat, TRUE) AS saturated
    FROM caps LEFT JOIN pick ON TRUE
    """,
    description=(
        "Capped water-filling token-budget allocation — the planning "
        "iteration q_repeat_epochs_plan's under_served flag points at "
        "('the deficit re-allocates to data-rich domains'), solved in "
        "closed form: budget B = 2x corpus, per-source cap 4x unique "
        "tokens (the Muennighoff useful-repetition ceiling), except a "
        "deterministic md5 tercile of sources modeling restricted-"
        "license domains capped at 1 epoch — so saturation actually "
        "occurs and both allocator branches are value-gated; the "
                "unique water level L with sum(min(cap_s, L)) = B comes from "
        "testing each distinct cap value as the saturation threshold "
        "over an ENUM-SIZED self-join (source-cardinality squared — "
        "no unpartitioned window, no iteration), with every validity "
        "comparison cross-multiplied so it compares exact integers "
        "(thr*free < B - sat <= nxt*free), never rounded doubles. "
        "Saturated sources get their cap, the rest split the residual "
        "evenly — max-min fairness under caps. One token-count "
        "aggregation + S^2 rows of planning arithmetic at any corpus "
        "size; the all-saturated edge (B >= sum of caps) degrades to "
        "cap allocation via the LEFT JOIN."
    ),
)
def q_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("u")
    )
    from duva_spark.llm.minhash import md5_hash60

    restricted = md5_hash60(F.col("source")) % 3 == 0
    caps = t.select(
        "source",
        "u",
        F.when(restricted, F.col("u")).otherwise(4 * F.col("u")).alias("cap"),
    )
    b = t.agg((2 * F.sum("u")).cast("long").alias("budget"))
    cand = (
        caps.select(F.col("cap").alias("thr"))
        .union(caps.sparkSession.range(1).select(F.lit(0).cast("long").alias("thr")))
        .distinct()
    )
    seg = (
        cand.crossJoin(F.broadcast(caps.select("cap")))
        .groupBy("thr")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("cap") <= F.col("thr"), F.col("cap"))), F.lit(0)
            )
            .cast("long")
            .alias("sat"),
            F.coalesce(F.sum(F.when(F.col("cap") > F.col("thr"), 1)), F.lit(0))
            .cast("long")
            .alias("free"),
            F.min(F.when(F.col("cap") > F.col("thr"), F.col("cap"))).alias("nxt"),
        )
    )
    pick = (
        seg.crossJoin(F.broadcast(b))
        .filter(
            (F.col("free") > 0)
            & (F.col("thr") * F.col("free") < F.col("budget") - F.col("sat"))
            & (F.col("nxt") * F.col("free") >= F.col("budget") - F.col("sat"))
        )
        .select((F.col("budget") - F.col("sat")).alias("bsat"), "free")
    )
    out = caps.join(F.broadcast(pick), F.lit(True), "left")
    sat_cond = F.col("cap") * F.col("free") <= F.col("bsat")
    return out.select(
        "source",
        F.col("u").alias("unique_tokens"),
        "cap",
        F.when(
            F.col("free").isNull() | sat_cond, F.round(F.col("cap") * 1.0, 2)
        )
        .otherwise(F.round(F.col("bsat") * 1.0 / F.col("free"), 2))
        .alias("alloc_tokens"),
        F.coalesce(sat_cond, F.lit(True)).alias("saturated"),
    )



# ---------------------------------------------------------------------------
# Span-family hash-collision honesty (r10 verdict item 5)
# ---------------------------------------------------------------------------


@register(
    "q_span_hash_collision_audit",
    oracle=f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g0 AS (SELECT doc_id, unnest({_GRAM8}) AS gram
           FROM d WHERE len(ws) >= 8),
    g AS (SELECT doc_id, gram,
                 CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS gh
          FROM g0),
    cand AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
    ver AS (SELECT gh, COUNT(DISTINCT gram) AS n_strings
            FROM g SEMI JOIN cand USING (gh) GROUP BY gh)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_candidate_keys,
           CAST(COALESCE(SUM(CASE WHEN n_strings > 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_collision_keys,
           CAST(COALESCE(MAX(n_strings), 0) AS BIGINT) AS max_strings_per_key,
           COALESCE(SUM(CASE WHEN n_strings > 1 THEN 1 ELSE 0 END), 0) = 0
             AS collision_free
    FROM ver
    """,
    description=(
        "Exact-string verify leg for the duplicated-span family "
        "(hash-collision honesty): the span queries key word 8-grams by "
        "60-bit md5-derived hashes, so two DIFFERENT grams colliding on a "
        "key would be falsely counted as duplicates. This audit "
        "re-attaches the gram TEXT to exactly the CANDIDATE keys "
        "(doc-frequency >= 2 — the only keys the span pass ever acts on) "
        "via a semi-join hash probe, and counts distinct strings per key: "
        "n_collision_keys = 0 proves the span family's dup marks are "
        "string-exact on this corpus. Cost shape at 100 TB: the verify "
        "leg shuffles only the DUPLICATED gram subset's strings (bounded "
        "by dup volume, not the corpus — unique grams never re-attach), "
        "so it runs as an occasional audit next to the hash-keyed "
        "production pass. The quantified bound it certifies: with n "
        "distinct grams and 60-bit keys, expected colliding keys ~ "
        "n^2/2^61 — at the 100 TB scale of ~1e12 grams that is ~4e5 keys "
        "(0.4 ppm of grams falsely marked); an ISOLATED false mark yields "
        "an 8-word extent, below the min_span=16 floor, so it can only "
        "perturb span output when adjacent to a true span (extending it "
        "by < 8 words) — see SCALE.md for the full adjudication."
    ),
)
def q_span_hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    g = docs.select(
        "doc_id", F.explode(minhash.word_shingles(ws, 8)).alias("gram")
    ).select("doc_id", "gram", minhash.md5_hash60(F.col("gram")).alias("gh"))
    cand = (
        g.groupBy("gh")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") >= 2)
        .select("gh")
    )
    ver = (
        g.join(cand, "gh", "left_semi")
        .groupBy("gh")
        .agg(F.countDistinct("gram").alias("n_strings"))
    )
    n_coll = F.coalesce(
        F.sum(F.when(F.col("n_strings") > 1, 1).otherwise(0)), F.lit(0)
    )
    return ver.agg(
        F.count("*").cast("long").alias("n_candidate_keys"),
        n_coll.cast("long").alias("n_collision_keys"),
        F.coalesce(F.max("n_strings"), F.lit(0)).cast("long").alias(
            "max_strings_per_key"
        ),
        (n_coll == 0).alias("collision_free"),
    )


# ---------------------------------------------------------------------------
# Chinchilla-style compute-optimal token allocation (r10 verdict item 8a)
# ---------------------------------------------------------------------------


@register(
    "q_chinchilla_alloc",
    oracle="""
    WITH t AS (SELECT source,
                      CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS u
               FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(u) AS BIGINT) AS tt FROM t),
    k AS (SELECT unnest([0.5, 1.0, 2.0, 4.0, 8.0]) AS epochs),
    g AS (
      SELECT epochs, source, u, tt,
             CAST(FLOOR(epochs * tt) AS BIGINT) AS d_opt
      FROM t CROSS JOIN tot CROSS JOIN k
    ),
    m AS (
      SELECT epochs, source, u, tt, d_opt,
             d_opt // 20 AS n_params,
             6.0 * (d_opt // 20) * d_opt AS compute_flops,
             epochs * u AS alloc,
             CASE WHEN epochs <= 1 THEN epochs * u
                  ELSE u + u * 15.39 * (1 - exp(-(epochs - 1) / 15.39)) END AS eff
      FROM g
    )
    SELECT epochs, source, u AS unique_tokens,
           ROUND(alloc, 2) AS alloc_tokens,
           ROUND(eff, 4) AS effective_tokens,
           ROUND(eff / alloc, 6) AS utilization,
           n_params, compute_flops
    FROM m
    """,
    description=(
        "Chinchilla-style compute-optimal token allocation (Hoffmann "
        "et al. 2022 'Training Compute-Optimal Large Language Models', "
        "via the 20-tokens-per-parameter rule D = 20N, C = 6ND) "
        "crossed with the data-constrained decay of "
        "q_repeat_epochs_decay (Muennighoff et al. 2023, R* = 15.39): "
        "for a grid of data budgets expressed as corpus epochs k in "
        "{0.5..8}, the compute-optimal model size n_params = D/20 is "
        "derived in EXACT integer arithmetic from the measured corpus "
        "token total (the training cost 6ND rides as a double — the "
        "IEEE product of exact ints, identical on both engines and "
        "overflow-safe where 19.2T^2 would pass 2^63), and the budget is split "
        "across sources proportional to their unique tokens (k epochs "
        "of every source), each allocation priced by its effective "
        "(decayed) token value and utilization — the table that says "
        "WHICH budget tier stops being worth the compute on THIS "
        "corpus. Pairs with q_budget_waterfill (capped per-source "
        "split) and q_repeat_epochs_decay (the marginal-epoch view). "
        "Scale shape: one token-count aggregation per source (the only "
        "corpus-sized pass), one 1-row total, an enum-sized budget "
        "grid attach — everything after the scan is broadcast-sized "
        "at any corpus scale."
    ),
)
def q_chinchilla_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("u")
    )
    tot = t.agg(F.sum("u").cast("long").alias("tt"))
    ks = F.explode(F.array(*[F.lit(v) for v in (0.5, 1.0, 2.0, 4.0, 8.0)])).alias(
        "epochs"
    )
    grid = spark.range(1).select(ks)
    g = t.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(grid)).select(
        "epochs",
        "source",
        "u",
        "tt",
        F.floor(F.col("epochs") * F.col("tt")).cast("long").alias("d_opt"),
    )
    rstar = F.lit(15.39)
    u, k = F.col("u"), F.col("epochs")
    eff = F.when(k <= 1, k * u).otherwise(
        u + u * rstar * (1 - F.exp(-(k - 1) / rstar))
    )
    n_params = F.expr("d_opt DIV 20")
    return g.select(
        "epochs",
        "source",
        F.col("u").alias("unique_tokens"),
        F.round(k * u, 2).alias("alloc_tokens"),
        F.round(eff, 4).alias("effective_tokens"),
        F.round(eff / (k * u), 6).alias("utilization"),
        n_params.alias("n_params"),
        # double, not BIGINT: 19.2*T^2 overflows signed 64-bit past
        # ~7e8 corpus tokens, where DuckDB errors and Spark wraps
        # (r11 review); the IEEE product of exact ints is identical
        # on both engines
        (F.lit(6.0) * n_params * F.col("d_opt")).alias("compute_flops"),
    )


# ---------------------------------------------------------------------------
# Cross-encoder rerank over the RRF top-k (r10 verdict item 8c)
# ---------------------------------------------------------------------------


def _ce_rerank_sql() -> str:
    from duva_spark.queries.llm_q import _BM25_TERMS, _COS_QC

    tf_cols = ", ".join(
        f"len(list_filter(d2.ws, w -> w = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    nz = " + ".join(f"CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END" for i in range(3))
    tfsum = " + ".join(f"tf{i}" for i in range(3))
    return f"""
    WITH {_rrf_ctes()},
    d2 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    feat AS (SELECT r.doc_id, r.rrf_score, len(d2.ws) AS n_tok, {tf_cols}
             FROM rrf r JOIN d2 ON r.doc_id = d2.doc_id),
    cosf AS (SELECT r.doc_id, ROUND({_COS_QC}, 6) AS cos
             FROM rrf r
             JOIN (SELECT vec_id, embedding AS cv FROM embeddings) c
               ON c.vec_id = r.doc_id, qv_t),
    z AS (SELECT f.doc_id, f.rrf_score,
                 2.0 * (({nz}) / 3.0)
               + 8.0 * (({tfsum}) * 1.0 / n_tok)
               + 3.0 * cos
               + 50.0 * f.rrf_score AS z
          FROM feat f JOIN cosf ON f.doc_id = cosf.doc_id),
    sc AS (SELECT doc_id, rrf_score,
                  ROUND(1.0 / (1.0 + exp(-z)), 6) AS ce_score FROM z),
    rk AS (SELECT doc_id, rrf_score, ce_score,
                  ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS rrf_rank,
                  ROW_NUMBER() OVER (ORDER BY ce_score DESC, doc_id) AS ce_rank
           FROM sc)
    SELECT doc_id, rrf_rank, rrf_score, ce_rank, ce_score,
           rrf_rank - ce_rank AS rank_delta
    FROM rk
    """


@register(
    "q_crossencoder_rerank",
    oracle=_ce_rerank_sql(),
    description=(
        "Cross-encoder rerank over the RRF top-k (completes the retrieval "
        "story: lexical leg + vector leg -> RRF fusion -> pairwise "
        "rerank): the fused top-10 candidates are re-scored by a "
        "deterministic cross-encoder stand-in that sees the (query, "
        "document) PAIR jointly — logistic of a fixed linear head over "
        "pair features (query-term coverage, query-term density, "
        "query-candidate embedding cosine, and the retriever prior), i.e. "
        "exactly the late-interaction shape a real cross-encoder distills "
        "into, with the learned weights replaced by pinned constants so "
        "the DuckDB oracle replays it bit-for-bit (all feature inputs "
        "integer or pre-rounded; the one exp() is pinned by the 6-dp "
        "round like every other libm site). Reports old rank, new rank, "
        "and the rank delta per candidate. The 100 TB shape is the POINT "
        "of the two-stage pattern: the corpus-scale work is the retriever "
        "legs (scan-level scoring + TakeOrderedAndProject); the expensive "
        "pairwise scorer touches exactly k=10 rows — windows, joins, and "
        "the feature projection all run on a broadcast-sized frame, which "
        "is why production rerankers can afford a transformer there."
    ),
)
def q_crossencoder_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from duva_spark.llm import similarity
    from duva_spark.queries.llm_q import _BM25_TERMS

    cand = q_rrf_hybrid_search(spark, sf_dir).select("doc_id", "rrf_score")
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    def _tf(term: str):
        # closure, NOT a defaulted lambda arg: F.filter treats a 2-arg
        # lambda as (element, index) and would bind the term to the index
        return F.size(F.filter(ws, lambda w: w == F.lit(term))).cast("long")

    tfs = [_tf(t).alias(f"tf{i}") for i, t in enumerate(_BM25_TERMS)]
    feat = docs.select(
        "doc_id", F.size(ws).cast("long").alias("n_tok"), *tfs
    ).join(F.broadcast(cand), "doc_id")
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    withcos = similarity.cosine_pairs_arrow(
        feat.join(
            emb.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("cv")),
            "doc_id",
        ).crossJoin(F.broadcast(qv)),
        keep=("doc_id", "rrf_score", "n_tok", "tf0", "tf1", "tf2"),
        q_col="qv", c_col="cv", out="cos",
    )
    nz = sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0) for i in range(3))
    tfsum = sum(F.col(f"tf{i}") for i in range(3))
    z = (
        F.lit(2.0) * (nz / F.lit(3.0))
        + F.lit(8.0) * (tfsum * F.lit(1.0) / F.col("n_tok"))
        + F.lit(3.0) * F.col("cos")
        + F.lit(50.0) * F.col("rrf_score")
    )
    ce = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    sc = withcos.select("doc_id", "rrf_score", ce.alias("ce_score"))
    w_rrf = W.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    w_ce = W.orderBy(F.desc("ce_score"), F.asc("doc_id"))
    return (
        sc.withColumn("rrf_rank", F.row_number().over(w_rrf).cast("long"))
        .withColumn("ce_rank", F.row_number().over(w_ce).cast("long"))
        .select(
            "doc_id",
            "rrf_rank",
            "rrf_score",
            "ce_rank",
            "ce_score",
            (F.col("rrf_rank") - F.col("ce_rank")).alias("rank_delta"),
        )
    )


# ---------------------------------------------------------------------------
# Curriculum ordering (r10 verdict item 8b)
# ---------------------------------------------------------------------------


def _curriculum_sql() -> str:
    avg_s = exact_avg_sql("ln(n * 1.0 / cnt)", 9, 6)
    return f"""
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
               FROM documents),
    wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM w GROUP BY word),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM wc),
    diff AS (SELECT doc_id, {avg_s} AS d, CAST(COUNT(*) AS BIGINT) AS n_tok
             FROM w JOIN wc USING (word) CROSS JOIN tot
             GROUP BY doc_id),
    mm AS (SELECT MIN(d) AS mn, MAX(d) AS mx FROM diff),
    b AS (SELECT doc_id, n_tok,
                 LEAST(9, CAST(FLOOR((d - mn) / (mx - mn) * 10) AS BIGINT))
                   AS bucket
          FROM diff CROSS JOIN mm),
    e AS (SELECT unnest(range(1, 5)) AS epoch),
    g AS (SELECT epoch, bucket,
                 bucket < CAST(CEIL(epoch * 10 / 4.0) AS BIGINT) AS included,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tok) AS BIGINT) AS n_tokens
          FROM b CROSS JOIN e
          GROUP BY epoch, bucket),
    srv AS (SELECT epoch,
                   CAST(SUM(CASE WHEN included THEN n_tokens ELSE 0 END)
                        AS BIGINT) AS epoch_served_tokens
            FROM g GROUP BY epoch)
    SELECT CAST(g.epoch AS BIGINT) AS epoch, bucket, included,
           n_docs, n_tokens, epoch_served_tokens
    FROM g JOIN srv ON g.epoch = srv.epoch
    """


@register(
    "q_curriculum_schedule",
    oracle=_curriculum_sql(),
    description=(
        "Competence-based curriculum ordering (Platanios et al. 2019 "
        "shape): per-doc DIFFICULTY is the mean token surprisal "
        "ln(N/count(w)) under the corpus's own unigram statistics (the "
        "signal perplexity curricula actually sort by, computed with the "
        "registry's exact_avg gridding so the bucket-boundary floor "
        "decides identically on both engines), docs land in 10 "
        "equal-width difficulty buckets between the observed min/max, and "
        "the deterministic schedule grows the served prefix per epoch "
        "(epoch e of 4 serves buckets < ceil(10e/4): 3, 5, 8, then all 10 "
        "— easy-to-hard). Reports per (epoch, bucket): inclusion, "
        "doc/token mass, and the epoch's total served tokens — the "
        "loader-side table that turns a difficulty signal into a batch "
        "schedule. Scale shape: one word-count pass, one doc-keyed "
        "surprisal aggregation, 1-row min/max broadcast, enum-sized epoch "
        "grid — no window over the corpus, no sort; the bucketing is a "
        "codegen projection."
    ),
)
def q_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    wc = w.groupBy("word").agg(F.count("*").cast("long").alias("cnt"))
    tot = wc.agg(F.sum("cnt").cast("long").alias("n"))
    diff = (
        w.join(wc, "word")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            exact_avg(F.log(F.col("n") * 1.0 / F.col("cnt")), 9, 6).alias("d"),
            F.count("*").cast("long").alias("n_tok"),
        )
    )
    mm = diff.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    b = diff.crossJoin(F.broadcast(mm)).select(
        "doc_id",
        "n_tok",
        F.least(
            F.lit(9),
            F.floor((F.col("d") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 10),
        )
        .cast("long")
        .alias("bucket"),
    )
    epochs = spark.range(1, 5).select(F.col("id").alias("epoch"))
    g = (
        b.crossJoin(F.broadcast(epochs))
        .groupBy("epoch", "bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .withColumn(
            "included",
            F.col("bucket") < F.ceil(F.col("epoch") * 10 / F.lit(4.0)).cast("long"),
        )
    )
    srv = g.groupBy("epoch").agg(
        F.sum(F.when(F.col("included"), F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("epoch_served_tokens")
    )
    return g.join(F.broadcast(srv), "epoch").select(
        F.col("epoch").cast("long").alias("epoch"),
        "bucket",
        "included",
        "n_docs",
        "n_tokens",
        "epoch_served_tokens",
    )


# ---------------------------------------------------------------------------
# Deterministic training-order shuffle + shard manifest (round 12,
# verdict item 4 — the loader-side step between q_token_shard_packing
# and an actual training run)
# ---------------------------------------------------------------------------


_SHUFFLE_SEED = "duva-r12"
_SHUFFLE_SHARD_TOKENS = 1024


@register(
    "q_training_order_shuffle",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST('0x' || substr(md5('{_SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens, h,
             SUM(n_tokens) OVER (ORDER BY h, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    ),
    s AS (
      SELECT *, CAST(FLOOR((cum - n_tokens) / {_SHUFFLE_SHARD_TOKENS}.0) AS BIGINT)
                AS shard_id
      FROM c
    ),
    ps AS (SELECT shard_id, source, CAST(COUNT(*) AS BIGINT) AS sc
           FROM s GROUP BY 1, 2),
    mix AS (SELECT shard_id, CAST(MAX(sc) AS BIGINT) AS max_source_docs,
                   CAST(COUNT(*) AS BIGINT) AS n_sources
            FROM ps GROUP BY 1),
    man AS (SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                   MIN(h) AS first_h
            FROM s GROUP BY 1)
    SELECT man.shard_id AS shard_id, man.n_docs AS n_docs,
           man.n_tokens AS n_tokens, mix.n_sources AS n_sources,
           mix.max_source_docs AS max_source_docs, man.first_h AS first_h
    FROM man JOIN mix USING (shard_id)
    """,
    description=(
        "Deterministic training-order shuffle + shard manifest: the "
        "loader-side step between q_token_shard_packing and an actual "
        "training run: every document gets a seed-keyed 60-bit hash rank "
        "(md5('seed:' || doc_id) — re-seeding is a one-string change and "
        "reshuffles the whole corpus deterministically), the hash order "
        "interleaves sources uniformly by construction (no source-run "
        "clumping, the thing a sequential-by-source scan would cause), "
        "and documents pack into fixed-token-budget shards along the "
        "exact distributed prefix sum (operators/prefix_sum.running_sum: "
        "range partition -> per-range window + broadcast offsets — NO "
        "single-partition stage and NO global sort; the hash rank IS the "
        "order, so the range exchange on (h, doc_id) is the only "
        "corpus-wide movement). Emits the shard manifest a loader "
        "consumes: shard_id, n_docs, n_tokens, source mix (n_sources + "
        "max_source_docs, exact integers — no float ratio to drift "
        "cross-engine), and first_h (the resume cursor: a loader seeking "
        "shard k starts at its first hash rank). Upstream mixture "
        "weighting composes: run the epoch-capped mixture query first and "
        "feed its kept set through this order. 100 TB: the seed-keyed "
        "hash is embarrassingly parallel, the prefix sum is two bounded "
        "exchanges, and the manifest agg is shard-keyed — nothing scales "
        "worse than a word count."
    ),
)
def q_training_order_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.operators.prefix_sum import running_sum

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        textstats.token_count_ws(F.col("text")).cast("long").alias("n_tokens"),
        minhash.md5_hash60(
            F.concat(F.lit(_SHUFFLE_SEED + ":"), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    c = running_sum(t, ["h", "doc_id"], "n_tokens", out_col="cum")
    s = c.withColumn(
        "shard_id",
        F.floor((F.col("cum") - F.col("n_tokens")) / float(_SHUFFLE_SHARD_TOKENS)).cast(
            "long"
        ),
    )
    ps = s.groupBy("shard_id", "source").agg(F.count("*").alias("sc"))
    mix = ps.groupBy("shard_id").agg(
        F.max("sc").cast("long").alias("max_source_docs"),
        F.count("*").cast("long").alias("n_sources"),
    )
    man = s.groupBy("shard_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("h").alias("first_h"),
    )
    return man.join(mix, "shard_id").select(
        "shard_id", "n_docs", "n_tokens", "n_sources", "max_source_docs", "first_h"
    )
