"""Empirical scaling sweep: run each core operator at increasing row
counts on GENERATED deterministic data and report the runtime ratio per
10x of input — executable evidence for SCALE.md's "would this survive
100x" claims (a near-linear operator shows a ratio near 10, a quadratic
one near 100).

Data is synthesized with spark.range + hash expressions (deterministic,
no files, no RNG), so the sweep exercises operator mechanics at sizes
the sf0.1 test tables (2k-60k rows) cannot reach locally.

    python tools/scale_sweep.py [--quick]

Prints one line per (operator, n) plus a final JSON summary.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from duva_spark.session import get_spark  # noqa: E402


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _docs(spark, n: int):
    """n synthetic docs, 30 pseudo-words each, ~8% exact-dup rate via a
    collapsed seed — deterministic (hash of the row id, no RNG)."""
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.format_string(
                    "w%d", F.pmod(F.xxhash64(F.col("id") % int(n * 0.92), F.lit(i)), 997)
                )
                for i in range(30)
            ],
        ).alias("text"),
    )


def _embeddings(spark, n: int, dim: int = 64):
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (F.pmod(F.xxhash64("id", F.lit(i)), 1000) / 1000.0).alias(f"x{i}")
                for i in range(dim)
            ]
        ).alias("embedding"),
    )


def sweep(spark, sizes_small, sizes_big, only=None):
    import contextlib

    from duva_spark.llm import bloom, kmeans, minhash
    from duva_spark.operators.prefix_sum import running_sum
    from duva_spark.operators.quantile import quantile_cont
    from duva_spark.session import default_parallelism

    @contextlib.contextmanager
    def spill_fanout():
        """Scoped 16x-cores AQE fan-out for the disk-spill-bound cases
        (dup-spans family, KN trigram): the r9 A/B measured the win at
        1M docs (dup_span_ratio 31.2 -> 24.5 s); the r10 full-headline
        A/B (BASELINE.md) showed the same posture is a
        ~8% tax on the sf0.1 headline set, so the fan-out now applies
        only here, via runtime conf, restored on exit."""
        key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        try:
            old = spark.conf.get(key)
        except Exception:
            old = None
        spark.conf.set(key, str(16 * default_parallelism()))
        try:
            yield
        finally:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)

    cases = []

    def keys(n):
        return spark.range(n).select(
            F.md5(F.col("id").cast("string")).alias("k")
        )

    cases.append(
        (
            "prefix_sum",
            sizes_big,
            lambda n: _force(
                running_sum(
                    spark.range(n).select(
                        F.col("id").alias("key"),
                        F.pmod(F.xxhash64("id"), 100).alias("v"),
                    ),
                    "key",
                    "v",
                )
            ),
        )
    )
    cases.append(
        (
            "quantile_cont",
            sizes_big,
            lambda n: _force(
                quantile_cont(
                    spark.range(n).select(
                        (F.pmod(F.xxhash64("id"), 1_000_000)).alias("v")
                    ),
                    "v",
                    [0.5, 0.99],
                )
            ),
        )
    )
    cases.append(
        (
            "grouped_quantile",
            sizes_big,
            lambda n: _force(
                __import__(
                    "duva_spark.operators.quantile", fromlist=["grouped_quantile_cont"]
                ).grouped_quantile_cont(
                    spark.range(n).select(
                        F.pmod(F.xxhash64("id"), 100).alias("g"),
                        F.pmod(F.xxhash64("id", F.lit(1)), 1_000_000).alias("v"),
                    ),
                    ["g"],
                    "v",
                    {"p50": 0.5, "p99": 0.99},
                )
            ),
        )
    )
    cases.append(
        (
            "bloom_anti_join",
            sizes_big,
            lambda n: _force(
                bloom.prefilter_anti_join(
                    keys(n), keys(n // 10), "k", m_bits=1 << 23
                )
            ),
        )
    )
    cases.append(
        (
            "exact_dedup_groupby",
            sizes_big,
            lambda n: _force(
                _docs(spark, n).groupBy("text").agg(F.min("doc_id").alias("keep"))
            ),
        )
    )
    cases.append(
        (
            "minhash_lsh_pairs",
            sizes_small,
            lambda n: _force(
                minhash.near_duplicates(_docs(spark, n), "doc_id", "text", threshold=0.5)
            ),
        )
    )

    def dup_span(n):
        # q_dup_span_ratio's exact operator (shared helper, so the sweep
        # cannot drift from the registered query's shape): gram
        # doc-frequency -> marker join -> per-doc count, ~23 gram
        # rows/doc travelling as 60-bit ints.
        from duva_spark.llm import dedup as _dedup

        with spill_fanout():
            _force(_dedup.dup_span_counts(_docs(spark, n), "doc_id", "text", k=8))

    cases.append(("dup_span_ratio", sizes_big, dup_span))

    def dup_spans_exact(n):
        # q_dup_spans_exact's operator (shared helper): positional grams
        # -> distinct-pair doc-frequency shuffle -> semi-join marker ->
        # per-DOC lag/running-sum interval merge. The window partitions
        # by doc id (bounded state), so the sweep measures the extra
        # positional volume + per-doc window against dup_span_ratio's
        # count-only plan.
        from duva_spark.llm import dedup as _dedup

        with spill_fanout():
            _force(
                _dedup.dup_spans_exact(
                    _docs(spark, n), "doc_id", "text", k=8, min_span=16
                )
            )

    cases.append(("dup_spans_exact", sizes_big, dup_spans_exact))

    def dup_spans_removed(n):
        # q_dup_spans_removed's operator: span discovery (shared with
        # dup_spans_exact) + per-doc span-list join + higher-order
        # index-filter reconstruction — measures what the TRANSFORM adds
        # over the report at the same corpus sizes.
        from duva_spark.llm import dedup as _dedup

        with spill_fanout():
            _force(
                _dedup.remove_dup_spans(
                    _docs(spark, n), "doc_id", "text", k=8, min_span=16
                )
            )

    cases.append(("dup_spans_removed", sizes_big, dup_spans_removed))

    def dsir_weights(n):
        # q_dsir_selection's weight stage (shared hashed_lm helper):
        # token explode -> bucket hash -> two map-side-combined count
        # aggs into a <=4096-row model table -> broadcast ratio join ->
        # per-doc sum. Expected ~1x per 10x: the model is constant-size.
        from duva_spark.llm import hashed_lm

        docs = _docs(spark, n).withColumn(
            "is_target", F.col("doc_id") % 3 == 0
        )
        _force(hashed_lm.dsir_log_weights(docs, "doc_id", "text", "is_target"))

    cases.append(("dsir_weights", sizes_big, dsir_weights))

    def hll_sketch(n):
        # q_hll_distinct_audit's sketch stage: trigram stream -> (source,
        # register) MAX(rho) — the exchange is bounded by 256 x sources
        # at ANY corpus size (MAX is idempotent, no distinct shuffle).
        # The registered query's exact-distinct BASELINE is deliberately
        # excluded: the sweep measures the production sketch path.
        from duva_spark.llm.minhash import md5_hash60

        docs = _docs(spark, n).withColumn(
            "source", (F.col("doc_id") % 20).cast("string")
        )
        grams = docs.select(
            "source", F.split("text", " ").alias("ws")
        ).select(
            "source",
            F.explode(
                # same size(ws) >= 3 guard as the registered query —
                # the swept workload must match the production shape
                # and survive sub-3-token synthetic docs (r10 ADVICE)
                F.expr(
                    "CASE WHEN size(ws) >= 3 THEN "
                    "transform(sequence(0, size(ws) - 3),"
                    " i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2])) "
                    "ELSE array() END"
                )
            ).alias("g"),
        )
        h = md5_hash60(F.col("g"))
        v = F.shiftright(h, 8)
        rho = F.when(v == 0, F.lit(53)).otherwise(F.lit(53) - F.length(F.bin(v)))
        _force(
            grams.select("source", (h % 256).alias("reg"), rho.alias("rho"))
            .groupBy("source", "reg")
            .agg(F.max("rho").alias("m"))
        )

    cases.append(("hll_sketch", sizes_big, hll_sketch))

    def cms_multi_width(n):
        # q_cms_width_curve's plain multi-width build: word count (the
        # corpus-sized pass) -> one config-tagged explode onto the fixed
        # sum(widths) x D bucket universe. The CU fold is excluded: it
        # is the vocab-bounded single-task audit kernel, not the
        # corpus-scaling path.
        from duva_spark.llm import cms

        wc = (
            _docs(spark, n)
            .select(F.explode(F.split("text", " ")).alias("word"))
            .groupBy("word")
            .agg(F.count("*").cast("long").alias("c"))
        )
        _force(cms.cms_sketch_widths(wc, "word", "c"))

    cases.append(("cms_multi_width", sizes_big, cms_multi_width))

    def passage_chunk_census(n):
        # q_passage_chunks' shape: per-doc chunk-count arithmetic + a
        # codegen sequence explode -> source census. Corpus-linear.
        w, st = 32, 16
        docs = _docs(spark, n).withColumn(
            "source", (F.col("doc_id") % 20).cast("string")
        )
        t = docs.select(
            "source", F.size(F.split("text", " ")).cast("long").alias("nt")
        )
        k = (
            F.when(F.col("nt") <= w, F.lit(1).cast("long"))
            .otherwise(F.ceil((F.col("nt") - w) / F.lit(float(st))) + 1)
            .alias("k")
        )
        ch = t.select("source", "nt", k).select(
            "source",
            "nt",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("k") - 1)).alias("i"),
        )
        _force(
            ch.groupBy("source").agg(
                F.count("*").alias("n_chunks"),
                F.sum(F.when(F.col("i") == 0, F.col("nt")).otherwise(0)).alias("toks"),
            )
        )

    cases.append(("passage_chunk_census", sizes_big, passage_chunk_census))

    def nb_classify(n):
        # q_nb_lang_classifier's train+score chain: counting train
        # (broadcast-sized model), broadcast-join scoring, per-doc
        # argmax window over L=5 rows per doc.
        from duva_spark.llm import hashed_lm

        docs = _docs(spark, n).withColumn(
            "label", F.format_string("l%d", F.pmod(F.col("doc_id"), 5))
        )
        split = docs.withColumn(
            "is_train", F.pmod(F.xxhash64("doc_id"), 100) < 70
        )
        train = split.filter("is_train")
        test = split.filter(~F.col("is_train"))
        lik, stats = hashed_lm.nb_train(train, "label", "text")
        scored = hashed_lm.nb_score(test, "doc_id", "text", lik, stats)
        _force(hashed_lm.nb_predict(scored, "doc_id"))

    cases.append(("nb_classify", sizes_big, nb_classify))

    def kcenter_case(n):
        # q_kcenter_coreset's operator: k=8 greedy rounds, each one
        # linear codegen scan + TakeOrderedAndProject (the collect IS
        # the action — one winner row per round). Expected ~1x per 10x.
        from duva_spark.llm import coreset

        coreset.kcenter_select(_embeddings(spark, n), "vec_id", "embedding", 8)

    cases.append(("kcenter_greedy", sizes_small, kcenter_case))

    def bpe_train_case(n):
        # q_bpe_train_merges' operator: ONE corpus-sized word-count
        # groupBy, then 4 merge rounds over the vocab table (bounded by
        # distinct words — here ≤997 — regardless of n). The sweep
        # should show the corpus scan dominating: ~linear per 10x, with
        # round cost flat.
        from duva_spark.llm import bpe

        bpe.bpe_train(_docs(spark, n), "text", n_merges=4)

    cases.append(("bpe_train", sizes_big, bpe_train_case))

    def bpe_byte_train_case(n):
        # q_bpe_byte_train_merges' operator: same trainer, GPT-2
        # byte-fallback alphabet (UTF-8 bytes as hex-pair symbols, so
        # the initial symbolization is regexp_extract_all over hex()
        # instead of a char split). Same expected shape as bpe_train —
        # the corpus scan dominates, rounds are vocab-bounded — plus
        # the per-word hex expansion cost in the one scan.
        from duva_spark.llm import bpe

        bpe.bpe_train(_docs(spark, n), "text", n_merges=4, alphabet="byte")

    cases.append(("bpe_byte_train", sizes_big, bpe_byte_train_case))

    def stupid_backoff_case(n):
        # q_stupid_backoff_nll's chain on synthetic docs: bigram/unigram
        # count tables on the 70% hash split, held-out 30% scored by
        # bc/cc with 0.4-backoff. Count-table LM: two map-side-combined
        # count shuffles + Zipf-bounded model joins — expect ~linear.
        from duva_spark.llm import hashed_lm

        docs = _docs(spark, n)
        h100 = hashed_lm.md5_hash60(F.col("doc_id").cast("string")) % 100
        split = docs.select(
            "doc_id", F.split("text", " ").alias("ws"), (h100 < 70).alias("is_train")
        )
        # same size(ws) >= 2 guard as the registered query (ADVICE r8)
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
                F.when(F.col("bc").isNotNull(), -F.log(F.col("bc") / F.col("cc")))
                .otherwise(
                    -F.log(
                        F.lit(0.4)
                        * (F.coalesce(F.col("cnt"), F.lit(0)) + 1)
                        / (F.col("n") + F.col("v"))
                    )
                )
                .alias("nll"),
            )
        )
        _force(scored.groupBy("doc_id").agg(F.avg("nll").alias("avg_nll")))

    cases.append(("stupid_backoff", sizes_big, stupid_backoff_case))

    def doremi_case(n):
        # q_doremi_weights' operator: one corpus-sized domain×bucket
        # count, then 3 reweighting rounds over the ≤ D×B-row table —
        # rounds are corpus-independent, so expect the count groupBy's
        # ~linear ratio.
        from duva_spark.llm import hashed_lm

        docs = _docs(spark, n).withColumn("dom", (F.col("doc_id") % 5).cast("string"))
        hashed_lm.doremi_weights(docs, "dom", "text", n_buckets=512, rounds=3)

    cases.append(("doremi_reweight", sizes_big, doremi_case))

    def pq_case(n):
        # q_embed_pq_recall's train+encode chain: m×iters Lloyd rounds
        # on subvectors + m shuffle-free Arrow encode projections —
        # expect the kmeans_assign class (~1x per 10x).
        from duva_spark.llm import pq

        emb = _embeddings(spark, n)
        books = pq.pq_train(emb, m=4, ksub=8, iters=2, dim=64)
        _force(pq.pq_encode(emb, books, dim=64))

    cases.append(("pq_train_encode", sizes_small, pq_case))
    cases.append(
        (
            "kmeans_assign",
            sizes_small,
            lambda n: _force(
                kmeans.assign_clusters(
                    _embeddings(spark, n),
                    kmeans.init_centroids(_embeddings(spark, n), 64),
                )
            ),
        )
    )
    def ivf_assign_case(n):
        """Shuffle-free IVF list assignment (r4 verdict item 1): the
        centroid index is built ONCE from a fixed 4,096-vector labeled
        frame (64 lists — constant cost), so the measured quantity is
        the corpus-side broadcast Arrow argmax, which must scale ~1×
        per 10× like its KMeans twin."""
        from duva_spark.llm import similarity as sim

        cents = sim.label_centroids(
            _embeddings(spark, 4096).withColumn(
                "label", F.pmod(F.col("vec_id"), 64).cast("int")
            )
        )
        _force(sim.ivf_assign(_embeddings(spark, n), cents))

    cases.append(("ivf_assign", sizes_small, ivf_assign_case))

    def ivf_trained_case(n):
        """q_embed_ivf_trained_recall's index-build path: Lloyd rounds
        on a deterministic 20% hash sample (k=64 lists, dim=64) + ONE
        full-corpus assignment/update, then the nprobe=2 probe of 20
        query vectors against the trained buckets. The corpus-sized
        work is iters·0.2+1 shuffle-free Arrow assignment passes plus
        one k-row update shuffle per round — expect the kmeans/ivf
        family's ~1× per 10×."""
        from duva_spark.llm import kmeans, minhash, similarity as sim

        emb = _embeddings(spark, n)
        train = emb.filter(
            minhash.md5_hash60(F.col("vec_id").cast("string")) % 5 < 1
        )
        cen, _ = kmeans.lloyd(emb, k=64, iters=3, dim=64, train_df=train)
        cent = cen.select("cluster", F.col("cen").alias("centroid"))
        _force(
            sim.ivf_topk(
                emb, emb.filter(F.col("vec_id") < 20), cent,
                k=5, nprobe=2, label_col="cluster",
            )
        )

    cases.append(("ivf_trained", sizes_small, ivf_trained_case))

    def semdedup_pairs(n):
        """The capped SemDeDup within-cluster pair stage under HOT
        skew (r4 verdict item 5). Cluster count scales with n
        (mirroring choose_k — the operator's stated contract), but the
        distribution is adversarial: half of all rows pile into 1% of
        the clusters (~10k members each, far above the 2,000 cap), so
        the hyperplane-LSH overflow carries half the corpus while the
        other half takes the exact chunked-BLAS path. Linear-ish
        runtime here proves the cap bounds the quadratic term even
        when skew persists at every scale. Embeddings are mean-centered
        so cosines concentrate near 0 (the realistic spread; an
        all-positive orthant would make every pair near-parallel and
        measure LSH recall pathology instead of the pair stage)."""
        from duva_spark.llm import semdedup, similarity as sim

        nclusters = max(n // 200, 2)
        nhot = max(nclusters // 100, 1)
        emb = spark.range(n).select(
            F.col("id").alias("_id"),
            F.array(
                *[
                    (F.pmod(F.xxhash64("id", F.lit(i)), 1000) / 1000.0 - 0.5)
                    for i in range(64)
                ]
            ).alias("_raw"),
        )
        e = emb.select(
            "_id",
            F.when(
                F.pmod(F.xxhash64("_id", F.lit(99)), 2) == 0,
                F.pmod(F.xxhash64("_id", F.lit(98)), nhot),
            )
            .otherwise(nhot + F.pmod(F.xxhash64("_id", F.lit(97)), nclusters - nhot))
            .cast("int")
            .alias("cluster"),
            F.transform(
                "_raw", lambda x: x / sim.norm(F.col("_raw"))
            ).alias("_v"),
        )
        cand = semdedup.bounded_pair_candidates(
            e, tau=0.5, max_cluster_size=2000, dim=64
        )
        _force(cand.filter(F.round(F.col("dot"), 6) > 0.5))

    cases.append(("semdedup_pairs", sizes_small, semdedup_pairs))

    def stream_stateful(n):
        """applyInPandasWithState running totals over n events under the
        RocksDB state store (r4 verdict item 8): 100k distinct keys of
        state, parquet source, Trigger.AvailableNow — proves the custom
        stateful path (Arrow state round-trip + RocksDB) holds its
        per-row cost at sizes the events table can't reach."""
        import tempfile

        from duva_spark.streaming.stateful import running_user_totals

        key = "spark.sql.streaming.stateStore.providerClass"
        try:
            old = spark.conf.get(key)
        except Exception:
            old = None
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        try:
            with tempfile.TemporaryDirectory() as td:
                src = f"{td}/events"
                spark.range(n).select(
                    F.pmod(F.xxhash64("id"), 100_000).alias("user_id"),
                    (F.pmod(F.xxhash64("id", F.lit(1)), 1000) / 10.0).alias("value"),
                ).write.mode("overwrite").parquet(src)
                stream = spark.readStream.schema("user_id bigint, value double").parquet(src)
                q = (
                    running_user_totals(stream)
                    .writeStream.format("noop")
                    .option("checkpointLocation", f"{td}/ckpt")
                    .outputMode("update")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
        finally:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)

    cases.append(("stream_stateful", sizes_big, stream_stateful))

    cases.append(
        (
            "cosine_topk_arrow",
            sizes_small,
            lambda n: _force(
                __import__(
                    "duva_spark.llm.similarity", fromlist=["brute_force_topk"]
                ).brute_force_topk(
                    _embeddings(spark, n),
                    _embeddings(spark, 20),
                    k=5,
                )
            ),
        )
    )

    from duva_spark.llm.components import connected_components_star
    from duva_spark.llm.ppjoin import prefix_filter_pairs

    def chain_edges(n):
        """n-node graph: 1000 chains of length n/1000 — long diameters,
        the shape that punishes O(diameter) label propagation and that
        large-star/small-star's O(log n) rounds are built for."""
        return spark.range(n).select(
            F.col("id").alias("id_a"), (F.col("id") + 1000).alias("id_b")
        ).filter(F.col("id_b") < n)

    cases.append(
        (
            "components_star",
            sizes_big,
            lambda n: _force(connected_components_star(chain_edges(n))),
        )
    )
    def skewed_join(n):
        """90% of probe rows share ONE key (the classic hot-key fact
        table); build is 10k dims. Salting splits the hot key across
        n_salts reducers so no single task owns 0.9n rows."""
        from duva_spark.operators import salted_join

        probe = spark.range(n).select(
            F.when(F.pmod(F.xxhash64("id"), 10) < 9, F.lit(7))
            .otherwise(F.pmod(F.xxhash64("id", F.lit(1)), 10_000))
            .alias("k"),
            F.col("id").alias("v"),
        )
        build = spark.range(10_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        joined = salted_join(probe, build, "k", n_salts=32)
        _force(joined.groupBy("k").agg(F.count("*").alias("n"), F.sum("w").alias("s")))

    cases.append(("salted_skew_join", sizes_big, skewed_join))

    def stream_tumbling(n):
        """TRUE readStream tumbling-window count over n generated events
        (parquet-backed, Trigger.AvailableNow, memory sink) — the
        streaming path's per-row cost at sizes the events table can't
        reach. Watermark + window state mirror the production jobs."""
        import tempfile

        with tempfile.TemporaryDirectory() as td:
            src = f"{td}/events"
            spark.range(n).select(
                (F.timestamp_seconds(1_700_000_000 + F.pmod(F.xxhash64("id"), 86_400))).alias("ts"),
                F.pmod(F.xxhash64("id", F.lit(1)), 100).alias("k"),
            ).write.mode("overwrite").parquet(src)
            stream = (
                spark.readStream.schema("ts timestamp, k long")
                .parquet(src)
                .withWatermark("ts", "1 hour")
                .groupBy(F.window("ts", "10 minutes"), "k")
                .count()
            )
            q = (
                stream.writeStream.format("noop")
                .option("checkpointLocation", f"{td}/ckpt")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    cases.append(("stream_tumbling", sizes_big, stream_tumbling))
    cases.append(
        (
            "ppjoin_exact",
            [s // 2 for s in sizes_small],
            lambda n: _force(
                prefix_filter_pairs(_docs(spark, n), "doc_id", "text", threshold=0.7)
            ),
        )
    )

    def gopher_repetition_case(n):
        # q_gopher_repetition's operator: exact integer counts per batch
        # in a mapInPandas kernel, fractions in a Column tail — ZERO
        # shuffles, plan-asserted. Expect linear in doc length × n with
        # no spill cliff.
        from duva_spark.llm import textstats

        _force(textstats.gopher_repetition(_docs(spark, n)))

    cases.append(("gopher_repetition", sizes_big, gopher_repetition_case))

    def curation_funnel_case(n):
        # q_pipeline_funnel's operator: quality flags (scan-only) +
        # the repetition battery + two conditional-MIN keeper windows +
        # broadcast eval-gram probe + one global count row. Dominated
        # by the repetition battery's gram stream — expect its class.
        from duva_spark.llm.funnel import curation_funnel

        curation_funnel(_docs(spark, n)).collect()

    cases.append(("curation_funnel", sizes_big, curation_funnel_case))

    def logreg_case(n):
        # q_lr_quality_distill's trainer: feature build (one token
        # explode + count groupBy), then 3 rounds of broadcast model
        # join + two aggregations over the feature table. Expect
        # ~linear: every round is corpus-linear with a constant-size
        # model exchange.
        from duva_spark.llm import logreg

        docs = _docs(spark, n).withColumn("y", F.col("doc_id") % 3 != 0)
        logreg.logreg_train(docs, "doc_id", "y", "text", rounds=3)

    cases.append(("logreg_distill", sizes_big, logreg_case))

    def unigram_case(n):
        # q_unigram_lm_train + q_unigram_encode: one word-frequency
        # groupBy, then (rounds+1) Viterbi passes — rounds over the
        # Zipf-bounded DISTINCT-word table, the final encode over word
        # occurrences. The Arrow kernels (r9 A/B: 28.6 s for the
        # interpreted fold vs 2.1 s at sf0.1) sweep at sizes_big.
        from duva_spark.llm import unigram

        _force(unigram.unigram_train_encode(_docs(spark, n)))

    cases.append(("unigram_train_encode", sizes_big, unigram_case))

    def sq8_case(n):
        # q_embed_sq8_recall's operator: one 128-col bounds aggregation,
        # then dequantize folded into the scan projection + broadcast
        # probe attach + per-query rank window. Expect linear.
        from duva_spark.llm import pq

        emb = _embeddings(spark, n)
        mns, sps = pq.sq8_bounds(emb, dim=64)
        _force(
            pq.sq8_topk(emb, emb.filter(F.col("vec_id") < 5), mns, sps, k=5)
        )

    cases.append(("sq8_topk", sizes_small, sq8_case))

    def band_curve_case(n):
        # q_minhash_band_curve: one signature pass, one config-tagged
        # band shuffle (24 narrow rows/doc), candidate verify, plus the
        # exact prefix-filter ground-truth job as the query runs it.
        from duva_spark.llm import minhash as mh
        from duva_spark.llm.ppjoin import prefix_filter_pairs

        docs = _docs(spark, n)
        exact = prefix_filter_pairs(docs, "doc_id", "text", threshold=0.5)
        _force(mh.band_sensitivity(docs, exact, "doc_id", "text"))

    cases.append(("minhash_band_curve", sizes_small, band_curve_case))

    def ivfpq_residual_case(n):
        # q_embed_ivfpq_residual_recall's operator: coarse centroids,
        # residual table (one Arrow projection + broadcast join,
        # checkpointed), subspace Lloyd on residuals, nprobe=2 probing
        # with per-bucket ADC. Zero corpus shuffle beyond the trainer's
        # bounded rounds.
        from duva_spark.llm import pq, similarity

        emb = _embeddings(spark, n).withColumn(
            "label", F.pmod(F.col("vec_id"), 8)
        )
        cent = similarity.label_centroids(emb)
        rows = cent.select(
            F.col("label").cast("int").alias("bucket"),
            F.transform("centroid", lambda x: F.round(x, 6)).alias("centroid"),
        ).collect()
        _force(
            pq.ivfpq_residual_topk(
                emb, emb.filter(F.col("vec_id") < 5), rows,
                k=5, nprobe=2, dim=64, m=4, ksub=8, iters=1,
            )
        )

    cases.append(("ivfpq_residual", sizes_small, ivfpq_residual_case))

    def kneser_ney_case(n):
        # q_kneser_ney_nll's operator: the stupid_backoff count-table
        # shape plus two extra Zipf-bounded marginals of bcnt (context
        # type counts, continuation counts) — expect the same ~5x/10x
        # class as its siblings.
        from duva_spark.llm import hashed_lm

        docs = _docs(spark, n)
        h100 = hashed_lm.md5_hash60(F.col("doc_id").cast("string")) % 100
        split = docs.select(
            "doc_id", F.split("text", " ").alias("ws"), (h100 < 70).alias("is_train")
        )
        # same size(ws) >= 2 guard as q_kneser_ney_nll (ADVICE r8 — the
        # unguarded form yields a descending sequence + null-word rows
        # on 1-word docs; _docs emits 30-word docs, but the sweep must
        # benchmark the operator's real expression)
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
        cont = bcnt.groupBy("w2").agg(F.count("*").cast("double").alias("rc"))
        btot = bcnt.agg(F.count("*").cast("double").alias("bt"))
        ho = bigrams(split.filter(~F.col("is_train")))
        pcont = (F.coalesce(F.col("rc"), F.lit(0)) + 1) / (F.col("bt") + F.col("v"))
        p = F.when(F.col("cc").isNull(), pcont).otherwise(
            F.when(F.col("bc").isNull(), F.lit(0.0)).otherwise(
                (F.col("bc") - 0.75) / F.col("cc")
            )
            + (0.75 * F.col("n1p") / F.col("cc")) * pcont
        )
        scored = (
            ho.join(bcnt, ["w1", "w2"], "left")
            .join(ctx, "w1", "left")
            .join(cont, "w2", "left")
            .crossJoin(F.broadcast(btot))
            .crossJoin(F.broadcast(vtot))
            .select("doc_id", (-F.log(p)).alias("nll"))
        )
        _force(scored.groupBy("doc_id").agg(F.avg("nll").alias("avg_nll")))

    cases.append(("kneser_ney", sizes_big, kneser_ney_case))

    def kneser_ney_trigram_case(n):
        # q_kneser_ney_trigram: one extra (wider) explode + four extra
        # Zipf-bounded marginals of the trigram table — expect the
        # bigram sibling's class.
        from duva_spark.queries import load_all  # noqa: F401 — registers
        from duva_spark.queries.pipeline_q import q_kneser_ney_trigram

        # reuse the registered operator body over synthetic docs via a
        # temp view-free inline replay: the query function reads a
        # table, so sweep the same plan through its component exprs
        from duva_spark.llm import hashed_lm

        docs = _docs(spark, n)
        h100 = hashed_lm.md5_hash60(F.col("doc_id").cast("string")) % 100
        split = docs.select(
            "doc_id", F.split("text", " ").alias("ws"), (h100 < 70).alias("is_train")
        )
        # size(ws) >= 3 guard copied from q_kneser_ney_trigram (ADVICE r8)
        tri = lambda df: df.select(  # noqa: E731
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(ws) >= 3 THEN "
                    "transform(sequence(0, size(ws) - 3),"
                    " i -> struct(ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3)) "
                    "ELSE array() END"
                )
            ).alias("t"),
        ).select("doc_id", "t.w1", "t.w2", "t.w3")
        train = split.filter("is_train")
        bcnt = (
            train.select(
                F.explode(
                    F.expr(
                        "CASE WHEN size(ws) >= 2 THEN "
                        "transform(sequence(0, size(ws) - 2),"
                        " i -> struct(ws[i] AS w1, ws[i+1] AS w2)) "
                        "ELSE array() END"
                    )
                ).alias("b")
            )
            .select("b.w1", "b.w2")
            .groupBy("w1", "w2")
            .agg(F.count("*").alias("bc"))
        )
        cont = bcnt.groupBy(F.col("w2").alias("w3")).agg(
            F.count("*").cast("double").alias("rc")
        )
        t3cnt = tri(train).groupBy("w1", "w2", "w3").agg(F.count("*").alias("c3"))
        ctx12 = t3cnt.groupBy("w1", "w2").agg(
            F.sum("c3").cast("double").alias("cc12"),
            F.count("*").cast("double").alias("n1p12"),
        )
        c23 = t3cnt.groupBy("w2", "w3").agg(F.count("*").cast("double").alias("c23t"))
        ho = tri(split.filter(~F.col("is_train")))
        scored = (
            ho.join(t3cnt, ["w1", "w2", "w3"], "left")
            .join(F.broadcast(ctx12), ["w1", "w2"], "left")
            .join(F.broadcast(c23), ["w2", "w3"], "left")
            .join(F.broadcast(cont), "w3", "left")
            .select(
                "doc_id",
                (
                    F.coalesce((F.col("c3") - 0.75) / F.col("cc12"), F.lit(0.0))
                    + F.coalesce(F.col("c23t"), F.lit(0.0))
                    + F.coalesce(F.col("rc"), F.lit(0.0))
                ).alias("x"),
            )
        )
        with spill_fanout():
            _force(scored.groupBy("doc_id").agg(F.avg("x")))

    cases.append(("kneser_ney_trigram", sizes_big, kneser_ney_trigram_case))

    def kneser_ney_trigram_pruned_case(n):
        # q_kneser_ney_trigram_pruned: identical chain with the KenLM
        # singleton prune (c3 >= 2) applied before any marginal — the
        # held-out joins stop carrying the corpus-growing singleton
        # tail, which is the r8 verdict's fix for the 9.6x/10x row.
        from duva_spark.llm import hashed_lm

        docs = _docs(spark, n)
        h100 = hashed_lm.md5_hash60(F.col("doc_id").cast("string")) % 100
        split = docs.select(
            "doc_id", F.split("text", " ").alias("ws"), (h100 < 70).alias("is_train")
        )
        tri = lambda df: df.select(  # noqa: E731
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(ws) >= 3 THEN "
                    "transform(sequence(0, size(ws) - 3),"
                    " i -> struct(ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3)) "
                    "ELSE array() END"
                )
            ).alias("t"),
        ).select("doc_id", "t.w1", "t.w2", "t.w3")
        train = split.filter("is_train")
        bcnt = (
            train.select(
                F.explode(
                    F.expr(
                        "CASE WHEN size(ws) >= 2 THEN "
                        "transform(sequence(0, size(ws) - 2),"
                        " i -> struct(ws[i] AS w1, ws[i+1] AS w2)) "
                        "ELSE array() END"
                    )
                ).alias("b")
            )
            .select("b.w1", "b.w2")
            .groupBy("w1", "w2")
            .agg(F.count("*").alias("bc"))
        )
        cont = bcnt.groupBy(F.col("w2").alias("w3")).agg(
            F.count("*").cast("double").alias("rc")
        )
        t3cnt = (
            tri(train)
            .groupBy("w1", "w2", "w3")
            .agg(F.count("*").alias("c3"))
            .filter(F.col("c3") >= 2)
        )
        ctx12 = t3cnt.groupBy("w1", "w2").agg(
            F.sum("c3").cast("double").alias("cc12"),
            F.count("*").cast("double").alias("n1p12"),
        )
        c23 = t3cnt.groupBy("w2", "w3").agg(F.count("*").cast("double").alias("c23t"))
        ho = tri(split.filter(~F.col("is_train")))
        scored = (
            ho.join(t3cnt, ["w1", "w2", "w3"], "left")
            .join(F.broadcast(ctx12), ["w1", "w2"], "left")
            .join(F.broadcast(c23), ["w2", "w3"], "left")
            .join(F.broadcast(cont), "w3", "left")
            .select(
                "doc_id",
                (
                    F.coalesce((F.col("c3") - 0.75) / F.col("cc12"), F.lit(0.0))
                    + F.coalesce(F.col("c23t"), F.lit(0.0))
                    + F.coalesce(F.col("rc"), F.lit(0.0))
                ).alias("x"),
            )
        )
        with spill_fanout():
            _force(scored.groupBy("doc_id").agg(F.avg("x")))

    cases.append(
        ("kneser_ney_trigram_pruned", sizes_big, kneser_ney_trigram_pruned_case)
    )

    def domain_divergence_case(n):
        # q_domain_divergence's operator: ONE corpus token scan into the
        # S×512 count table; the dense grid + bucket-keyed self-join +
        # exact-decimal term sums are bounded (S²×512 rows) and corpus-
        # independent — expect the scan's ~linear ratio.
        from duva_spark.llm import hashed_lm

        b = 512
        docs = _docs(spark, n).withColumn(
            "source", (F.col("doc_id") % 6).cast("string")
        )
        tok = docs.select(
            "source", F.explode(F.split("text", " ")).alias("w")
        ).select("source", hashed_lm.bucket_of(F.col("w"), b).alias("bucket"))
        cnt = tok.groupBy("source", "bucket").agg(F.count("*").alias("c"))
        ns = cnt.groupBy("source").agg(F.sum("c").cast("double").alias("n"))
        bdf = spark.range(b).select(F.col("id").cast("int").alias("bucket"))
        grid = (
            ns.crossJoin(F.broadcast(bdf))
            .join(cnt, ["source", "bucket"], "left")
            .select(
                "source", "bucket",
                ((F.coalesce(F.col("c"), F.lit(0)) + 1.0) / (F.col("n") + b)).alias("p"),
            )
        )
        a = grid.select(F.col("source").alias("src_a"), "bucket", F.col("p").alias("pa"))
        c2 = grid.select(F.col("source").alias("src_b"), "bucket", F.col("p").alias("pb"))
        terms = a.join(c2, "bucket").select(
            "src_a", "src_b",
            F.floor(F.col("pa") * F.log(F.col("pa") / F.col("pb")) * 1e9 + 0.5)
            .cast("decimal(38,0)").alias("kl9"),
        )
        _force(terms.groupBy("src_a", "src_b").agg(F.sum("kl9").alias("kl")))

    cases.append(("domain_divergence", sizes_big, domain_divergence_case))

    def spearman_case(n):
        # q_quality_signal_spearman's operator: one scan for the three
        # 6-dp signals, three grouped-value rank maps (bounded tables),
        # three broadcast joins back, exact-decimal sums per pair.
        from duva_spark.llm import evals

        docs = _docs(spark, n)
        ws = F.split("text", " ")
        nw = F.size(ws)
        sig = docs.select(
            "doc_id",
            nw.cast("long").alias("n_words"),
            F.round((F.length("text") - (nw - 1)) * 1.0 / nw, 6).alias("mean_word_len"),
            F.round(F.size(F.array_distinct(ws)) * 1.0 / nw, 6).alias("uniq_ratio"),
        )
        _force(evals.spearman_pairs(sig, ["n_words", "mean_word_len", "uniq_ratio"]))

    cases.append(("spearman_signals", sizes_big, spearman_case))

    def multiprobe_case(n):
        # q_rplsh_multiprobe_recall's operator: corpus coded once at
        # (2 tables, 6 bits), probes multiply only the broadcast query
        # side (22/table at radius 2) — expect the rplsh class (~linear
        # scan + candidate-bounded verify).
        from duva_spark.llm import similarity

        emb = _embeddings(spark, n)
        _force(
            similarity.rplsh_multiprobe_cands(
                emb, emb.filter(F.col("vec_id") < 5),
                dim=64, n_bits=6, n_tables=2, max_radius=2,
            )
        )

    cases.append(("rplsh_multiprobe", sizes_small, multiprobe_case))

    def image_phash_case(n):
        # q_image_phash_near_dup's shape at its SCALE config: one Arrow
        # aHash pass over the payload column (no shuffle) + the banded
        # candidate equi-join + popcount verify. The chunk width is the
        # scale dial: the registered query's 9x7-bit demo config has
        # only 128 bucket values per band (fine at the 500-doc SF,
        # quadratic at millions of docs), so at sweep scale the bands
        # widen to 3x21 bits (2M bucket values per band; pigeonhole
        # still exact-complete for hamming <= 2, which covers the
        # exact-dup tail the generator plants). Candidate volume is
        # then governed by the dup rate — expected ~linear per 10x.
        from duva_spark.llm import multimodal, simhash

        docs = _docs(spark, n)
        media = multimodal.to_media_table(docs, "doc_id", "text")
        sig = multimodal.image_ahash(media, "doc_id", fake=True)
        _force(
            simhash.hash_banded_pairs(
                sig, "doc_id", "ahash", n_bits=63, n_chunks=3, max_hamming=2
            )
        )

    cases.append(("image_phash_pairs", sizes_big, image_phash_case))

    def hll_merge_case(n):
        # q_hll_merge_rollup's shape (r11 verdict item 5): per-(source,
        # day) shard sketches from the linear trigram pass, register-
        # wise MAX merge — the merge exchange is bounded by 256 regs x
        # 8 sources x 7 days = 14,336 rows at ANY n — and the null-safe
        # full-outer register compare against the single-pass sketch.
        # Expected ~linear per 10x: the two gram scans dominate; the
        # merge leg's flat bound is exactly what keeps it so.
        d = _docs(spark, n).select(
            (F.col("doc_id") % 8).cast("string").alias("source"),
            (F.col("doc_id") % 7).alias("day"),
            F.split("text", " ").alias("ws"),
        )
        grams = d.select(
            "source",
            "day",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 3),"
                    " i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]))"
                )
            ).alias("g"),
        )
        h = minhash.md5_hash60(F.col("g"))
        v = F.shiftright(h, 8)
        rho = F.when(v == 0, F.lit(53)).otherwise(F.lit(53) - F.length(F.bin(v)))
        r = grams.select("source", "day", (h % 256).alias("reg"), rho.alias("rho"))
        shard = r.groupBy("source", "day", "reg").agg(F.max("rho").alias("m"))
        merged = shard.groupBy("source", "reg").agg(F.max("m").alias("mm"))
        single = r.groupBy("source", "reg").agg(F.max("rho").alias("ms"))
        _force(merged.join(single, ["source", "reg"], "full_outer"))

    cases.append(("hll_merge_rollup", sizes_big, hll_merge_case))

    def span_audit_case(n):
        # q_span_hash_collision_audit's shape (r11 verdict item 5): the
        # hash-keyed positional 8-gram pass (linear), candidate keys at
        # doc-frequency >= 2, then the exact-string verify leg — a
        # semi-join probe whose shuffle carries only the DUPLICATED
        # gram subset's strings (the generator's ~8% collapsed-seed dup
        # rate), never the unique-gram tail. Expected ~linear per 10x
        # with the verify leg a constant fraction set by the dup rate.
        d = _docs(spark, n)
        ws = F.split(F.col("text"), " ")
        g = d.select(
            "doc_id", F.explode(minhash.word_shingles(ws, 8)).alias("gram")
        ).select("gram", minhash.md5_hash60(F.col("gram")).alias("gh"))
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
        _force(
            ver.agg(
                F.count("*").alias("n_candidate_keys"),
                F.sum(F.when(F.col("n_strings") > 1, 1).otherwise(0)).alias(
                    "n_collision_keys"
                ),
            )
        )

    cases.append(("span_hash_audit", sizes_big, span_audit_case))

    results = {}
    for name, sizes, fn in cases:
        if only and name not in only:
            continue
        fn(sizes[0] // 10)  # warm: JIT, UDF workers, codegen
        times = []
        for n in sizes:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(n)
            dt = time.perf_counter() - t0
            times.append(round(dt, 2))
            print(f"{name:22s} n={n:>10,}  {dt:8.2f}s", flush=True)
        ratio = round(times[-1] / max(times[0], 1e-9), 1)
        step = sizes[-1] / sizes[0]
        results[name] = {"sizes": sizes, "sec": times, "ratio": ratio, "input_x": step}
        print(f"{name:22s} {step:.0f}x input -> {ratio}x runtime", flush=True)
    return results


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--quick", action="store_true")
    ap.add_argument("--cases", default=None, help="comma-separated case names")
    args = ap.parse_args()
    spark = get_spark("scale-sweep")
    if args.quick:
        small, big = [10_000, 100_000], [100_000, 1_000_000]
    else:
        small, big = [20_000, 200_000], [1_000_000, 10_000_000]
    only = set(args.cases.split(",")) if args.cases else None
    results = sweep(spark, small, big, only=only)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
