"""Batch-equivalent oracle queries for the streaming operators.

Each query runs the *same* aggregation function the streaming jobs use
(duva_spark.streaming.windows) in batch mode — Catalyst produces the
identical aggregation plan modulo the watermark operator — and checks it
against a DuckDB oracle. True streaming execution (watermarks,
AvailableNow triggers, stateful dedup) is exercised in
tests/test_streaming.py where a memory sink can be observed.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duva_spark.catalog import load_table
from duva_spark.queries import REGISTRY, llm_q, money_cents, register
from duva_spark.streaming import windows

_EPOCH = "CAST(floor(epoch({x})) AS BIGINT)"


@register(
    "q_stream_tumbling",
    oracle=f"""
    SELECT {_EPOCH.format(x="time_bucket(INTERVAL '1 day', ts)")} AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0, 4) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    headline=True,
    description="Tumbling 1-day windows per event_type (streaming window agg, batch-checked).",
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.tumbling_window_agg(load_table(spark, sf_dir, "events"), "1 day")


@register(
    "q_stream_sliding",
    oracle=f"""
    SELECT {_EPOCH.format(x="time_bucket(INTERVAL '30 minutes', ts) - o * INTERVAL '30 minutes'")} AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events CROSS JOIN (VALUES (0), (1)) offsets(o)
    GROUP BY 1, 2
    """,
    description="Sliding 1h/30min windows: every event counted in both overlapping windows.",
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.sliding_window_agg(
        load_table(spark, sf_dir, "events"), "1 hour", "30 minutes"
    )


@register(
    "q_stream_sessions",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM gaps
    )
    SELECT user_id,
           {_EPOCH.format(x="MIN(ts)")} AS session_start,
           COUNT(*) AS n_events,
           ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0, 4) AS total_value
    FROM sess
    GROUP BY user_id, sid
    """,
    headline=True,
    description="Gap-based sessionization (30 min) via native session_window; oracle replays lag/cumsum semantics.",
)
def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.session_agg(load_table(spark, sf_dir, "events"), "30 minutes")


@register(
    "q_stream_true_tumbling",
    oracle=REGISTRY["q_stream_tumbling"].oracle,
    description=(
        "TRUE streaming execution under the value-hash gate: a real "
        "readStream file source -> watermarked tumbling window agg -> "
        "memory sink with Trigger.AvailableNow, run to completion inside "
        "the query. A single in-order replay drops nothing at the "
        "watermark, so the streaming result equals the batch oracle "
        "exactly — the strongest streaming/batch unification evidence "
        "the driver can check."
    ),
)
def q_stream_true_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.streaming.jobs import read_events_stream, run_available_now

    stream = read_events_stream(spark, sf_dir)
    # stable sink name: re-runs replace the view instead of accumulating
    return run_available_now(windows.tumbling_window_agg(stream, "1 day"), "q_true_tumble")


@register(
    "q_stream_true_sessions",
    oracle=REGISTRY["q_stream_sessions"].oracle,
    description=(
        "TRUE streaming session windows under the value-hash gate: real "
        "readStream -> session_window merging-state agg -> memory sink, "
        "Trigger.AvailableNow, run to completion inside the query. The "
        "single in-order replay makes the stateful session merge equal "
        "the batch gaps-and-islands oracle exactly."
    ),
)
def q_stream_true_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.streaming.jobs import read_events_stream, run_available_now

    stream = read_events_stream(spark, sf_dir)
    return run_available_now(windows.session_agg(stream, "30 minutes"), "q_true_sess")


@register(
    "q_stream_true_sliding",
    oracle=REGISTRY["q_stream_sliding"].oracle,
    description=(
        "TRUE streaming sliding windows (1h every 30min) under the "
        "value-hash gate: every event lands in both overlapping windows "
        "through a real readStream -> memory-sink AvailableNow run."
    ),
)
def q_stream_true_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.streaming.jobs import read_events_stream, run_available_now

    stream = read_events_stream(spark, sf_dir)
    return run_available_now(
        windows.sliding_window_agg(stream, "1 hour", "30 minutes"), "q_true_slide"
    )


@register(
    "q_stream_true_interval_join",
    oracle=f"""
    SELECT p.user_id,
           COUNT(*) AS n_pairs,
           CAST(MIN(v.event_id) AS BIGINT) AS first_view,
           CAST(MAX(p.event_id) AS BIGINT) AS last_purchase
    FROM events p JOIN events v
      ON p.user_id = v.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND v.ts BETWEEN p.ts - INTERVAL '1 hour' AND p.ts
    GROUP BY p.user_id
    """,
    description=(
        "TRUE stream-stream interval join under the value-hash gate: two "
        "real readStream legs (purchases and views, both watermarked 2h) "
        "joined on user with a 1-hour interval condition, run to "
        "completion with Trigger.AvailableNow into an append memory sink, "
        "then aggregated per user in batch. The interval bound is what "
        "keeps join state finite on an unbounded stream — state for a "
        "view row is dropped once the watermark passes its 1-hour "
        "window, so executor memory is O(events-in-window), not O(stream). "
        "A single in-order replay drops nothing, so the result equals the "
        "batch join oracle exactly."
    ),
)
def q_stream_true_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from duva_spark.streaming.jobs import read_events_stream, run_available_now

    purchases = (
        read_events_stream(spark, sf_dir, watermark="2 hours")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    views = (
        read_events_stream(spark, sf_dir, watermark="2 hours")
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("view_id"),
        )
    )
    cond = F.expr("p_user = v_user AND v_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts")
    pairs = run_available_now(
        purchases.join(views, cond, "inner").select("p_user", "purchase_id", "view_id"),
        "q_true_ssjoin",
        output_mode="append",
    )
    return pairs.groupBy(F.col("p_user").alias("user_id")).agg(
        F.count("*").alias("n_pairs"),
        F.min("view_id").alias("first_view"),
        F.max("purchase_id").alias("last_purchase"),
    )


@register(
    "q_stream_true_stateful",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0, 4) AS total_value
    FROM events
    GROUP BY user_id
    """,
    description=(
        "TRUE custom stateful streaming under the value-hash gate: "
        "applyInPandasWithState keeps an Arrow-batched (count, sum) "
        "state per user, run to completion with Trigger.AvailableNow "
        "into an update-mode memory sink; the final emission per user "
        "(highest running count) equals the batch aggregate exactly. "
        "This is the escape-hatch operator for stateful semantics "
        "watermarked aggregations can't express — state partitioned by "
        "key, idle keys GC-able via timeouts, per-trigger Arrow batches "
        "(never row-at-a-time Python)."
    ),
)
def q_stream_true_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from duva_spark.streaming.jobs import read_events_stream, run_available_now
    from duva_spark.streaming.stateful import running_user_totals

    stream = read_events_stream(spark, sf_dir, watermark="1 hour").select("user_id", "value")
    out = run_available_now(
        running_user_totals(stream), "q_true_state", output_mode="update"
    )
    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", F.round("total_value", 4).alias("total_value"))
    )


@register(
    "q_stream_true_static_join",
    oracle=f"""
    SELECT {_EPOCH.format(x="time_bucket(INTERVAL '1 day', ts)")} AS window_start,
           c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           ROUND(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) / 100.0, 4) AS total_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
    description=(
        "TRUE stream-static enrichment under the value-hash gate: the "
        "events stream joins the static customer dimension (the "
        "canonical production shape — enrich a stream with a slowly-"
        "changing reference table), then aggregates per day x segment. "
        "The static side broadcasts per micro-batch — no stream-side "
        "shuffle for the join, no join state at all (static side is "
        "re-read, not buffered); watermark + AvailableNow run to "
        "completion inside the query. A single in-order replay makes "
        "the result equal the batch join oracle exactly."
    ),
)
def q_stream_true_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from duva_spark.streaming.jobs import read_events_stream, run_available_now

    stream = read_events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    enriched = stream.join(F.broadcast(dim), "user_id")
    agg = (
        enriched.groupBy(F.window("ts", "1 day"), "segment")
        .agg(F.count("*").alias("n_events"), F.round(F.sum(money_cents(F.col("value"))) / 100.0, 4).alias("total_value"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "segment",
            "n_events",
            "total_value",
        )
    )
    return run_available_now(agg, "q_true_static_join")


@register(
    "q_stream_true_dedup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0, 4) AS total_value
    FROM events
    GROUP BY event_type
    """,
    description=(
        "TRUE streaming exactly-once dedup under the value-hash gate: "
        "the event stream UNIONed with itself (every event arrives "
        "twice, the at-least-once delivery a Kafka consumer sees) -> "
        "dropDuplicatesWithinWatermark on the event key -> append-mode "
        "memory sink, Trigger.AvailableNow, then a batch census over "
        "the sink. Both stream legs read the same files at the same "
        "pace, so duplicate pairs land inside one microbatch and the "
        "watermark-bounded state removes every one — the result equals "
        "the batch oracle over the ORIGINAL events exactly. State is "
        "keyed by event id and dropped once the watermark passes: "
        "bounded by arrival spread, not stream length — the streaming "
        "sibling of llm/dedup.dedup_exact."
    ),
)
def q_stream_true_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from duva_spark.streaming.jobs import (
        dedup_within_watermark,
        read_events_stream,
        run_available_now,
    )

    doubled = read_events_stream(spark, sf_dir).unionByName(
        read_events_stream(spark, sf_dir)
    )
    ded = dedup_within_watermark(doubled, ["event_id"]).select(
        "event_id", "event_type", "value"
    )
    sunk = run_available_now(ded, "q_true_dedup", output_mode="append")
    return sunk.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(money_cents(F.col("value"))) / 100.0, 4).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# TRUE streaming incremental fuzzy dedup (the production ingest pipeline)
# ---------------------------------------------------------------------------


@register(
    "q_stream_true_incremental_dedup",
    # identical semantics to the batch operator by construction — reuse
    # its verified oracle text verbatim (the q_ann_recall composition
    # pattern): all-pairs LSH, keep exactly the cross-split pairs
    oracle=REGISTRY["q_incremental_dedup"].oracle,
    description=(
        "TRUE streaming incremental fuzzy dedup under the value-hash "
        "gate — the composition a production ingest pipeline runs: the "
        "~20% md5-slice of documents arrives as a REAL readStream file "
        "source; the other 80% is the corpus whose MinHash/LSH band "
        "index is built ONCE (minhash.corpus_index — at 100 TB the "
        "persisted, appended-to signature table); each micro-batch's "
        "band signatures equi-join the index (never corpus×corpus, "
        "never batch×batch), verified matches merge into an idempotent "
        "keyed upsert sink (exactly-once to storage, the same recipe "
        "the crash-restore test exercises), Trigger.AvailableNow runs "
        "to completion, and the sink is read back as the result. Equals "
        "the batch q_incremental_dedup value-for-value."
    ),
)
def q_stream_true_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import hashlib
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from duva_spark.llm import minhash
    from duva_spark.sinks import merge_upsert, read_dataset
    from duva_spark.streaming.jobs import read_documents_stream

    h = minhash.md5_hash60(F.col("doc_id").cast("string"))
    is_new = (h % 10) < 2
    corpus = load_table(spark, sf_dir, "documents").filter(~is_new)
    index = minhash.corpus_index(corpus, "doc_id", "text")

    stream = read_documents_stream(spark, sf_dir).filter(is_new)
    # one deterministic scratch dir per (process, sf_dir), wiped at
    # entry: repeated oracle/bench runs in a process reuse it instead of
    # leaking a fresh mkdtemp per invocation (the returned DataFrame
    # reads the sink lazily, so the dir cannot be removed on exit). The
    # PID component keeps two CONCURRENT runs over the same sf_dir from
    # clobbering each other's sink/checkpoint mid-stream (r7 ADVICE).
    suffix = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    tmp = tempfile.gettempdir()
    # reclaim siblings left by FINISHED processes (each PID leaks one
    # dir otherwise — the per-invocation-leak bug the deterministic
    # path fixed, reintroduced per-process by the PID component)
    import glob

    for stale in glob.glob(os.path.join(tmp, f"duva_incr_dedup_*_{suffix}")):
        try:
            pid = int(os.path.basename(stale).split("_")[3])
            os.kill(pid, 0)  # raises if the owner is gone
        except (ValueError, IndexError, ProcessLookupError):
            shutil.rmtree(stale, ignore_errors=True)
        except PermissionError:
            pass  # live process owned by someone else
    td = os.path.join(tmp, f"duva_incr_dedup_{os.getpid()}_{suffix}")
    shutil.rmtree(td, ignore_errors=True)
    sink, ckpt = os.path.join(td, "matches"), os.path.join(td, "ckpt")

    def write_batch(bdf: DataFrame, epoch_id: int) -> None:
        m = minhash.delta_pairs_against_index(
            bdf, index, "doc_id", "text", threshold=0.5
        ).withColumn("pair_key", F.concat_ws("_", "new_id", "corpus_id"))
        merge_upsert(bdf.sparkSession, m, sink, "pair_key")

    from duva_spark.streaming.jobs import _local_checkpoint_fastpath

    _local_checkpoint_fastpath(spark)
    q = (
        stream.writeStream.outputMode("update")
        .foreachBatch(write_batch)
        .queryName("q_true_incr_dedup")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_dataset(spark, sink).select("new_id", "corpus_id", "jaccard")


# ---------------------------------------------------------------------------
# TRUE streaming model-in-the-loop quality filter
# ---------------------------------------------------------------------------


def _quality_stream_oracle() -> str:
    """The shared unrolled-GD chain's final scoring pass, thresholded
    and censused per source — the batch twin the streaming filter must
    equal value-for-value."""
    t = llm_q._LR_ROUNDS - 1
    ctes = llm_q._lr_ctes()
    ctes.append(f"kept AS (SELECT doc_id, p FROM p{t} WHERE p >= 0.5)")
    ctes.append(
        "tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total"
        " FROM documents GROUP BY source)"
    )
    ctes.append(
        "ks AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept,"
        " ROUND(CAST(SUM(CAST(FLOOR(k.p * 1e6 + 0.5) AS HUGEINT)) AS DOUBLE)"
        " / (CAST(COUNT(*) AS DOUBLE) * 1e6), 6) AS mean_p_kept"
        " FROM kept k JOIN documents d USING (doc_id) GROUP BY d.source)"
    )
    return (
        "WITH " + ",\n    ".join(ctes)
        + """
    SELECT tot.source, tot.n_total, COALESCE(ks.n_kept, 0) AS n_kept,
           ROUND(COALESCE(ks.n_kept, 0) * 1.0 / tot.n_total, 6) AS keep_rate,
           ks.mean_p_kept
    FROM tot LEFT JOIN ks USING (source)
    """
    )


@register(
    "q_stream_true_quality_filter",
    oracle=_quality_stream_oracle(),
    description=(
        "TRUE streaming quality filter with a trained model in the "
        "loop — the online half of the FineWeb/DCLM recipe: the LR "
        "quality classifier trains OFFLINE on the static corpus (the "
        "shared bounded-GD chain, identical constants to "
        "q_lr_quality_distill), then documents arrive as a REAL "
        "readStream file source and every micro-batch is featurized, "
        "scored under the broadcast weights, thresholded at p >= 0.5, "
        "and the keepers upsert into an idempotent doc_id-keyed sink "
        "(exactly-once, the incremental-dedup recipe). "
        "Trigger.AvailableNow runs to completion and the sink is read "
        "back for a per-source census: kept volume, keep rate vs the "
        "static totals, and the mean kept probability accumulated on "
        "the exact 1e-6 grid (money_cents). Scoring is stateless per "
        "batch — model state is 258 broadcast floats, no stream-side "
        "aggregation state at all — so the operator scales with "
        "arrival rate, not corpus size. Equals the batch chain's "
        "final scoring pass value-for-value (the oracle reuses the "
        "shared unrolled-GD CTEs verbatim)."
    ),
)
def q_stream_true_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import hashlib
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from duva_spark.llm import logreg
    from duva_spark.sinks import merge_upsert, read_dataset
    from duva_spark.streaming.jobs import read_documents_stream

    docs = load_table(spark, sf_dir, "documents")
    lab = llm_q._lab(docs)
    _, w = llm_q._lr_train(lab, llm_q._lr_features(lab))

    stream = read_documents_stream(spark, sf_dir)
    suffix = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    tmp = tempfile.gettempdir()
    for stale in glob.glob(os.path.join(tmp, f"duva_qfilter_*_{suffix}")):
        try:
            pid = int(os.path.basename(stale).split("_")[2])
            os.kill(pid, 0)
        except (ValueError, IndexError, ProcessLookupError):
            shutil.rmtree(stale, ignore_errors=True)
        except PermissionError:
            pass
    td = os.path.join(tmp, f"duva_qfilter_{os.getpid()}_{suffix}")
    shutil.rmtree(td, ignore_errors=True)
    sink, ckpt = os.path.join(td, "kept"), os.path.join(td, "ckpt")

    def write_batch(bdf: DataFrame, epoch_id: int) -> None:
        blab = bdf.select("doc_id", "source", "text", F.lit(False).alias("y"))
        scored = logreg.logreg_score(blab, "doc_id", "y", "text", w, n_buckets=llm_q._LR_B)
        kept = (
            scored.filter(F.col("p") >= 0.5)
            .select(F.col("_id").alias("doc_id"), "p")
            .join(blab.select("doc_id", "source"), "doc_id")
        )
        merge_upsert(bdf.sparkSession, kept, sink, "doc_id")

    from duva_spark.streaming.jobs import _local_checkpoint_fastpath

    _local_checkpoint_fastpath(spark)
    q = (
        stream.writeStream.outputMode("update")
        .foreachBatch(write_batch)
        .queryName("q_true_quality_filter")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Degenerate-input guard (ADVICE r8): if no batch ever kept a
    # document the sink holds no schema-bearing part file and the read
    # raises UNABLE_TO_INFER_SCHEMA — fall back to an empty frame so
    # the census reports all-zero keeps. Any other read error (a
    # corrupt part file, a missing sink) raises.
    try:
        kept = read_dataset(spark, sink)
    except AnalysisException as e:
        if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
            raise
        kept = spark.createDataFrame([], "doc_id long, p double, source string")
    dec = "decimal(38,0)"
    ks = kept.groupBy("source").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.round(
            F.sum(F.floor(F.col("p") * 1e6 + 0.5).cast(dec)).cast("double")
            / (F.count("*").cast("double") * 1e6),
            6,
        ).alias("mean_p_kept"),
    )
    tot = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_total"))
    return tot.join(ks, "source", "left").select(
        "source",
        "n_total",
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        F.round(
            F.coalesce(F.col("n_kept"), F.lit(0)) * 1.0 / F.col("n_total"), 6
        ).alias("keep_rate"),
        "mean_p_kept",
    )


# ---------------------------------------------------------------------------
# TRUE streaming HLL sketch build (round 11 — the ingest path of
# q_hll_merge_rollup's mergeable-sketch story)
# ---------------------------------------------------------------------------


def _stream_hll_oracle() -> str:
    from duva_spark.queries.llm_q import _HLL_M, _hll_est_sql, _hll_price_ctes

    bh = "CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)"
    return f"""
    WITH g AS (
      SELECT source,
             unnest(list_transform(range(1, len(ws) - 1),
                    i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS g
      FROM (SELECT source, string_split(text, ' ') AS ws FROM documents)
      WHERE len(ws) >= 3
    ),
    r AS (
      SELECT source, ({bh}) % {_HLL_M} AS reg,
             CASE WHEN ({bh}) // {_HLL_M} = 0 THEN 53
                  ELSE 53 - length(bin(({bh}) // {_HLL_M})) END AS rho
      FROM g
    ),
    sk AS (SELECT source, reg, MAX(rho) AS m FROM r GROUP BY source, reg),
    {_hll_price_ctes()}
    SELECT source, f AS n_regs,
           ROUND({_hll_est_sql("f", "sd")}, 4) AS hll_est
    FROM s
    """


@register(
    "q_stream_true_hll_sketch",
    oracle=_stream_hll_oracle(),
    description=(
        "TRUE streaming HLL sketch build under the value-hash gate — "
        "the INGEST path of the mergeable-sketch story "
        "(q_hll_merge_rollup proves batch shard-merge; this proves the "
        "streaming build): documents arrive through a real readStream "
        "file source, the per-(source, register) MAX(rho) aggregation "
        "runs as a streaming complete-mode agg — state bounded by "
        "256 registers x sources at ANY stream length, the textbook "
        "use of a mergeable summary in a stream — through "
        "Trigger.AvailableNow into a memory sink, and the final "
        "register table is priced into per-source estimates with the "
        "same exact-integer arithmetic as the batch audit. MAX is "
        "idempotent and associative, so the micro-batch replay is "
        "bit-identical to the batch sketch — which is exactly what the "
        "DuckDB oracle checks. 100 TB: this is how a continuous "
        "pipeline maintains distinct-gram telemetry without ever "
        "running a COUNT(DISTINCT) — bounded state, bounded exchange, "
        "estimates on demand."
    ),
)
def q_stream_true_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import minhash
    from duva_spark.queries.llm_q import _HLL_M, hll_price_registers
    from duva_spark.streaming.jobs import read_documents_stream, run_available_now

    stream = read_documents_stream(spark, sf_dir)
    grams = stream.select(
        "source", F.split(F.col("text"), " ").alias("ws")
    ).select(
        "source",
        F.explode(
            F.expr(
                "CASE WHEN size(ws) >= 3 THEN "
                "transform(sequence(0, size(ws) - 3),"
                " i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2])) "
                "ELSE array() END"
            )
        ).alias("g"),
    )
    h = minhash.md5_hash60(F.col("g"))
    v = F.shiftright(h, 8)
    rho = F.when(v == 0, F.lit(53)).otherwise(F.lit(53) - F.length(F.bin(v)))
    sk = (
        grams.select("source", (h % _HLL_M).alias("reg"), rho.alias("rho"))
        .groupBy("source", "reg")
        .agg(F.max("rho").alias("m"))
    )
    regs = run_available_now(sk, "q_true_hll")
    return hll_price_registers(regs)


# ---------------------------------------------------------------------------
# TRUE streaming CMS sketch build (round 12 — completes the
# streaming-sketch symmetry: HLL has batch + merge-rollup + streaming
# build; this is CMS's streaming build)
# ---------------------------------------------------------------------------


def _stream_cms_oracle() -> str:
    """DuckDB twin: the batch D×W sketch and heavy-hitter point queries
    of q_cms_frequency_audit plus a register-identity leg. The Spark side
    compares the STREAM-built sketch bucket-by-bucket against the batch
    sketch; the oracle's identity leg compares the batch sketch against
    itself — so any stream/batch divergence shows up as a nonzero
    n_bucket_mismatch on the Spark side and fails the value-hash gate.
    """
    ident = """ident AS (
      SELECT CAST(SUM(CASE WHEN a.c IS DISTINCT FROM b.c THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_bucket_mismatch
      FROM sk a FULL OUTER JOIN sk b
        ON a.row = b.row AND a.bucket = b.bucket
    )"""
    return (
        "\n    WITH " + ",\n    ".join([*llm_q._cms_ctes(), ident])
        + """
    SELECT hh.word AS word, hh.exact_cnt AS exact_cnt, est.cms_est AS cms_est,
           est.cms_est - hh.exact_cnt AS overestimate,
           ident.n_bucket_mismatch AS n_bucket_mismatch,
           ident.n_bucket_mismatch = 0 AS sketch_identical
    FROM hh JOIN est USING (word) CROSS JOIN ident
    """
    )


@register(
    "q_stream_true_cms_sketch",
    oracle=_stream_cms_oracle(),
    description=(
        "True streaming Count-Min Sketch build under the value-hash gate; "
        "completes the streaming-sketch symmetry next to "
        "q_stream_true_hll_sketch: documents arrive through a real "
        "readStream file source, the token stream explodes onto the FIXED "
        "D=4 x W=1024 bucket universe, and the per-(row, bucket) COUNT "
        "runs as a streaming complete-mode aggregation — SUMs are "
        "mergeable exactly like the HLL MAX, so state is bounded by D*W = "
        "4096 rows at ANY stream length — through Trigger.AvailableNow "
        "into a memory sink. The stream-built sketch is then (1) compared "
        "BUCKET BY BUCKET (null-safe full-outer join) against the batch "
        "sketch (n_bucket_mismatch = 0 proven on data, not asserted — "
        "count addition is associative/commutative so micro-batch replay "
        "is bit-identical by construction) and (2) point-queried for "
        "every exact heavy hitter (> n/32), reporting the one-sided CMS "
        "overestimate from the STREAM sketch. 100 TB: this is how a "
        "continuous pipeline maintains token-frequency telemetry without "
        "a word count's near-unique-tail shuffle — bounded state, bounded "
        "exchange, estimates on demand."
    ),
)
def q_stream_true_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duva_spark.llm import cms
    from duva_spark.operators.heavy_hitters import heavy_hitters
    from duva_spark.streaming.jobs import read_documents_stream, run_available_now

    stream = read_documents_stream(spark, sf_dir)
    swords = stream.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
    # cms_sketch is a pure select/explode/groupBy-count chain, so the
    # SAME builder runs on the streaming frame (complete-mode agg onto
    # the fixed D*W key universe) as on the batch frame below.
    sk_stream = run_available_now(cms.cms_sketch(swords, "word"), "q_true_cms")

    docs = load_table(spark, sf_dir, "documents")
    bwords = docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
    hh = heavy_hitters(bwords, "word", k=32).withColumnRenamed("cnt", "exact_cnt")
    sk_batch = cms.cms_sketch(bwords, "word")
    ident = (
        sk_stream.withColumnRenamed("c", "sc")
        .join(sk_batch.withColumnRenamed("c", "bc"), ["row", "bucket"], "full_outer")
        .agg(
            F.sum(F.when(~F.expr("sc <=> bc"), 1).otherwise(0))
            .cast("long")
            .alias("n_bucket_mismatch")
        )
    )
    est = cms.cms_estimate(sk_stream, hh.select("word"), "word")
    return (
        hh.join(est, "word")
        .crossJoin(F.broadcast(ident))
        .select(
            "word",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overestimate"),
            "n_bucket_mismatch",
            (F.col("n_bucket_mismatch") == 0).alias("sketch_identical"),
        )
    )
