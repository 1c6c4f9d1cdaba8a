"""Real Structured Streaming runs (memory sink, Trigger.AvailableNow):
batch-equivalence of windowed aggs and stateful dedup — the streaming
semantics the batch oracle can't observe."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from duva_spark.catalog import load_table
from duva_spark.sinks import read_dataset
from duva_spark.streaming import (
    read_events_stream,
    run_available_now,
    session_agg,
    tumbling_window_agg,
)
from duva_spark.streaming.jobs import dedup_within_watermark


def _batch_events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def test_tumbling_stream_equals_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir, watermark="1 hour")
    result = run_available_now(tumbling_window_agg(stream, "1 day"), "t_tumble")
    batch = tumbling_window_agg(_batch_events(spark, sf_dir), "1 day")
    assert sorted(map(tuple, result.collect())) == sorted(map(tuple, batch.collect()))


def test_session_stream_equals_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir, watermark="2 hours")
    result = run_available_now(session_agg(stream, "30 minutes"), "t_sess")
    batch = session_agg(_batch_events(spark, sf_dir), "30 minutes")
    assert sorted(map(tuple, result.collect())) == sorted(map(tuple, batch.collect()))


def test_streaming_dedup_within_watermark(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir, watermark="1 hour")
    deduped = dedup_within_watermark(stream, ["user_id", "event_type"])
    result = run_available_now(
        deduped.select("user_id", "event_type"), "t_dedup", output_mode="append"
    )
    n_stream = result.distinct().count()
    n_batch = (
        _batch_events(spark, sf_dir).select("user_id", "event_type").distinct().count()
    )
    # watermark-bounded dedup can only keep ≥ the fully-deduped count and
    # ≤ the raw count; with all data in one AvailableNow batch it equals
    # the exact distinct count
    assert n_stream == n_batch


def test_late_data_dropped_behind_watermark(spark, tmp_path):
    """Events behind the watermark are excluded from closed windows."""
    src = tmp_path / "late"
    src.mkdir()
    rows1 = [(i, f"2024-01-01 10:{m:02d}:00", 1, "click", 1.0) for i, m in enumerate(range(0, 50, 10))]
    spark.createDataFrame(
        rows1, "event_id long, ts_s string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s").write.mode(
        "overwrite"
    ).parquet(str(src))

    stream = (
        spark.readStream.schema("event_id long, user_id long, event_type string, value double, ts timestamp")
        .parquet(str(src))
        .withWatermark("ts", "10 minutes")
    )
    agg = (
        stream.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("ws"), "event_type", "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_late")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # append mode emits only windows closed by the watermark: the 10:00
    # hour window is NOT closed (max ts 10:40, watermark 10:30 < 11:00),
    # so nothing is emitted yet — late-data semantics are active.
    assert spark.sql("SELECT * FROM t_late").count() == 0


def test_stateful_running_totals(spark, sf_dir):
    """applyInPandasWithState: running per-user totals equal the batch
    aggregate once all data is processed."""
    from duva_spark.streaming.stateful import running_user_totals

    stream = read_events_stream(spark, sf_dir, watermark="1 hour").select("user_id", "value")
    out = running_user_totals(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("t_state")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # last emitted row per user == final running total
    final = spark.sql(
        """
        SELECT user_id, n_events, total_value FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
          FROM t_state) WHERE rn = 1
        """
    )
    batch = (
        _batch_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
    )
    got = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in final.collect()}
    want = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in batch.collect()}
    assert got == want


def test_foreach_batch_upsert_sink(spark, sf_dir, tmp_path):
    """Streaming aggregation lands in a Parquet dataset via the
    idempotent foreachBatch merge — rerunning the same data leaves the
    dataset unchanged (exactly-once to storage)."""
    from duva_spark.streaming.jobs import stream_upsert_sink

    out = str(tmp_path / "user_totals")

    def run(name):
        stream = read_events_stream(spark, sf_dir, watermark="1 hour")
        totals = stream.groupBy("user_id").agg(
            F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value")
        )
        stream_upsert_sink(
            totals, out, "user_id", query_name=name,
            checkpoint=str(tmp_path / f"ckpt_{name}"),
        )

    run("up1")
    first = sorted(map(tuple, read_dataset(spark, out).collect()))
    run("up2")  # fresh checkpoint → same batches replayed → idempotent merge
    second = sorted(map(tuple, read_dataset(spark, out).collect()))
    assert first == second
    batch = (
        _batch_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
    )
    assert first == sorted(map(tuple, batch.collect()))


def test_stream_stream_interval_join(spark, sf_dir):
    """Stream-stream inner join with watermarks on both sides and a time
    interval condition (view within 1 hour before the purchase) — the
    state-bounded join shape for correlating two live event streams.
    Verified against the identical batch join."""
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
    out = run_available_now(
        purchases.join(views, cond, "inner").select("purchase_id", "view_id"),
        "ss_interval_join",
        output_mode="append",
    )
    got = {(r.purchase_id, r.view_id) for r in out.collect()}

    ev = _batch_events(spark, sf_dir)
    bp = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    bv = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    want = {
        (r.purchase_id, r.view_id)
        for r in bp.join(bv, cond, "inner").select("purchase_id", "view_id").collect()
    }
    assert got == want and len(want) > 0


def test_rocksdb_state_store_provider(spark, sf_dir):
    """The same windowed aggregation runs under the RocksDB state store
    provider — the production backend once streaming state outgrows the
    JVM heap (the default HDFS-backed store keeps every key in memory;
    RocksDB spills to local disk with incremental checkpoints). Proves
    the engine's state backend is a config knob, not a rewrite."""
    from duva_spark.streaming.jobs import read_events_stream, run_available_now
    from duva_spark.streaming.windows import tumbling_window_agg

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = read_events_stream(spark, sf_dir)
        out = run_available_now(tumbling_window_agg(stream, "1 day"), "t_rocksdb")
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 4))
            for r in out.collect()
        }
        batch = tumbling_window_agg(_batch_events(spark, sf_dir), "1 day")
        want = {
            (r["window_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 4))
            for r in batch.collect()
        }
        assert got == want and len(want) > 0
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_streaming_progress_listener_records_batches(spark, sf_dir):
    """The ProgressRecorder listener sees the AvailableNow run's batches
    with real row counts — the observability contract for production
    streams (feeds the same /metrics surface as sync counters)."""
    import time as _time

    from duva_spark.streaming.jobs import (
        ProgressRecorder,
        read_events_stream,
        run_available_now,
    )
    from duva_spark.streaming.windows import tumbling_window_agg

    rec = ProgressRecorder()
    listener = rec.listener(spark)
    spark.streams.addListener(listener)
    try:
        stream = read_events_stream(spark, sf_dir)
        run_available_now(tumbling_window_agg(stream, "1 day"), "t_listener")
        # listener delivery is async; give the event bus a moment
        for _ in range(40):
            if any(e["kind"] == "progress" and e["num_input_rows"] > 0 for e in rec.events):
                break
            _time.sleep(0.25)
    finally:
        spark.streams.removeListener(listener)
    rows = sum(e.get("num_input_rows", 0) for e in rec.events if e["kind"] == "progress")
    assert rows > 0
    assert any(e["kind"] == "started" for e in rec.events)


@pytest.mark.slow
def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Kill a streaming query mid-run AFTER a foreachBatch partial commit
    (the merge for epoch 1 lands in the sink, but the crash happens
    before Spark records the epoch's offset commit), then restart from
    the same checkpoint with the production stream_upsert_sink. Spark
    replays the uncommitted epoch; the idempotent merge absorbs the
    replay; the final sink must equal the batch oracle exactly —
    exactly-once to storage across a crash/restore (r5 verdict item 7)."""
    import pytest

    from duva_spark.sinks import merge_upsert
    from duva_spark.streaming.jobs import stream_upsert_sink

    src = str(tmp_path / "src")
    # three single-file appends → with maxFilesPerTrigger=1 the stream
    # sees exactly three micro-batches (epochs 0, 1, 2)
    for i in range(3):
        spark.createDataFrame(
            [(i * 10 + j, f"v{i}_{j}") for j in range(5)], "k long, payload string"
        ).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def make_stream():
        return (
            spark.readStream.schema("k long, payload string")
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(src)
        )

    crash_flag = tmp_path / "crashed_once"

    def write_batch(bdf, epoch_id):
        merge_upsert(bdf.sparkSession, bdf, out, "k")
        if epoch_id == 1 and not crash_flag.exists():
            crash_flag.write_text("x")
            raise RuntimeError("injected crash after partial commit")

    q = (
        make_stream()
        .writeStream.outputMode("update")
        .foreachBatch(write_batch)
        .queryName("restart_run1")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    assert crash_flag.exists()
    # partial state on disk: epochs 0 and 1 merged (10 rows), epoch 2 not
    assert read_dataset(spark, out).count() == 10

    # restart from the SAME checkpoint via the shipped sink recipe —
    # epoch 1 replays (offset never committed), merge is idempotent
    stream_upsert_sink(
        make_stream(), out, "k", query_name="restart_run2", checkpoint=ckpt
    )

    got = sorted(map(tuple, read_dataset(spark, out).select("k", "payload").collect()))
    want = sorted(map(tuple, spark.read.parquet(src).select("k", "payload").collect()))
    assert got == want  # value-level equality, no dupes, no gaps
    assert len(got) == 15


@pytest.mark.slow
def test_incremental_dedup_stream_crash_restore(spark, tmp_path):
    """The streaming fuzzy-dedup pipeline (micro-batch band signatures
    joined against the persisted corpus index, idempotent keyed upsert
    sink) must survive a mid-run crash: epoch 1's merge lands but the
    offset commit doesn't, the restart replays it, and the final sink
    equals the batch delta_pairs_against_index result value-for-value."""
    import pytest

    from duva_spark.llm import minhash
    from duva_spark.sinks import merge_upsert

    corpus_rows = [
        (100 + i, f"alpha beta gamma delta epsilon zeta token{i}") for i in range(6)
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    index = minhash.corpus_index(corpus, "doc_id", "text")

    # two single-file arrival batches; each contains one near-dup of the
    # corpus (shares the 6-word prefix) and one unrelated doc
    src = str(tmp_path / "arrivals")
    batches = [
        [(1, "alpha beta gamma delta epsilon zeta extra1"),
         (2, "totally unrelated words nothing shared here at all")],
        [(3, "alpha beta gamma delta epsilon zeta extra2"),
         (4, "different vocabulary again nothing in common whatsoever")],
    ]
    for rows in batches:
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    crash_flag = tmp_path / "crashed_once"

    def write_batch(bdf, epoch_id):
        from pyspark.sql import functions as F

        m = minhash.delta_pairs_against_index(
            bdf, index, "doc_id", "text", threshold=0.3
        ).withColumn("pair_key", F.concat_ws("_", "new_id", "corpus_id"))
        merge_upsert(bdf.sparkSession, m, out, "pair_key")
        if epoch_id == 1 and not crash_flag.exists():
            crash_flag.write_text("x")
            raise RuntimeError("injected crash after partial commit")

    def make_stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(src)
        )

    def start(name):
        return (
            make_stream()
            .writeStream.outputMode("update")
            .foreachBatch(write_batch)
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start("incr_dedup_run1")
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    assert crash_flag.exists()

    q2 = start("incr_dedup_run2")
    q2.awaitTermination()

    got = sorted(
        map(tuple, read_dataset(spark, out).select("new_id", "corpus_id", "jaccard").collect())
    )
    arrivals = spark.createDataFrame(
        [r for b in batches for r in b], "doc_id long, text string"
    )
    want = sorted(
        map(
            tuple,
            minhash.delta_pairs_against_index(
                arrivals, index, "doc_id", "text", threshold=0.3
            ).collect(),
        )
    )
    assert got == want  # no dupes from the replayed epoch, no gaps
    assert {t[0] for t in got} == {1, 3}  # only the near-dup arrivals match


@pytest.mark.slow
def test_stream_quality_filter_matches_batch_scoring(spark, sf_dir):
    """The streaming model-in-the-loop filter must equal a direct batch
    scoring pass of the SAME trained weights: same keepers per source,
    same keep rates — the stream adds delivery, not semantics."""
    from pyspark.sql import functions as F

    from duva_spark.llm import logreg, textstats
    from duva_spark.queries import load_all
    from duva_spark.queries.llm_q import _LR_B, _LR_ETA, _LR_HOLD, _LR_ROUNDS

    got = {
        r.source: (r.n_total, r.n_kept, r.keep_rate)
        for r in load_all()["q_stream_true_quality_filter"].fn(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lab = textstats.gopher_flags(docs).select(
        "doc_id",
        "text",
        (
            F.col("pass_word_count")
            & F.col("pass_mean_len")
            & F.col("pass_symbol_ratio")
            & F.col("pass_alpha")
        ).alias("y"),
    )
    feat = logreg.features(lab, "doc_id", "y", "text", n_buckets=_LR_B).localCheckpoint()
    _, w = logreg.logreg_train(
        lab, "doc_id", "y", "text",
        n_buckets=_LR_B, eta=_LR_ETA, rounds=_LR_ROUNDS, holdout_pct=_LR_HOLD,
        features=feat,
    )
    batch = (
        logreg.logreg_score(lab, "doc_id", "y", "text", w, n_buckets=_LR_B, features=feat)
        .filter(F.col("p") >= 0.5)
        .select(F.col("_id").alias("doc_id"))
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    want_kept = {r.source: r.n_kept for r in batch.collect()}
    totals = {r.source: r.c for r in docs.groupBy("source").agg(F.count("*").alias("c")).collect()}
    assert set(got) == set(totals)
    for src, (n_total, n_kept, rate) in got.items():
        assert n_total == totals[src]
        assert n_kept == want_kept.get(src, 0), src
        assert 0 <= rate <= 1
    # the filter must actually filter on this corpus, not pass everything
    assert sum(k for _, k, _ in got.values()) < sum(totals.values())


def _quality_filter_with_sink_writer(spark, sf_dir, monkeypatch, write):
    """Run q_stream_true_quality_filter with ``write(path)`` standing in
    for the per-batch sink upsert."""
    from duva_spark import sinks
    from duva_spark.queries import load_all

    monkeypatch.setattr(
        sinks, "merge_upsert", lambda spark_, df, path, key: write(path)
    )
    return load_all()["q_stream_true_quality_filter"].fn(spark, sf_dir).collect()


def test_stream_quality_filter_empty_sink_reports_zero_keeps(
    spark, sf_dir, monkeypatch
):
    """A sink that never received a part file (no batch kept anything)
    reads as UNABLE_TO_INFER_SCHEMA — the one case that falls back to
    an all-zero census."""
    import os

    rows = _quality_filter_with_sink_writer(
        spark, sf_dir, monkeypatch, lambda path: os.makedirs(path, exist_ok=True)
    )
    assert rows and all(r.n_kept == 0 and r.keep_rate == 0.0 for r in rows)


def test_stream_quality_filter_corrupt_sink_raises(spark, sf_dir, monkeypatch):
    """Any sink read error other than the empty-sink case must raise,
    not be reported as zero keeps."""
    import os

    def write_corrupt(path):
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "part-00000-corrupt.parquet"), "wb") as fh:
            fh.write(b"not a parquet file")

    with pytest.raises(Exception, match="not a Parquet file"):
        _quality_filter_with_sink_writer(spark, sf_dir, monkeypatch, write_corrupt)


def test_checkpoint_fastpath_scheme_detection(spark):
    """The local checkpoint fastpath must engage only for file-scheme
    checkpoint roots (r12 verdict item 7): an hdfs://-style location
    keeps Spark's default manager + checksums, and a local path (or the
    temp-dir fallback) switches to the fork-free local managers."""
    from duva_spark.streaming import jobs

    mgr_key = "spark.sql.streaming.checkpointFileManagerClass"
    sum_key = "spark.sql.streaming.checkpoint.fileChecksum.enabled"

    jobs._local_checkpoint_fastpath(spark, "hdfs://nn:8020/ckpt/q1")
    assert spark.conf.get(mgr_key, None) is None  # Spark defaults kept

    jobs._local_checkpoint_fastpath(spark, "/tmp/ckpt/q1")
    assert "FileSystemBasedCheckpointFileManager" in spark.conf.get(mgr_key)
    assert spark.conf.get(sum_key) == "false"

    jobs._local_checkpoint_fastpath(spark, "file:///tmp/ckpt/q1")
    assert "FileSystemBasedCheckpointFileManager" in spark.conf.get(mgr_key)

    # no explicit location and no session default -> temp-dir fallback
    jobs._local_checkpoint_fastpath(spark, None)
    assert "FileSystemBasedCheckpointFileManager" in spark.conf.get(mgr_key)
