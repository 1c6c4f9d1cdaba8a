"""Streaming job plumbing: sources, watermarks, sinks, and the
Trigger.AvailableNow batch-equivalence harness.

The reference's sync tick (cron full re-import) maps to
``run_available_now``: process everything currently available, then
stop — incremental, checkpointed, exactly-once into the sink, which is
strictly stronger than duva's drop-and-recreate (app/core/importer.py:
242-249) at a fraction of the IO.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from duva_spark.catalog import normalize_events_ts, table_path, table_schema


def _require_single_file(path: str) -> None:
    """The file-stream sources below glob-filter on a LEAF FILE name
    inside sf_dir; a directory-style parquet dataset (part-*.parquet
    inside <table>.parquet/) would silently match zero files and the
    stream would return empty instead of failing (r7 ADVICE item)."""
    if not os.path.isfile(path):
        raise FileNotFoundError(
            f"stream source expects a single parquet FILE at {path}; "
            "a directory-style dataset will not match pathGlobFilter"
        )


def read_events_stream(spark: SparkSession, sf_dir: str, watermark: str = "1 hour") -> DataFrame:
    """File-source stream over the events parquet with a watermark.

    In production this is Kafka/Kinesis; the file source exercises the
    identical logical plan. The stream-source schema is the table's
    driver-read footer schema, so ts arrives as the on-disk generation
    (long nanos or a native timestamp) and is normalized exactly as the
    batch ``catalog.load_table`` does.
    """
    path = table_path(sf_dir, "events")
    _require_single_file(path)
    schema = table_schema(path)
    # the file stream source wants a directory; glob-filter to the events
    # table inside the sf_dir layout
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return normalize_events_ts(stream, schema["ts"].dataType).withWatermark("ts", watermark)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (the arriving-docs
    leg of the streaming ingest-dedup pipeline). Documents carry no
    event time, so no watermark: the per-batch dedup join is stateless
    — all state lives in the persisted corpus index."""
    path = table_path(sf_dir, "documents")
    _require_single_file(path)
    return (
        spark.readStream.schema(table_schema(path))
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )


def dedup_within_watermark(stream: DataFrame, keys: list[str]) -> DataFrame:
    """Stateful streaming dedup bounded by the watermark (the streaming
    sibling of llm.dedup.dedup_exact)."""
    return stream.dropDuplicatesWithinWatermark(keys)


def _checkpoint_scheme(spark: SparkSession, location: str | None) -> str:
    """URI scheme of the effective checkpoint root: the explicit sink
    checkpoint if given, else the session default checkpoint dir, else
    the local temp dir Spark falls back to — i.e. ``file``."""
    loc = location or spark.conf.get("spark.sql.streaming.checkpointLocation", None)
    if not loc:
        return "file"
    head, sep, _ = loc.partition("://")
    return head.lower() if sep else "file"


def _local_checkpoint_fastpath(
    spark: SparkSession, checkpoint_location: str | None = None
) -> None:
    """Point streaming checkpoint IO at the implementations that do not
    fork subprocesses on a local filesystem (r12 optimization).

    Measured root cause (thread dumps, OPTIMIZATION_r12.md): without the
    native-hadoop library (absent in this sandbox, see the startup
    NativeCodeLoader warning) the default FileContext-based checkpoint
    manager's rename path shells out (`Shell.execCommand` readLink) for
    EVERY state-store delta-file commit — 32 partitions x 4 stores for a
    stream-stream join fork hundreds of subprocesses from a 24 GB JVM
    per micro-batch, serialized under the provider-registry lock; Spark
    4.1's checksum manager additionally parks every commit on a
    thread-pool latch writing a sidecar file. Interleaved min-of-3 A/B
    at sf0.1: interval join 8.5->3.0 s, sessions 4.9->1.6, dedup
    3.5->1.4, sliding 2.7->1.2, variance collapsed (one outlier run hit
    68 s under the default managers).

    Scale posture: these are LOCAL-FILESYSTEM settings, not tuning — on
    HDFS/S3 the FileContext manager never forks (renames are RPCs) and
    the checksum sidecars guard real long-lived checkpoints. So the
    effective checkpoint root's URI scheme decides: the fastpath engages
    only when checkpoints resolve to the local filesystem (``file``
    scheme, including Spark's temp-dir fallback), and any remote scheme
    (hdfs://, s3a://, abfss://, ...) keeps Spark's defaults and its
    checkpoint checksums. Values are unaffected either way: both
    managers implement the same atomic-rename contract."""
    if _checkpoint_scheme(spark, checkpoint_location) == "file":
        spark.conf.set(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        spark.conf.set(
            "spark.sql.streaming.checkpoint.fileChecksum.enabled", "false"
        )
    else:
        # the session is shared: a remote-checkpoint stream must not
        # inherit the fastpath a local-checkpoint stream set earlier
        spark.conf.unset("spark.sql.streaming.checkpointFileManagerClass")
        spark.conf.unset("spark.sql.streaming.checkpoint.fileChecksum.enabled")


def run_available_now(
    result: DataFrame,
    query_name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Run a streaming DataFrame to completion over currently-available
    data (Trigger.AvailableNow ≙ duva's sync tick) into an in-memory
    table; returns the final result as a batch DataFrame.

    Re-running under the same `query_name` replaces the previous run's
    memory-sink view (bounded driver memory: one copy per name, not per
    call — callers should use a stable name, not a fresh one per run)."""
    spark = result.sparkSession
    _local_checkpoint_fastpath(spark)
    spark.catalog.dropTempView(query_name)  # no-op when absent
    q = (
        result.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}")


def stream_upsert_sink(
    result: DataFrame,
    path: str,
    key: str,
    query_name: str = "upsert_sink",
    checkpoint: str | None = None,
):
    """Exactly-once streaming sink via foreachBatch + idempotent upsert.

    Each micro-batch is merged into the Parquet dataset keyed on `key`
    (duva_spark.sinks.merge_upsert) and committed as a new version;
    replays of a failed epoch re-merge the same keys, so the sink is
    idempotent — the standard exactly-once-to-storage recipe when the
    sink itself has no transactional streaming support. Read the result
    with duva_spark.sinks.read_dataset. Runs with Trigger.AvailableNow
    (≙ the reference's sync tick) and returns the finished query.
    """
    from duva_spark.sinks import merge_upsert

    _local_checkpoint_fastpath(result.sparkSession, checkpoint)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        merge_upsert(batch_df.sparkSession, batch_df, path, key)

    writer = (
        result.writeStream.outputMode("update")
        .foreachBatch(write_batch)
        .queryName(query_name)
        .trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return q


class ProgressRecorder:
    """StreamingQueryListener capturing per-batch progress (rows in,
    batch duration) — the observability hook a production stream needs
    next to the Prometheus counters: attach with
    ``spark.streams.addListener(rec.listener(spark))``, read
    ``rec.events`` after (or during) the run.
    """

    def __init__(self) -> None:
        self.events: list[dict] = []

    def listener(self, spark: SparkSession):
        from pyspark.sql.streaming import StreamingQueryListener

        rec = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                rec.events.append({"kind": "started", "id": str(event.id)})

            def onQueryProgress(self, event) -> None:
                p = event.progress
                rec.events.append(
                    {
                        "kind": "progress",
                        "batch_id": p.batchId,
                        "num_input_rows": p.numInputRows,
                        "duration_ms": (p.durationMs or {}).get("triggerExecution"),
                    }
                )

            def onQueryTerminated(self, event) -> None:
                rec.events.append({"kind": "terminated", "id": str(event.id)})

            def onQueryIdle(self, event) -> None:  # pragma: no cover - spark>=3.5 hook
                pass

        return _L()
