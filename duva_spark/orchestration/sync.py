"""The composite sync job: duva's EP2 data path around a SparkSession.

Pipeline (reference: app/core/importer.py:126-225):
  lock → status=syncing → fetch export (injectable) → distributed CSV
  read with duva semantics → shaping transforms → full-refresh Parquet
  write (row count reported) → status=file_available; any failure
  increments the consecutive-failure counter and flips status, hitting
  the ≥3 auto-deactivate cap.

What duva did in five materializations (CSV → pandas → rewritten CSV →
Hyper COPY → S3 re-upload, importer.py:61-73/:251-255 +
crud_hyperfile.py:64-82) is one Spark job here: scan → transform →
committed Parquet write.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import ExitStack
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from duva_spark.orchestration.lock import DatasetLock, LockHeld
from duva_spark.orchestration.state import FileStatus, MetadataStore
from duva_spark.sinks import full_refresh
from duva_spark.sources.csv_source import read_csv_duva


class SyncJob:
    def __init__(
        self,
        spark: SparkSession,
        store: MetadataStore,
        lock_dir: str | Path,
        fetch: Callable[[str], Path],
        shape: Callable[[DataFrame], DataFrame] | None = None,
        metrics=None,
    ):
        self.spark = spark
        self.store = store
        self.lock_dir = lock_dir
        self.fetch = fetch  # dataset_id -> local CSV path (HTTP source, S3, ...)
        self.shape = shape or (lambda df: df)
        # duva_spark.metrics.MetricsRegistry when metric reporting is on
        # (the reference's gauge + success/failure counters, C7).
        self.metrics = metrics

    def run(self, dataset_id: str, out_path: str) -> int:
        """Run one sync; returns rows loaded. Raises on failure after
        recording it (caller decides on retry/cancel, as the reference's
        worker does). Every failure is recorded, including one to take
        the lock, except ``LockHeld``: a concurrent sync is in flight,
        so state is left untouched (the reference returns 202 Already
        Syncing, file.py:163-201)."""
        state = self.store.get(dataset_id)
        if not state.is_active:
            raise RuntimeError(f"dataset {dataset_id} is deactivated after repeated failures")
        # The stack closes after the handlers run, so a failure inside
        # the lock is recorded while the lock is still held.
        with ExitStack() as held:
            try:
                held.enter_context(DatasetLock(self.lock_dir, dataset_id))
                # Gauge/counters wrap the actual import only — a LockHeld
                # bounce (202) is not an import attempt.
                if self.metrics:
                    held.enter_context(self.metrics.track_sync())
                self.store.update_status(dataset_id, FileStatus.SYNCING)
                csv_path = self.fetch(dataset_id)
                df = self.shape(read_csv_duva(self.spark, str(csv_path)))
                n = full_refresh(df, out_path)
            except LockHeld:
                raise
            except Exception as exc:
                self.store.record_failure(dataset_id, repr(exc))
                raise
            self.store.record_success(dataset_id)
            return n
