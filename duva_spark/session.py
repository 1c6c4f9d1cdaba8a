"""Shared SparkSession factory.

Mirrors the reference's singleton engine-process discipline (duva caches a
single Tableau HyperProcess across jobs, app/jobs/jobs.py:11-25 and
app/core/importer.py:117-124); in Spark the equivalent is one shared
SparkSession per process via ``getOrCreate``.

Scale posture (tuned for correctness at sf0.01 and for a 1000-executor
cluster at 100 TB):

- AQE on: runtime coalescing, skew-join splitting, and dynamic
  broadcast-join conversion replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster this is overridden (AQE coalesces down anyway).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled: every pandas_udf / applyInPandas boundary is
  Arrow-batched, never row-at-a-time pickle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "duva_spark", extra_conf: dict | None = None) -> SparkSession:
    """Return the shared SparkSession, creating it on first use."""
    cores = default_parallelism()
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cores}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    # AQE fan-out posture — measured, r10: a global
    # initialPartitionNum = 16*cores cost ~8% on the sf0.1 headline set
    # (table in BASELINE.md), so the default is Spark's own (initial =
    # shuffle.partitions, AQE still coalesces); the spill-bound 1M-doc
    # dup-spans sweep cases scope the fan-out themselves
    # (tools/scale_sweep.py spill_fanout).
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
