"""The catalog's driver-side schema resolver: the footer schema equals
what Spark's parquet inference yields, a load launches no Spark job, and
no load changes session conf that other queries see."""

from __future__ import annotations

import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from duva_spark.catalog import TABLES, load_table, table_path, table_schema
from duva_spark.streaming import read_events_stream, run_available_now

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_equals_spark_inference(spark, sf_dir, sf):
    # the smoke fixture's sibling scale factors share its parent directory
    for name in TABLES:
        path = table_path(os.path.join(os.path.dirname(sf_dir), sf), name)
        assert table_schema(path) == spark.read.parquet(path).schema, name


def test_load_launches_no_spark_job(spark, sf_dir):
    sc = spark.sparkContext
    group = f"catalog-load-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog.load_table for every table")
    try:
        for name in TABLES:
            load_table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.fixture()
def nanos_events_dir(tmp_path):
    """An events table whose ts is TIMESTAMP(NANOS), the generation the
    vectorized reader rejects unless read as long."""
    n = 64
    ts = np.datetime64("2024-01-01", "ns") + (
        np.arange(n, dtype=np.int64) * 1_234_567_891
    ).astype("timedelta64[ns]")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(np.arange(n), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("ns")),
                "user_id": pa.array(np.arange(n) % 7, pa.int64()),
                "event_type": pa.array(["click", "view"] * (n // 2)),
                "value": pa.array(np.arange(n) * 0.5),
                "props": pa.array(["{}"] * n),
            }
        ),
        tmp_path / "events.parquet",
    )
    return str(tmp_path)


def _legacy_nanos_ts(spark, sf_dir):
    """The ts values of the former read: session-wide ``nanosAsLong``,
    then nanos → micros."""
    spark.conf.set(_NANOS_CONF, "true")
    try:
        df = spark.read.parquet(table_path(sf_dir, "events"))
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return [r.ts for r in df.orderBy("event_id").collect()]
    finally:
        spark.conf.unset(_NANOS_CONF)


def test_nanos_events_match_the_legacy_read(spark, nanos_events_dir):
    assert table_schema(table_path(nanos_events_dir, "events"))["ts"].dataType == LongType()
    expected = _legacy_nanos_ts(spark, nanos_events_dir)

    before = spark.conf.get(_NANOS_CONF)
    batch = load_table(spark, nanos_events_dir, "events")
    assert spark.conf.get(_NANOS_CONF) == before
    assert [r.ts for r in batch.orderBy("event_id").collect()] == expected

    stream = read_events_stream(spark, nanos_events_dir)
    assert spark.conf.get(_NANOS_CONF) == before
    got = run_available_now(stream.select("event_id", "ts"), "t_nanos_events", output_mode="append")
    assert [r.ts for r in got.orderBy("event_id").collect()] == expected


def test_loading_every_table_leaves_session_conf_unchanged(spark, sf_dir):
    for name in TABLES:
        before = spark.conf.get(_NANOS_CONF)
        load_table(spark, sf_dir, name)
        assert spark.conf.get(_NANOS_CONF) == before, name


@pytest.fixture()
def spark_written_dir(spark, tmp_path):
    """A Spark-written directory dataset: several part files, INT96
    timestamps, non-null nested fields and a ``key=value`` layout."""
    df = spark.sql(
        "SELECT id, CAST(id AS DOUBLE) AS d,"
        " TIMESTAMP'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts,"
        " TIMESTAMP_NTZ'2024-01-01 00:00:00' AS ts_ntz, array(id, id) AS arr,"
        " named_struct('a', id, 'b', 'x') AS st, map('k', id) AS m,"
        " CAST(id AS DECIMAL(12, 2)) AS dec, id % 3 AS part FROM range(60)"
    ).repartition(3)
    df.write.parquet(table_path(str(tmp_path), "flat"))
    df.write.partitionBy("part").parquet(table_path(str(tmp_path), "by_part"))
    return str(tmp_path)


def test_directory_dataset_schema_and_rows(spark, spark_written_dir):
    flat = table_path(spark_written_dir, "flat")
    assert table_schema(flat) == spark.read.parquet(flat).schema
    # partition columns come from Spark's partition discovery, not the footer
    inferred = spark.read.parquet(table_path(spark_written_dir, "by_part"))
    loaded = load_table(spark, spark_written_dir, "by_part")
    assert loaded.schema == inferred.schema
    assert sorted(map(tuple, loaded.collect())) == sorted(map(tuple, inferred.collect()))


def test_empty_directory_fails_loudly(tmp_path):
    (tmp_path / "empty.parquet").mkdir()
    (tmp_path / "empty.parquet" / "_SUCCESS").touch()
    with pytest.raises(FileNotFoundError):
        table_schema(table_path(str(tmp_path), "empty"))
