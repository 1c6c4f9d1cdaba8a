"""Dataset catalog: name → parquet path → DataFrame with a driver-resolved schema.

Mirrors the control-plane role of duva's HyperFile/Configuration models
(app/models/hyperfile.py:41-62) minus auth: the engine resolves logical
table names to storage locations. Here the storage is the deterministic
TPC-H-ish parquet under /root/testdata/sf*/ (see TESTDATA.md).

Every table's schema comes from one parquet footer read on the driver
(``table_schema``), the way duva's Hyper extract carries its schema
before a query starts. ``load_table`` hands that schema to the reader,
so a load launches no Spark schema-inference job and changes no session
conf; predicate pushdown and column pruning are unchanged.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables that are always small enough to broadcast (region has 5
# rows, nation 25 at any TPC-H scale factor) — at 100 TB these stay
# broadcast-able; customer/supplier/part grow with SF so they are left to
# AQE's dynamic broadcast decision instead of a hard hint.
ALWAYS_BROADCAST = {"region", "nation"}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Footer key under which Spark's own writer stores the Spark schema; Spark's
# inference reads it in preference to converting the parquet types.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _footer_file(path: str) -> str:
    """The one file whose footer stands for the table: ``path`` itself, or
    for a directory-style dataset its first data file in sorted order,
    skipping the names Spark's file listing hides (``.``-prefixed, and
    ``_``-prefixed unless a ``key=value`` partition)."""
    if not os.path.isdir(path):
        return path

    def listed(name: str) -> bool:
        return not name.startswith(".") and (not name.startswith("_") or "=" in name)

    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(filter(listed, dirs))
        data = sorted(filter(listed, files))
        if data:
            return os.path.join(root, data[0])
    raise FileNotFoundError(f"no parquet data file under {path}")


def _nullable(t: T.DataType) -> T.DataType:
    """Spark's ``asNullable``: a file source reads every field, element
    and map value as nullable whatever the footer declares."""
    if isinstance(t, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def table_schema(path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, read from one parquet
    footer on the driver: no Spark job, O(1) in table size.

    A footer written by Spark carries its Spark schema, which Spark's
    inference (and so this resolver) takes as is. Otherwise each arrow
    column maps through ``from_arrow_type`` with tz-naive timestamps as
    ``TimestampNTZ``, matching Spark's inference; ``timestamp[ns]`` maps
    to ``LongType``, the value Spark's ``nanosAsLong`` read yields, and
    an explicit ``LongType`` schema reads those nanos with no conf.
    Partition columns of a ``key=value`` layout are not in the footer;
    Spark's partition discovery appends them to the loaded frame.
    """
    arrow = pq.read_schema(_footer_file(path))
    stored = (arrow.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if stored is not None:
        schema = T.StructType.fromJson(json.loads(stored))
    else:
        schema = T.StructType(
            [
                T.StructField(
                    f.name,
                    T.LongType()
                    if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
                    else from_arrow_type(f.type, prefer_timestamp_ntz=True),
                )
                for f in arrow
            ]
        )
    return _nullable(schema)


def normalize_events_ts(df: DataFrame, ts_on_disk: T.DataType) -> DataFrame:
    """Normalize ``events.ts`` to a session-UTC ``TimestampType``.

    The generator has shipped events.ts as TIMESTAMP(NANOS) in some
    rounds and TIMESTAMP(MICROS, ntz) in others, so every downstream
    window / watermark / oracle comparison must see identical instants:
      - nanos (read as long): convert to micros;
      - micros-ntz: plain cast (session tz is pinned to UTC, so the
        wall-clock value IS the instant).
    """
    if isinstance(ts_on_disk, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = table_path(sf_dir, name)
    schema = table_schema(path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        return normalize_events_ts(df, schema["ts"].dataType)
    return df
