"""Physical data layout for scale: bucketed tables for shuffle-free joins.

Two knobs matter at 100 TB:
- hive-style partitioning on a low-cardinality column (e.g. event date)
  lets Catalyst prune entire directories at plan time (PartitionFilters
  in the scan node) — ``sinks.full_refresh(partition_by=)`` writes it;
- bucketing co-locates join keys at write time so repeated joins/aggs on
  that key skip the shuffle entirely (both sides read pre-hashed
  buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed managed table (bucket pruning + shuffle-free
    joins on bucket_col for any reader of the table).

    Idempotent across processes: with an in-memory catalog the table
    registration dies with the session but its warehouse directory does
    not, and a fresh session's saveAsTable then fails with
    LOCATION_ALREADY_EXISTS — so both the catalog entry and any orphaned
    location are cleared first."""
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    if mode == "overwrite":
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
        if warehouse:
            shutil.rmtree(f"{warehouse.rstrip('/')}/{table.lower()}", ignore_errors=True)
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table)
