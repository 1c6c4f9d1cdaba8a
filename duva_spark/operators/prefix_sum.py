"""Distributed prefix sum (running total) with no single-partition stage.

A running total expressed as ``sum(x) OVER (ORDER BY k)`` with no
PARTITION BY plans as ``Exchange SinglePartition`` + one-task window —
the whole dataset funnels through a single thread, which is the textbook
scale killer at 100 TB. This operator computes the identical result with
the classic two-pass scheme, all stages parallel:

1. ``repartitionByRange`` on the order key — disjoint, globally ordered
   ranges (one narrow shuffle of the data);
2. per-range running sum via a window partitioned by the range id
   (``spark_partition_id()`` captured as a column) — parallel across
   ranges;
3. per-range totals (map-side partial agg, ≤ num_partitions rows) turned
   into cumulative *offsets* with a triangular join over that tiny frame
   — O(#partitions²) on ≤ a few thousand rows, never O(data) — and
   broadcast back onto the per-range sums.

The only full-data exchanges are the range partitioning and the window's
hash-by-range-id; the offsets frame is O(#partitions), so no stage ever
sees ``Exchange SinglePartition`` (asserted in tests/test_plans.py).

No counterpart in the reference (duva has no window functions at all —
SURVEY §2b); this is infrastructure for the LLM-pipeline shard-packing
operator (q_token_shard_packing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def running_sum(
    df: DataFrame,
    order_col: str | list[str],
    value_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Adds ``out_col`` = running sum of ``value_col`` in ``order_col``
    order (a single column or a composite key list, e.g. a sort column
    plus a tiebreaker), equivalent to ``SUM(value) OVER (ORDER BY keys
    ROWS UNBOUNDED PRECEDING)`` but fully distributed.

    The ranged frame is materialized (localCheckpoint) so the
    nondeterministic range-id column is frozen and consistent between
    the offsets pass and the window pass; checkpoint blocks are freed
    by the ContextCleaner with the result's lifetime, unlike a
    persist() entry that pins the cache until an explicit unpersist
    (ADVICE r3).
    """
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    ranged = (
        df.repartitionByRange(n, *[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    totals = ranged.groupBy("_pid").agg(F.sum(value_col).alias("_pt"))
    prior = totals.select(F.col("_pid").alias("_pid_b"), F.col("_pt").alias("_pt_b"))
    offsets = (
        totals.join(F.broadcast(prior), F.col("_pid_b") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(F.coalesce(F.sum("_pt_b"), F.lit(0)).alias("_offset"))
    )
    w = (
        W.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        ranged.withColumn("_local", F.sum(value_col).over(w))
        .join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.col("_local") + F.col("_offset"))
        .drop("_pid", "_local", "_offset")
    )
