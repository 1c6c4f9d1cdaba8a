"""Top-k per group: window + filter.

Never a global sort — ranking happens per hash partition after one
shuffle on the group key; at 100 TB this is the only formulation that
doesn't serialize on a single ordered stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame, group_cols: list[str], order_by: list[Column], k: int
) -> DataFrame:
    """The first ``k`` rows of each group under ``order_by``
    (``row_number``, so exactly ``min(k, group size)`` rows per group;
    ties are broken only as far as ``order_by`` breaks them)."""
    w = W.partitionBy(*group_cols).orderBy(*order_by)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")
