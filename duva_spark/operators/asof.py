"""Distributed as-of join (Spark has no native one).

Union-sort-fill pattern: tag both sides, union, hash-partition by the
join key, sort by (time, side) within each key, carry the right side's
payload forward (backward) or back (forward) with last/first(...,
ignoreNulls). One shuffle total, linear in |L|+|R| — unlike a range-join
formulation, which degenerates to O(|L|·|R|) per hot key. At equal
timestamps right rows sort before left rows going backward and after
them going forward, so both directions are inclusive (backward matches
DuckDB's ASOF JOIN, ``ts_left >= ts_right``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame, right: DataFrame, on: str, ts: str, direction: str = "backward"
) -> DataFrame:
    """For each left row, attach the most recent right row at or before
    its timestamp (direction='backward'; 'forward' = next at-or-after).

    Output: ``left.columns`` unchanged, then each right column other
    than ``on``/``ts`` as ``asof_<col>``. Left rows with no match keep
    nulls (left-outer semantics). Right rows with equal timestamps are
    ordered by their payload columns, so a tie resolves the same way on
    every run: backward takes the largest payload, forward the smallest.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"unsupported direction: {direction}")
    payload = [c for c in right.columns if c not in (on, ts)]
    l_side, r_side = (1, 0) if direction == "backward" else (0, 1)
    l_tag = left.select(
        "*",
        F.lit(l_side).alias("_side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in payload],
    )
    r_tag = right.select(
        *[
            F.col(c) if c in (on, ts) else F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left.columns
        ],
        F.lit(r_side).alias("_side"),
        *[F.col(c).alias(f"_r_{c}") for c in payload],
    )
    w = W.partitionBy(on).orderBy(ts, "_side", *[f"_r_{c}" for c in payload])
    if direction == "backward":
        w, fill = w.rowsBetween(W.unboundedPreceding, W.currentRow), F.last
    else:
        w, fill = w.rowsBetween(W.currentRow, W.unboundedFollowing), F.first
    filled = [fill(f"_r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}") for c in payload]
    return (
        l_tag.unionByName(r_tag)
        .select("*", *filled)
        .filter(F.col("_side") == l_side)
        .select(*left.columns, *[f"asof_{c}" for c in payload])
    )
