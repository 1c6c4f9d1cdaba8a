"""Distributed exact continuous quantiles (no single-reducer buffering.

``F.percentile(col, q)`` over a single global group is exact but buffers
every value of the group on ONE reducer — at 100 TB (billions of rows in
the group) that is an OOM, the textbook failure mode VERDICT r2 flagged
for q_conversion_latency / q_key_skew_profile. ``percentile_approx`` is
the constant-memory sketch answer but its output is engine-specific, so
it cannot be value-hash-checked against a DuckDB ``quantile_cont``
oracle.

This operator computes the *exact* ``quantile_cont`` result with every
stage parallel and bounded:

1. per-value counts — ``groupBy(value)`` reduces N rows to |distinct|
   rows with map-side partial aggregation (one shuffle);
2. running count in value order via :func:`operators.prefix_sum.
   running_sum` — range partition + per-range window + O(#partitions)
   offsets frame, no ``Exchange SinglePartition`` anywhere;
3. the target ranks ``k = floor/ceil((n-1)*q)+1`` come from a 1-row
   total crossed with a |qs|-row literal frame; a broadcast
   range-predicate join pulls exactly the ≤2 boundary rows per q out of
   the cumulative frame (BroadcastNestedLoopJoin with the tiny side
   broadcast — each data row is checked against |qs| rows, never
   row×row);
4. linear interpolation ``v_lo + frac*(v_hi - v_lo)`` — identical to
   both Spark ``percentile`` and DuckDB ``quantile_cont`` semantics
   (position ``(n-1)*q``).

No counterpart in the reference (duva has no aggregate functions at all
— SURVEY §2a-iii); this is scale infrastructure for the relational
inventory's percentile family.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from duva_spark.operators.prefix_sum import running_sum


def quantile_cont(
    df: DataFrame,
    value_col: str,
    qs: Sequence[float],
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact interpolated quantiles of ``value_col`` for each q in ``qs``.

    Returns a DataFrame with columns ``q`` (double) and ``quantile``
    (double) — one row per requested quantile, equal to DuckDB
    ``quantile_cont(value_col, q)`` / Spark ``percentile(value_col, q)``
    but with no stage that buffers O(N) values in one task.
    """
    spark = df.sparkSession
    # NULLs are excluded like F.percentile / DuckDB quantile_cont do —
    # without this filter a NULL group would hold ranks and skew n
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("_v"))
        .agg(F.count("*").alias("_cnt"))
    )
    cum = running_sum(counts, "_v", "_cnt", out_col="_cum", num_partitions=num_partitions)
    total = cum.agg(F.max("_cum").alias("_n"))
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    targets = (
        total.crossJoin(qdf)
        .select("q", (F.col("q") * (F.col("_n") - 1)).alias("_pos"))
        .select(
            "q",
            (F.floor("_pos") + 1).alias("_klo"),
            (F.ceil("_pos") + 1).alias("_khi"),
            (F.col("_pos") - F.floor("_pos")).alias("_frac"),
        )
    )
    # value holding rank k is the row whose cumulative range (cum-cnt, cum]
    # contains k; lo and hi ranks are pulled with two broadcast joins.
    lo = cum.join(
        F.broadcast(targets),
        (F.col("_cum") - F.col("_cnt") < F.col("_klo"))
        & (F.col("_klo") <= F.col("_cum")),
    ).select("q", F.col("_v").alias("_vlo"), "_frac")
    hi = cum.join(
        F.broadcast(targets.select(F.col("q").alias("_q2"), "_khi")),
        (F.col("_cum") - F.col("_cnt") < F.col("_khi"))
        & (F.col("_khi") <= F.col("_cum")),
    ).select("_q2", F.col("_v").alias("_vhi"))
    return lo.join(hi, lo["q"] == hi["_q2"]).select(
        "q",
        (
            F.col("_vlo").cast("double")
            + F.col("_frac") * (F.col("_vhi").cast("double") - F.col("_vlo").cast("double"))
        ).alias("quantile"),
    )


def grouped_quantile_cont(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    qs: dict[str, float],
) -> DataFrame:
    """Exact per-group ``quantile_cont``: one row per group with a named
    double column per q — equal to ``F.percentile(value, q)`` grouped by
    ``keys``, without any reducer buffering a group's raw value vector.

    ``F.percentile`` holds every value of a group in the aggregation
    buffer (no spill) — a group with billions of rows OOMs its reducer.
    Here the data is first collapsed to per-(group, value) counts
    (map-side combine), the running count comes from a window hash-
    partitioned BY GROUP over those |distinct| rows (WindowExec sorts
    with spill, so even a pathological group degrades to disk instead
    of OOM), and the ≤2 boundary rows per q are picked with conditional
    aggregation — never a per-group sort of raw data."""
    # Materialized once (localCheckpoint): both the running-count window
    # and the per-group totals consume this frame — without it the
    # source is scanned twice. Checkpoint blocks are freed by the
    # ContextCleaner when the result frame is dropped, unlike persist()
    # whose CacheManager entry leaks across repeated library calls
    # (ADVICE r3). NULL values excluded to match F.percentile.
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*keys, F.col(value_col).alias("_v"))
        .agg(F.count("*").alias("_cnt"))
        .localCheckpoint()
    )
    w = (
        W.partitionBy(*keys)
        .orderBy("_v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = counts.withColumn("_cum", F.sum("_cnt").over(w))
    tot = counts.groupBy(*keys).agg(F.sum("_cnt").alias("_n"))
    j = cum.join(tot, keys)
    aggs = []
    for name, q in qs.items():
        pos = (F.col("_n") - 1) * float(q)
        klo = F.floor(pos) + 1
        khi = F.ceil(pos) + 1
        lo_hit = (F.col("_cum") - F.col("_cnt") < klo) & (klo <= F.col("_cum"))
        hi_hit = (F.col("_cum") - F.col("_cnt") < khi) & (khi <= F.col("_cum"))
        aggs.append(F.max(F.when(lo_hit, F.col("_v"))).alias(f"_{name}_lo"))
        aggs.append(F.max(F.when(hi_hit, F.col("_v"))).alias(f"_{name}_hi"))
        aggs.append(F.max(F.when(lo_hit, pos - F.floor(pos))).alias(f"_{name}_fr"))
    out = j.groupBy(*keys).agg(*aggs)
    sel: list = list(keys)
    for name in qs:
        lo = F.col(f"_{name}_lo").cast("double")
        hi = F.col(f"_{name}_hi").cast("double")
        sel.append((lo + F.col(f"_{name}_fr") * (hi - lo)).alias(name))
    return out.select(*sel)


def quantile_cont_row(
    df: DataFrame,
    value_col: str,
    qs: dict[str, float],
    num_partitions: int | None = None,
) -> DataFrame:
    """One-row frame with a named double column per requested quantile.

    ``qs`` maps output column name -> q, e.g. ``{"p50": 0.5, "p90":
    0.9}``. Convenience pivot over :func:`quantile_cont` for summary
    queries (the pivot input is |qs| rows, so the conditional-max agg is
    trivially cheap).
    """
    long = quantile_cont(df, value_col, list(qs.values()), num_partitions)
    return long.agg(
        *[
            F.max(F.when(F.col("q") == float(q), F.col("quantile"))).alias(name)
            for name, q in qs.items()
        ]
    )
