"""Arrow-batched Python operators (the sanctioned slow path).

``slope_grouped_agg`` computes a real statistic — per-group ordinary
least-squares slope — as a grouped-agg pandas_udf usable inside
``.agg(...)``, so the pattern is load-bearing and oracle-checkable
(DuckDB's regr_slope), not a toy. Its ``groupBy().applyInPandas`` twin,
``group_ols_slope``, is the test-side reference in
``tests/reference_folds.py``.

Scale notes: it shuffles once on the group key and streams each group
through Arrow; memory is bounded by the largest single group (salting or
pre-aggregation applies if one group dominates). For statistics Spark
already has natively (covar/var/corr) prefer the JVM aggregate — this
exists for the semantics Spark lacks.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@F.pandas_udf(T.DoubleType())
def _slope_udf(x: pd.Series, y: pd.Series) -> float:
    dx = x.astype(float) - x.astype(float).mean()
    denom = float((dx * dx).sum())
    if not denom:
        return float("nan")
    return float((dx * (y.astype(float) - y.astype(float).mean())).sum() / denom)


@F.pandas_udf(T.LongType())
def _count_udf(x: pd.Series) -> int:
    return len(x)


def slope_grouped_agg(df: DataFrame, group_cols: list[str], x_col: str, y_col: str) -> DataFrame:
    """Same statistic as a grouped-agg pandas UDF. NB: Spark forbids
    mixing grouped-agg pandas UDFs with JVM aggregates in one .agg(), so
    the row count is a pandas UDF as well."""
    return df.groupBy(*group_cols).agg(
        F.round(_slope_udf(F.col(x_col), F.col(y_col)), 6).alias("slope"),
        _count_udf(F.col(x_col)).alias("n"),
    )
