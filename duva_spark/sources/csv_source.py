"""CSV ingestion with duva's exact semantics, distributed.

Reference behavior being reproduced (file:line in /root/reference):
- null markers: ``pd.read_csv(na_values=["n/a", ""])`` — empty string and
  literal "n/a" become NULL (app/core/importer.py:61);
- schema inference: pandas ``convert_dtypes`` then dtype-kind → Hyper type
  with exactly three physical types — BIG_INT (kind i), DOUBLE (kind f),
  TEXT (all else) (app/core/importer.py:38-51);
- the XLSForm-declared mapping integer→big_int, decimal→double, text→text
  (app/utils/hyper_utils.py:40-46) for schema-first ingestion;
- empty input aborts the import (EmptyDataError,
  app/core/importer.py:236-240).

Differences by design (Spark-first, not a port):
- no triple materialization (duva: CSV → pandas → rewritten CSV → COPY;
  here: one distributed read, importer.py:61-73 vs df = read.csv);
- inference runs on Spark's distributed sampler, not a driver-side pandas
  load of the whole file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DUVA_NULL_MARKERS = ("n/a", "")


class EmptyInputError(ValueError):
    """Raised for header-only/empty CSV (mirrors duva's EmptyDataError
    abort, app/core/importer.py:236-240)."""


#: XLSForm question type → Spark type (app/utils/hyper_utils.py:40-46).
XLSFORM_TYPE_MAP: dict[str, T.DataType] = {
    "integer": T.LongType(),
    "decimal": T.DoubleType(),
    "text": T.StringType(),
    # widened beyond the reference's 3-type universe:
    "date": T.DateType(),
    "dateTime": T.TimestampType(),
    "select one": T.StringType(),
    "select all that apply": T.StringType(),
}


def _collapse_to_duva_types(schema: T.StructType) -> T.StructType:
    """Collapse an inferred schema to duva's 3-type universe: integral →
    BIG_INT(Long), fractional → DOUBLE, everything else → TEXT(String)."""
    fields = []
    for f in schema.fields:
        if isinstance(f.dataType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            dt: T.DataType = T.LongType()
        elif isinstance(f.dataType, (T.FloatType, T.DoubleType, T.DecimalType)):
            dt = T.DoubleType()
        else:
            dt = T.StringType()
        fields.append(T.StructField(f.name, dt, True))
    return T.StructType(fields)


def infer_csv_schema(spark: SparkSession, path: str) -> T.StructType:
    inferred = (
        spark.read.option("header", True)
        .option("inferSchema", True)
        .option("nullValue", "n/a")
        .option("emptyValue", None)
        .csv(path)
        .schema
    )
    return _collapse_to_duva_types(inferred)


def read_csv_duva(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Read a CSV the way duva ingests an OnaData export.

    - header row required;
    - "n/a" and "" → NULL (importer.py:61);
    - schema: explicit (form-metadata-driven) if given, else inferred and
      collapsed to the BIG_INT/DOUBLE/TEXT universe;
    - empty input (no data rows) raises EmptyInputError.
    """
    if schema is None:
        schema = infer_csv_schema(spark, path)
    df = (
        spark.read.option("header", True)
        .option("nullValue", "n/a")
        .option("emptyValue", None)
        .schema(schema)
        .csv(path)
    )
    if not df.columns or df.isEmpty():
        raise EmptyInputError(f"empty CSV import aborted: {path}")
    return df


def schema_from_form(form_fields: list[dict]) -> T.StructType:
    """Build a schema from XLSForm metadata (name/type dicts), the
    schema-first path the reference deprecated but intended
    (app/utils/hyper_utils.py:40-46)."""
    return T.StructType(
        [
            T.StructField(f["name"], XLSFORM_TYPE_MAP.get(f["type"], T.StringType()), True)
            for f in form_fields
        ]
    )
