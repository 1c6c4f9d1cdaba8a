"""Sinks: versioned Parquet datasets with one commit protocol, mirroring
duva's drop-and-recreate semantics, and the S3 artifact layout.

Reference behavior reproduced:
- full refresh: CREATE_AND_REPLACE drop-and-recreate per sync — schema
  drift between syncs is tolerated (app/core/importer.py:242-249) →
  full_refresh commits the new frame as the next version;
- COPY returns the loaded row count, the only metric duva reports
  (app/core/importer.py:251-256) → returned by every writer;
- artifact key layout ``{server_id}/{username}/{form_id}_{filename}``
  (app/crud/crud_hyperfile.py:84-85) → dataset_path.

Commit protocol: every writer here (full_refresh, merge_upsert,
delete_where, compact) goes through `_commit`. It writes a NEW immutable
version directory ``v<N+1>`` through Spark's committer (task-parallel
write, atomic job commit), then atomically replaces the one small
``_CURRENT`` file naming it, then vacuums. No directory is ever renamed:
on S3/GCS the pointer replace is a single-object PUT, which is atomic;
``os.replace`` emulates that locally. A crash leaves at worst an orphan
version directory, overwritten by the next commit; the live dataset is
never absent. Read a dataset through `read_dataset` (or `read_version`
for time travel), never with a bare ``spark.read.parquet`` on its root.
Every read here declares the schema from one parquet footer
(`catalog.table_schema`), so it launches no schema-inference job;
partition columns are still discovered from the ``key=value`` dirs.
`partition_by` gives hive-style partitioning inside each version, so a
100 TB dataset prunes on read.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow as pa
from pyspark.sql import DataFrame

from duva_spark.catalog import table_schema

CURRENT_POINTER = "_CURRENT"


def dataset_path(root: str, server_id: str | int, username: str, form_id: str | int) -> str:
    return f"{root.rstrip('/')}/{server_id}/{username}/{form_id}"


def _current_version(path: str) -> int | None:
    """The version ``_CURRENT`` names, or None when `path` has no pointer."""
    try:
        with open(os.path.join(path, CURRENT_POINTER)) as f:
            return int(f.read().strip()[1:])
    except FileNotFoundError:
        return None


def _version_dir(path: str, version: int) -> str:
    return os.path.join(path, f"v{version}")


def _commit(
    df: DataFrame, path: str, partition_by: list[str] | None = None, retain: int = 1
) -> int:
    """Commit `df` as the next version of the dataset at `path`; returns
    its row count, taken from the same scan that feeds the write via an
    observation (one distributed pass).

    ``retain`` keeps that many trailing versions (current included) for
    time travel via `read_version`; older ones are garbage-collected."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    current = _current_version(path)
    version = 0 if current is None else current + 1
    obs = Observation("commit")
    # overwrite: a crashed commit may have left this version half-written
    writer = df.observe(obs, F.count(F.lit(1)).alias("n_rows")).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(_version_dir(path, version))
    fd, tmp = tempfile.mkstemp(dir=path, suffix=".ptr")
    with os.fdopen(fd, "w") as f:
        f.write(f"v{version}")
    try:
        os.replace(tmp, os.path.join(path, CURRENT_POINTER))
    except BaseException:
        os.remove(tmp)
        raise
    vacuum(path, retain=retain)
    return int(obs.get["n_rows"])


def full_refresh(df: DataFrame, path: str, partition_by: list[str] | None = None) -> int:
    """Replace the dataset at `path` with `df` (duva's drop-and-recreate,
    schema drift included); returns the row count loaded (duva's COPY
    contract). Whatever sits at a `path` with no ``_CURRENT`` (a plain
    parquet dir from an older layout) is cleared first."""
    if _current_version(path) is None and os.path.exists(path):
        shutil.rmtree(path)
    return _commit(df, path, partition_by)


def read_dataset(spark, path: str) -> DataFrame:
    """Read the current version of a dataset written by this module. A
    `path` with no ``_CURRENT`` is read as a plain parquet dir."""
    current = _current_version(path)
    return _read(spark, path if current is None else _version_dir(path, current))


def list_versions(path: str) -> list[int]:
    """Version numbers present on disk, oldest first."""
    out = []
    for entry in os.listdir(path):
        if entry.startswith("v") and entry[1:].isdigit() and os.path.isdir(
            os.path.join(path, entry)
        ):
            out.append(int(entry[1:]))
    return sorted(out)


def read_version(spark, path: str, version: int) -> DataFrame:
    """Time travel: read a retained historical version of a dataset
    (Delta's ``VERSION AS OF`` on the pointer scheme). Raises if the
    version was vacuumed."""
    full = _version_dir(path, version)
    if not os.path.isdir(full):
        raise FileNotFoundError(
            f"version {version} not on disk (retained: {list_versions(path)})"
        )
    return _read(spark, full)


def _read(spark, directory: str) -> DataFrame:
    """One version directory, its schema read from a parquet footer. With
    no readable footer (a missing or empty dir, a corrupt file) Spark's
    own reader is left to raise its error, e.g. UNABLE_TO_INFER_SCHEMA."""
    try:
        schema = table_schema(directory)
    except (FileNotFoundError, pa.ArrowInvalid):
        return spark.read.parquet(directory)
    return spark.read.schema(schema).parquet(directory)


def vacuum(path: str, retain: int = 1) -> list[int]:
    """Drop all but the trailing `retain` versions up to the current
    pointer, plus any orphan directories NEWER than current (half-written
    crashed commits). Returns the removed version numbers."""
    cur_ver = _current_version(path)
    if cur_ver is None:
        return []
    keep = {v for v in list_versions(path) if v <= cur_ver}
    keep = set(sorted(keep)[-max(retain, 1):])
    removed = []
    for v in list_versions(path):
        if v not in keep and v != cur_ver:
            shutil.rmtree(_version_dir(path, v), ignore_errors=True)
            removed.append(v)
    return removed


def merge_upsert(spark, new_df: DataFrame, path: str, key: str, retain: int = 1) -> int:
    """Incremental upsert keyed on `key` — the improvement duva never had
    (it drop-and-recreates every sync, app/core/importer.py:242-246; the
    natural key is the OnaData `_id`/`_uuid` system column).

    Without a table format that supports MERGE, the portable emulation
    is: existing ⟕anti⟕ new → union → commit as the next version (one
    anti-join shuffle on the key, the same dataflow as a native MERGE).
    An empty or absent `path` takes `new_df` as its first version; a
    non-empty `path` with no ``_CURRENT`` raises rather than commit the
    delta alone. ``retain`` > 1 keeps trailing versions for time travel
    (`read_version` / `vacuum`). Returns the resulting row count.
    """
    current = _current_version(path)
    if current is None:
        if os.path.exists(path) and os.listdir(path):
            raise FileExistsError(
                f"{path} is not empty and has no {CURRENT_POINTER}; "
                "full_refresh it before upserting"
            )
        return _commit(new_df, path, retain=retain)
    existing = _read(spark, _version_dir(path, current))
    keep = existing.join(new_df.select(key), on=key, how="left_anti")
    merged = keep.unionByName(new_df, allowMissingColumns=True)
    return _commit(merged, path, retain=retain)


def _retain_all(path: str, retain: int | None) -> int:
    """None = preserve every version currently on disk plus the new one —
    a maintenance op must not silently shrink a retention window the
    caller built with a larger retain."""
    return retain if retain is not None else len(list_versions(path)) + 1


def _require_current(path: str) -> str:
    current = _current_version(path)
    if current is None:
        raise FileNotFoundError(f"{path} has no {CURRENT_POINTER}: not a sinks dataset")
    return _version_dir(path, current)


def delete_where(
    spark,
    path: str,
    condition,
    retain: int | None = None,
) -> int:
    """Versioned DELETE (right-to-be-forgotten / data-retention
    enforcement — the op a GDPR request needs; duva can only drop whole
    tables, app/core/importer.py:242-246).

    Rows matching `condition` (a Column predicate) are removed by
    committing the complement as a new version. The previous version
    stays readable via `read_version` until `vacuum` drops it, which is
    what makes the delete auditable AND reversible within the retention
    window. One filtered scan, no shuffle. Returns the surviving row
    count.
    """
    from pyspark.sql import functions as F

    current = _require_current(path)
    # SQL DELETE semantics: only rows where the predicate is TRUE go;
    # a NULL-evaluating predicate must KEEP the row (a bare ~condition
    # would silently over-delete NULL rows — fatal in a GDPR helper).
    remaining = _read(spark, current).filter(~F.coalesce(condition, F.lit(False)))
    return _commit(remaining, path, retain=_retain_all(path, retain))


def compact(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    retain: int | None = None,
) -> tuple[int, int]:
    """Small-file compaction — the OPTIMIZE pass every streaming/
    incremental ingest needs: micro-batch commits accumulate many small
    files, and at 100 TB the resulting task-per-file scheduling and
    footer overhead dominate scan cost. Rewrites the current version
    into ceil(bytes / target_file_bytes) files and commits it as a new
    version (old version retained for time travel). Returns
    (files_before, files_after).
    """
    current = _require_current(path)
    files = [f for f in os.listdir(current) if f.endswith(".parquet")]
    total_bytes = sum(os.path.getsize(os.path.join(current, f)) for f in files)
    n_target = max(1, -(-total_bytes // target_file_bytes))
    # coalesce, not repartition: merging small files needs NO shuffle
    # (coalesce only narrows partitioning); at 100 TB a repartition
    # would double the IO of the OPTIMIZE pass for nothing.
    df = _read(spark, current).coalesce(n_target)
    _commit(df, path, retain=_retain_all(path, retain))
    new_current = _require_current(path)
    files_after = len([f for f in os.listdir(new_current) if f.endswith(".parquet")])
    return len(files), files_after
