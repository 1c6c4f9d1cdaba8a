"""Sinks: versioned Parquet datasets with one commit protocol, mirroring
duva's drop-and-recreate semantics.

Reference behavior reproduced:
- full refresh: CREATE_AND_REPLACE drop-and-recreate per sync — schema
  drift between syncs is tolerated (app/core/importer.py:242-249) →
  full_refresh commits the new frame as the next version;
- COPY returns the loaded row count, the only metric duva reports
  (app/core/importer.py:251-256) → returned by every writer.

Commit protocol: every writer goes through `_commit`. It writes a NEW
immutable version directory ``v<N+1>`` through Spark's committer, then
atomically replaces the one small ``_CURRENT`` file naming it, then
vacuums. No directory is ever renamed: on S3/GCS the pointer replace is
a single-object PUT, which is atomic; ``os.replace`` emulates that
locally. A crash leaves at worst an orphan version directory, which the
next commit overwrites; the live dataset is never absent.

Merge-on-read (Delta Lake deletion vectors, Iceberg v2 equality
deletes): `merge_upsert` writes only the delta as ``v<N+1>``, with a
``_LAYERS`` manifest naming the ordered ``(dir, key)`` layers the
version reads, written before the pointer replace. A read anti-joins
each layer on the keys of every later layer and unions the survivors by
name: the sequential copy-on-write merge, deferred to the read.
`full_refresh`, `delete_where` and `compact` commit one layer (a version
with no manifest is its own one layer), so `compact` is the fold. An
upsert onto a version of `MAX_LAYERS` layers, or whose deltas outweigh
half its base on disk, commits the folded view as one layer (an LSM
merge), so no read plans more than MAX_LAYERS·(MAX_LAYERS−1)/2 joins.
`vacuum` marks versions beyond `retain` ``_RETIRED`` (unreadable) and
deletes a version directory only once no retained version names it.

Read through `read_dataset` (or `read_version` for time travel), never
with a bare ``spark.read.parquet`` on the root. Each layer's schema is
declared from one parquet footer (`catalog.table_schema`): no
schema-inference job. `partition_by` gives hive-style partitioning
inside a version, so a 100 TB dataset prunes on read.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pyarrow as pa
from pyspark.sql import DataFrame

from duva_spark.catalog import table_schema

CURRENT_POINTER = "_CURRENT"
LAYERS = "_LAYERS"
RETIRED = "_RETIRED"
MAX_LAYERS = 4


def _current_version(path: str) -> int | None:
    """The version ``_CURRENT`` names, or None when `path` has no pointer."""
    try:
        with open(os.path.join(path, CURRENT_POINTER)) as f:
            return int(f.read().strip()[1:])
    except FileNotFoundError:
        return None


def _version_dir(path: str, version: int) -> str:
    return os.path.join(path, f"v{version}")


def _layers(path: str, version: int) -> list[tuple[str, str | None]]:
    """The ``(dir, key)`` layers `version` reads, oldest first: its
    ``_LAYERS`` manifest, or the version directory alone. A layer's key
    is the one its upsert replaced earlier rows on (None for a base)."""
    try:
        with open(os.path.join(_version_dir(path, version), LAYERS)) as f:
            return [(d, key) for d, key in json.load(f)]
    except FileNotFoundError:
        return [(f"v{version}", None)]


def _commit(
    df: DataFrame, path: str, partition_by: list[str] | None = None, retain: int = 1, key: str | None = None
) -> int:
    """Commit `df` as the next version of the dataset at `path`; returns
    its row count. Without a `key`, `df` is the whole version, counted
    by an observation on the scan that feeds the write. With one, `df` is
    a delta layered over the current version if there is one (see
    `merge_upsert`), counted by a key-only scan of the layered view
    before the pointer names it. ``retain`` keeps that many trailing
    versions (current included) readable via `read_version`."""
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
    if key is not None and current is not None:
        layers = [*_layers(path, current), (f"v{version}", key)]
        with open(os.path.join(_version_dir(path, version), LAYERS), "w") as f:
            json.dump(layers, f)
        # count() prunes every payload column: only the keys are scanned
        n_rows = _fold(_layer_frames(df.sparkSession, path, version)).count()
    else:
        n_rows = obs.get["n_rows"]
    fd, tmp = tempfile.mkstemp(dir=path, suffix=".ptr")
    with os.fdopen(fd, "w") as f:
        f.write(f"v{version}")
    try:
        os.replace(tmp, os.path.join(path, CURRENT_POINTER))
    except BaseException:
        os.remove(tmp)
        raise
    vacuum(path, retain=retain)
    return int(n_rows)


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
    if current is None:
        return _read(spark, path)
    return _fold(_layer_frames(spark, path, current))


def _version_dirs(path: str) -> list[int]:
    """Every version directory on disk, retired ones included."""
    names = [e for e in os.listdir(path) if e.startswith("v") and e[1:].isdigit()]
    return sorted(int(e[1:]) for e in names if os.path.isdir(os.path.join(path, e)))


def list_versions(path: str) -> list[int]:
    """Readable version numbers on disk, oldest first."""
    dirs = {v: _version_dir(path, v) for v in _version_dirs(path)}
    return [v for v, d in dirs.items() if not os.path.exists(os.path.join(d, RETIRED))]


def read_version(spark, path: str, version: int) -> DataFrame:
    """Time travel (Delta's ``VERSION AS OF``): read a retained version.
    Raises if it was vacuumed, also when its directory lives on as a
    layer of a later version."""
    if version not in list_versions(path):
        raise FileNotFoundError(f"version {version} not on disk (retained: {list_versions(path)})")
    return _fold(_layer_frames(spark, path, version))


def _read(spark, directory: str) -> DataFrame:
    """One directory, its schema read from a parquet footer. With no
    readable footer (a missing or empty dir, a corrupt file) Spark's own
    reader is left to raise its error, e.g. UNABLE_TO_INFER_SCHEMA."""
    try:
        schema = table_schema(directory)
    except (FileNotFoundError, pa.ArrowInvalid):
        return spark.read.parquet(directory)
    return spark.read.schema(schema).parquet(directory)


def _layer_frames(spark, path: str, version: int) -> list[tuple[DataFrame, str | None]]:
    """The `(frame, key)` layers of `version`, oldest first: `_fold` them."""
    return [(_read(spark, os.path.join(path, d)), key) for d, key in _layers(path, version)]


def _fold(layers: list[tuple[DataFrame, str | None]]) -> DataFrame:
    """One lazy plan: each layer anti-joined on the keys of every later
    layer (one key plan per layer, so Spark scans and broadcasts it
    once), the survivors unioned by name, as the copy-on-write merge."""
    out = None
    for i, (frame, _) in enumerate(layers):
        for later, key in layers[i + 1:]:
            frame = frame.join(later.select(key), on=key, how="left_anti")
        out = frame if out is None else out.unionByName(frame, allowMissingColumns=True)
    return out


def vacuum(path: str, retain: int = 1) -> list[int]:
    """Retire all but the trailing `retain` readable versions up to the
    current pointer, plus orphans NEWER than current (crashed commits).
    A directory no retained version names as a layer is deleted; one
    still named is marked retired. Returns the retired versions."""
    cur_ver = _current_version(path)
    if cur_ver is None:
        return []
    readable = list_versions(path)
    keep = [v for v in readable if v <= cur_ver][-max(retain, 1):]
    named = {d for v in keep for d, _ in _layers(path, v)}
    for v in _version_dirs(path):
        if f"v{v}" not in named:
            shutil.rmtree(_version_dir(path, v), ignore_errors=True)
        elif v not in keep:
            open(os.path.join(_version_dir(path, v), RETIRED), "w").close()
    return [v for v in readable if v not in keep]


def merge_upsert(spark, new_df: DataFrame, path: str, key: str, retain: int = 1) -> int:
    """Incremental upsert keyed on `key` — the improvement duva never had
    (it drop-and-recreates every sync, app/core/importer.py:242-246; the
    natural key is the OnaData `_id`/`_uuid` system column).

    Merge-on-read: `new_df` alone is committed, as a layer over the
    current version; earlier rows whose `key` it holds drop out when the
    dataset is read (existing ⟕anti⟕ new ∪ new, deferred). A current
    version of `MAX_LAYERS` layers, or whose deltas hold more than half
    its base's bytes, is folded with `new_df` into one layer instead.
    Returns the resulting row count. An empty or absent `path` takes
    `new_df` as its first version; a non-empty `path` with no
    ``_CURRENT`` raises rather than commit the delta alone. ``retain`` >
    1 keeps trailing versions for time travel (`read_version`/`vacuum`).
    """
    current = _current_version(path)
    if current is None and os.path.exists(path) and os.listdir(path):
        raise FileExistsError(f"{path} is not empty and has no {CURRENT_POINTER}; full_refresh it first")
    new_df.select(key)  # an unknown key fails here, before anything is written
    if current is not None:
        sizes = [sum(map(os.path.getsize, _layer_files(path, d))) for d, _ in _layers(path, current)]
        if len(sizes) >= MAX_LAYERS or 2 * sum(sizes[1:]) > sizes[0]:
            folded = _fold([*_layer_frames(spark, path, current), (new_df, key)])
            return _commit(folded, path, retain=retain)
    return _commit(new_df, path, retain=retain, key=key)


def _retain_all(path: str, retain: int | None) -> int:
    """None = keep every version on disk plus the new one: a maintenance
    op must not shrink a retention window the caller built."""
    return retain if retain is not None else len(list_versions(path)) + 1


def _require_current(path: str) -> int:
    current = _current_version(path)
    if current is None:
        raise FileNotFoundError(f"{path} has no {CURRENT_POINTER}: not a sinks dataset")
    return current


def delete_where(spark, path: str, condition, retain: int | None = None) -> int:
    """Versioned DELETE (right-to-be-forgotten / data-retention
    enforcement — the op a GDPR request needs; duva can only drop whole
    tables, app/core/importer.py:242-246).

    Rows matching `condition` (a Column predicate) go from every layer;
    the rest is committed as a one-layer version. The previous version
    stays readable via `read_version` until `vacuum` drops it: the delete
    is auditable AND reversible within the retention window. Returns the
    surviving row count."""
    from pyspark.sql import functions as F

    current = _require_current(path)
    # SQL DELETE semantics: only rows where the predicate is TRUE go;
    # a NULL-evaluating predicate must KEEP the row (a bare ~condition
    # would silently over-delete NULL rows — fatal in a GDPR helper).
    remaining = _fold(_layer_frames(spark, path, current)).filter(~F.coalesce(condition, F.lit(False)))
    return _commit(remaining, path, retain=_retain_all(path, retain))


def _layer_files(path: str, layer: str) -> list[str]:
    """The parquet data files of one layer, partition dirs included."""
    walk = os.walk(os.path.join(path, layer))
    return [os.path.join(root, f) for root, _, files in walk for f in files if f.endswith(".parquet")]


def _data_files(path: str, version: int) -> list[str]:
    return [f for d, _ in _layers(path, version) for f in _layer_files(path, d)]


def compact(
    spark, path: str, target_file_bytes: int = 128 * 1024 * 1024, retain: int | None = None
) -> tuple[int, int]:
    """Small-file compaction — the OPTIMIZE pass every streaming/
    incremental ingest needs: micro-batch commits accumulate small files,
    and at 100 TB task-per-file scheduling and footers dominate scan
    cost. Folds the current version's layers into one of
    ceil(bytes / target_file_bytes) files, committed as a new version
    (the old one retained for time travel). Returns (files_before,
    files_after), counted across all layers."""
    current = _require_current(path)
    files = _data_files(path, current)
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_target = max(1, -(-total_bytes // target_file_bytes))
    # coalesce, not repartition: merging small files needs NO shuffle
    # (coalesce only narrows partitioning); at 100 TB a repartition
    # would double the IO of the OPTIMIZE pass for nothing.
    df = _fold(_layer_frames(spark, path, current)).coalesce(n_target)
    _commit(df, path, retain=_retain_all(path, retain))
    return len(files), len(_data_files(path, _require_current(path)))
