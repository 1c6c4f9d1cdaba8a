"""Sinks: full-refresh Parquet datasets mirroring duva's drop-and-recreate
semantics, partitioned writes, and the S3 artifact layout.

Reference behavior reproduced:
- full refresh: CREATE_AND_REPLACE drop-and-recreate per sync — schema
  drift between syncs is tolerated (app/core/importer.py:242-249) →
  ``mode("overwrite")`` here;
- COPY returns the loaded row count, the only metric duva reports
  (app/core/importer.py:251-256) → returned from full_refresh;
- artifact key layout ``{server_id}/{username}/{form_id}_{filename}``
  (app/crud/crud_hyperfile.py:84-85) → dataset_path.

Scale: writes go through Spark's committer (task-level parallel write,
atomic job commit). `partition_by` exposes hive-style partitioning so a
100 TB dataset prunes on read; the overwrite is dynamic-partition-aware
when `dynamic=True` (only touched partitions replaced — the incremental
upgrade duva never had).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def dataset_path(root: str, server_id: str | int, username: str, form_id: str | int) -> str:
    return f"{root.rstrip('/')}/{server_id}/{username}/{form_id}"


def full_refresh(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    dynamic: bool = False,
) -> int:
    """Overwrite the dataset at `path`; returns the row count loaded
    (duva's COPY contract). One distributed pass — the count is taken
    from the same scan that feeds the write via an observation."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("full_refresh")
    observed = df.observe(obs, F.count(F.lit(1)).alias("n_rows"))
    writer = observed.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if dynamic:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(path)
    return int(obs.get["n_rows"])


def _recover_rename_swap(path: str) -> None:
    """Make `path` consistent after a crash mid-swap: a leftover
    ``__staging`` is never authoritative (the swap hadn't started) and is
    discarded; a leftover ``__old`` with no live dataset means we crashed
    between the two renames — restore it."""
    import os
    import shutil

    staging, backup = f"{path}__staging", f"{path}__old"
    if os.path.exists(staging):
        shutil.rmtree(staging)
    if os.path.exists(backup):
        if not os.path.exists(path):
            os.rename(backup, path)  # crash between rename-out and rename-in
        else:
            shutil.rmtree(backup)  # crash before the final cleanup


def _rename_swap_upsert(spark, merged: DataFrame, path: str) -> int:
    """Directory-rename commit: POSIX-atomic per rename, with entry-time
    recovery so a valid dataset exists at `path` at every instant except
    the sub-millisecond gap between the two renames (restored on next run
    if a crash lands in it). Local-filesystem semantics — object stores
    should use commit='pointer'."""
    import os
    import shutil

    staging = f"{path}__staging"
    n = full_refresh(merged, staging)
    backup = f"{path}__old"
    os.rename(path, backup)
    try:
        os.rename(staging, path)
    except BaseException:
        os.rename(backup, path)  # put the old dataset back before failing
        raise
    shutil.rmtree(backup)
    return n


CURRENT_POINTER = "_CURRENT"


def _pointer_read_path(path: str) -> str | None:
    import os

    ptr = os.path.join(path, CURRENT_POINTER)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return os.path.join(path, f.read().strip())


def read_dataset(spark, path: str) -> DataFrame:
    """Read a dataset written by merge_upsert, either layout: pointer
    roots resolve ``_CURRENT``; plain parquet dirs read directly."""
    return spark.read.parquet(_pointer_read_path(path) or path)


def _pointer_commit_upsert(
    spark, merged: DataFrame, path: str, current: str, retain: int = 1
) -> int:
    """Pointer-file commit (object-store-safe): write a NEW immutable
    version directory, then atomically replace the one small ``_CURRENT``
    file naming it. No directory is ever renamed — on S3/GCS the pointer
    replace is a single-object PUT, which is atomic; ``os.replace``
    emulates that locally. A crash leaves at worst an orphan version
    directory, garbage-collected at the next commit; the live dataset is
    never absent. This is the same commit shape Delta/Iceberg use (log
    entry → snapshot); swap in their native MERGE when the jars ship.

    ``retain`` keeps that many trailing versions (current included) for
    time travel via `read_version`; older ones and any orphans newer
    than current (crashed commits) are garbage-collected."""
    import os
    import tempfile

    cur_name = os.path.basename(current) if current else None
    ver = int(cur_name[1:]) + 1 if cur_name and cur_name[0] == "v" else 0
    new_name = f"v{ver}"
    n = full_refresh(merged, os.path.join(path, new_name))
    fd, tmp = tempfile.mkstemp(dir=path, suffix=".ptr")
    with os.fdopen(fd, "w") as f:
        f.write(new_name)
    os.replace(tmp, os.path.join(path, CURRENT_POINTER))
    vacuum(path, retain=retain)
    return n


def list_versions(path: str) -> list[int]:
    """Version numbers present on disk, oldest first."""
    import os

    out = []
    for entry in os.listdir(path):
        if entry.startswith("v") and entry[1:].isdigit() and os.path.isdir(
            os.path.join(path, entry)
        ):
            out.append(int(entry[1:]))
    return sorted(out)


def read_version(spark, path: str, version: int) -> DataFrame:
    """Time travel: read a retained historical version of a pointer
    dataset (Delta's ``VERSION AS OF`` on the pointer scheme). Raises if
    the version was vacuumed."""
    import os

    full = os.path.join(path, f"v{version}")
    if not os.path.isdir(full):
        raise FileNotFoundError(
            f"version {version} not on disk (retained: {list_versions(path)})"
        )
    return spark.read.parquet(full)


def vacuum(path: str, retain: int = 1) -> list[int]:
    """Drop all but the trailing `retain` versions up to the current
    pointer, plus any orphan directories NEWER than current (half-written
    crashed commits). Returns the removed version numbers."""
    import os
    import shutil

    current = _pointer_read_path(path)
    if current is None:
        return []
    cur_ver = int(os.path.basename(current)[1:])
    keep = {v for v in list_versions(path) if v <= cur_ver}
    keep = set(sorted(keep)[-max(retain, 1):])
    removed = []
    for v in list_versions(path):
        if v not in keep and v != cur_ver:
            shutil.rmtree(os.path.join(path, f"v{v}"), ignore_errors=True)
            removed.append(v)
    return removed


def native_merge_backend(spark) -> str | None:
    """Detect a table format whose native ``MERGE INTO`` should replace
    the anti-join emulation: returns ``"delta"`` or ``"iceberg"`` when
    the session was built with the matching SQL extension AND (for
    Delta) the python bindings import, else None. Detection is config-
    based — no speculative jar loading on the hot path."""
    ext = spark.conf.get("spark.sql.extensions", "")
    if "io.delta.sql.DeltaSparkSessionExtension" in ext:
        try:
            import delta  # noqa: F401, PLC0415

            return "delta"
        except ImportError:
            return None
    if "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions" in ext:
        return "iceberg"
    return None


def _native_merge_upsert(spark, new_df: DataFrame, path: str, key: str, backend: str) -> int:
    """Upsert via the table format's own MERGE: the log-commit, conflict
    detection, and file skipping come from Delta/Iceberg instead of the
    pointer scheme. Same contract as merge_upsert: returns the resulting
    row count."""
    if backend == "delta":
        from delta.tables import DeltaTable  # noqa: PLC0415

        if not DeltaTable.isDeltaTable(spark, path):
            new_df.write.format("delta").mode("overwrite").save(path)
        else:
            (
                DeltaTable.forPath(spark, path)
                .alias("t")
                .merge(new_df.alias("s"), f"t.{key} = s.{key}")
                .whenMatchedUpdateAll()
                .whenNotMatchedInsertAll()
                .execute()
            )
        return spark.read.format("delta").load(path).count()
    if backend == "iceberg":
        # Iceberg MERGE is SQL-only; `path` is a catalog table name here.
        new_df.createOrReplaceTempView("_merge_source")
        spark.sql(
            f"MERGE INTO {path} t USING _merge_source s ON t.{key} = s.{key} "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
        return spark.table(path).count()
    raise ValueError(f"unknown native merge backend {backend!r}")


def merge_upsert(
    spark,
    new_df: DataFrame,
    path: str,
    key: str,
    commit: str = "rename",
    retain: int = 1,
) -> int:
    """Incremental upsert keyed on `key` — the improvement duva never had
    (it drop-and-recreates every sync, app/core/importer.py:242-246; the
    natural key is the OnaData `_id`/`_uuid` system column).

    Without a table format that supports MERGE (Delta/Iceberg jars absent
    here), the portable emulation is: existing ⟕anti⟕ new → union → write
    new data → commit. The dataflow (one anti-join shuffle on the key)
    is identical to a native MERGE; `commit` picks the swap strategy:

    - ``"rename"``: in-place directory swap, crash-recovering (local
      filesystems; readers see plain parquet at `path`);
    - ``"pointer"``: versioned directories + atomic ``_CURRENT`` pointer
      replace (object-store-safe, zero-absence; read via read_dataset).
      ``retain`` > 1 keeps trailing versions for time travel
      (`read_version` / `vacuum`), Delta's VERSION AS OF on the pointer
      scheme;
    - ``"native"``: the table format's own MERGE INTO
      (`native_merge_backend` must detect Delta or Iceberg in the
      session — raises otherwise);
    - ``"auto"``: native when a backend is detected, else pointer — the
      recommended setting for production callers (the signature default
      stays ``"rename"`` for backward compatibility with existing
      local-filesystem call sites; pass ``commit="auto"`` explicitly to
      opt into native MERGE).

    Returns the resulting row count.
    """
    import os

    if commit == "auto":
        backend = native_merge_backend(spark)
        commit = "native" if backend else "pointer"
    if commit == "native":
        backend = native_merge_backend(spark)
        if backend is None:
            raise RuntimeError(
                "commit='native' requires Delta or Iceberg in the session "
                "(spark.sql.extensions); use commit='auto' to fall back"
            )
        return _native_merge_upsert(spark, new_df, path, key, backend)
    if commit not in ("rename", "pointer"):
        raise ValueError(f"unknown commit strategy {commit!r}")
    if commit == "pointer":
        os.makedirs(path, exist_ok=True)
        current = _pointer_read_path(path)
        if current is None:
            return _pointer_commit_upsert(spark, new_df, path, None, retain)
        existing = spark.read.parquet(current)
    else:
        _recover_rename_swap(path)
        if not os.path.exists(path):
            return full_refresh(new_df, path)
        existing = spark.read.parquet(path)
    keep = existing.join(new_df.select(key), on=key, how="left_anti")
    merged = keep.unionByName(new_df, allowMissingColumns=True)
    if commit == "pointer":
        return _pointer_commit_upsert(spark, merged, path, current, retain)
    return _rename_swap_upsert(spark, merged, path)


def _retain_all(path: str, retain: int | None) -> int:
    """None = preserve every version currently on disk plus the new one —
    a maintenance op must not silently shrink a retention window the
    caller built with a larger retain."""
    return retain if retain is not None else len(list_versions(path)) + 1


def delete_where(
    spark,
    path: str,
    condition,
    retain: int | None = None,
) -> int:
    """Versioned DELETE on a pointer-commit dataset (right-to-be-forgotten
    / data-retention enforcement — the op a GDPR request needs; duva can
    only drop whole tables, app/core/importer.py:242-246).

    Rows matching `condition` (a Column predicate) are removed by writing
    a NEW immutable version containing the complement and atomically
    advancing the ``_CURRENT`` pointer — the same object-store-safe
    commit as merge_upsert(commit="pointer"). The previous version stays
    readable via `read_version` until `vacuum` drops it, which is what
    makes the delete auditable AND reversible within the retention
    window. One filtered scan, no shuffle. Returns the surviving row
    count.
    """
    from pyspark.sql import functions as F

    current = _pointer_read_path(path)
    if current is None:
        raise FileNotFoundError(f"{path} is not a pointer-commit dataset")
    # SQL DELETE semantics: only rows where the predicate is TRUE go;
    # a NULL-evaluating predicate must KEEP the row (a bare ~condition
    # would silently over-delete NULL rows — fatal in a GDPR helper).
    remaining = spark.read.parquet(current).filter(
        ~F.coalesce(condition, F.lit(False))
    )
    return _pointer_commit_upsert(spark, remaining, path, current, _retain_all(path, retain))


def compact(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    retain: int | None = None,
) -> tuple[int, int]:
    """Small-file compaction on a pointer-commit dataset — the OPTIMIZE
    pass every streaming/incremental ingest needs: micro-batch commits
    accumulate many small files, and at 100 TB the resulting task-per-
    file scheduling and footer overhead dominate scan cost. Rewrites the
    current version into ceil(bytes / target_file_bytes) files via
    repartition and commits it as a new version (object-store-safe, old
    version retained for time travel). Returns (files_before,
    files_after).
    """
    import os

    current = _pointer_read_path(path)
    if current is None:
        raise FileNotFoundError(f"{path} is not a pointer-commit dataset")
    files = [f for f in os.listdir(current) if f.endswith(".parquet")]
    total_bytes = sum(os.path.getsize(os.path.join(current, f)) for f in files)
    n_target = max(1, -(-total_bytes // target_file_bytes))
    # coalesce, not repartition: merging small files needs NO shuffle
    # (coalesce only narrows partitioning); at 100 TB a repartition
    # would double the IO of the OPTIMIZE pass for nothing.
    df = spark.read.parquet(current).coalesce(n_target)
    _pointer_commit_upsert(spark, df, path, current, _retain_all(path, retain))
    new_current = _pointer_read_path(path)
    files_after = len([f for f in os.listdir(new_current) if f.endswith(".parquet")])
    return len(files), files_after
