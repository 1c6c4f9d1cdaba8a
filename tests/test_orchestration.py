"""Control-plane semantics: state transitions, failure cap, locking, and
the end-to-end sync job (reference: EP2 flow + hyper_utils.py:222-268)."""

from __future__ import annotations

import pytest

from duva_spark.orchestration import (
    FAILURE_CAP,
    DatasetLock,
    FileStatus,
    LockHeld,
    MetadataStore,
    SyncJob,
)

CSV_OK = "name,age\nalice,34\nbob,41\n"


def _store(tmp_path):
    return MetadataStore(tmp_path / "catalog.json")


def test_success_path_resets_failures(spark, tmp_path):
    store = _store(tmp_path)
    store.get("d1").sync_failures = 2
    csv = tmp_path / "d1.csv"
    csv.write_text(CSV_OK)
    job = SyncJob(spark, store, tmp_path, fetch=lambda _id: csv)
    n = job.run("d1", str(tmp_path / "out"))
    assert n == 2
    s = store.get("d1")
    assert s.file_status == FileStatus.FILE_AVAILABLE.value
    assert s.sync_failures == 0 and s.last_updated is not None


def test_three_failures_deactivate(spark, tmp_path):
    store = _store(tmp_path)

    def bad_fetch(_id):
        raise IOError("export download failed")

    job = SyncJob(spark, store, tmp_path, fetch=bad_fetch)
    for i in range(FAILURE_CAP):
        with pytest.raises(IOError):
            job.run("d2", str(tmp_path / "out"))
    s = store.get("d2")
    assert s.is_active is False
    assert s.sync_failures == FAILURE_CAP
    assert s.file_status == FileStatus.LATEST_SYNC_FAILED.value
    # further runs refuse outright
    with pytest.raises(RuntimeError, match="deactivated"):
        job.run("d2", str(tmp_path / "out"))


def test_lock_excludes_concurrent_sync(tmp_path):
    with DatasetLock(tmp_path, "d3"):
        with pytest.raises(LockHeld):
            with DatasetLock(tmp_path, "d3"):
                pass
    # released → acquirable again
    with DatasetLock(tmp_path, "d3"):
        pass


def test_state_survives_store_reload(tmp_path):
    store = _store(tmp_path)
    store.record_failure("d4", "boom")
    reloaded = MetadataStore(tmp_path / "catalog.json")
    s = reloaded.get("d4")
    assert s.sync_failures == 1 and s.failure_reason == "boom"


def test_empty_export_records_failure(spark, tmp_path):
    store = _store(tmp_path)
    csv = tmp_path / "empty.csv"
    csv.write_text("a,b\n")
    job = SyncJob(spark, store, tmp_path, fetch=lambda _id: csv)
    with pytest.raises(Exception):
        job.run("d5", str(tmp_path / "out"))
    assert store.get("d5").sync_failures == 1


def test_http_source_retry_and_poll():
    from duva_spark.sources.http import (
        FailedExternalRequest,
        fetch_to_local,
        poll_async_export,
    )

    calls = []

    def flaky(url):
        calls.append(url)
        return (503, b"") if len(calls) < 3 else (200, b"a,b\n1,2\n")

    p = fetch_to_local("http://x/export.csv", flaky, sleep=lambda _: None)
    assert p.read_text() == "a,b\n1,2\n" and len(calls) == 3

    with pytest.raises(FailedExternalRequest):
        fetch_to_local("http://x/gone", lambda u: (404, b""), sleep=lambda _: None)

    polls = []

    def poller(url):
        polls.append(url)
        if len(polls) == 1:
            return (202, {"job_uuid": "j1", "job_status": "PENDING"})
        return (202, {"job_status": "SUCCESS", "export_url": "http://x/data.csv"})

    url = poll_async_export("http://x/export_async.json?format=csv", poller, sleep=lambda _: None)
    assert url == "http://x/data.csv"
    assert "job_uuid=j1" in polls[1]  # re-attaches the job id (onadata.py:113-116)


def test_stale_lock_reclaimed_when_holder_dead(tmp_path):
    from duva_spark.orchestration.lock import DatasetLock, LockHeld

    # Simulate a kill -9: lockfile left behind by a process that's gone.
    dead = DatasetLock(tmp_path, "ds1")
    stale = tmp_path / dead._path.name
    stale.write_text("999999999")  # PID far beyond pid_max → not alive
    with DatasetLock(tmp_path, "ds1"):  # reclaims, doesn't raise
        with pytest.raises(LockHeld):  # but a live holder still excludes
            DatasetLock(tmp_path, "ds1").__enter__()


def test_unreadable_lock_respects_ttl(tmp_path):
    import os
    import time

    from duva_spark.orchestration.lock import DatasetLock, LockHeld

    lock = DatasetLock(tmp_path, "ds2", stale_ttl=3600)
    stale = tmp_path / lock._path.name
    stale.write_text("garbage")  # partial write: no parseable PID
    with pytest.raises(LockHeld):  # fresh mtime → still held
        lock.__enter__()
    old = time.time() - 7200
    os.utime(stale, (old, old))
    with DatasetLock(tmp_path, "ds2", stale_ttl=3600):  # past TTL → reclaimed
        pass


def test_store_flush_is_atomic_and_thread_safe(tmp_path):
    import json
    import threading

    from duva_spark.orchestration.state import MetadataStore

    store = MetadataStore(tmp_path / "meta.json")

    def spin(ds):
        for _ in range(25):
            store.record_success(ds)
            store.record_failure(ds, "boom")

    threads = [threading.Thread(target=spin, args=(f"d{i}",)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # No lost rows, no torn file, no leftover temp files.
    data = json.loads((tmp_path / "meta.json").read_text())["rows"]
    assert sorted(data) == [f"d{i}" for i in range(8)]
    assert not list(tmp_path.glob("*.tmp"))


def test_salted_join_rejects_build_preserving_types(spark):
    from duva_spark.operators.skew import salted_join

    probe = spark.createDataFrame([(1, "a")], "k long, p string")
    build = spark.createDataFrame([(1, "x"), (2, "y")], "k long, b string")
    with pytest.raises(ValueError, match="probe-preserving"):
        salted_join(probe, build, "k", how="right")
    with pytest.raises(ValueError, match="probe-preserving"):
        salted_join(probe, build, "k", how="full_outer")
    assert salted_join(probe, build, "k", how="left").count() == 1


def test_fetch_no_sleep_after_final_attempt():
    from duva_spark.sources.http import FailedExternalRequest, fetch_to_local

    sleeps = []
    with pytest.raises(FailedExternalRequest):
        fetch_to_local("http://x", lambda u: (503, b""), retries=3, sleep=sleeps.append)
    assert len(sleeps) == 3  # one per retry gap, none after the last try


def test_store_v1_file_upgrades_to_current(tmp_path):
    """Round-trip a v(N-1) store file: a bare v1 mapping (no
    schema_version stamp, missing later-added fields) loads through the
    upgrade shim, backfills defaults, and is re-persisted stamped at
    SCHEMA_VERSION — r5 verdict item 3 (alembic-parity upgrade path)."""
    import json

    from duva_spark.orchestration.state import (
        SCHEMA_VERSION,
        FileStatus,
        MetadataStore,
    )

    p = tmp_path / "store.json"
    # v1 on-disk form: bare {dataset_id: row}, pre-dating job_id/
    # failure_reason fields
    p.write_text(
        json.dumps(
            {
                "ds1": {
                    "dataset_id": "ds1",
                    "file_status": FileStatus.FILE_AVAILABLE.value,
                    "is_active": True,
                    "sync_failures": 1,
                }
            }
        )
    )
    store = MetadataStore(p)
    s = store.get("ds1")
    assert s.sync_failures == 1
    assert s.failure_reason is None  # backfilled default
    assert s.job_id is None
    on_disk = json.loads(p.read_text())
    assert on_disk["schema_version"] == SCHEMA_VERSION
    assert on_disk["rows"]["ds1"]["file_status"] == FileStatus.FILE_AVAILABLE.value
    # and the migrated file round-trips cleanly through a fresh store
    again = MetadataStore(p)
    assert again.get("ds1").sync_failures == 1


def test_store_refuses_future_schema(tmp_path):
    import json

    import pytest as _pytest

    from duva_spark.orchestration.state import (
        SCHEMA_VERSION,
        MetadataSchemaError,
        MetadataStore,
    )

    p = tmp_path / "store.json"
    p.write_text(json.dumps({"schema_version": SCHEMA_VERSION + 1, "rows": {}}))
    with _pytest.raises(MetadataSchemaError):
        MetadataStore(p)


def test_metadata_store_refuses_malformed_rows(tmp_path):
    """A v2-stamped file MISSING the "rows" mapping is corrupt: the load
    must raise the clear MetadataSchemaError, not a cryptic TypeError
    from iterating the envelope keys (ADVICE r6 item 3)."""
    import json

    import pytest as _pytest

    from duva_spark.orchestration.state import (
        SCHEMA_VERSION,
        MetadataSchemaError,
        MetadataStore,
    )

    p = tmp_path / "store.json"
    p.write_text(json.dumps({"schema_version": SCHEMA_VERSION}))
    with _pytest.raises(MetadataSchemaError, match="rows"):
        MetadataStore(p)

    p.write_text(json.dumps({"schema_version": SCHEMA_VERSION, "rows": [1, 2]}))
    with _pytest.raises(MetadataSchemaError, match="rows"):
        MetadataStore(p)


def test_synced_extract_takes_upsert_delete_and_time_travel(spark, tmp_path):
    """The extract a sync writes is the dataset the keyed upsert, the
    versioned delete and time travel work on: every sinks writer commits
    the same versioned ``_CURRENT`` pointer."""
    from pyspark.sql import functions as F

    from duva_spark import sinks

    csv = tmp_path / "d9.csv"
    csv.write_text("_id,name,age\n1,alice,34\n2,bob,41\n")
    out = str(tmp_path / "out")
    assert SyncJob(spark, _store(tmp_path), tmp_path, fetch=lambda _id: csv).run("d9", out) == 2
    delta = spark.createDataFrame(
        [(2, "bob", 42), (3, "carol", 19)], "`_id` long, name string, age long"
    )
    assert sinks.merge_upsert(spark, delta, out, "_id") == 3
    assert sinks.delete_where(spark, out, F.col("name") == "alice") == 2
    assert {r._id: r.age for r in sinks.read_dataset(spark, out).collect()} == {2: 42, 3: 19}
    pre_delete = {r._id: r.age for r in sinks.read_version(spark, out, 1).collect()}
    assert pre_delete == {1: 34, 2: 42, 3: 19}
