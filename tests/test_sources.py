"""Ingestion parity with duva: null markers, 3-type schema universe,
empty-input abort, XLSForm schema-first path.

Reference semantics under test: app/core/importer.py:38-74 (type map +
null markers), :236-240 (empty abort); app/utils/hyper_utils.py:40-46
(XLSForm map).
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from duva_spark.sources.csv_source import (
    EmptyInputError,
    infer_csv_schema,
    read_csv_duva,
    schema_from_form,
)

CSV = """respondent_name,age,household_income,consented,visit_date
alice,34,1200.5,yes,2024-01-01
bob,41,n/a,no,2024-01-02
,19,880.0,yes,2024-01-03
carol,n/a,,yes,
"""


@pytest.fixture(scope="module")
def csv_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("csv") / "submissions.csv"
    p.write_text(CSV)
    return str(p)


def test_null_markers_become_null(spark, csv_path):
    df = read_csv_duva(spark, csv_path)
    rows = {r.respondent_name: r for r in df.collect()}
    assert rows["bob"].household_income is None  # "n/a" → NULL
    assert rows["carol"].visit_date is None  # "" → NULL
    assert rows["carol"].age is None
    assert None in rows  # empty respondent_name → NULL row key


def test_three_type_universe(spark, csv_path):
    schema = {f.name: f.dataType for f in read_csv_duva(spark, csv_path).schema.fields}
    assert schema["age"] == T.LongType()  # kind i → BIG_INT
    assert schema["household_income"] == T.DoubleType()  # kind f → DOUBLE
    # everything else collapses to TEXT, including booleans and dates
    assert schema["consented"] == T.StringType()
    assert schema["visit_date"] == T.StringType()
    assert schema["respondent_name"] == T.StringType()


def test_widened_types(spark, csv_path):
    schema = {f.name: f.dataType for f in infer_csv_schema(spark, csv_path, widen_types=True).fields}
    assert schema["visit_date"] in (T.DateType(), T.TimestampType())
    assert schema["consented"] in (T.BooleanType(), T.StringType())


def test_empty_input_aborts(spark, tmp_path):
    p = tmp_path / "empty.csv"
    p.write_text("a,b,c\n")  # header only
    with pytest.raises(EmptyInputError):
        read_csv_duva(spark, str(p))


def test_schema_from_form():
    schema = schema_from_form(
        [
            {"name": "age", "type": "integer"},
            {"name": "income", "type": "decimal"},
            {"name": "name", "type": "text"},
            {"name": "services", "type": "select all that apply"},
        ]
    )
    assert schema["age"].dataType == T.LongType()
    assert schema["income"].dataType == T.DoubleType()
    assert schema["services"].dataType == T.StringType()


def test_row_count_contract(spark, csv_path, tmp_path):
    from duva_spark.sinks import full_refresh, read_dataset

    df = read_csv_duva(spark, csv_path)
    n = full_refresh(df, str(tmp_path / "out"))
    assert n == 4  # COPY-style row count (app/core/importer.py:251-256)
    back = read_dataset(spark, str(tmp_path / "out"))
    assert back.count() == 4


def test_full_refresh_overwrites_with_schema_drift(spark, tmp_path):
    from duva_spark.sinks import full_refresh, read_dataset

    out = str(tmp_path / "drift")
    full_refresh(spark.createDataFrame([(1, "x")], "id long, a string"), out)
    # second sync drops a column and adds another — full refresh tolerates it
    full_refresh(spark.createDataFrame([(2, 3.5)], "id long, b double"), out)
    back = read_dataset(spark, out)
    assert set(back.columns) == {"id", "b"}
    assert back.count() == 1


def _jobs_in_group(spark, fn):
    """Run ``fn`` in a fresh job group; return its result and the ids of
    the Spark jobs it launched."""
    import uuid

    sc = spark.sparkContext
    group = f"sinks-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "sinks read")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_read_dataset_launches_no_spark_job(spark, tmp_path):
    """The read declares the footer schema: no schema-inference job."""
    from duva_spark.sinks import _version_dir, full_refresh, read_dataset

    out = str(tmp_path / "ds")
    full_refresh(spark.createDataFrame([(1, "a", 2.5)], "`_id` long, name string, score double"), out)
    back, jobs = _jobs_in_group(spark, lambda: read_dataset(spark, out))
    assert jobs == []
    assert back.schema == spark.read.parquet(_version_dir(out, 0)).schema
    assert [tuple(r) for r in back.collect()] == [(1, "a", 2.5)]


def test_read_dataset_discovers_partition_columns(spark, tmp_path):
    """A partition_by dataset: the footer holds only the data columns and
    Spark's partition discovery still appends the partition column."""
    from duva_spark.sinks import _version_dir, full_refresh, read_dataset

    out = str(tmp_path / "parted")
    rows = [(1, "en", "a"), (2, "fr", "b"), (3, "en", "c")]
    full_refresh(
        spark.createDataFrame(rows, "`_id` long, lang string, name string"), out, partition_by=["lang"]
    )
    back, jobs = _jobs_in_group(spark, lambda: read_dataset(spark, out))
    assert jobs == []
    assert back.columns == ["_id", "name", "lang"]
    assert back.schema == spark.read.parquet(_version_dir(out, 0)).schema
    assert sorted(tuple(r) for r in back.collect()) == [(1, "a", "en"), (2, "b", "fr"), (3, "c", "en")]
    assert {r._id for r in back.filter("lang = 'en'").collect()} == {1, 3}


def test_json_source_with_schema(spark, tmp_path):
    """JSON source (SURVEY §2b scans row): explicit schema, no inference."""
    p = tmp_path / "data.jsonl"
    p.write_text('{"id": 1, "tags": ["a","b"], "meta": {"x": 2.5}}\n{"id": 2, "tags": [], "meta": {"x": null}}\n')
    df = spark.read.schema("id long, tags array<string>, meta struct<x:double>").json(str(p))
    rows = {r.id: r for r in df.collect()}
    assert rows[1].tags == ["a", "b"] and rows[1].meta.x == 2.5
    assert rows[2].meta.x is None


def test_orc_roundtrip(spark, tmp_path):
    out = str(tmp_path / "orc")
    spark.createDataFrame([(1, "a")], "id long, v string").write.orc(out)
    assert spark.read.orc(out).collect()[0].v == "a"


def test_merge_upsert_incremental_sync(spark, tmp_path):
    """Upsert keyed on _id: updated rows replaced, new rows appended,
    untouched rows preserved — the incremental alternative to duva's
    full refresh. A non-empty root with no _CURRENT (a plain parquet
    dir) is refused, never replaced by the delta alone."""
    from duva_spark.sinks import merge_upsert, read_dataset

    out = str(tmp_path / "ds")
    first = spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", 30.0)],
        "`_id` long, name string, score double",
    )
    assert merge_upsert(spark, first, out, "_id") == 3
    second = spark.createDataFrame(
        [(2, "bob", 99.0), (4, "dave", 40.0)], "`_id` long, name string, score double"
    )
    assert merge_upsert(spark, second, out, "_id") == 4
    rows = {r._id: (r.name, r.score) for r in read_dataset(spark, out).collect()}
    assert rows == {1: ("alice", 10.0), 2: ("bob", 99.0), 3: ("carol", 30.0), 4: ("dave", 40.0)}
    plain = str(tmp_path / "plain")
    first.write.parquet(plain)
    with pytest.raises(FileExistsError, match="_CURRENT"):
        merge_upsert(spark, second, plain, "_id")
    assert spark.read.parquet(plain).count() == 3


def test_merge_upsert_pointer_commit_never_renames_a_directory(spark, tmp_path, monkeypatch):
    """Object-store simulation: directory renames are impossible (S3 has
    no rename); the pointer commit must still upsert correctly, and the
    live dataset must be readable at every step — also after a commit
    that crashed before its ``_CURRENT`` replace, whose orphan version
    the next commit replaces."""
    import os

    from duva_spark.sinks import list_versions, merge_upsert, read_dataset

    real_rename = os.rename

    def no_dir_rename(src, dst, **kw):
        if os.path.isdir(src):
            raise OSError(f"simulated object store: cannot rename directory {src}")
        return real_rename(src, dst, **kw)

    monkeypatch.setattr(os, "rename", no_dir_rename)
    out = str(tmp_path / "ds")
    first = spark.createDataFrame([(1, "a"), (2, "b")], "`_id` long, v string")
    assert merge_upsert(spark, first, out, "_id") == 2
    assert {r._id for r in read_dataset(spark, out).collect()} == {1, 2}

    def crash(src, dst):
        raise OSError("simulated crash before the pointer replace")

    with pytest.MonkeyPatch.context() as m:
        m.setattr(os, "replace", crash)
        orphan = spark.createDataFrame([(9, "orphan")], "`_id` long, v string")
        with pytest.raises(OSError, match="simulated crash"):
            merge_upsert(spark, orphan, out, "_id")
    assert list_versions(out) == [0, 1]  # v1 written, never committed
    assert {r._id for r in read_dataset(spark, out).collect()} == {1, 2}
    second = spark.createDataFrame([(2, "B"), (3, "c")], "`_id` long, v string")
    assert merge_upsert(spark, second, out, "_id") == 3
    rows = {r._id: r.v for r in read_dataset(spark, out).collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}  # the orphan's row is gone
    # Superseded version directories were garbage-collected.
    assert sorted(os.listdir(out)) == ["_CURRENT", "v1"]


def test_pointer_time_travel_and_vacuum(spark, tmp_path):
    """retain=3 keeps trailing versions readable as of their commit
    (Delta VERSION AS OF on the pointer scheme); vacuum prunes to the
    requested horizon and read_version raises past it."""
    import pytest as _pytest

    from duva_spark.sinks import (
        list_versions,
        merge_upsert,
        read_dataset,
        read_version,
        vacuum,
    )

    out = str(tmp_path / "ds")
    for i, batch in enumerate([[(1, "a")], [(2, "b")], [(2, "B"), (3, "c")], [(4, "d")]]):
        df = spark.createDataFrame(batch, "`_id` long, v string")
        merge_upsert(spark, df, out, "_id", retain=3)
    assert list_versions(out) == [1, 2, 3]  # v0 vacuumed, 3 retained
    assert {r._id for r in read_dataset(spark, out).collect()} == {1, 2, 3, 4}
    # time travel: v1 was the state after the second commit
    assert {r._id for r in read_version(spark, out, 1).collect()} == {1, 2}
    assert {r._id: r.v for r in read_version(spark, out, 2).collect()}[2] == "B"
    assert vacuum(out, retain=1) == [1, 2]
    with _pytest.raises(FileNotFoundError, match="retained"):
        read_version(spark, out, 1)
    assert {r._id for r in read_dataset(spark, out).collect()} == {1, 2, 3, 4}


# ---------------------------------------------------------------------------
# PySpark 4 Python DataSource: spark.read.format("onadata")
# ---------------------------------------------------------------------------


@pytest.fixture()
def onadata_server():
    """Live HTTP server speaking the reference's async-export protocol:
    poll 1 answers a job_uuid, poll 2 (with the uuid re-attached) answers
    SUCCESS + export_url, which serves the CSV (with S4 null tokens)."""
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    csv_body = (
        "name,age,score,notes\n"
        "alice,34,1.5,ok\n"
        "bob,n/a,2.25,\n"
        "carol,41,,fine\n"
        + "".join(f"u{i},{i},{i}.5,x\n" for i in range(50))
    )
    state = {"polls": 0}

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            if self.path.startswith("/export_async"):
                state["polls"] += 1
                if "job_uuid" not in self.path:
                    payload = {"job_uuid": "abc123"}
                else:
                    base = f"http://127.0.0.1:{self.server.server_address[1]}"
                    payload = {"job_status": "SUCCESS", "export_url": f"{base}/data.csv"}
                body = _json.dumps(payload).encode()
                self.send_response(202)
            else:
                body = csv_body.encode()
                self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{server.server_address[1]}", state
    server.shutdown()


@pytest.mark.slow
def test_onadata_datasource_end_to_end(spark, onadata_server):
    """format('onadata') polls the async export, downloads with the retry
    client, infers the 3-type universe, normalizes S4 nulls, and parses
    in parallel line-range partitions on the executors."""
    from duva_spark.sources.datasource import OnaDataSource

    base, state = onadata_server
    spark.dataSource.register(OnaDataSource)
    df = (
        spark.read.format("onadata")
        .option("export_url", f"{base}/export_async?format=csv")
        .option("partitions", "4")
        .load()
    )
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "string", "bigint", "double", "string",
    ]
    assert df.rdd.getNumPartitions() == 4  # distributed parse
    rows = {r["name"]: r for r in df.collect()}
    assert len(rows) == 53
    assert rows["bob"]["age"] is None and rows["bob"]["notes"] is None  # S4
    assert rows["carol"]["score"] is None
    assert rows["alice"]["age"] == 34 and rows["alice"]["score"] == 1.5
    assert state["polls"] == 2  # job_uuid round-trip happened


def test_onadata_datasource_local_path(spark, tmp_path):
    from duva_spark.sources.datasource import OnaDataSource

    p = tmp_path / "x.csv"
    p.write_text("k,v\n1,a\n2,n/a\n")
    spark.dataSource.register(OnaDataSource)
    df = spark.read.format("onadata").option("path", str(p)).load()
    got = sorted((r.k, r.v) for r in df.collect())
    assert got == [(1, "a"), (2, None)]


def test_onadata_streaming_source_incremental(spark):
    """readStream.format('onadata'): each microbatch refetches the export
    and emits only rows past the committed offset — the incremental
    recast of the reference's full-refresh cron sync. Growing the
    upstream export between processAllAvailable calls must append
    exactly the new rows, no duplicates."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from duva_spark.sources.datasource import OnaDataSource

    rows = ["1,a", "2,b"]

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            body = ("k,v\n" + "\n".join(rows) + "\n").encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{server.server_address[1]}"
    spark.dataSource.register(OnaDataSource)
    spark.catalog.dropTempView("onastream") if "onastream" in [
        t.name for t in spark.catalog.listTables()
    ] else None
    q = (
        spark.readStream.format("onadata")
        .schema("k long, v string")
        .option("url", f"{base}/data.csv")
        .load()
        .writeStream.format("memory")
        .queryName("onastream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        assert sorted(
            (r.k, r.v) for r in spark.table("onastream").collect()
        ) == [(1, "a"), (2, "b")]
        rows.append("3,n/a")
        rows.append("4,d")
        q.processAllAvailable()
        assert sorted(
            (r.k, r.v) for r in spark.table("onastream").collect()
        ) == [(1, "a"), (2, "b"), (3, None), (4, "d")]
    finally:
        q.stop()
        server.shutdown()


@pytest.mark.slow
def test_duva_artifact_writer_commit_contract(spark, tmp_path):
    """Task-parallel shard write + atomic driver commit: the artifact
    lands under the K2 key layout, _ROWCOUNT carries the summed task
    counts (the S9 COPY contract), Nones round-trip as 'n/a', and a
    repeat write drop-and-recreates (S8)."""
    import os

    from duva_spark.sources.datasource import DuvaArtifactSink

    spark.dataSource.register(DuvaArtifactSink)
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, "d")], "k long, v string"
    ).repartition(3)
    (
        df.write.format("duva_artifact")
        .option("path", str(tmp_path))
        .option("server_id", "7")
        .option("username", "bob")
        .option("form_id", "42")
        .mode("append")
        .save()
    )
    final = tmp_path / "7" / "bob" / "42"
    assert (final / "_ROWCOUNT").read_text() == "4"
    shards = [f for f in os.listdir(final) if f.startswith("part-")]
    assert len(shards) == 3  # one per task
    body = "".join((final / s).read_text() for s in shards)
    assert "2,n/a" in body  # None -> "n/a" on the way out
    assert not [d for d in os.listdir(tmp_path / "7" / "bob") if "__staging" in d]
    # refresh: write fewer rows, the old artifact is fully replaced
    spark.createDataFrame([(9, "z")], "k long, v string").coalesce(1).write.format(
        "duva_artifact"
    ).option("path", str(tmp_path)).option("server_id", "7").option(
        "username", "bob"
    ).option("form_id", "42").mode("append").save()
    assert (final / "_ROWCOUNT").read_text() == "1"


def test_onadata_datasource_filter_pushdown(spark, tmp_path):
    """Simple comparison filters reach the task's parse loop (Spark 4
    pushFilters): end-to-end the filtered read returns the right rows,
    and at the reader level the supported predicates are absorbed (and
    applied during the scan) while unsupported ones are handed back to
    Spark."""
    from pyspark.sql.datasource import EqualNullSafe, EqualTo, GreaterThanOrEqual
    from pyspark.sql.types import StructType

    from duva_spark.sources.datasource import OnaDataReader, OnaDataSource

    p = tmp_path / "f.csv"
    p.write_text("k,v\n" + "".join(f"{i},x{i % 3}\n" for i in range(100)))
    spark.dataSource.register(OnaDataSource)
    df = (
        spark.read.format("onadata")
        .option("path", str(p))
        .load()
        .filter("k >= 90 and v = 'x0'")
    )
    assert sorted(r.k for r in df.collect()) == [90, 93, 96, 99]

    # Plan-level proof the pushdown is NOT inert (ADVICE r3: a session-
    # conf gate evaluated in the planning worker always chose the plain
    # reader, and Spark's own re-filtering made this e2e pass vacuously):
    # with every predicate pushable, no post-scan Filter node survives.
    import contextlib
    import io
    import re

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert not re.search(r"\(\d+\) Filter", plan), plan

    schema = StructType.fromDDL("k long, v string")
    reader = OnaDataReader(schema, str(p), 100, 2)
    remainder = reader.pushFilters(
        [
            GreaterThanOrEqual(("k",), 90),
            EqualTo(("v",), "x0"),
            EqualNullSafe(("v",), "x0"),  # not in the pushable set
        ]
    )
    assert [type(f).__name__ for f in remainder] == ["EqualNullSafe"]
    parts = reader.partitions()
    got = sorted(r[0] for part in parts for r in reader.read(part))
    assert got == [90, 93, 96, 99]  # filters applied inside the scan


def test_onadata_datasource_permissive_parse(spark, tmp_path):
    """Ragged rows pad with NULL and values that stop matching the
    sample-inferred type degrade to NULL — the scan never fails on
    malformed tail data (permissive-mode contract)."""
    from duva_spark.sources.datasource import OnaDataSource

    p = tmp_path / "ragged.csv"
    # the malformed value sits past the 200-row inference sample, so the
    # column is inferred BIGINT and row 250 must degrade, not crash
    body = "k,v,w\n" + "".join(f"{i},x,{i}\n" for i in range(249)) + "249,y\n250,z,oops\n"
    p.write_text(body)
    spark.dataSource.register(OnaDataSource)
    df = spark.read.format("onadata").option("path", str(p)).load()
    assert df.schema["w"].dataType.simpleString() == "bigint"
    rows = {r.k: (r.v, r.w) for r in df.collect()}
    assert len(rows) == 251
    assert rows[1] == ("x", 1)
    assert rows[249] == ("y", None)  # ragged row padded
    assert rows[250] == ("z", None)  # late non-integer degrades to NULL
