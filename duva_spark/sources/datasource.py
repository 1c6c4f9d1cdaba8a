"""PySpark 4 Python DataSource for the OnaData export protocol:
``spark.read.format("onadata")``.

This is the idiomatic-Spark packaging of the reference's source stage
that SURVEY §2a (S1 row) calls for: the async-export polling and
retry/backoff protocol of ``app/core/onadata.py`` behind Spark's
`DataSource` API (new in Spark 4), so the export is a first-class
readable format instead of a driver script gluing files around.

Split of work, mirroring the reference's own shape:

- **driver side** (``schema()`` / ``partitions()``): poll the async
  export to completion (S1: ≤3 polls, ``sleep(30·(retries+1))``,
  job_uuid re-attach — delegated to ``http.poll_async_export``),
  stream the CSV to a local file with the S2/S3 retry policy
  (``http.fetch_to_local``), infer duva's 3-type universe from a
  bounded sample (S5: int → BIGINT, float → DOUBLE, else STRING), and
  cut the file into line-range partitions;
- **executor side** (``read(partition)``): each task parses ONLY its
  line range with duva's null normalization (S4: ``"n/a"``/"" →
  NULL) — the parse is distributed even though the fetch is not.

On a real cluster the fetched file must land on shared storage (the
reference uploads to S3 for the same reason, K2); options ``url=`` /
``path=`` accept any location the executors can open. ``local[n]``
shares the filesystem, so the temp-file path works as-is here.

Options:
- ``export_url``: async-export start URL (polled, then downloaded);
- ``url``: direct CSV URL (downloaded with retries, no polling);
- ``path``: local CSV path (no network at all);
- ``partitions``: target partition count (default 8).

Simple comparison/null filters push down into the task's parse loop;
that needs ``spark.sql.python.filterPushdown.enabled`` on the session,
which ``duva_spark.session.get_spark`` sets (a session without it fails
the read with Spark's enable-the-conf error).
"""

from __future__ import annotations

import csv
import json
import urllib.request

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from duva_spark.sources.http import fetch_to_local, poll_async_export

NULL_TOKENS = ("", "n/a")  # S4, app/core/importer.py:61
_SAMPLE_ROWS = 200


def _http_bytes(url: str) -> tuple[int, bytes]:
    try:
        with urllib.request.urlopen(url) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, b""
    except urllib.error.URLError:
        # network-level failure (refused/DNS): surface as a retryable
        # status so fetch_to_local's backoff loop owns it (S3 policy)
        return 503, b""


def _http_json(url: str) -> tuple[int, dict]:
    status, body = _http_bytes(url)
    return status, json.loads(body) if body else {}


def _strict(parse):
    """``parse`` (int or float) without PEP 515 digit separators: Python
    reads ``1_000`` as 1000, but a CSV reader (Spark's, pandas') reads it
    as text, so the value raises ``ValueError`` like any non-number."""

    def parse_strict(v: str):
        if "_" in v:
            raise ValueError(f"not a number: {v!r}")
        return parse(v)

    return parse_strict


# the one number parse both inference and row conversion use
_PARSERS = {LongType: _strict(int), DoubleType: _strict(float)}


def _infer_type(values: list[str]):
    """duva's 3-type universe (S5): every non-null sample parses as int →
    BIGINT; as float → DOUBLE; else STRING. All-null columns are STRING
    (widest), matching csv_source's widening rule."""
    non_null = [v for v in values if v.lower() not in NULL_TOKENS]
    if not non_null:
        return StringType()
    for dtype, parse in _PARSERS.items():
        try:
            for v in non_null:
                parse(v)
            return dtype()
        except ValueError:
            pass
    return StringType()


def _casts(schema: StructType) -> list:
    """Per-column parser for duva's 3-type universe: BIGINT → int,
    DOUBLE → float, anything else → str."""
    return [_PARSERS.get(type(f.dataType), str) for f in schema.fields]


def _parse_row(row: list[str], casts: list, n_cols: int) -> tuple:
    """Permissive row conversion: short/ragged rows pad with NULL (the
    schema is fixed; truncated tuples would fail Spark's row
    conversion), and a value that no longer parses as the
    sample-inferred type (e.g. '1.5' in a column whose first rows were
    all ints) degrades to NULL like a permissive-mode CSV reader,
    instead of failing the whole scan."""
    out = []
    for i in range(n_cols):
        if i >= len(row):
            out.append(None)
            continue
        v = row[i]
        if v.lower() in NULL_TOKENS:
            out.append(None)
            continue
        try:
            out.append(casts[i](v))
        except (ValueError, TypeError):
            out.append(None)
    return tuple(out)


class _LineRange(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start  # data-line index (header excluded), inclusive
        self.end = end  # exclusive


_PUSHABLE = {
    "EqualTo": lambda v, x: v == x,
    "GreaterThan": lambda v, x: v is not None and v > x,
    "GreaterThanOrEqual": lambda v, x: v is not None and v >= x,
    "LessThan": lambda v, x: v is not None and v < x,
    "LessThanOrEqual": lambda v, x: v is not None and v <= x,
    "IsNotNull": lambda v, x: v is not None,
    "IsNull": lambda v, x: v is None,
}


class OnaDataReader(DataSourceReader):
    def __init__(self, schema: StructType, path: str, n_rows: int, n_parts: int):
        self._schema = schema
        self._path = path
        self._n_rows = n_rows
        self._n_parts = max(1, min(n_parts, max(n_rows, 1)))
        self._pushed: list[tuple[int, str, object]] = []

    def partitions(self):
        step = -(-self._n_rows // self._n_parts) if self._n_rows else 1
        return [
            _LineRange(self._path, lo, min(lo + step, self._n_rows))
            for lo in range(0, max(self._n_rows, 1), step)
        ]

    def read(self, partition: _LineRange):
        casts = _casts(self._schema)
        pushed = [(i, _PUSHABLE[kind], val) for i, kind, val in self._pushed]
        n_cols = len(casts)
        with open(partition.path, newline="") as fh:
            rows = csv.reader(fh)
            next(rows, None)  # header
            for i, row in enumerate(rows):
                if i >= partition.end:
                    break
                if i < partition.start:
                    continue
                vals = _parse_row(row, casts, n_cols)
                if all(pred(vals[ci], x) for ci, pred, x in pushed):
                    yield vals

    def pushFilters(self, filters):
        """Source-level filter pushdown: simple comparison/null
        predicates on top-level columns are evaluated inside the task's
        CSV parse loop — rows are dropped before they ever become Spark
        rows, which for a selective predicate is the difference between
        shipping the export and shipping the answer. Anything else is
        returned to Spark to evaluate post-scan (the contract: returned
        filters are the UNSUPPORTED remainder)."""
        names = [f.name for f in self._schema.fields]
        remaining = []
        for f in filters:
            kind = type(f).__name__
            attr = getattr(f, "attribute", ())
            if kind in _PUSHABLE and len(attr) == 1 and attr[0] in names:
                self._pushed.append(
                    (names.index(attr[0]), kind, getattr(f, "value", None))
                )
            else:
                remaining.append(f)
        return remaining


class OnaDataSource(DataSource):
    """``spark.read.format("onadata")`` — register with
    ``spark.dataSource.register(OnaDataSource)``."""

    def __init__(self, options):
        super().__init__(options)
        self._local_path: str | None = None
        self._n_rows: int | None = None

    @classmethod
    def name(cls) -> str:
        return "onadata"

    # -- driver-side fetch (S1/S2/S3), cached across schema()/reader() --
    def _ensure_local(self) -> str:
        if self._local_path is None:
            if path := self.options.get("path"):
                self._local_path = path
            else:
                url = self.options.get("url")
                if export_url := self.options.get("export_url"):
                    import time

                    # poll_sleep_scale=0 collapses the S1 linear backoff
                    # (tests / pre-completed exports); default keeps the
                    # reference's real sleep(30*(retries+1)) cadence.
                    scale = float(self.options.get("poll_sleep_scale", 1.0))
                    url = poll_async_export(
                        export_url,
                        _http_json,
                        max_polls=int(self.options.get("max_polls", 3)),
                        sleep=lambda s: time.sleep(s * scale),
                    )
                if not url:
                    raise ValueError(
                        "onadata source needs one of: export_url, url, path"
                    )
                self._local_path = str(fetch_to_local(url, _http_bytes))
        return self._local_path

    def _header_and_count(self) -> tuple[list[str], list[list[str]], int]:
        path = self._ensure_local()
        with open(path, newline="") as fh:
            rows = csv.reader(fh)
            header = next(rows, [])
            sample, n = [], 0
            for row in rows:
                if n < _SAMPLE_ROWS:
                    sample.append(row)
                n += 1
        self._n_rows = n
        return header, sample, n

    def schema(self) -> StructType:
        header, sample, _ = self._header_and_count()
        return StructType(
            [
                StructField(
                    name, _infer_type([row[i] for row in sample if i < len(row)])
                )
                for i, name in enumerate(header)
            ]
        )

    def reader(self, schema: StructType) -> OnaDataReader:
        path = self._ensure_local()
        if self._n_rows is None:
            self._header_and_count()
        return OnaDataReader(
            schema, path, self._n_rows, int(self.options.get("partitions", 8))
        )

    def simpleStreamReader(self, schema: StructType) -> "OnaDataStreamReader":
        url = self.options.get("url")
        if not url:
            raise ValueError("streaming onadata source needs url=")
        return OnaDataStreamReader(schema, url)


class _ShardCommit(WriterCommitMessage):
    def __init__(self, shard: str, n_rows: int):
        self.shard = shard
        self.n_rows = n_rows


class ArtifactWriter(DataSourceWriter):
    """Task-parallel CSV shard writer with a driver-side atomic commit.

    Each task streams its partition to ``_tmp_<uuid>/part-<n>.csv``
    (duva null convention on the way out: None → ``"n/a"``, S4 inverse)
    and reports (shard, row_count) in its commit message; ``commit``
    renames the staging directory to the artifact key layout
    ``{server_id}/{username}/{form_id}`` (K2,
    app/crud/crud_hyperfile.py:84-85) and stamps ``_ROWCOUNT`` with the
    summed task counts — the reference's COPY-returns-row-count
    contract (S9, app/core/importer.py:251-256) recovered from commit
    messages instead of a second scan. ``abort`` removes the staging
    directory; a crashed job never publishes a partial artifact."""

    def __init__(self, options):
        import uuid

        self._root = options.get("path")
        if not self._root:
            raise ValueError("duva_artifact writer needs path=")
        key = "/".join(
            str(options.get(k, "_")) for k in ("server_id", "username", "form_id")
        )
        self._final = f"{self._root.rstrip('/')}/{key}"
        self._staging = f"{self._final}__staging_{uuid.uuid4().hex[:8]}"

    def write(self, iterator) -> _ShardCommit:
        import os
        from pyspark import TaskContext

        os.makedirs(self._staging, exist_ok=True)
        pid = TaskContext.get().partitionId()
        shard = os.path.join(self._staging, f"part-{pid:05d}.csv")
        n = 0
        with open(shard, "w", newline="") as fh:
            w = csv.writer(fh)
            for row in iterator:
                w.writerow(["n/a" if v is None else v for v in row])
                n += 1
        return _ShardCommit(shard, n)

    def commit(self, messages) -> None:
        import os
        import shutil

        total = sum(m.n_rows for m in messages)
        if os.path.exists(self._final):
            shutil.rmtree(self._final)  # S8: drop-and-recreate refresh
        os.makedirs(os.path.dirname(self._final), exist_ok=True)
        os.rename(self._staging, self._final)
        with open(os.path.join(self._final, "_ROWCOUNT"), "w") as fh:
            fh.write(str(total))

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(self._staging, ignore_errors=True)


class DuvaArtifactSink(DataSource):
    """``df.write.format("duva_artifact").option("path", root)`` plus the
    key-layout options (server_id/username/form_id)."""

    @classmethod
    def name(cls) -> str:
        return "duva_artifact"

    def writer(self, schema: StructType, overwrite: bool) -> ArtifactWriter:
        return ArtifactWriter(self.options)


class OnaDataStreamReader(SimpleDataSourceStreamReader):
    """``spark.readStream.format("onadata").option("url", ...)`` — the
    reference's cron-driven re-sync (C1/EP2: refetch the whole export
    every tick, drop-and-recreate) recast as an INCREMENTAL streaming
    source: each microbatch refetches the export and emits only the
    rows past the last offset, so downstream gets a true append stream
    with exactly-once offsets instead of a full refresh. The offset is
    the row count already emitted — replayable because OnaData exports
    are append-ordered; ``readBetweenOffsets`` refetches and re-slices
    the same range on recovery."""

    def __init__(self, schema: StructType, url: str):
        self._schema = schema
        self._url = url

    def _rows(self) -> list[tuple]:
        status, body = _http_bytes(self._url)
        if status != 200:
            return []
        casts = _casts(self._schema)
        lines = body.decode().splitlines()
        return [
            _parse_row(row, casts, len(casts))
            for row in list(csv.reader(lines))[1:]
        ]

    def initialOffset(self) -> dict:
        return {"rows": 0}

    def read(self, start: dict):
        rows = self._rows()
        lo = int(start.get("rows", 0))
        return iter(rows[lo:]), {"rows": max(len(rows), lo)}

    def readBetweenOffsets(self, start: dict, end: dict):
        rows = self._rows()
        return iter(rows[int(start.get("rows", 0)) : int(end.get("rows", 0))])
