"""The benchmark's workloads: inputs, operations and their checks.

A workload prepares its inputs once per checkout (cached under the
benchmark's work directory, keyed by what they are made from), then
hands the harness one pass of operations. Each operation is a timed
callable plus an untimed check of its result that raises
:class:`CheckFailed` when the result is wrong.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

import gen

#: Bump when a generator changes what it writes, so caches are rebuilt.
GEN_VERSION = 2
#: Seed of the query tables. The tables are fixed; the run seed only
#: orders the queries of each pass.
TABLE_SEED = 42
EXPORT_ROWS = 20_000
DATASET_ID = "4242"

ANALYTIC = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q06_forecast_revenue",
    "q10_returned_items",
    "q_heavy_hitter_words",
    "q_interval_coverage",
    "q_join_asof",
    "q_stream_sessions",
    "q_stream_tumbling",
)
#: scale factor, documents and embeddings of the query tables
TABLE_SPEC = (0.05, 2500, 1000)


class CheckFailed(AssertionError):
    """An operation returned a wrong result."""


@dataclass
class Op:
    name: str
    run: Callable[[], object]
    check: Callable[[object], None]


def _atomic_dir(final: Path, build: Callable[[Path], None]) -> Path:
    if final.exists():
        return final
    tmp = final.with_name(final.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    tmp.rename(final)
    return final


# ------------------------------------------------------------- queries


def prepare_tables(work: Path) -> Path:
    sf, docs, vecs = TABLE_SPEC
    key = f"tables-g{GEN_VERSION}-s{TABLE_SEED}-sf{sf}-d{docs}-v{vecs}"
    return _atomic_dir(
        work / "inputs" / key, lambda d: gen.write_tables(d, TABLE_SEED, sf, docs, vecs)
    )


def oracle_hashes(table_dir: Path, names) -> dict:
    """DuckDB oracle results (sorted lower-case columns, row count, value
    hash) per query, cached beside the tables they were computed on."""
    from duva_spark.queries import load_all
    from tools.check_oracle import make_duckdb, value_hash

    cache_file = table_dir / "oracle.json"
    cache = json.loads(cache_file.read_text()) if cache_file.exists() else {}
    missing = [n for n in names if n not in cache]
    if missing:
        registry = load_all()
        con = make_duckdb(str(table_dir))
        for name in missing:
            res = con.sql(registry[name].oracle)
            cols = [c.lower() for c in res.columns]
            rows = res.fetchall()
            cache[name] = {"cols": sorted(cols), "rows": len(rows), "hash": value_hash(cols, rows)}
        con.close()
        tmp = cache_file.with_suffix(".tmp")
        tmp.write_text(json.dumps(cache, indent=1, sort_keys=True))
        tmp.replace(cache_file)
    return {n: cache[n] for n in names}


def check_query(expected: dict, result) -> None:
    from tools.check_oracle import value_hash

    cols, rows = result
    cols = [c.lower() for c in cols]
    if sorted(cols) != expected["cols"]:
        raise CheckFailed(f"columns {sorted(cols)} != oracle {expected['cols']}")
    if len(rows) != expected["rows"]:
        raise CheckFailed(f"{len(rows)} rows != oracle {expected['rows']}")
    if value_hash(cols, rows) != expected["hash"]:
        raise CheckFailed("value hash differs from the oracle")


def query_ops(spark, table_dir: Path, names, tracer) -> list[Op]:
    """One operation per query: build (``q.fn``), physical planning, then
    ``collect()``; the check compares against the DuckDB oracle."""
    from duva_spark.queries import load_all

    registry = load_all()
    expected = oracle_hashes(table_dir, names)
    sf_dir = str(table_dir)

    def make(name: str) -> Op:
        fn = registry[name].fn

        def run():
            with tracer.span(f"query.{name}.build"):
                df = fn(spark, sf_dir)
            with tracer.span(f"query.{name}.plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span(f"query.{name}.action"):
                rows = df.collect()
            return df.columns, [tuple(r) for r in rows]

        return Op(name, run, lambda res: check_query(expected[name], res))

    return [make(n) for n in names]


# ---------------------------------------------------------------- sync


def prepare_export(work: Path, seed: int, rows: int = EXPORT_ROWS) -> Path:
    """Base export, upsert delta and pandas truth for ``seed``; the most
    recent few are kept."""

    def build(d: Path) -> None:
        base, delta = gen.export_frames(seed, rows)
        base.to_csv(d / "base.csv", index=False)
        delta.to_csv(d / "delta.csv", index=False)
        (d / "truth.json").write_text(json.dumps(gen.export_truth(base, delta)))

    root = work / "inputs" / "exports"
    out = _atomic_dir(root / f"g{GEN_VERSION}-seed{seed}-rows{rows}", build)
    old = sorted((p for p in root.iterdir() if p != out), key=lambda p: p.stat().st_mtime)
    for stale in old[:-3]:
        shutil.rmtree(stale, ignore_errors=True)
    return out


def shape(df):
    """Default export settings, as a configured duva dataset applies them.
    ``ops.apply_export_settings`` is looked up per call so a tracer can
    wrap it."""
    from duva_spark.shaping import ops
    from duva_spark.shaping.settings import ExportSettings

    return ops.apply_export_settings(df, ExportSettings(), select_multiples=gen.select_multiples())


def _parts(path: Path) -> dict[Path, os.stat_result]:
    """The data files of a dataset directory and their stat."""
    return {p: p.stat() for p in path.rglob("part-*") if p.is_file()}


def _identity(parts: dict[Path, os.stat_result]) -> set[tuple]:
    return {(p, st.st_ino, st.st_mtime_ns) for p, st in parts.items()}


def check_sync_status(res) -> None:
    """The API answers 200 after a failed sync too; only the dataset's
    status tells the two apart."""
    code, view = res
    if code != 200 or view.get("file_status") != "File available":
        raise CheckFailed(f"sync answered {code} with status {view.get('file_status')!r}")


def sync_ops(spark, export_dir: Path, run_dir: Path, counters: dict) -> list[Op]:
    """One cycle: full sync through the control plane, a keyed upsert of
    the delta, and a read-back aggregate of the extract. Creating the
    dataset runs its first sync."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from duva_spark import api, sinks
    from duva_spark.orchestration import MetadataStore, SyncJob
    from duva_spark.sources import csv_source

    truth = json.loads((export_dir / "truth.json").read_text())
    base_csv, delta_csv = export_dir / "base.csv", export_dir / "delta.csv"
    (run_dir / "locks").mkdir(parents=True, exist_ok=True)
    store = MetadataStore(run_dir / "datasets.json")
    job = SyncJob(spark, store, run_dir / "locks", fetch=lambda _id: base_csv, shape=shape)
    plane = api.ControlPlane(store, job, out_root=str(run_dir / "extracts"))
    # a new dataset is queued and takes no forced sync until its first
    # sync has run, so it is created with an immediate sync
    code, view = plane.create_file(
        {"form_id": DATASET_ID, "form": {"formid": int(DATASET_ID)}, "sync_immediately": True}
    )
    if code != 201 or view.get("file_status") != "File available":
        raise RuntimeError(f"create_file answered {code}: {view}")
    extract = run_dir / "extracts" / DATASET_ID
    # data files on disk before the next upsert, to tell the files it
    # writes from those it leaves in place
    before_upsert = _identity(_parts(extract))

    def sync():
        return plane.sync_file(DATASET_ID)

    def check_sync(res) -> None:
        nonlocal before_upsert
        check_sync_status(res)
        parts = _parts(extract)
        before_upsert = _identity(parts)
        counters["sinks.files_written"] = len(parts)
        counters["sinks.bytes_per_input_byte"] = (
            sum(st.st_size for st in parts.values()) / base_csv.stat().st_size
        )

    def upsert():
        delta = shape(csv_source.read_csv_duva(spark, str(delta_csv)))
        return sinks.merge_upsert(spark, delta, str(extract), key="_id")

    def check_upsert(n) -> None:
        nonlocal before_upsert
        if n != truth["rows"]:
            raise CheckFailed(f"upsert left {n} rows, expected {truth['rows']}")
        now = _identity(_parts(extract))
        rows = sum(pq.read_metadata(p).num_rows for p, _, _ in now - before_upsert)
        counters["sinks.rows_written_per_changed_row"] = rows / truth["changed_rows"]
        before_upsert = now

    def readback():
        df = sinks.read_dataset(spark, str(extract))
        flags = [f.name for f in df.schema.fields if isinstance(f.dataType, T.IntegerType)]
        cents = F.floor(F.col("household_income") * 100 + 0.5).cast("long")
        agg = df.groupBy("district").agg(
            F.count(F.lit(1)), F.sum(cents), *[F.sum(df[c]) for c in flags]
        )
        return [tuple(r) for r in agg.collect()]

    def check_readback(rows) -> None:
        got = {r[0]: [r[1], r[2] or 0] for r in rows}
        if got != truth["districts"]:
            raise CheckFailed("per-district counts or income cents differ from the truth")
        flag_counts = sorted(sum(r[i] or 0 for r in rows) for i in range(3, len(rows[0])))
        if flag_counts != truth["flag_counts"]:
            raise CheckFailed("select-multiple flag counts differ from the truth")

    return [
        Op("sync", sync, check_sync),
        Op("upsert", upsert, check_upsert),
        Op("readback", readback, check_readback),
    ]
