"""Tests of the benchmark itself: input determinism, the result checks,
failure accounting and the metric names it prints.

    python3 -m pytest perfbench/tests -q

Run from the repository root; no Spark session is started.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import gen  # noqa: E402
import run  # noqa: E402
import workloads as wl  # noqa: E402
from spans import Tracer  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_export_is_a_function_of_the_seed():
    a_base, a_delta = gen.export_frames(7, 2_000)
    b_base, b_delta = gen.export_frames(7, 2_000)
    assert a_base.to_csv(index=False) == b_base.to_csv(index=False)
    assert a_delta.to_csv(index=False) == b_delta.to_csv(index=False)
    c_base, _ = gen.export_frames(8, 2_000)
    assert c_base.to_csv(index=False) != a_base.to_csv(index=False)


def test_export_delta_is_half_updates_half_inserts():
    base, delta = gen.export_frames(3, 2_000)
    assert len(delta) == 200
    updated = delta[delta["_id"].isin(base["_id"])]
    assert len(updated) == 100
    # an update keeps the submission's uuid
    uuids = base.set_index("_id")["_uuid"]
    assert (updated["_uuid"].to_numpy() == uuids.loc[updated["_id"]].to_numpy()).all()
    truth = gen.export_truth(base, delta)
    assert truth["rows"] == 2_100
    assert sum(n for n, _ in truth["districts"].values()) == 2_100
    assert len(truth["flag_counts"]) == gen.N_SELECT_MULTIPLE * gen.N_CHOICES


def test_tables_are_a_function_of_the_seed(tmp_path):
    gen.write_tables(tmp_path / "a", 42, 0.001, 50, 20)
    gen.write_tables(tmp_path / "b", 42, 0.001, 50, 20)
    for name in ("lineitem", "events", "documents", "embeddings"):
        a = (tmp_path / "a" / f"{name}.parquet").read_bytes()
        assert a == (tmp_path / "b" / f"{name}.parquet").read_bytes()


def _fixture_schemas() -> dict[str, list[str]]:
    """``table -> ["col:type", ...]`` from the analytical-table list in
    FIXTURES.md section 1."""
    text = (ROOT / "FIXTURES.md").read_text().split("## 2.")[0]
    rows = re.findall(r"^\| `(\w+)`[^|]*\| `([^`]+)`", text, flags=re.M)
    return {name: [c.strip() for c in cols.split(",")] for name, cols in rows}


def test_tables_have_the_fixture_schemas(tmp_path):
    import pyarrow.parquet as pq

    expected = _fixture_schemas()
    assert len(expected) == 10
    gen.write_tables(tmp_path, 42, 0.001, 50, 20)
    for name, cols in expected.items():
        schema = pq.read_schema(tmp_path / f"{name}.parquet")
        got = [f"{f.name}:{str(f.type).replace('element: ', '')}" for f in schema]
        assert got == cols, name


def _expected(cols, rows):
    from tools.check_oracle import value_hash

    return {"cols": sorted(cols), "rows": len(rows), "hash": value_hash(cols, rows)}


def test_hash_check_rejects_a_perturbed_row():
    cols = ["k", "v"]
    rows = [(1, 0.25), (2, 0.5), (3, 0.75)]
    expected = _expected(cols, rows)
    wl.check_query(expected, (cols, list(reversed(rows))))  # order-insensitive
    with pytest.raises(wl.CheckFailed):
        wl.check_query(expected, (cols, [(1, 0.25), (2, 0.51), (3, 0.75)]))
    with pytest.raises(wl.CheckFailed):
        wl.check_query(expected, (cols, rows[:2]))


class _NoSpark:
    def getLocalProperty(self, key):
        return None


def test_failed_sync_counts_as_failed():
    tracer = Tracer(_NoSpark())
    ops = [
        wl.Op("sync", lambda: (200, {"file_status": "Latest Sync Failed"}), wl.check_sync_status),
        wl.Op("sync", lambda: (200, {"file_status": "File available"}), wl.check_sync_status),
    ]
    loop = run.Loop(ops, seed=0, shuffle=False, tracer=tracer)
    loop.one_pass({})
    assert (loop.attempted, loop.failed) == (2, 1)
    assert "Latest Sync Failed" in loop.errors[0]


def test_operation_that_raises_counts_as_failed():
    def boom():
        raise RuntimeError("engine error")

    loop = run.Loop([wl.Op("q", boom, lambda r: None)], 0, False, Tracer(_NoSpark()))
    latencies: dict = {}
    loop.one_pass(latencies)
    assert (loop.attempted, loop.failed) == (1, 1)
    assert len(latencies["q"]) == 1


def _names(section):
    return {m["name"]: m["unit"] for m in BENCH[section]}


def test_pass_count_depends_only_on_seconds():
    assert [run.pass_count(s) for s in (1, 18, 24, 60)] == [3, 3, 4, 10]


def test_end_to_end_metrics_match_benchmark_json():
    plain = {"passes": [1.0, 1.2], "lat": {"a": [0.4, 0.5], "b": [0.6, 0.7]}}
    m = run.end_to_end_metrics(3.0, plain)
    assert {k: u for k, (_, u) in m.items()} == _names("end_to_end")
    assert all(v > 0 for v, _ in m.values())


def test_layer_metrics_match_benchmark_json():
    tracer = Tracer(_NoSpark())
    events = dict.fromkeys(
        ("jobs", "stages", "tasks", "task_s", "gc_s", "shuffle_write_bytes",
         "spill_bytes", "unattributed_jobs"), 0
    )
    side = {"passes": [1.0], "lat": {}}
    m = run.layer_metrics(tracer, {}, side, side, events, 5.0, 512.0, wl.ANALYTIC)
    assert {k: u for k, (_, u) in m.items()} == _names("per_layer")


def test_benchmark_json_shape():
    assert set(BENCH) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25} in BENCH["end_to_end"]
    assert all(0 < m["bound"] <= 0.25 for m in BENCH["end_to_end"])
    assert len(BENCH["per_layer"]) <= 128
