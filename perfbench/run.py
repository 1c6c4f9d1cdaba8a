"""Benchmark entry point: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload {sync,analytic} \
        --seed N --seconds S --trace {0,1}

Run it from the repository root. Inputs, extracts, event logs and Spark's
scratch space go under ``.perfbench_work/`` there; generated inputs stay
cached between runs, everything else is removed when the run ends. The
last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) named in ``BENCHMARK.json``. The line before it is a
run record: cores, master, parallelism, driver memory, versions, seed
and sample counts.

Each workload runs as a closed loop with one client: two warm-up
passes, then a fixed number of timed passes (see ``measure``). See
README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

WORKLOADS = ("sync", "analytic")
MIN_PASSES = 3
#: Nominal seconds of one pass. The number of timed passes is fixed from
#: ``--seconds`` and this, never from measured times, so code under
#: comparison always times the same number of passes.
PASS_ESTIMATE_S = 6.0
DRIVER_MEMORY = "4g"
WORK_DIR = ".perfbench_work"
REQUIRED = ("duva_spark/__init__.py", "tools/check_oracle.py")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def percentiles(values: list[float]) -> tuple[float, float]:
    """(p50, p90) by linear interpolation between closest ranks."""
    if len(values) == 1:
        return values[0], values[0]
    deciles = statistics.quantiles(values, n=10, method="inclusive")
    return deciles[4], deciles[8]


def pin_environment(root: Path, run_dir: Path) -> None:
    """Fix what the engine reads from the environment, and keep every
    file Spark or the queries write inside the run directory."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=str(run_dir / "local"),
        TMPDIR=str(tmp),
        PYTHONPATH=os.pathsep.join(
            [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    )
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SPARK_GRAFT_IPN_MULT", None)
    import tempfile

    tempfile.tempdir = str(tmp)


def clear_stale_runs(runs: Path) -> None:
    """Remove run directories left by processes that no longer exist."""
    if not runs.exists():
        return
    for d in runs.iterdir():
        try:
            os.kill(int(d.name), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except (ValueError, PermissionError):
            continue


def start_session(run_dir: Path, trace: bool):
    from duva_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (run_dir / "events").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(run_dir / "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", extra_conf=conf)


def vm_hwm_mb(pid: int) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        children.setdefault(int(fields[1]), []).append(int(stat.parent.name))
    found, todo = set(), [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            found.add(child)
            todo.append(child)
    return found


def stop_session(spark) -> None:
    """Stop Spark, then wait until the driver JVM and every process it
    started (Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = _descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while any(_running(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def _running(pid: int) -> bool:
    try:
        state = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state != "Z"


def source_digest(root: Path) -> str:
    """Digest of the engine's sources: the checkout carries no git data."""
    h = hashlib.sha256()
    for p in sorted((root / "duva_spark").rglob("*.py")):
        h.update(p.relative_to(root).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


class Loop:
    """Closed loop over passes of operations, one client."""

    def __init__(self, ops, seed: int, shuffle: bool, tracer):
        self.ops = ops
        self.rng = random.Random(seed)
        self.shuffle = shuffle
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def one_pass(self, latencies: dict[str, list[float]] | None, skip: int = 0) -> float:
        """Run every operation once (but the first ``skip``); return the
        time spent in them, checks excluded."""
        ops = list(self.ops[skip:])
        if self.shuffle:
            self.rng.shuffle(ops)
        spent = 0.0
        for op in ops:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"op.{op.name}"):
                    result = op.run()
                dt = time.perf_counter() - t0
                tracing, self.tracer.active = self.tracer.active, False
                try:
                    op.check(result)
                finally:
                    self.tracer.active = tracing
            except Exception as exc:  # every failure is counted and logged
                dt = time.perf_counter() - t0
                self.failed += 1
                self.errors.append(f"{op.name}: {exc!r}")
                traceback.print_exc(file=sys.stderr)
            spent += dt
            if latencies is not None:
                latencies.setdefault(op.name, []).append(dt)
        return spent


def pass_count(seconds: float) -> int:
    return max(MIN_PASSES, round(seconds / PASS_ESTIMATE_S))


def measure(loop: Loop, seconds: float, trace: bool):
    """``pass_count(seconds)`` passes. With tracing, passes alternate
    untraced and traced, starting untraced, and each side gets that many."""
    plain = {"passes": [], "lat": {}, "windows": []}
    traced = {"passes": [], "lat": {}, "windows": []}
    for i in range(pass_count(seconds) * (2 if trace else 1)):
        side = traced if trace and i % 2 == 1 else plain
        loop.tracer.active = side is traced
        lat: dict[str, list[float]] = {}
        w0 = time.time()
        side["passes"].append(loop.one_pass(lat))
        side["windows"].append((w0 * 1000.0, time.time() * 1000.0))
        loop.tracer.active = False
        for k, v in lat.items():
            side["lat"].setdefault(k, []).extend(v)
    return plain, traced


def end_to_end_metrics(setup_s: float, plain: dict) -> dict:
    # over per-operation medians, so that each query or sync step weighs
    # once and a percentile moves smoothly when steps change rank
    p50, p90 = percentiles([statistics.median(v) for v in plain["lat"].values()])
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(plain["passes"]), "s"),
        "op_s_p50": (p50, "s"),
        "op_s_p90": (p90, "s"),
    }


def layer_metrics(tracer, counters, plain, traced, events, session_s, rss_mb, queries):
    n = max(1, len(traced["passes"]))

    def per_pass(d, key):
        return d.get(key, 0) / n

    def total(key):
        return per_pass(tracer.total_s, key)

    def self_s(key):
        return per_pass(tracer.self_s, key)

    def jobs(key):
        return per_pass(tracer.jobs, key)

    m = {"session.start_s": (session_s, "s"), "memory.peak_rss_mb": (rss_mb, "MB")}
    m["catalog.load_calls"] = (per_pass(tracer.calls, "catalog.load"), "count")
    m["catalog.load_s"] = (total("catalog.load"), "s")
    m["catalog.jobs"] = (jobs("catalog.load"), "count")
    for phase in ("build", "plan", "action"):
        keys = [f"query.{q}.{phase}" for q in queries]
        m[f"queries.{phase}_s"] = (sum(self_s(k) for k in keys), "s")
        if phase != "plan":
            m[f"queries.{phase}_jobs"] = (sum(jobs(k) for k in keys), "count")
    for q in queries:
        for phase in ("build", "action"):
            key = f"query.{q}.{phase}"
            calls = tracer.calls.get(key, 0)
            m[f"{key}_s"] = (tracer.self_s.get(key, 0.0) / calls if calls else 0.0, "s")
    m["sources.infer_s"] = (total("sources.infer"), "s")
    m["sources.infer_jobs"] = (jobs("sources.infer"), "count")
    m["sources.read_s"] = (self_s("sources.read"), "s")
    m["shaping.apply_s"] = (total("shaping.apply"), "s")
    m["shaping.columns_out"] = (counters.get("shaping.columns_out", 0), "count")
    m["sinks.full_refresh_s"] = (total("sinks.full_refresh"), "s")
    m["sinks.bytes_per_input_byte"] = (counters.get("sinks.bytes_per_input_byte", 0.0), "ratio")
    m["sinks.files_written"] = (counters.get("sinks.files_written", 0), "count")
    m["sinks.upsert_s"] = (total("sinks.upsert"), "s")
    m["sinks.rows_written_per_changed_row"] = (
        counters.get("sinks.rows_written_per_changed_row", 0.0),
        "ratio",
    )
    m["sinks.read_dataset_s"] = (total("sinks.read_dataset"), "s")
    m["orchestration.sync_self_s"] = (self_s("orchestration.sync"), "s")
    m["orchestration.lock_wait_s"] = (total("orchestration.lock"), "s")
    m["api.sync_file_self_s"] = (self_s("api.sync_file"), "s")
    wall = sum(traced["passes"])
    for key, unit in (
        ("jobs", "count"),
        ("stages", "count"),
        ("tasks", "count"),
        ("task_s", "s"),
        ("gc_s", "s"),
        ("shuffle_write_bytes", "bytes"),
        ("spill_bytes", "bytes"),
        ("unattributed_jobs", "count"),
    ):
        m[f"spark.{key}"] = (events[key] / n, unit)
    m["spark.core_busy_ratio"] = (events["task_s"] / (wall * cores()) if wall else 0.0, "ratio")
    m["trace.pass_s"] = (statistics.median(traced["passes"]), "s")
    m["trace.overhead_s"] = (
        statistics.median(traced["passes"]) - statistics.median(plain["passes"]),
        "s",
    )
    for step in ("sync", "upsert", "readback"):
        v = plain["lat"].get(step)
        m[f"step.{step}_s"] = (statistics.median(v) if v else 0.0, "s")
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    missing = [p for p in REQUIRED if not (root / p).is_file()]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    work = root / WORK_DIR
    clear_stale_runs(work / "runs")
    run_dir = work / "runs" / str(os.getpid())
    try:
        pin_environment(root, run_dir)
        return run(args, root, work, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, root: Path, work: Path, run_dir: Path) -> int:
    import pyspark

    import workloads as wl
    from spans import Tracer

    # inputs and expected results: outside every metric
    t_prep = time.perf_counter()
    if args.workload == "sync":
        export_dir = wl.prepare_export(work, args.seed)
    else:
        table_dir = wl.prepare_tables(work)
        wl.oracle_hashes(table_dir, wl.ANALYTIC)
    prep_s = time.perf_counter() - t_prep

    t_session = time.perf_counter()
    spark = start_session(run_dir, bool(args.trace))
    session_s = time.perf_counter() - t_session
    sc = spark.sparkContext
    tracer = Tracer(sc)
    counters: dict = {}
    if args.workload == "sync":
        if args.trace:
            tracer.wrap_sync_path(counters)
        ops = wl.sync_ops(spark, export_dir, run_dir, counters)
    else:
        if args.trace:
            tracer.wrap_catalog()
        ops = wl.query_ops(spark, table_dir, wl.ANALYTIC, tracer)

    loop = Loop(ops, args.seed, shuffle=args.workload != "sync", tracer=tracer)
    # warm-up: every operation twice, because a fresh JVM is still
    # speeding up after one pass; creating the sync dataset already ran
    # its first sync step
    loop.one_pass(None, skip=1 if args.workload == "sync" else 0)
    loop.one_pass(None)
    setup_s = time.perf_counter() - PROCESS_START - prep_s

    plain, traced = measure(loop, args.seconds, bool(args.trace))
    rss_mb = vm_hwm_mb(os.getpid()) + vm_hwm_mb(
        spark._jvm.java.lang.ProcessHandle.current().pid()
    )
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores(),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "spark.driver.memory": sc.getConf().get("spark.driver.memory"),
        "host_ram_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "source_digest": source_digest(root),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "prep_s": round(prep_s, 3),
        "pass_s": [round(x, 3) for x in plain["passes"]],
        "traced_passes": len(traced["passes"]),
        "op_samples": {k: len(v) for k, v in plain["lat"].items()},
        "errors": loop.errors[:20],
    }
    stop_session(spark)
    tracer.unwrap_all()

    if args.trace:
        from eventlog import summarize

        events = summarize(run_dir / "events", traced["windows"])
        m = layer_metrics(tracer, counters, plain, traced, events, session_s, rss_mb, wl.ANALYTIC)
    else:
        m = end_to_end_metrics(setup_s, plain)
    print("run_record " + json.dumps(record))
    print(
        json.dumps(
            {
                "correct": loop.failed == 0,
                "attempted": loop.attempted,
                "failed": loop.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
