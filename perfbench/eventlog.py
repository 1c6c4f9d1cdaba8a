"""Spark event-log reader: job, stage and task totals for the traced
passes of a run.

Adapted from the parser in ``tools/profile_query.py``. A job belongs to
the traced passes when its job group carries the tracer's prefix, or
when it was submitted inside a traced pass's time window without such a
group; the latter are jobs launched from threads that did not inherit
the caller's group, and are counted as unattributed rather than dropped.
"""

from __future__ import annotations

import json
from pathlib import Path

from spans import GROUP_PREFIX


def _event_files(log_dir: Path) -> list[Path]:
    files = []
    for p in sorted(log_dir.iterdir()):
        if p.is_dir():  # a rolling event-log directory (eventlog_v2_*)
            files += sorted(q for q in p.iterdir() if q.name.startswith("events_"))
        else:
            files.append(p)
    return files


def read_events(log_dir: Path):
    for f in _event_files(log_dir):
        with f.open() as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except ValueError:
                    continue  # a line cut short by the writer


def summarize(log_dir: Path, windows_ms: list[tuple[float, float]]) -> dict:
    """Totals over jobs of the traced passes, whose wall-clock windows
    (epoch milliseconds) are ``windows_ms``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, dict]] = []
    stages: dict[int, int] = {}
    for ev in read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jobs[ev["Job ID"]] = {"t": ev["Submission Time"], "group": group}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[info["Stage ID"]] = info["Number of Tasks"]
        elif kind == "SparkListenerTaskEnd":
            tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))

    def in_window(t: float) -> bool:
        return any(lo <= t <= hi for lo, hi in windows_ms)

    traced, unattributed = set(), 0
    for jid, job in jobs.items():
        if job["group"].startswith(GROUP_PREFIX):
            traced.add(jid)
        elif in_window(job["t"]):
            traced.add(jid)
            unattributed += 1
    out = {
        "jobs": len(traced),
        "stages": sum(1 for sid in stages if stage_job.get(sid) in traced),
        "tasks": 0,
        "task_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "unattributed_jobs": unattributed,
    }
    for sid, m in tasks:
        if stage_job.get(sid) not in traced:
            continue
        out["tasks"] += 1
        out["task_s"] += m.get("Executor Run Time", 0) / 1000.0
        out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        out["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out
