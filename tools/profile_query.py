"""Per-job/stage wall-clock profile of one or more registered queries.

Runs each named query with the Spark event log enabled, then reads the
event log (through perfbench's reader) to print every job
(submit->complete wall time, description) and its stages. This substitutes for the Spark UI (disabled in
this sandbox) when deciding WHERE a query's seconds go — job-count
overhead vs one slow stage vs Python boundary.

    python tools/profile_query.py --only q_doremi_weights [--sf .../sf0.1]
"""

from __future__ import annotations

import argparse
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, ".")
sys.path.insert(0, "perfbench")  # the benchmark's event-log reader, used read-only

from duva_spark.queries import load_all  # noqa: E402
from duva_spark.session import get_spark  # noqa: E402
from eventlog import read_events  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--only", required=True)
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    evdir = tempfile.mkdtemp(prefix="spark-events-")
    spark = get_spark(
        "profile-query",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    registry = load_all()

    # warm
    registry["q01_pricing_summary"].fn(spark, args.sf).write.format("noop").mode(
        "overwrite"
    ).save()

    for name in args.only.split(","):
        name = name.strip()
        for run in range(args.runs):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{name}#run{run}")
            t0 = time.perf_counter()
            registry[name].fn(spark, args.sf).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            print(f"\n=== {name} run{run}: {dt:.3f}s ===")
        spark.sparkContext.setJobDescription(None)

    spark.stop()

    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for ev in read_events(Path(evdir)):
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "t0": ev["Submission Time"],
                "desc": ev.get("Properties", {}).get("spark.job.description", ""),
                "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
            }
        elif e == "SparkListenerJobEnd":
            jobs.setdefault(ev["Job ID"], {}).update(t1=ev["Completion Time"])
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            stages[si["Stage ID"]] = {
                "name": si["Stage Name"].split("\n")[0][:80],
                "tasks": si["Number of Tasks"],
                "ms": (si.get("Completion Time", 0) - si.get("Submission Time", 0))
                if si.get("Submission Time")
                else None,
            }
    if not jobs:
        print(f"no jobs in the event log under {evdir}", file=sys.stderr)
        return 1
    print("\njob_id  wall_ms  description")
    for jid in sorted(jobs):
        j = jobs[jid]
        if "t0" not in j or "t1" not in j:
            continue
        wall = j["t1"] - j["t0"]
        print(f"{jid:6d}  {wall:7d}  {j['desc'][:70]}")
        for sid in sorted(j.get("stages", [])):
            s = stages.get(sid)
            if s and s["ms"] is not None:
                print(f"        stage {sid}: {s['ms']} ms, {s['tasks']} tasks  {s['name']}")
    print(f"\nevent log: {evdir}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
