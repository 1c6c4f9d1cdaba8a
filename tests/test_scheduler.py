"""In-process cron scheduler (C1/C2): cron evaluation, unique-job
dedupe, cancel semantics, persisted job ids with self-healing
re-schedule, and the failure-cap schedule cancellation
(app/jobs/scheduler.py:17-89, app/core/importer.py:77-87,100-101,
app/utils/hyper_utils.py:254-263)."""

from __future__ import annotations

import logging
from datetime import datetime

import pytest

from duva_spark.orchestration import (
    FAILURE_CAP,
    BadCronExpression,
    CronSchedule,
    MetadataStore,
    SyncJob,
    SyncScheduler,
    UniqueJobScheduler,
)
from duva_spark.sinks import read_dataset


def test_cron_next_after_quarter_hour():
    s = CronSchedule("*/15 * * * *")  # the reference's default
    t = datetime(2026, 8, 13, 10, 7)
    assert s.next_after(t) == datetime(2026, 8, 13, 10, 15)
    assert s.next_after(datetime(2026, 8, 13, 10, 59)) == datetime(2026, 8, 13, 11, 0)


def test_cron_fields_and_day_or_rule():
    weekly = CronSchedule("0 0 * * 0")  # Sunday midnight (scheduler.py:77 example)
    got = weekly.next_after(datetime(2026, 8, 13, 1, 0))  # a Thursday
    assert got == datetime(2026, 8, 16, 0, 0) and got.weekday() == 6
    # Restricted dom AND dow: classic cron fires on EITHER.
    either = CronSchedule("0 12 15 * 1")
    hit = either.next_after(datetime(2026, 8, 13, 0, 0))
    assert hit == datetime(2026, 8, 15, 12, 0)  # the 15th (a Saturday) wins over Monday
    ranges = CronSchedule("5,35 9-17 * 2-4 *")
    assert ranges.next_after(datetime(2026, 8, 13, 0, 0)) == datetime(2027, 2, 1, 9, 5)


def test_cron_rejects_garbage():
    for bad in ("* * * *", "61 * * * *", "*/0 * * * *", "a * * * *", "1-99 * * * *"):
        with pytest.raises(BadCronExpression):
            CronSchedule(bad)


def _manual_scheduler(start=1_700_000_000.0):
    now = [start]
    sched = UniqueJobScheduler(clock=lambda: now[0])
    return sched, now


def test_unique_job_dedupe_and_cancel_by_args():
    sched, _ = _manual_scheduler()
    runs = []

    def job(x):
        runs.append(x)

    j1 = sched.cron("*/15 * * * *", job, ("a",))
    j2 = sched.cron("0 0 * * *", job, ("a",))  # same (func, args) → same job
    j3 = sched.cron("*/15 * * * *", job, ("b",))
    assert j1.id == j2.id and j1.cron_string == "*/15 * * * *"
    assert len(sched.get_jobs()) == 2
    assert sched.cancel_by(func=job, args=("a",)) == 1
    assert [j.id for j in sched.get_jobs()] == [j3.id]
    assert sched.clear() == 1 and sched.get_jobs() == []


def test_tick_fires_due_jobs_and_advances():
    sched, now = _manual_scheduler()
    runs = []
    sched.cron("*/15 * * * *", runs.append, ("x",))
    assert sched.tick() == []  # not due yet
    now[0] += 16 * 60
    assert len(sched.tick()) == 1
    assert sched.tick() == []  # advanced past `now`, not re-fired
    now[0] += 15 * 60
    sched.tick()
    assert runs == ["x", "x"]


def test_tick_logs_a_raising_job_and_fires_the_rest(caplog, monkeypatch):
    # the app's dictConfig (middleware) stops "duva_spark" propagating
    # to the root logger caplog listens on
    monkeypatch.setattr(logging.getLogger("duva_spark"), "propagate", True)
    sched, now = _manual_scheduler()
    runs = []

    def boom():
        raise RuntimeError("job exploded")

    bad = sched.cron("*/15 * * * *", boom)
    sched.cron("*/15 * * * *", runs.append, ("after",))
    now[0] += 16 * 60
    with caplog.at_level(logging.ERROR, logger="duva_spark.orchestration.scheduler"):
        fired = sched.tick()
    assert len(fired) == 2 and runs == ["after"]
    (rec,) = caplog.records
    assert bad.id in rec.getMessage()
    assert rec.exc_info and "job exploded" in str(rec.exc_info[1])


@pytest.fixture()
def sync_world(spark, tmp_path):
    csv = tmp_path / "export.csv"
    csv.write_text("name,age\nalice,34\n")
    store = MetadataStore(tmp_path / "catalog.json")
    calls = {"fail": False}

    def fetch(_id):
        if calls["fail"]:
            raise RuntimeError("upstream down")
        return csv

    job = SyncJob(spark, store, tmp_path, fetch=fetch)
    sched, now = _manual_scheduler()
    return SyncScheduler(sched, store, job, str(tmp_path / "out")), store, calls, now


def test_schedule_persists_job_id_and_runs(sync_world, spark, tmp_path):
    ss, store, calls, now = sync_world
    j = ss.schedule("42", "*/15 * * * *")
    assert store.get("42").job_id == j.id
    now[0] += 16 * 60
    ss.scheduler.tick()
    assert read_dataset(spark, str(tmp_path / "out" / "42")).count() == 1
    assert ss.unschedule("42")
    assert store.get("42").job_id is None and ss.scheduler.get_jobs() == []


def test_failure_cap_cancels_the_schedule(sync_world, caplog, monkeypatch):
    # caplog listens on the root logger; see the propagate note above
    monkeypatch.setattr(logging.getLogger("duva_spark"), "propagate", True)
    ss, store, calls, now = sync_world
    job = ss.schedule("13", "*/15 * * * *")
    calls["fail"] = True
    for tick in range(1, FAILURE_CAP + 1):
        now[0] += 16 * 60
        with caplog.at_level(logging.ERROR, logger="duva_spark.orchestration.scheduler"):
            ss.scheduler.tick()
        # every failing run is logged once, naming its job
        errors = [r for r in caplog.records if r.levelno >= logging.ERROR]
        assert len(errors) == tick and job.id in errors[-1].getMessage()
    state = store.get("13")
    assert state.sync_failures >= FAILURE_CAP and not state.is_active
    # The cron is gone and the persisted job id cleared — not just the flag.
    assert ss.scheduler.get_jobs() == []
    assert state.job_id is None


def test_self_heal_reschedules_from_persisted_ids(sync_world, tmp_path):
    ss, store, calls, now = sync_world
    ss.schedule("7", "*/15 * * * *")
    ss.schedule("8", "*/15 * * * *")
    store.get("8").is_active = False  # deactivated datasets stay unscheduled
    # Simulate a process restart: fresh scheduler, same store.
    fresh, _ = _manual_scheduler(now[0])
    ss2 = SyncScheduler(fresh, store, ss.sync_job, ss.out_root)
    healed = ss2.self_heal()
    assert healed == ["7"]
    jobs = fresh.get_jobs()
    assert len(jobs) == 1 and store.get("7").job_id == jobs[0].id
