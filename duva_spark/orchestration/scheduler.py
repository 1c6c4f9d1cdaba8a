"""In-process cron scheduler (C1/C2) — the reference's rq-scheduler
control surface without Redis.

Reference behavior reproduced:
- cron registration with a 5-field cron expression, default
  ``*/15 * * * *`` (app/jobs/scheduler.py:10,76-89);
- unique-job dedupe: scheduling the same (func, args) again returns the
  existing job instead of double-registering
  (UniqueJobScheduler.cron, app/jobs/scheduler.py:17-54);
- cancel by job id, cancel-by-(func, args), and clear-queue
  (app/jobs/scheduler.py:60-73);
- the job id is persisted in the dataset's metadata and re-scheduling is
  self-healing: a dataset that has a job id but no live job (fresh
  process) gets its cron re-registered on load
  (app/core/importer.py:77-87,100-101);
- hitting the ≥3-consecutive-failure cap cancels the schedule, not just
  the active flag (app/utils/hyper_utils.py:254-263).

Execution: jobs fire from ``tick()`` — call it from a loop thread
(``start()``) or directly in tests. Due times are computed by a
minute-resolution cron evaluator (stdlib only). The scheduler is a
driver-side control plane; the work it triggers (SyncJob.run) is the
distributed part.
"""

from __future__ import annotations

import logging
import threading
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timedelta

_log = logging.getLogger(__name__)

DEFAULT_CRON = "*/15 * * * *"  # app/jobs/scheduler.py:10


class BadCronExpression(ValueError):
    pass


def _parse_field(spec: str, lo: int, hi: int) -> frozenset[int]:
    """One cron field → allowed-value set. Supports *, */n, a, a-b,
    a-b/n, and comma lists of those."""
    out: set[int] = set()
    for part in spec.split(","):
        step = 1
        if "/" in part:
            part, step_s = part.split("/", 1)
            try:
                step = int(step_s)
            except ValueError:
                raise BadCronExpression(f"bad step {step_s!r}") from None
            if step <= 0:
                raise BadCronExpression(f"bad step {step}")
        if part == "*":
            lo_p, hi_p = lo, hi
        elif "-" in part:
            a, b = part.split("-", 1)
            try:
                lo_p, hi_p = int(a), int(b)
            except ValueError:
                raise BadCronExpression(f"bad range {part!r}") from None
        else:
            try:
                lo_p = hi_p = int(part)
            except ValueError:
                raise BadCronExpression(f"bad value {part!r}") from None
        if not (lo <= lo_p <= hi and lo <= hi_p <= hi and lo_p <= hi_p):
            raise BadCronExpression(f"value out of range [{lo},{hi}]: {part!r}")
        out.update(range(lo_p, hi_p + 1, step))
    return frozenset(out)


class CronSchedule:
    """5-field cron expression: minute hour day-of-month month
    day-of-week (0=Sunday, as in vixie cron). When BOTH day fields are
    restricted, a time matches if EITHER does (the classic cron rule)."""

    def __init__(self, expr: str):
        fields = expr.split()
        if len(fields) != 5:
            raise BadCronExpression(f"expected 5 fields, got {len(fields)}: {expr!r}")
        self.expr = expr
        self.minutes = _parse_field(fields[0], 0, 59)
        self.hours = _parse_field(fields[1], 0, 23)
        self.dom = _parse_field(fields[2], 1, 31)
        self.months = _parse_field(fields[3], 1, 12)
        self.dow = _parse_field(fields[4], 0, 7)
        self._dom_star = fields[2] == "*"
        self._dow_star = fields[4] == "*"

    def _day_matches(self, dt: datetime) -> bool:
        dom_ok = dt.day in self.dom
        # Python weekday(): Monday=0; cron: Sunday=0 and 7 both Sunday.
        cron_dow = (dt.weekday() + 1) % 7
        dow_ok = cron_dow in self.dow or (cron_dow == 0 and 7 in self.dow)
        if self._dom_star and self._dow_star:
            return True
        if self._dom_star:
            return dow_ok
        if self._dow_star:
            return dom_ok
        return dom_ok or dow_ok

    def matches(self, dt: datetime) -> bool:
        return (
            dt.minute in self.minutes
            and dt.hour in self.hours
            and dt.month in self.months
            and self._day_matches(dt)
        )

    def next_after(self, dt: datetime) -> datetime:
        """First matching minute strictly after `dt`."""
        t = dt.replace(second=0, microsecond=0) + timedelta(minutes=1)
        for _ in range(366 * 24 * 60):  # a year of minutes bounds the scan
            if t.month not in self.months or not self._day_matches(t):
                t = (t + timedelta(days=1)).replace(hour=0, minute=0)
                continue
            if t.hour not in self.hours:
                t = (t + timedelta(hours=1)).replace(minute=0)
                continue
            if t.minute not in self.minutes:
                t += timedelta(minutes=1)
                continue
            return t
        raise BadCronExpression(f"no occurrence within a year: {self.expr!r}")


@dataclass
class ScheduledJob:
    id: str
    cron_string: str
    func: Callable
    args: tuple
    next_run: datetime
    schedule: CronSchedule = field(repr=False, default=None)


class UniqueJobScheduler:
    """Minimal rq-scheduler stand-in: cron() registers (deduped),
    tick() fires due jobs, cancel()/clear() remove them."""

    def __init__(self, clock: Callable[[], float] = time.time):
        self._clock = clock
        self._jobs: dict[str, ScheduledJob] = {}
        self._mu = threading.RLock()
        self._thread: threading.Thread | None = None
        self._stop = threading.Event()

    def _now(self) -> datetime:
        return datetime.fromtimestamp(self._clock())

    def get_jobs(self) -> list[ScheduledJob]:
        with self._mu:
            return list(self._jobs.values())

    def cron(self, cron_string: str, func: Callable, args: tuple = ()) -> ScheduledJob:
        """Register `func(*args)` on `cron_string`; an existing job with
        the same (func, args) is returned untouched (scheduler.py:17-54)."""
        args = tuple(args)
        with self._mu:
            for job in self._jobs.values():
                if job.func == func and job.args == args:
                    return job
            sched = CronSchedule(cron_string)
            job = ScheduledJob(
                id=str(uuid.uuid4()),
                cron_string=cron_string,
                func=func,
                args=args,
                next_run=sched.next_after(self._now()),
                schedule=sched,
            )
            self._jobs[job.id] = job
            return job

    def cancel(self, job_or_id: ScheduledJob | str) -> bool:
        job_id = job_or_id.id if isinstance(job_or_id, ScheduledJob) else job_or_id
        with self._mu:
            return self._jobs.pop(job_id, None) is not None

    def cancel_by(self, func: Callable | None = None, args: tuple | None = None) -> int:
        """Cancel every job matching func and/or args (the reference's
        cancel_job(job_id, job_args, func_name) sweep)."""
        n = 0
        with self._mu:
            for job in list(self._jobs.values()):
                if func is not None and job.func != func:
                    continue
                if args is not None and job.args != tuple(args):
                    continue
                del self._jobs[job.id]
                n += 1
        return n

    def clear(self) -> int:
        """clear_scheduler_queue (app/jobs/scheduler.py:71-73)."""
        with self._mu:
            n = len(self._jobs)
            self._jobs.clear()
            return n

    def tick(self) -> list[str]:
        """Run every job whose next_run has passed; returns their ids.
        A job's exception is logged with its id and does not stop the
        remaining due jobs (the job's own state machine records
        failures); the schedule always advances."""
        now = self._now()
        due: list[ScheduledJob] = []
        with self._mu:
            for job in self._jobs.values():
                if job.next_run <= now:
                    job.next_run = job.schedule.next_after(now)
                    due.append(job)
        fired = []
        for job in due:
            try:
                job.func(*job.args)
            except Exception:
                _log.exception("scheduled job %s raised", job.id)
            fired.append(job.id)
        return fired

    def start(self, interval: float = 30.0) -> None:
        """Background tick loop (daemon thread)."""
        if self._thread is not None:
            return
        self._stop.clear()

        def loop():
            while not self._stop.wait(interval):
                self.tick()

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        if self._thread is not None:
            self._stop.set()
            self._thread.join()
            self._thread = None


# ---------------------------------------------------------------------------
# Sync-job glue: persistence + self-healing + failure-cap cancellation
# ---------------------------------------------------------------------------


class SyncScheduler:
    """Binds the scheduler to the MetadataStore and SyncJob: job ids are
    persisted per dataset, dead schedules self-heal on load, and the
    ≥3-failure auto-deactivate cancels the cron (the three behaviors of
    app/core/importer.py:77-87,100-101 + app/utils/hyper_utils.py:254-263)."""

    def __init__(self, scheduler: UniqueJobScheduler, store, sync_job, out_root: str):
        self.scheduler = scheduler
        self.store = store
        self.sync_job = sync_job
        self.out_root = out_root

    def _run_one(self, dataset_id: str) -> None:
        # A failure propagates to UniqueJobScheduler.tick, which logs it
        # with the job id (SyncJob.run has recorded it in the state
        # machine already, except a LockHeld bounce).
        try:
            self.sync_job.run(dataset_id, f"{self.out_root}/{dataset_id}")
        finally:
            state = self.store.get(dataset_id)
            if not state.is_active:
                # Failure cap reached (or deactivated while scheduled):
                # cancel the cron, not just the flag.
                self.scheduler.cancel_by(func=self._run_one, args=(dataset_id,))
                self.set_job_id(dataset_id, None)

    def set_job_id(self, dataset_id: str, job_id: str | None) -> None:
        with self.store._mu:
            self.store.get(dataset_id).job_id = job_id
            self.store._flush()

    def schedule(self, dataset_id: str, cron_string: str = DEFAULT_CRON) -> ScheduledJob:
        """Register (deduped) and persist the job id in the dataset row
        (meta_data[JOB_ID_METADATA] in the reference)."""
        job = self.scheduler.cron(cron_string, self._run_one, (dataset_id,))
        self.set_job_id(dataset_id, job.id)
        return job

    def unschedule(self, dataset_id: str) -> bool:
        ok = self.scheduler.cancel_by(func=self._run_one, args=(dataset_id,)) > 0
        self.set_job_id(dataset_id, None)
        return ok

    def self_heal(self, cron_string: str = DEFAULT_CRON) -> list[str]:
        """Re-register crons for active datasets whose persisted job id
        has no live job (fresh process / scheduler restart); returns the
        healed dataset ids."""
        live = {j.id for j in self.scheduler.get_jobs()}
        healed = []
        for dataset_id in self.store.ids():
            state = self.store.get(dataset_id)
            if state.is_active and state.job_id and state.job_id not in live:
                self.schedule(dataset_id, cron_string)
                healed.append(dataset_id)
        return healed
