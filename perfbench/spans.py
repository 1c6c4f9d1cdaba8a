"""Layer spans recorded from outside the program.

A :class:`Tracer` wraps public functions of the engine at the names
their callers look up (``SyncJob.run`` finds ``read_csv_duva`` and
``full_refresh`` in ``duva_spark.orchestration.sync``; queries find
``load_table`` in their own module) and records, per span name, the
number of calls, total and self time (total minus the time of nested
spans), and the Spark jobs launched while the span was innermost. Jobs
are counted through the job group each span sets, so a job started on a
thread that does not inherit the caller's group counts for no span; the
event-log reader reports those as unattributed.

Spans are recorded only while the tracer is ``active``, so one run can
interleave traced and untraced passes over the same wrapped functions.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "perfbench|"
_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.active = False
        self.calls: dict[str, int] = defaultdict(int)
        self.total_s: dict[str, float] = defaultdict(float)
        self.self_s: dict[str, float] = defaultdict(float)
        self.jobs: dict[str, int] = defaultdict(int)
        self._stack: list[list] = []  # [name, child seconds]
        self._seq = 0
        self._undo: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        self._seq += 1
        group = f"{GROUP_PREFIX}{self._seq}|{name}"
        prev = (self.sc.getLocalProperty(_GROUP), self.sc.getLocalProperty(_DESC))
        self.sc.setLocalProperty(_GROUP, group)
        self.sc.setLocalProperty(_DESC, name)
        frame = [name, 0.0]
        self._stack.append(frame)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, prev[0])
            self.sc.setLocalProperty(_DESC, prev[1])
            self.calls[name] += 1
            self.total_s[name] += dt
            self.self_s[name] += dt - frame[1]
            self.jobs[name] += len(self.sc.statusTracker().getJobIdsForGroup(group))
            if self._stack:
                self._stack[-1][1] += dt

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper; ``on_result``
        sees each result (for counters such as columns out)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if on_result is not None and self.active:
                on_result(out)
            return out

        setattr(owner, attr, spanned)
        self._undo.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def wrap_catalog(self) -> None:
        """Span every ``load_table`` the engine calls: the catalog's own
        and each module-level copy imported by a query module."""
        import sys

        from duva_spark import catalog

        orig = catalog.load_table
        for mod in [m for n, m in list(sys.modules.items()) if n.startswith("duva_spark")]:
            if getattr(mod, "load_table", None) is orig:
                self.wrap(mod, "load_table", "catalog.load")

    def wrap_sync_path(self, counters: dict) -> None:
        """Span the sync path: API → SyncJob.run → lock, CSV read (with
        its schema inference), shaping, full-refresh write; plus the
        upsert and read-back entry points the benchmark calls."""
        from duva_spark import api, sinks
        from duva_spark.orchestration import sync
        from duva_spark.shaping import ops
        from duva_spark.sources import csv_source

        tracer = self
        lock = sync.DatasetLock

        class TimedLock(lock):
            def __enter__(self):
                with tracer.span("orchestration.lock"):
                    return super().__enter__()

        self.wrap(api.ControlPlane, "sync_file", "api.sync_file")
        self.wrap(sync.SyncJob, "run", "orchestration.sync")
        sync.DatasetLock = TimedLock
        self._undo.append((sync, "DatasetLock", lock))
        self.wrap(sync, "read_csv_duva", "sources.read")
        self.wrap(csv_source, "read_csv_duva", "sources.read")
        self.wrap(csv_source, "infer_csv_schema", "sources.infer")

        def columns_out(df):
            counters["shaping.columns_out"] = len(df.columns)

        self.wrap(ops, "apply_export_settings", "shaping.apply", on_result=columns_out)
        self.wrap(sync, "full_refresh", "sinks.full_refresh")
        self.wrap(sinks, "merge_upsert", "sinks.upsert")
        self.wrap(sinks, "read_dataset", "sinks.read_dataset")
