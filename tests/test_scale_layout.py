"""Scale-layout behaviors must be visible in plans: partition pruning,
bucketed shuffle-free joins, salted-join correctness, and the reusable
operators' equivalence to their inline query forms."""

from __future__ import annotations

import contextlib
import functools
import io
import threading
import time
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import duva_spark
from duva_spark.catalog import load_table
from duva_spark.layout import write_bucketed
from duva_spark.operators import asof_join, salted_join, top_k_per_group
from duva_spark.operators.parallel import run_parallel


def _explain(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_partition_pruning(spark, sf_dir, tmp_path):
    from duva_spark.sinks import full_refresh, read_dataset

    out = str(tmp_path / "events_by_day")
    events = load_table(spark, sf_dir, "events")
    full_refresh(events.withColumn("dt", F.to_date("ts")), out, partition_by=["dt"])
    df = read_dataset(spark, out).filter(F.col("dt") == "2024-01-05")
    plan = _explain(df)
    assert "PartitionFilters: [isnotnull(dt" in plan  # pruned at the scan
    assert df.count() > 0


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        orders = load_table(spark, sf_dir, "orders")
        cust = load_table(spark, sf_dir, "customer")
        write_bucketed(orders, "b_orders", "o_custkey", 8)
        write_bucketed(
            cust.withColumnRenamed("c_custkey", "o_custkey"), "b_customer", "o_custkey", 8
        )
        joined = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
        plan = _explain(joined, "simple")
        assert "Exchange hashpartitioning" not in plan  # buckets co-located
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(orders, "l_orderkey").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    )
    salted = salted_join(li, orders, "l_orderkey", n_salts=4).agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    )
    assert plain.collect() == salted.collect()


def test_asof_operator_matches_query(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    out = asof_join(purchases, views, on="user_id", ts="ts")
    from duva_spark.queries import load_all

    q = load_all()["q_join_asof"].fn(spark, sf_dir)
    got = {(r.event_id, r.asof_view_id) for r in out.collect()}
    want = {(r.purchase_id, r.last_view_id) for r in q.collect()}
    assert got == want


def test_asof_forward_direction(spark):
    left = spark.createDataFrame([(1, 10), (1, 25)], "k long, t long")
    right = spark.createDataFrame([(1, 12, "a"), (1, 30, "b")], "k long, t long, v string")
    out = asof_join(left, right, on="k", ts="t", direction="forward")
    got = {(r.t, r.asof_v) for r in out.collect()}
    assert got == {(10, "a"), (25, "b")}


def test_top_k_per_group_operator(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    out = top_k_per_group(
        orders, ["o_orderpriority"], [F.desc("o_totalprice"), F.asc("o_orderkey")], 3
    )
    counts = out.groupBy("o_orderpriority").count().collect()
    assert all(r["count"] == 3 for r in counts)


def test_apply_in_pandas_slope_matches_grouped_agg(spark, sf_dir):
    from duva_spark.operators.pandas_ops import slope_grouped_agg
    from reference_folds import group_ols_slope

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").alias("y"), F.col("user_id").cast("double").alias("x")
    )
    a = {r.event_type: round(r.slope, 6) for r in group_ols_slope(ev, ["event_type"], "x", "y").collect()}
    b = {r.event_type: round(r.slope, 6) for r in slope_grouped_agg(ev, ["event_type"], "x", "y").collect()}
    assert a == b and len(a) == 5


def test_delete_where_is_versioned_and_auditable(spark, tmp_path):
    """GDPR-style delete: matching rows vanish from the current dataset,
    the pre-delete version stays readable for audit, and vacuum finally
    forgets it."""
    from pyspark.sql import functions as F

    from duva_spark import sinks

    path = str(tmp_path / "ds")
    df = spark.createDataFrame(
        [(i, f"user{i % 3}", i * 1.0) for i in range(30)], "id long, owner string, v double"
    )
    sinks.merge_upsert(spark, df, path, "id", retain=3)
    n = sinks.delete_where(spark, path, F.col("owner") == "user1", retain=3)
    assert n == 20
    cur = {r.id for r in sinks.read_dataset(spark, path).collect()}
    assert len(cur) == 20 and not any(i % 3 == 1 for i in cur)
    # audit: version 0 still holds the deleted rows
    v0 = {r.id for r in sinks.read_version(spark, path, 0).collect()}
    assert len(v0) == 30
    # retention expiry: vacuum to 1 version forgets the pre-delete state
    sinks.vacuum(path, retain=1)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        sinks.read_version(spark, path, 0)


def test_compact_merges_small_files_losslessly(spark, tmp_path):
    """Many micro-batch files compact to few, content byte-identical."""
    from duva_spark import sinks

    path = str(tmp_path / "ds")
    df = spark.createDataFrame([(i, f"p{i}") for i in range(1000)], "id long, p string")
    # simulate micro-batch ingest: 40 tiny files
    sinks.merge_upsert(spark, df.repartition(40), path, "id", retain=3)
    before, after = sinks.compact(spark, path, target_file_bytes=10**9, retain=3)
    assert before >= 40 and after == 1
    got = sorted(r.id for r in sinks.read_dataset(spark, path).collect())
    assert got == list(range(1000))


def test_analyze_table_feeds_cost_based_optimizer(spark, sf_dir):
    """ANALYZE TABLE COMPUTE STATISTICS populates catalog stats (row
    count/size) — the input Spark's CBO join reordering reads."""
    from duva_spark.catalog import load_table
    from duva_spark.layout import write_bucketed

    nat = load_table(spark, sf_dir, "nation")
    write_bucketed(nat, "stats_nation", "n_nationkey", 2)
    spark.sql("ANALYZE TABLE stats_nation COMPUTE STATISTICS")
    desc = {
        r.col_name: r.data_type
        for r in spark.sql("DESCRIBE TABLE EXTENDED stats_nation").collect()
    }
    assert "Statistics" in desc and "rows" in desc["Statistics"]


def test_delete_where_keeps_null_predicate_rows_and_history(spark, tmp_path):
    """SQL DELETE semantics: NULL-evaluating predicates keep the row; and
    a maintenance delete must not shrink the existing retention window."""
    from pyspark.sql import functions as F

    from duva_spark import sinks

    path = str(tmp_path / "ds")
    df = spark.createDataFrame(
        [(1, "user1"), (2, "user2"), (3, None)], "id long, owner string"
    )
    sinks.merge_upsert(spark, df, path, "id", retain=5)
    sinks.merge_upsert(spark, df.withColumn("owner", F.upper("owner")), path, "id", retain=5)
    assert sinks.list_versions(path) == [0, 1]
    n = sinks.delete_where(spark, path, F.col("owner") == "USER1")
    assert n == 2  # NULL-owner row survives
    kept = {r.id for r in sinks.read_dataset(spark, path).collect()}
    assert kept == {2, 3}
    # default retain preserved all prior versions plus the new one
    assert sinks.list_versions(path) == [0, 1, 2]


def test_scd2_apply_chains_versions_across_batches(spark):
    """Two successive update batches: a twice-changed key carries three
    versions with contiguous validity windows; a no-op echo creates no
    version; NULL transitions are detected (null-safe compare)."""
    from duva_spark.operators.scd2 import OPEN_END, scd2_apply, scd2_initial

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None)], "id long, attr string"
    )
    dim = scd2_initial(base, "id", ["attr"], "2024-01-01")
    # batch 1: id=1 changes, id=2 echoes unchanged, id=3 NULL->'c', id=4 new
    b1 = spark.createDataFrame(
        [(1, "a2"), (2, "b"), (3, "c"), (4, "d")], "id long, attr string"
    )
    dim = scd2_apply(dim, b1, "id", ["attr"], "2024-02-01")
    # batch 2: id=1 changes again, id=3 'c'->NULL
    b2 = spark.createDataFrame([(1, "a3"), (3, None)], "id long, attr string")
    dim = scd2_apply(dim, b2, "id", ["attr"], "2024-03-01")

    rows = {(r.id, r.attr, r.valid_from, r.valid_to, r.is_current) for r in dim.collect()}
    assert rows == {
        (1, "a", "2024-01-01", "2024-02-01", 0),
        (1, "a2", "2024-02-01", "2024-03-01", 0),
        (1, "a3", "2024-03-01", OPEN_END, 1),
        (2, "b", "2024-01-01", OPEN_END, 1),          # echo made no version
        (3, None, "2024-01-01", "2024-02-01", 0),
        (3, "c", "2024-02-01", "2024-03-01", 0),
        (3, None, "2024-03-01", OPEN_END, 1),          # NULL round-trip versioned
        (4, "d", "2024-02-01", OPEN_END, 1),
    }


def test_scd2_apply_dedupes_update_batch_last_wins(spark):
    """A batch carrying duplicate keys would fan out the full-outer join
    and corrupt the history (ADVICE r3); with order_col the batch is
    deduplicated deterministically (highest order_col wins) before the
    join, so the key gets exactly one new version."""
    from duva_spark.operators.scd2 import OPEN_END, scd2_apply, scd2_initial

    base = spark.createDataFrame([(1, "a")], "id long, attr string")
    dim = scd2_initial(base, "id", ["attr"], "2024-01-01")
    batch = spark.createDataFrame(
        [(1, "mid", 5), (1, "last", 9), (1, "first", 1)],
        "id long, attr string, seq long",
    )
    out = scd2_apply(
        dim, batch.select("id", "attr", "seq"), "id", ["attr"], "2024-02-01",
        order_col="seq",
    )
    rows = {(r.id, r.attr, r.valid_from, r.valid_to, r.is_current) for r in out.collect()}
    assert rows == {
        (1, "a", "2024-01-01", "2024-02-01", 0),
        (1, "last", "2024-02-01", OPEN_END, 1),
    }


# ---------------------------------------------------------------------------
# run_parallel: the one driver-side fan-out
# ---------------------------------------------------------------------------


@contextlib.contextmanager
def _job_group(sc, interrupt_on_cancel=False):
    group = f"run-parallel-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "run_parallel test", interruptOnCancel=interrupt_on_cancel)
    try:
        yield group
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def test_run_parallel_jobs_land_in_the_callers_group(spark):
    """Jobs launched on the fan-out threads, and on the threads of a
    nested fan-out (a pareto leg that trains PQ), carry the caller's job
    group; none runs without a group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def leg(n):
        return spark.range(n).count()

    def nested():
        return run_parallel(spark, [functools.partial(leg, 5), functools.partial(leg, 6)])

    ungrouped = set(tracker.getJobIdsForGroup(None))
    with _job_group(sc) as group:
        assert run_parallel(spark, [functools.partial(leg, 3), nested]) == [3, [5, 6]]
    assert len(tracker.getJobIdsForGroup(group)) >= 3
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped


def test_run_parallel_legs_stop_on_cancel_job_group(spark):
    """cancelJobGroup from another thread stops every running leg, and
    the caller sees the error well before the legs' own 30 s."""
    sc = spark.sparkContext

    def slow_leg():
        return sc.parallelize([0], 1).map(lambda x: time.sleep(30) or x).collect()

    with _job_group(sc, interrupt_on_cancel=True) as group:

        def cancel_when_both_run():
            deadline = time.monotonic() + 20
            while time.monotonic() < deadline:
                if len(sc.statusTracker().getJobIdsForGroup(group)) >= 2:
                    break
                time.sleep(0.05)
            sc.cancelJobGroup(group)

        timer = threading.Thread(target=cancel_when_both_run)
        t0 = time.monotonic()
        timer.start()
        with pytest.raises(Exception, match="(?i)cancel"):
            run_parallel(spark, [slow_leg, slow_leg])
        timer.join(timeout=30)
    assert not timer.is_alive()
    assert time.monotonic() - t0 < 25


def test_run_parallel_keeps_input_order_and_reraises(spark):
    def after(delay, value):
        time.sleep(delay)
        return value

    # later inputs finish first; results still come back in input order
    legs = [functools.partial(after, 0.05 * (3 - i), i) for i in range(4)]
    assert run_parallel(spark, legs) == [0, 1, 2, 3]

    def boom():
        raise ValueError("leg failed")

    with pytest.raises(ValueError, match="leg failed"):
        run_parallel(spark, [functools.partial(after, 0.05, 1), boom])


def test_thread_pools_only_in_the_fan_out_helper():
    """Every driver-side fan-out goes through run_parallel, so no other
    module in the package builds a thread pool of its own."""
    root = Path(duva_spark.__file__).parent
    users = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if "ThreadPoolExecutor" in p.read_text()
    )
    assert users == ["operators/parallel.py"]
