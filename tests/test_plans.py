"""Physical-plan assertions: the scale properties that make these queries
viable at 100 TB must be visible in the plan, not just claimed.

- filters/projections reach the parquet scan (PushedFilters / ReadSchema);
- constant-size dims join as broadcast;
- global top-n plans as TakeOrderedAndProject (no full sort);
- whole-stage codegen covers the hot path (no Python in relational ops).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from duva_spark.catalog import load_table
from duva_spark.queries import load_all


def _explain(df, mode) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _plan(df) -> str:
    return _explain(df, "simple")


def _formatted(df) -> str:
    return _explain(df, "formatted")


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    df = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") > 40)
        .select("p_partkey", "p_size")
    )
    plan = _formatted(df)
    assert "PushedFilters: [IsNotNull(p_size), GreaterThan(p_size,40)]" in plan


def test_column_pruning(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = _formatted(df)
    assert "l_extendedprice" not in plan  # unneeded columns never read
    assert "ReadSchema" in plan


def test_q05_broadcasts_dimension_tables(spark, sf_dir):
    q = load_all()["q05_local_supplier_volume"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # region/nation never shuffle


def test_top_n_uses_take_ordered(spark, sf_dir):
    q = load_all()["q_sort_limit"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # no global sort materialization


def test_flagship_is_whole_stage_codegen(spark, sf_dir):
    q = load_all()["q01_pricing_summary"]
    df = q.fn(spark, sf_dir)
    codegen = _explain(df, "codegen")
    assert "WholeStageCodegen" in codegen
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_asof_join_is_single_shuffle_window(spark, sf_dir):
    """The as-of join must plan as union → one exchange → window, never a
    join (a per-key range join would be quadratic in hot keys)."""
    q = load_all()["q_join_asof"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "Window" in plan
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # hashpartition by user + AQE reads


def test_lsh_pairs_plan_has_no_cartesian(spark, sf_dir):
    q = load_all()["q_minhash_lsh_pairs"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # candidates via equi-join only


def test_shard_packing_has_no_single_partition_stage(spark, sf_dir, monkeypatch):
    """The running-cumsum behind shard packing must be the distributed
    two-pass prefix sum: range partition + per-range window + broadcast
    offsets — never a global one-task window."""
    q = load_all()["q_token_shard_packing"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastExchange" in plan  # offsets frame is broadcast, O(#partitions)
    # the localCheckpoint inside running_sum truncates explain() at a
    # Scan ExistingRDD, hiding the range-partitioning pass — assert it
    # on the untruncated operator lineage instead, with the checkpoint
    # inlined as tools/plan_report.py does
    from duva_spark.catalog import load_table as lt
    from duva_spark.operators.prefix_sum import running_sum

    t = lt(spark, sf_dir, "documents").select("doc_id", "n_chars")
    monkeypatch.setattr(type(t), "localCheckpoint", lambda self, eager=True: self)
    full = _plan(running_sum(t, "doc_id", "n_chars"))
    assert "Exchange SinglePartition" not in full
    assert "rangepartitioning" in full.lower()  # pass 1: ordered ranges


def test_running_sum_matches_global_window(spark, sf_dir):
    """Distributed prefix sum == the single-partition window it replaces."""
    from pyspark.sql import Window as W

    from duva_spark.catalog import load_table as lt
    from duva_spark.operators.prefix_sum import running_sum

    t = lt(spark, sf_dir, "orders").select("o_orderkey", F.col("o_totalprice").alias("v"))
    got = {
        r["o_orderkey"]: r["cum"]
        for r in running_sum(t, "o_orderkey", "v", num_partitions=8).collect()
    }
    w = W.orderBy("o_orderkey").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = {r["o_orderkey"]: r["cum"] for r in t.withColumn("cum", F.sum("v").over(w)).collect()}
    assert len(got) == len(want)
    assert all(abs(got[k] - want[k]) < 1e-6 for k in want)


def test_scalar_subquery_is_broadcast_not_collect(spark, sf_dir):
    q = load_all()["q_scalar_subquery"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_bucketed_fact_join_plan_has_no_join_exchange(spark, sf_dir):
    """Both fact sides read pre-hashed buckets: the sort-merge join runs
    with no Exchange under it (the only hashpartitioning exchange left is
    the small post-join aggregation)."""
    q = load_all()["q_bucketed_fact_join"]
    df = q.fn(spark, sf_dir)
    plan = _plan(df)
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 1  # agg only, never the join
    assert df.count() > 0


def test_repetition_signals_is_shuffle_free(spark, sf_dir):
    """Gopher repetition signals are pure per-row array math: the mode of
    the bigram multiset comes from a sorted-run trick, so the plan has no
    Exchange at all — the operator runs at parquet-scan speed."""
    q = load_all()["q_repetition_signals"]
    df = q.fn(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan  # codegen only, no Python UDFs
    assert df.count() > 0


def test_contamination_plan_broadcasts_eval_grams(spark, sf_dir):
    """The eval gram set reaches the corpus side as a broadcast hash join;
    the only shuffles are the eval-side DISTINCT and the per-doc count —
    no corpus-vs-corpus join, no single-partition stage."""
    q = load_all()["q_ngram_contamination"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Exchange SinglePartition" not in plan


def test_mixture_sampling_plan_is_broadcast_only(spark, sf_dir):
    """Per-language stats frames join the corpus only as broadcasts; the
    single-partition exchanges carry the 1-row cap and |langs|-row frames,
    never corpus data (no sort-merge join anywhere)."""
    q = load_all()["q_mixture_sampling"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_zorder_layout_single_shuffle(spark, sf_dir):
    """Morton keys are a pure projection: the only exchange is the final
    per-bucket aggregation."""
    q = load_all()["q_zorder_layout"]
    plan = _plan(q.fn(spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan


@pytest.mark.slow
def test_no_headline_query_has_toxic_plan_nodes(spark, sf_dir):
    """Safety net across the whole bench set: no headline query may plan
    a cartesian product or row-at-a-time Python eval, ever. (Streaming
    queries execute eagerly, so they are covered by their own tests.)"""
    for name, q in load_all().items():
        if not q.headline or name.startswith("q_stream"):
            continue
        plan = _plan(q.fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name


import re as _re

# windowspecdefinition whose FIRST argument is already a sort order (or
# the frame itself) has an EMPTY partition spec: the window plans
# Exchange SinglePartition + a one-task sort — the textbook scale
# killer unless the windowed table is bounded by construction.
_UNPARTITIONED_WSPEC = _re.compile(
    r"windowspecdefinition\((?:[^,()]+ (?:ASC|DESC) NULLS|specifiedwindowframe)"
)

# Documented-bound exemptions (r8 verdict "wrong" #1, adjudicated in
# duva_spark/llm/evals.py's module docstring): every query here windows
# a table bounded BY CONSTRUCTION regardless of corpus size —
# 6-dp-rounded score/value groups (≤ 10^6+1 rows), enum-sized grids, or
# ≤ k driver-built rows — where a single-task sort costs milliseconds
# and the distributed prefix-sum re-base would add a localCheckpoint +
# two jobs per call. Growing this set requires the same bounded-table
# argument in the query's description.
_UNPARTITIONED_WINDOW_OK: set[str] = {
    # 6-dp-rounded score groups, ≤ 10^6+1 rows at any corpus size
    # (the documented-bound adjudication in llm/evals.py's docstring)
    "q_lr_quality_auc",
    "q_quality_signal_spearman",
    # windows over enum-sized grids: 9 leading digits / contingency
    # cells / drift buckets — bounded by the statistic's definition
    "q_benford_digit_test",
    "q_chi2_independence",
    "q_psi_drift",
    # windows over the 10-row score-decile frame (bounded by the
    # statistic's definition, like q_psi_drift)
    "q_quality_drift_monitor",
    # cumulative window over the ≤ n_buckets vocabulary-growth table
    "q_heaps_law",
    # rank fusion over the two top-k result lists (k rows each)
    "q_rrf_hybrid_search",
    # rerank windows over the fused top-10 candidate frame (10 rows)
    "q_crossencoder_rerank",
}


@pytest.mark.slow
def test_unpartitioned_windows_are_bounded_exemptions(spark, sf_dir):
    """Registry-wide ban (r8 verdict item 7): no registered query may
    plan a WindowExec with an empty partition spec unless it is on the
    documented-bound exemption list. Streaming queries execute eagerly
    and are covered by their own tests."""
    for name, q in load_all().items():
        if name.startswith("q_stream"):
            continue
        plan = _plan(q.fn(spark, sf_dir))
        if _UNPARTITIONED_WSPEC.search(plan):
            assert name in _UNPARTITIONED_WINDOW_OK, (
                f"{name} plans an unpartitioned window and is not on the "
                "documented-bound exemption list"
            )
        else:
            assert name not in _UNPARTITIONED_WINDOW_OK, (
                f"{name} is exempted but no longer plans an unpartitioned "
                "window — remove it from the list"
            )


def test_join_strategy_hints_are_honored(spark, sf_dir):
    """The engine exposes physical join-strategy control: broadcast,
    shuffle-hash, and sort-merge hints each surface as their operator.
    At 100 TB picking the wrong strategy is the difference between a
    broadcast and shuffling a fact table — the knob must actually work."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    cond = li.l_orderkey == orders.o_orderkey
    assert "BroadcastHashJoin" in _plan(li.join(orders.hint("broadcast"), cond))
    assert "ShuffledHashJoin" in _plan(li.join(orders.hint("shuffle_hash"), cond))
    assert "SortMergeJoin" in _plan(li.join(orders.hint("merge"), cond))


def test_partition_pruned_scan_query_prunes(spark, sf_dir):
    """The registered query's read plans PartitionFilters on o_year —
    directory-level pruning, not a post-scan filter."""
    q = load_all()["q_partition_pruned_scan"]
    plan = _formatted(q.fn(spark, sf_dir))
    assert "PartitionFilters: [isnotnull(o_year" in plan


def test_sequence_packing_has_no_single_partition_stage(spark, sf_dir):
    """Sequence packing rides the same distributed prefix sum as shard
    packing; the explode fan-out must stay narrow (no extra exchange
    between the span computation and the final hash agg)."""
    q = load_all()["q_sequence_packing"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "Exchange SinglePartition" not in plan
    assert "Generate explode" in plan  # the per-doc fan-out is a Generate, not a join
    # prefix-sum structure (range partitioning, hidden behind the
    # checkpoint's Scan ExistingRDD) is asserted on the operator itself
    # in test_shard_packing_has_no_single_partition_stage


def test_orc_roundtrip_pushes_filter_to_orc_scan(spark, sf_dir):
    """The ship-date predicate must reach the ORC scan itself — format
    coverage is only real if pushdown works there like on parquet."""
    q = load_all()["q_orc_roundtrip"]
    plan = _formatted(q.fn(spark, sf_dir))
    assert "Scan orc" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_sessionize_batch_reuses_one_exchange(spark, sf_dir):
    """Lag window, running count, and both aggregations must all ride ONE
    hash partitioning on user_id — a second exchange would double the
    shuffle volume of the hottest stage at scale."""
    import re

    q = load_all()["q_sessionize_batch"]
    plan = _plan(q.fn(spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "Exchange SinglePartition" not in plan


def test_peak_concurrency_is_single_exchange_no_self_join(spark, sf_dir):
    """Sweep-line formulation: no Join operator (the naive interval
    overlap is a quadratic self-join) and one event_type exchange."""
    import re

    q = load_all()["q_peak_concurrency"]
    plan = _plan(q.fn(spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "Join" not in plan


def test_classifier_inference_stays_jvm_side(spark, sf_dir):
    """Model inference must be a codegen mapper: no Python eval nodes,
    one partial-agg exchange."""
    import re

    q = load_all()["q_classifier_inference"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_repeated_ngrams_top50_is_take_ordered(spark, sf_dir):
    q = load_all()["q_repeated_ngrams"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_reservoir_sample_is_take_ordered(spark, sf_dir):
    """The fixed-k hash-rank sample must plan as TakeOrderedAndProject
    (per-task k-row heaps merged on the driver) — a Sort + Limit global
    materialization would serialize the corpus through one stage."""
    q = load_all()["q_reservoir_sample"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan


def test_text_statistics_queries_stay_broadcast_and_bounded(spark, sf_dir):
    """Perplexity/PMI: corpus totals ride 1-row broadcast nested-loop
    joins (their SinglePartition exchanges carry ONE row — the corpus
    never converges to a single task), no cartesian products, PMI's
    top-20 is TakeOrderedAndProject."""
    qs = load_all()
    for name in ("q_unigram_perplexity", "q_pmi_bigrams"):
        plan = _plan(qs[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" in plan
        assert "EvalPython" not in plan
    assert "TakeOrderedAndProject" in _plan(qs["q_pmi_bigrams"].fn(spark, sf_dir))


def test_batching_and_split_have_no_single_partition_stage(spark, sf_dir):
    """Length-bucketed batching and the hash split stay fully partitioned
    — no stage funnels the corpus through one task."""
    qs = load_all()
    for name in ("q_length_bucketed_batching", "q_train_val_test", "q_vocab_coverage"):
        plan = _plan(qs[name].fn(spark, sf_dir))
        assert "Exchange SinglePartition" not in plan, name


def test_char_entropy_is_scan_level_projection(spark, sf_dir):
    """Character-class entropy is pure codegen column arithmetic: zero
    exchanges, zero Python — it composes into any ingest scan for free."""
    q = load_all()["q_char_class_entropy"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    assert "*(1) Project" in plan  # whole-stage codegen covers the math


def test_bpe_pair_counts_is_one_shuffle_top30(spark, sf_dir):
    """BPE pair mining: explodes are Generate stages, the only exchange is
    the pair-count aggregation, and the top-30 never globally sorts."""
    q = load_all()["q_bpe_pair_counts"]
    plan = _plan(q.fn(spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "TakeOrderedAndProject" in plan
    assert "Generate" in plan


def test_event_debounce_no_single_partition_stage(spark, sf_dir):
    """Debounce: the LAG window partitions by (user, event_type) — the
    corpus never funnels through one task."""
    q = load_all()["q_event_debounce"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "Exchange SinglePartition" not in plan
    assert "EvalPython" not in plan


def test_rrf_fusion_legs_are_take_ordered(spark, sf_dir):
    """Hybrid RRF: both retrieval legs cut to top-k via
    TakeOrderedAndProject before any window/join — the only
    single-partition work is over <=20-row leg outputs."""
    q = load_all()["q_rrf_hybrid_search"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_source_count_broadcasts(spark, sf_dir):
    """TF-IDF: the 1-row source-count frame broadcasts; corpus-sized data
    crosses the wire once (the tf aggregation)."""
    q = load_all()["q_tfidf_top_terms"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "EvalPython" not in plan


def test_equidepth_histogram_avoids_global_sort(spark, sf_dir):
    """Decile histogram: the only single-partition stage carries the
    1-row boundary frame (broadcast back); the corpus itself is never
    globally sorted — no Sort over the full orders scan."""
    q = load_all()["q_equidepth_histogram"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_weighted_sample_stays_partitioned(spark, sf_dir):
    """A-ES weighted sampling: the rank window partitions by language —
    no stage funnels the corpus through one task."""
    q = load_all()["q_weighted_sample"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "Exchange SinglePartition" not in plan
    assert "EvalPython" not in plan


def test_robust_anomaly_broadcasts_the_stats_frames(spark, sf_dir):
    """Median/MAD anomaly census: both per-type stat frames come back as
    broadcasts — the events table never shuffles for the joins."""
    q = load_all()["q_events_anomaly_robust"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_interval_coverage_reuses_one_exchange(spark, sf_dir):
    """Gaps-and-islands: both windows and both aggregations share ONE
    hashpartitioning on user_id — exactly one exchange in the plan."""
    q = load_all()["q_interval_coverage"]
    plan = _plan(q.fn(spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "Exchange SinglePartition" not in plan


def test_quantile_cont_matches_exact_percentile(spark, sf_dir):
    """Distributed exact quantile == single-reducer F.percentile on the
    same data (including interpolated fractional positions)."""
    from duva_spark.catalog import load_table as lt
    from duva_spark.operators.quantile import quantile_cont_row

    t = lt(spark, sf_dir, "orders").select(F.col("o_totalprice").alias("v"))
    got = quantile_cont_row(t, "v", {"p10": 0.1, "p50": 0.5, "p90": 0.9}).collect()[0]
    want = t.agg(
        F.percentile("v", 0.1).alias("p10"),
        F.percentile("v", 0.5).alias("p50"),
        F.percentile("v", 0.9).alias("p90"),
    ).collect()[0]
    for k in ("p10", "p50", "p90"):
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])


def test_quantile_cont_has_no_single_partition_stage(spark, sf_dir, monkeypatch):
    """The percentile family must never buffer the whole group on one
    reducer: per-value counts + prefix-sum rank lookup, all parallel
    (the broadcast side of the rank join is the |qs|-row targets)."""
    from duva_spark.catalog import load_table as lt
    from duva_spark.operators.quantile import quantile_cont

    t = lt(spark, sf_dir, "orders").select(F.col("o_totalprice").alias("v"))
    # untruncated plan: the checkpoint inlined, as tools/plan_report.py does
    monkeypatch.setattr(type(t), "localCheckpoint", lambda self, eager=True: self)
    plan = _plan(quantile_cont(t, "v", [0.5, 0.99]))
    # (a global SinglePartition exchange does appear here, but only for
    # the O(#partitions)-row partial-agg of the 1-row total — benign;
    # the data-sized stages are the range partition + ranged window)
    assert "rangepartitioning" in plan.lower()


def test_conversion_latency_has_no_global_exact_percentile(spark, sf_dir):
    """q_conversion_latency's quantiles go through the distributed
    operator — the plan must not contain the exact `percentile(...)`
    aggregate that buffers O(users) values on one task."""
    q = load_all()["q_conversion_latency"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "percentile(" not in plan
    # the distributed quantile's materialized prefix frame surfaces as a
    # Scan ExistingRDD (its range-partitioned structure is plan-asserted
    # in test_quantile_cont_has_no_single_partition_stage)
    assert "Scan ExistingRDD" in plan


def test_grouped_quantile_matches_exact_percentile(spark, sf_dir):
    """Per-group distributed quantile == per-group F.percentile."""
    from duva_spark.catalog import load_table as lt
    from duva_spark.operators.quantile import grouped_quantile_cont

    t = lt(spark, sf_dir, "orders").select(
        "o_orderpriority", F.col("o_totalprice").alias("v")
    )
    got = {
        r.o_orderpriority: (r.p25, r.med, r.p95)
        for r in grouped_quantile_cont(
            t, ["o_orderpriority"], "v", {"p25": 0.25, "med": 0.5, "p95": 0.95}
        ).collect()
    }
    want = {
        r.o_orderpriority: (r.p25, r.med, r.p95)
        for r in t.groupBy("o_orderpriority")
        .agg(
            F.percentile("v", 0.25).alias("p25"),
            F.percentile("v", 0.5).alias("med"),
            F.percentile("v", 0.95).alias("p95"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in got:
        for a, b in zip(got[k], want[k]):
            assert abs(a - b) < 1e-9, (k, got[k], want[k])


def test_grouped_quantile_never_aggregates_raw_values(spark, sf_dir):
    """The grouped-quantile plan must pre-collapse to per-(group, value)
    counts before any window — no `percentile(` aggregate (which buffers
    a group's raw vector in its agg buffer, unspillable)."""
    from duva_spark.catalog import load_table as lt
    from duva_spark.operators.quantile import grouped_quantile_cont

    t = lt(spark, sf_dir, "orders")
    plan = _plan(
        grouped_quantile_cont(t, ["o_orderpriority"], "o_totalprice", {"med": 0.5})
    )
    assert "percentile(" not in plan
    assert "Window" in plan


def test_heavy_hitters_matches_exact_groupby(spark, sf_dir):
    """Two-pass MG + recount == the full groupBy formulation. A cap
    below the k-1 guarantee floor (here 8 < 31) must be clamped up, not
    silently drop true hitters — this call would return a partial set
    without the clamp."""
    from duva_spark.catalog import load_table as lt
    from duva_spark.operators.heavy_hitters import heavy_hitters

    words = lt(spark, sf_dir, "documents").select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    got = {
        (r.word, r.cnt) for r in heavy_hitters(words, "word", k=32, cap=8).collect()
    }
    n = words.count()
    want = {
        (r.word, r.cnt)
        for r in words.groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > n / 32)
        .collect()
    }
    assert got == want and got


def test_heavy_hitters_finds_cross_partition_hitter(spark):
    """A hitter spread thin across partitions (never locally dominant)
    must still be found — the MG union-superset guarantee."""
    from duva_spark.operators.heavy_hitters import heavy_hitters

    # 16 partitions; value "hot" is 20% overall but interleaved
    rows = [(("hot",) if i % 5 == 0 else (f"v{i}",)) for i in range(5000)]
    df = spark.createDataFrame(rows, "v string").repartition(16)
    got = heavy_hitters(df, "v", k=10, cap=20).collect()
    assert [(r.v, r.cnt) for r in got] == [("hot", 1000)]


def test_heavy_hitters_plan_broadcasts_candidates(spark, sf_dir):
    """The recount must be candidate-bounded: MG candidates flow through
    a broadcast (semi) join, never a full-cardinality shuffle join."""
    from duva_spark.catalog import load_table as lt
    from duva_spark.operators.heavy_hitters import heavy_hitters

    words = lt(spark, sf_dir, "documents").select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    plan = _plan(heavy_hitters(words, "word", k=32))
    assert "MapInPandas" in plan
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_quantile_operators_ignore_nulls_like_percentile(spark):
    """NULL values must not hold ranks: both quantile operators equal
    F.percentile on a nullable column."""
    from duva_spark.operators.quantile import grouped_quantile_cont, quantile_cont_row

    df = spark.createDataFrame(
        [(None,), (None,), (1.0,), (2.0,), (3.0,)], "v double"
    )
    got = quantile_cont_row(df, "v", {"med": 0.5}).collect()[0]
    assert got["med"] == 2.0
    gdf = spark.createDataFrame(
        [("a", None), ("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", None)],
        "g string, v double",
    )
    rows = {r.g: r.med for r in grouped_quantile_cont(gdf, ["g"], "v", {"med": 0.5}).collect()}
    assert rows["a"] == 2.0
    assert "b" not in rows  # all-NULL group yields no row, like an agg over no values


# Every crossJoin(F.broadcast(<tiny frame>)) site in the repo, keyed by
# the query that exercises it (r4 verdict item 7). The invariant: the
# join must plan as BroadcastNestedLoopJoin (build side = the broadcast
# ≤1-row aggregate / literal frame), NEVER CartesianProduct — dropping
# the broadcast() in a future edit would silently turn a free
# scalar-attach into a real cartesian shuffle at scale. min_bnlj is the
# count at the time of writing (some sites collapse further — q15's
# equality filter rewrites the cross join into a hash join, which is
# fine; the assertion is a floor plus the cartesian ban).
#   heavy_hitters.py:76 → q_heavy_hitter_words
#   llm_q.py (bm25 g / sweep t / normalize one) → 3 queries below
#   relational.py:699,1322,1532,1613,2496,3648,3793 → 7 queries
#   pipeline_q.py:413,723,802-803,1206,1624,1634 → 5 queries
_BNLJ_SITES = [
    ("q_heavy_hitter_words", 1),
    ("q_bm25_search", 1),
    ("q_threshold_sweep", 1),
    ("q_embed_normalize", 1),
    ("q_winsorized_stats", 1),
    ("q_scalar_subquery", 1),
    ("q11_important_stock", 1),
    ("q22_global_sales_opportunity", 1),
    ("q15_top_supplier", 0),
    ("q_equidepth_histogram", 1),
    ("q_abc_classification", 1),
    ("q_mixture_sampling", 1),
    ("q_unigram_perplexity", 1),
    ("q_pmi_bigrams", 2),
    ("q_tfidf_top_terms", 1),
    ("q_temperature_mixture", 1),
    # r5 additions: perplexity-tercile thresholds (two 1-row broadcasts)
    ("q_perplexity_buckets", 2),
    ("q_decayed_engagement", 1),
    # review catch: sites missed by the first enumeration — the int8
    # min/max broadcast and the L2 brute-force probe broadcast (the
    # cosine top-k and hard-negative probe broadcasts left with the
    # crossJoin fold; the Arrow brute-force top-k plans no join)
    ("q_embed_quantize_error", 1),
    ("q_embed_l2_topk", 1),
    ("q_epoch_capped_mixture", 1),
    # r5 late addition (r12: q_knn_label_purity's probe leg moved to the
    # Arrow/BLAS brute-force twin — no crossJoin site remains there); the
    # cluster-size histogram attaches its singleton row via two 1-row
    # broadcast aggregates
    ("q_dedup_cluster_size_dist", 1),
    ("q_repeat_epochs_plan", 1),
    ("q_gram_novelty", 1),
    # two quantile re-attaches (median, then MAD)
    ("q_mad_outliers", 2),
    # r6 hashed-LM sites: the DSIR bucket-ratio totals attach (1-row),
    # and the NB prior-normalizer + doc×label stats grid attaches
    ("q_dsir_selection", 1),
    ("q_nb_lang_classifier", 2),
    # the 3-row bucket-count grid + the 1-row token-mass total
    ("q_feature_hash_collisions", 2),
    # the 1-row (N, V) unigram-total attach
    ("q_stupid_backoff_nll", 1),
    # r8 scalar attaches: KN's (bigram-types, vocab) totals; the domain
    # matrix's dense-bucket-grid broadcast; the radius curve's
    # one-agg-row x truth-total unpivot; the multiprobe level fan-out
    ("q_kneser_ney_nll", 2),
    ("q_domain_divergence", 1),
    ("q_simhash_radius_curve", 2),
    ("q_rplsh_multiprobe_recall", 1),
]


import pytest  # noqa: E402


@pytest.mark.parametrize("qname,min_bnlj", _BNLJ_SITES)
def test_broadcast_scalar_crossjoins_never_cartesian(spark, sf_dir, qname, min_bnlj):
    from duva_spark.queries import REGISTRY

    load_all()
    plan = _plan(REGISTRY[qname].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, f"{qname} planned a real cartesian"
    assert plan.count("BroadcastNestedLoopJoin") >= min_bnlj


def test_gopher_repetition_is_shuffle_free(spark, sf_dir):
    """The full Gopher repetition battery (top-{2,3,4}-gram fractions +
    duplicated-{5..10}-gram coverage) is a function of ONE document, so
    it must plan as a pure scan projection with no Exchange, no Join,
    no Window. The battery is an Arrow kernel (MapInPandas — batched,
    never the row-at-a-time BatchEvalPython)."""
    q = load_all()["q_gopher_repetition"]
    df = q.fn(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan  # Arrow-batched, not row-at-a-time
    assert "MapInPandas" in plan
    assert df.count() > 0


def test_round_avg_sites_are_audited():
    """Every remaining ROUND-of-AVG site in the package carries an
    explicit order-independence classification in
    tools/round_avg_audit.py (fail-closed: new unaudited sites AND
    stale entries both fail). Sites already converted to exact
    scaled-integer accumulation (duva_spark.queries.exact_avg) are
    excluded by construction — they no longer match the hazard
    pattern."""
    import importlib.util
    import pathlib

    tool = pathlib.Path(__file__).resolve().parent.parent / "tools" / "round_avg_audit.py"
    spec = importlib.util.spec_from_file_location("round_avg_audit", tool)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.main() == 0
