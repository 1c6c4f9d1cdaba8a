"""In-engine trained logistic-regression quality classifier.

The production pattern this implements: distill an expensive labeling
signal (here the Gopher structural rule battery; in production an
LLM-judge or human labels) into a cheap linear classifier over hashed
bag-of-words features, trained WHERE THE DATA LIVES — full-batch
gradient descent as a bounded driver loop over corpus-sized
aggregations (the FineWeb-Edu / DCLM classifier step, minus the
transformer embedding). Complements the count-trained Naive Bayes in
``hashed_lm.py``: NB trains in one counting pass, LR iterates, and the
two bracket the classical text-classification spectrum.

Determinism spec (both engines replay it exactly):

- Features: word-unigram counts hashed into ``n_buckets`` buckets
  (the ``bucket_of`` contract), tf-normalized ``x = c/n_tokens``, plus
  two engineered features: a constant bias at bucket -1 (x = 1) and a
  scaled document length at bucket -2 (x = n_tokens/100 — quality
  labels correlate with length, which tf normalization erases; real
  quality classifiers always carry length features). The model is ONE
  (bucket, weight) table with no special cases.
- Split: ``hash60(id) % 100`` — train >= ``holdout_pct``, holdout
  below (the leak-proof-split contract).
- Round t: margin ``z = round(Σ_b w_b x_b, 6)`` (the 6-dp round
  truncates cross-engine summation drift — the kmeans grid trick);
  ``p = clamp(round(sigmoid(z), 6), 1e-6, 1-1e-6)``; reported metrics
  are computed BEFORE the update, so round 0 is the zero-weight
  baseline (loss ln 2, accuracy = the majority rate) and the rows form
  a learning curve. Mean gradient over train docs
  ``g_b = round(Σ (p-y)·x_b / N_train, 6)``; update
  ``w ← round_half_up(w - eta·g_b, 9)``.

Scale: the feature table is the only corpus-sized frame; each round is
one broadcast join + two aggregations over it, and the driver holds
``n_buckets+2`` floats (the kcenter/kmeans/doremi bounded-iteration
contract). Nothing is pairwise; the model table is broadcast-sized by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from duva_spark.queries import exact_avg

from duva_spark.llm.hashed_lm import bucket_of, round_half_up
from duva_spark.llm.minhash import md5_hash60

P_CLAMP = 1e-6


def _features(
    df: DataFrame, id_col: str, label_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    """(id, h, y, bucket, x): tf-hashed unigram features plus the
    bias (bucket -1, x = 1.0) and scaled-length (bucket -2,
    x = n_tokens/100) engineered rows for every doc."""
    # No parallelism probe here: every caller hands in the
    # gopher_flags projection, which already floors its parallelism,
    # and the probe itself costs a physical-plan compile per call.
    toks = df.select(
        F.col(id_col).alias("_id"),
        (md5_hash60(F.col(id_col).cast("string")) % 100).alias("h"),
        F.col(label_col).cast("boolean").alias("y"),
        F.size(F.split(text_col, " ")).alias("n"),
        F.explode(F.split(text_col, " ")).alias("word"),
    )
    feat = (
        toks.groupBy("_id", "h", "y", "n", bucket_of(F.col("word"), n_buckets).alias("bucket"))
        .agg(F.count("*").alias("c"))
        .select("_id", "h", "y", "bucket", (F.col("c") / F.col("n")).alias("x"))
    )
    eng = df.select(
        F.col(id_col).alias("_id"),
        (md5_hash60(F.col(id_col).cast("string")) % 100).alias("h"),
        F.col(label_col).cast("boolean").alias("y"),
        F.explode(
            F.array(
                F.struct(F.lit(-1).alias("bucket"), F.lit(1.0).alias("x")),
                F.struct(
                    F.lit(-2).alias("bucket"),
                    (F.size(F.split(text_col, " ")) / 100.0).alias("x"),
                ),
            )
        ).alias("e"),
    ).select("_id", "h", "y", F.col("e.bucket").alias("bucket"), F.col("e.x").alias("x"))
    return feat.unionByName(eng)


def _score(feat: DataFrame, weights: dict[int, float]) -> DataFrame:
    """(_id, h, y, z, p): margins and clamped probabilities of every doc
    in the feature table under the given weight table — one broadcast
    model join + a per-doc aggregation (the round-scoring pass, shared
    by the training loop and post-hoc evaluation so they cannot
    drift)."""
    spark = feat.sparkSession
    w_df = spark.createDataFrame(sorted(weights.items()), "bucket int, w double")
    return (
        feat.join(F.broadcast(w_df), "bucket")
        .groupBy("_id", "h", "y")
        .agg(
            # exact 1e-9 term grid: the margin is order-independent
            # (round_avg_audit's last adjacent class — raw w*x terms)
            F.round(
                F.sum(
                    F.floor(F.col("w") * F.col("x") * 1e9 + F.lit(0.5)).cast(
                        "decimal(38,0)"
                    )
                ).cast("double")
                / 1e9,
                6,
            ).alias("z")
        )
        .withColumn(
            "p",
            F.least(
                F.greatest(
                    F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 6),
                    F.lit(P_CLAMP),
                ),
                F.lit(1.0 - P_CLAMP),
            ),
        )
    )


def features(
    df: DataFrame, id_col: str, label_col: str, text_col: str, n_buckets: int = 256
) -> DataFrame:
    """Public feature builder — build (and checkpoint) ONCE when a
    caller both trains and scores, then pass via ``features=``: the
    feature pass is the only corpus-sized job, and rebuilding it per
    call doubles the dominant cost of every evaluation query."""
    return _features(df, id_col, label_col, text_col, n_buckets)


def features_for_training(
    df: DataFrame, id_col: str, label_col: str, text_col: str, n_buckets: int = 256
) -> DataFrame:
    """Feature table hash-partitioned by doc id and persisted (eager).

    Every GD round windows over ``_id`` and every scoring pass groups by
    it, so co-partitioning ONCE removes the per-round exchange of the
    corpus-sized feature frame (guide §2.4 — iterate over a
    co-partitioned frame). ``persist`` rather than ``localCheckpoint``
    because only the InMemoryRelation keeps its outputPartitioning
    visible to Catalyst — a checkpointed RDD scan loses it and every
    round re-shuffles (measured 6.9 s → 4.1 s on the 6-round chain at
    sf0.1, values identical). The partition count scales with the input
    scan (the 100 TB case: thousands of splits stay thousands of
    partitions) and never drops below a quarter of the cores nor 2, so
    tiny local files neither freeze the loop at one task nor spread 6
    rounds of ~100 ms jobs across 32 straggler-prone slivers."""
    feat = _features(df, id_col, label_col, text_col, n_buckets)
    sc = df.sparkSession.sparkContext
    p = max(feat.rdd.getNumPartitions() // 4, sc.defaultParallelism // 4, 2)
    feat = feat.repartition(p, F.col("_id")).persist()
    feat.count()  # materialize eagerly, like the checkpoint it replaces
    return feat


def logreg_score(
    df: DataFrame,
    id_col: str,
    label_col: str,
    text_col: str,
    weights: dict[int, float],
    n_buckets: int = 256,
    features: DataFrame | None = None,
) -> DataFrame:
    """Score ``df`` under a trained weight dict: (_id, h, y, z, p).
    Pass a prebuilt ``features`` frame to skip the corpus feature pass."""
    feat = (
        features
        if features is not None
        else _features(df, id_col, label_col, text_col, n_buckets)
    )
    return _score(feat, weights)


def logreg_train(
    df: DataFrame,
    id_col: str,
    label_col: str,
    text_col: str,
    n_buckets: int = 256,
    eta: float = 4.0,
    rounds: int = 6,
    holdout_pct: int = 30,
    features: DataFrame | None = None,
) -> tuple[list[tuple[int, float, float]], dict[int, float]]:
    """Returns ([(round, train_loss, holdout_acc)], final weights).

    Metrics for round t are computed under the weights AFTER t updates
    (round 0 = zero-weight baseline), each from one scoring pass; the
    per-round collects are bounded at ``n_buckets + 2`` gradient rows.
    """
    own_feat = features is None
    feat = (
        features
        if features is not None
        else features_for_training(df, id_col, label_col, text_col, n_buckets)
    )
    split = feat.filter(F.col("bucket") == -1).agg(
        F.sum(F.when(F.col("h") >= holdout_pct, 1).otherwise(0)).alias("tr"),
        F.sum(F.when(F.col("h") < holdout_pct, 1).otherwise(0)).alias("ho"),
    ).collect()[0]
    n_train, n_hold = int(split["tr"] or 0), int(split["ho"] or 0)
    if n_train == 0 or n_hold == 0:
        # a degenerate hash split would otherwise surface as a cryptic
        # divide-by-zero / float(None) deep in the loop (r7 ADVICE item)
        raise ValueError(
            f"degenerate split: {n_train} train / {n_hold} holdout docs "
            f"(holdout_pct={holdout_pct}); both sides must be non-empty"
        )
    w = {b: 0.0 for b in range(-2, n_buckets)}
    metrics: list[tuple[int, float, float]] = []
    y1 = F.when(F.col("y"), 1.0).otherwise(0.0)
    train = F.col("h") >= holdout_pct
    # r12 optimization: the round previously ran THREE Spark actions
    # (score + localCheckpoint, metrics collect, gradient join +
    # collect — ~8 AQE stage-materialization jobs each round). Fused
    # into ONE action: the margin attaches to every feature row via a
    # window over the doc id (same exact decimal(38,0) term grid, so z
    # is bit-identical to the _score groupBy), and one groupBy(bucket)
    # computes the gradient for every bucket AND the global metrics —
    # the bucket -1 (bias) group holds exactly one row per document, so
    # its group-local loss/accuracy aggregates ARE the per-doc metrics
    # the old scored frame produced. When ``feat`` comes from
    # features_for_training (hash-partitioned by _id), the round's
    # window reuses that partitioning and the only exchange left is the
    # 258-row bucket aggregate.
    for t in range(rounds):
        # weights ride as ONE array Literal indexed by element_at, not
        # per-bucket inlined literal nodes: a map_from_arrays literal
        # re-folds and re-compiles a 2(n_buckets+2)-literal expression
        # tree EVERY round (measured ~2 s of driver planning per round,
        # dwarfing the job), while a complex-typed Literal reaches the
        # generated code through the references array — the source is
        # byte-stable across rounds, so analysis and codegen are paid
        # once. Buckets are the contiguous range [-2, n_buckets), so
        # bucket+3 is the 1-based array index; the lookup value is the
        # same float _score's join produces, and z stays on the exact
        # decimal(38,0) grid. (A broadcast 258-row join measured ~30%
        # slower per round — the extra broadcast-exchange job outweighs
        # the join-free projection; interleaved A/B, curves identical.)
        warr = F.lit([w[b] for b in range(-2, n_buckets)])
        wcol = F.element_at(warr, (F.col("bucket") + 3).cast("int"))
        term = F.floor(wcol * F.col("x") * 1e9 + F.lit(0.5)).cast(
            "decimal(38,0)"
        )
        zw = Window.partitionBy("_id")
        rows = feat.withColumn(
            "z", F.round(F.sum(term).over(zw).cast("double") / 1e9, 6)
        ).withColumn(
            "p",
            F.least(
                F.greatest(
                    F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 6),
                    F.lit(P_CLAMP),
                ),
                F.lit(1.0 - P_CLAMP),
            ),
        )
        gterm = F.when(
            train,
            F.floor(
                (F.col("p") - y1) * F.col("x") * 1e9 + F.lit(0.5)
            ).cast("decimal(38,0)"),
        )
        g_rows = (
            rows.groupBy("bucket")
            .agg(
                F.round(
                    F.sum(gterm).cast("double") / 1e9 / F.lit(float(n_train)), 6
                ).alias("g"),
                exact_avg(
                    F.when(
                        train,
                        F.when(F.col("y"), F.log("p")).otherwise(
                            F.log(1.0 - F.col("p"))
                        ),
                    ),
                    9,
                    6,
                    negate=True,
                ).alias("train_loss"),
                F.round(
                    F.avg(
                        F.when(
                            ~train,
                            F.when((F.col("z") > 0) == F.col("y"), 1.0).otherwise(
                                0.0
                            ),
                        )
                    ),
                    6,
                ).alias("holdout_acc"),
            )
            .collect()
        )
        bias = next(r for r in g_rows if int(r["bucket"]) == -1)
        metrics.append((t, float(bias["train_loss"]), float(bias["holdout_acc"])))
        if t == rounds - 1:
            break
        # a bucket with no train rows sums to NULL here (the old
        # filtered groupBy simply omitted it) — same zero-gradient
        grad = {
            int(r["bucket"]): float(r["g"]) for r in g_rows if r["g"] is not None
        }
        w = {
            b: round_half_up(wv - eta * grad.get(b, 0.0), 9) for b, wv in w.items()
        }
    if own_feat:
        feat.unpersist()
    return metrics, w


def logreg_frame(
    df: DataFrame,
    id_col: str,
    label_col: str,
    text_col: str,
    n_buckets: int = 256,
    eta: float = 4.0,
    rounds: int = 6,
    holdout_pct: int = 30,
) -> DataFrame:
    """The learning curve as a DataFrame (round, train_loss,
    holdout_acc) — ``rounds`` rows from the bounded driver loop."""
    spark = df.sparkSession
    rows, _ = logreg_train(
        df, id_col, label_col, text_col, n_buckets, eta, rounds, holdout_pct
    )
    return spark.createDataFrame(
        [(int(t), float(l), float(a)) for t, l, a in rows],
        "round bigint, train_loss double, holdout_acc double",
    )
