"""End-to-end curation retention funnel: the composition of the
quality, repetition, dedup, and decontamination operator families into
the sequential per-stage retention report a FineWeb/RefinedWeb-style
production pipeline publishes.

Stage semantics are SEQUENTIAL: each stage's predicate is evaluated
over the survivors of the previous stage. In particular the two dedup
keepers pick the canonical (minimum-id) document AMONG SURVIVORS — a
duplicate whose canonical copy was dropped by an earlier stage is kept
through its surviving copy, not dropped with the loser (pinned by
test_pipeline_e2e.py).

The funnel is DECLARATIVE: ``compile_funnel`` takes a stage list as
data (predicate / keeper / probe stages over a precomputed feature
frame) and generates the one-pass nested-boolean plan — a production
curation tool's pipeline is a config, not code. The canonical 7-stage
pipeline is ``STANDARD_STAGES``; the original hand-built plan lives in
``tests/reference_folds.py`` as ``curation_funnel_handwritten``, the
reference the compiler must reproduce row-for-row.

Scale design: one pass — stage booleans nest (b_k = b_{k-1} & pred_k),
the keepers are conditional-MIN windows hash-partitioned by content
key, contamination is a broadcast eval-gram semi-probe, and the funnel
unpivots from a single aggregation row. No corpus-sized exchange
beyond the doc-keyed flag joins and the keeper windows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FUNNEL_STAGES = (
    "ingest",
    "holdout_train_split",
    "gopher_quality",
    "gopher_repetition",
    "exact_dedup",
    "neardup_fingerprint",
    "decontaminate",
)


@dataclass(frozen=True)
class Stage:
    """One declarative funnel stage over the feature frame.

    kind:
      - ``predicate``: keep survivors where ``col`` (boolean) holds;
      - ``keeper``: keep the minimum-id survivor per ``col`` key (the
        canonical-copy dedup rule, scoped to survivors);
      - ``probe``: drop survivors where ``col`` (boolean flag) holds
        (e.g. contamination marks).
    ``col`` is a feature-column name, a Column expression, or a
    zero-arg callable returning one (needed for module-level configs:
    building ``F.col('h') >= 10`` eagerly requires an active
    SparkContext at import time)."""

    name: str
    kind: str
    col: object

    def expr(self) -> Column:
        c = self.col() if callable(self.col) else self.col
        return c if isinstance(c, Column) else F.col(c)


def funnel_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per document with every feature the stage library
    consumes: the id-hash percentile ``h``, the structural Gopher
    quality conjunction, the repetition-battery verdict, the exact
    content hash ``ch``, the order-insensitive fingerprint ``fp``, and
    the eval-set 8-gram ``contaminated`` mark (eval slice = h < 10).
    Shared by every compiled pipeline so configs can only differ in
    stage STRUCTURE, never in feature semantics."""
    from duva_spark.llm import minhash, textstats

    qual = textstats.gopher_flags(docs, text_col=text_col).select(
        id_col, textstats.structural_pass().alias("pass_gopher")
    )
    rep = textstats.gopher_repetition(
        docs, id_col=id_col, text_col=text_col
    ).select(id_col, "pass_repetition")
    h = minhash.md5_hash60(F.col(id_col).cast("string")) % 100
    grams = docs.select(
        id_col,
        h.alias("h"),
        F.explode(minhash.word_shingles(F.split(F.col(text_col), " "), 8)).alias("gram"),
    ).select(id_col, "h", minhash.md5_hash60(F.col("gram")).alias("gh"))
    ev = grams.filter(F.col("h") < 10).select("gh").distinct()
    cont = (
        grams.filter(F.col("h") >= 10)
        .join(F.broadcast(ev), "gh")
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    base = (
        docs.select(id_col, text_col, h.alias("h"))
        .join(qual, id_col)
        .join(rep, id_col)
        .join(cont, id_col, "left")
    )
    return base.select(
        id_col,
        "h",
        "pass_gopher",
        "pass_repetition",
        F.md5(text_col).alias("ch"),
        textstats.fingerprint(F.col(text_col)).alias("fp"),
        F.coalesce("contaminated", F.lit(False)).alias("cont"),
    )


STANDARD_STAGES = (
    Stage("holdout_train_split", "predicate", lambda: F.col("h") >= 10),
    Stage("gopher_quality", "predicate", "pass_gopher"),
    Stage("gopher_repetition", "predicate", "pass_repetition"),
    Stage("exact_dedup", "keeper", "ch"),
    Stage("neardup_fingerprint", "keeper", "fp"),
    Stage("decontaminate", "probe", "cont"),
)

# A second production-shaped config: keep 80%, dedup BEFORE the quality
# gates (the cheap-first ordering many pipelines prefer — dedup shrinks
# the corpus before the expensive per-doc batteries), decontaminate
# mid-stream, repetition last.
ALT_STAGES = (
    Stage("holdout_train_split_80", "predicate", lambda: F.col("h") >= 20),
    Stage("exact_dedup", "keeper", "ch"),
    Stage("gopher_quality", "predicate", "pass_gopher"),
    Stage("decontaminate", "probe", "cont"),
    Stage("neardup_fingerprint", "keeper", "fp"),
    Stage("gopher_repetition", "predicate", "pass_repetition"),
)


def compile_funnel(
    feats: DataFrame, stages: tuple[Stage, ...], id_col: str = "doc_id"
) -> DataFrame:
    """Compile a stage list into the one-pass nested-boolean retention
    plan: b_1 = ingest (all rows); b_k = b_{k-1} & stage_k. Keepers
    become conditional-MIN windows partitioned by their key (canonical
    copy chosen AMONG SURVIVORS — the sequential-semantics rule);
    probes negate their flag. The report unpivots from ONE aggregate
    row: (stage_ord, stage, docs_in, docs_out, dropped, retention,
    cum_retention)."""
    from pyspark.sql import Window

    n = len(stages) + 1
    flags = feats
    for k, st in enumerate(stages, start=2):
        prev = F.lit(True) if k == 2 else F.col(f"b{k - 1}")
        if st.kind == "predicate":
            cur = prev & st.expr()
        elif st.kind == "keeper":
            w = Window.partitionBy(st.expr())
            cur = prev & (
                F.col(id_col) == F.min(F.when(prev, F.col(id_col))).over(w)
            )
        elif st.kind == "probe":
            cur = prev & ~st.expr()
        else:
            raise ValueError(f"unknown stage kind {st.kind!r}")
        flags = flags.withColumn(f"b{k}", cur)
    agg = flags.agg(
        F.count("*").alias("n1"),
        # COALESCE mirrors the oracle: on an empty corpus SUM over zero
        # rows is NULL in both engines, but the report must show 0-doc
        # stages, not NULL ones (r7 ADVICE item)
        *[
            F.coalesce(F.sum(F.col(f"b{k}").cast("long")), F.lit(0)).alias(f"n{k}")
            for k in range(2, n + 1)
        ],
    )
    names = ("ingest",) + tuple(st.name for st in stages)
    rows = []
    for k, stage in enumerate(names, start=1):
        src = F.col(f"n{k - 1}" if k > 1 else "n1")
        out = F.col(f"n{k}")
        rows.append(
            F.struct(
                F.lit(k).cast("long").alias("stage_ord"),
                F.lit(stage).alias("stage"),
                src.alias("docs_in"),
                out.alias("docs_out"),
                (src - out).alias("dropped"),
                F.when(src > 0, F.round(out / src, 6)).otherwise(F.lit(0.0)).alias("retention"),
                F.when(F.col("n1") > 0, F.round(out / F.col("n1"), 6))
                .otherwise(F.lit(0.0))
                .alias("cum_retention"),
            )
        )
    return (
        agg.select(F.explode(F.array(*rows)).alias("s"))
        .select("s.*")
        .orderBy("stage_ord")
    )


def curation_funnel(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The canonical seven-stage retention funnel, expressed through
    the declarative compiler:

    ingest → 90% train holdout (doc-id hash) → Gopher structural
    quality (the battery minus the per-language stopword rule) →
    Gopher repetition battery → exact-dedup canonical keeper →
    near-dup fingerprint keeper → eval-set 8-gram decontamination.

    Returns (stage_ord, stage, docs_in, docs_out, dropped, retention,
    cum_retention) — one row per stage, retention rounded to 6 dp.
    Property-tested equal to the hand-built plan in
    ``tests/reference_folds.py``."""
    return compile_funnel(
        funnel_features(docs, id_col, text_col), STANDARD_STAGES, id_col
    )
