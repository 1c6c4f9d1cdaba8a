"""End-to-end pipeline composition: the duva ingest path feeding the
LLM-data-pipeline operators, with row accounting at every stage.

This is the "user of the reference switches to this repo" scenario plus
the 100 TB-pipeline extension: CSV submissions with duva null semantics
→ shaping → exact dedup → MinHash near-dup pruning → quality filter →
partitioned Parquet, all in one lazily-composed Spark plan per stage.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duva_spark.llm import dedup, minhash, textstats
from duva_spark.orchestration import MetadataStore, SyncJob
from duva_spark.shaping import ExportSettings, apply_export_settings
from duva_spark.sinks import full_refresh, read_dataset


@pytest.fixture(scope="module")
def corpus_csv(tmp_path_factory):
    """Submissions with planted exact dups, near dups, and a junk doc."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, f"doc one {base}", "en", "web data"),
        (2, f"doc one {base}", "en", "web data"),  # exact dup of 1
        (3, f"doc one {base} tonight", "en", "web data"),  # near dup of 1
        (4, "completely different text about spark shuffle partitions and joins", "fr", "books data"),
        (5, "x", "de", "junk"),  # too short → quality filtered
        (6, "n/a", "es", "web data"),  # duva null marker → null text
    ]
    p = tmp_path_factory.mktemp("corpus") / "export.csv"
    lines = ["_id,text,meta/lang,tags"]
    for _id, text, lang, tags in rows:
        lines.append(f'{_id},"{text}",{lang},"{tags}"')
    p.write_text("\n".join(lines) + "\n")
    return p


def test_full_pipeline(spark, corpus_csv, tmp_path):
    store = MetadataStore(tmp_path / "catalog.json")
    staged = {}

    def shape(df):
        shaped = apply_export_settings(
            df,
            ExportSettings(do_not_split_select_multiple=True),
            question_labels=None,
        )
        return shaped

    job = SyncJob(spark, store, tmp_path, fetch=lambda _id: corpus_csv, shape=shape)
    n_ingested = job.run("corpus", str(tmp_path / "raw"))
    assert n_ingested == 6

    raw = read_dataset(spark, str(tmp_path / "raw"))
    assert "lang" in raw.columns  # group prefix flattened (meta/lang → lang)

    # null-text rows dropped ("n/a" became NULL at ingest — duva semantics)
    docs = raw.filter(F.col("text").isNotNull())
    assert docs.count() == 5

    # exact dedup keeps the min-id of the identical pair
    exact = dedup.dedup_exact(docs, ["text"], "_id")
    assert sorted(r._id for r in exact.collect()) == [1, 3, 4, 5]

    # near-dup pruning: drop the higher id of each verified near-pair
    pairs = minhash.near_duplicates(exact, "_id", "text", threshold=0.5)
    losers = pairs.select(F.col("id_b").alias("_id")).distinct()
    pruned = exact.join(losers, "_id", "left_anti")
    assert sorted(r._id for r in pruned.collect()) == [1, 4, 5]

    # quality filter removes the junk doc
    scored = pruned.withColumn("quality", textstats.quality_score(F.col("text"))).withColumn(
        "n_tokens", textstats.token_count_ws(F.col("text"))
    )
    kept = scored.filter((F.col("n_tokens") >= 5) & (F.col("quality") > 0.3))
    assert sorted(r._id for r in kept.collect()) == [1, 4]

    # partitioned publish with row-count contract
    n_out = full_refresh(kept, str(tmp_path / "training_set"), partition_by=["lang"])
    assert n_out == 2
    back = read_dataset(spark, str(tmp_path / "training_set"))
    assert set(back.columns) >= {"_id", "text", "quality", "n_tokens", "lang"}
    assert sorted(r.lang for r in back.select("lang").collect()) == ["en", "fr"]


def test_funnel_keepers_choose_among_survivors(spark):
    """The funnel's dedup keepers are SURVIVOR-scoped: when the
    minimum-id copy of a duplicate pair fails an earlier stage, the
    surviving higher-id copy must be kept as the canonical doc — a
    raw-corpus keeper would wrongly drop it."""
    import hashlib

    from duva_spark.llm.funnel import curation_funnel

    def h100(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 100

    train_ids = [i for i in range(200) if h100(i) >= 10]
    # 60 distinct words each, quality- and repetition-clean; c's
    # vocabulary is disjoint from the eval doc so c is uncontaminated
    good = " ".join(f"w{i:02d}x" for i in range(60))
    other = " ".join(f"q{i:02d}z" for i in range(60))
    a, b, c = train_ids[:3]
    assert a < b
    rows = [
        (a, "too short"),       # duplicate pair's MIN id — fails quality
        (b, "too short"),       # same text, survives nothing either
        (c, other),             # clean singleton
    ]
    # make the pair quality-passing instead: a fails via word count is
    # what we want — but then BOTH fail. Use a fresh pair where the min
    # id fails REPETITION while the max id is clean-but-identical is
    # impossible (identical text ⇒ identical flags). The survivor-scope
    # rule therefore bites on the HOLDOUT stage: an eval-split (h<10)
    # min-id copy must not claim canonicality over its train-split twin.
    eval_ids = [i for i in range(200) if h100(i) < 10]
    e = eval_ids[0]
    d = next(i for i in train_ids if i > e)
    rows += [(e, good + " tail"), (d, good + " tail")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.stage: r.asDict() for r in curation_funnel(docs).collect()}
    assert out["ingest"]["docs_out"] == 5
    # holdout drops the eval doc e; quality drops the two short docs
    assert out["holdout_train_split"]["docs_out"] == 4
    assert out["gopher_quality"]["docs_out"] == 2
    assert out["gopher_repetition"]["docs_out"] == 2
    # d's exact twin e is NOT a survivor, so d must be kept as canonical
    # even though e < d; both c and d reach the end (d shares no 8-gram
    # with the eval doc's... it IS contaminated: e is in the eval split
    # and shares all its grams — so decontaminate drops d, c survives
    assert out["exact_dedup"]["docs_out"] == 2
    assert out["neardup_fingerprint"]["docs_out"] == 2
    assert out["decontaminate"]["docs_out"] == 1


@pytest.mark.slow
def test_compiled_funnel_equals_handwritten(spark):
    """The declarative compiler must reproduce the hand-built canonical
    plan row-for-row on a corpus with every stage exercised (dupes,
    near-dupes, low-quality docs, contaminated docs)."""
    from duva_spark.llm.funnel import curation_funnel
    from reference_folds import curation_funnel_handwritten

    rows = []
    filler = " ".join(f"w{i % 13} and the of" for i in range(20))
    for i in range(40):
        if i % 7 == 0:
            text = "dup dup dup " + filler          # exact dupes
        elif i % 5 == 0:
            text = filler + " tail extra"           # near-dup family
        elif i % 3 == 0:
            text = "short"                          # fails quality
        else:
            text = filler + f" unique{i} marker{i}"
        rows.append((i, text))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [r.asDict() for r in curation_funnel(docs).collect()]
    ref = [r.asDict() for r in curation_funnel_handwritten(docs).collect()]
    assert got == ref


@pytest.mark.slow
def test_alt_funnel_config_compiles_and_is_monotone(spark):
    """A different stage order/threshold config must compile into a
    valid monotone funnel whose first stage reflects its own split."""
    from duva_spark.llm.funnel import ALT_STAGES, compile_funnel, funnel_features

    filler = " ".join(f"w{i % 13} and the of" for i in range(20))
    docs = spark.createDataFrame(
        [(i, filler + f" unique{i}") for i in range(30)], ["doc_id", "text"]
    )
    out = compile_funnel(funnel_features(docs), ALT_STAGES).collect()
    assert [r.stage for r in out][0] == "ingest" and len(out) == 7
    for r in out:
        assert r.docs_out <= r.docs_in and r.dropped == r.docs_in - r.docs_out
