"""Unit tests for the LLM-pipeline operator library (semantics the oracle
queries don't isolate)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duva_spark.llm import dedup, minhash, similarity, simhash, textstats
from duva_spark.llm.multimodal import decode_image_features, payload_stats, to_media_table


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
            (3, "completely different content about spark engines"),
            (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (5, "tiny"),
        ],
        "doc_id long, text string",
    )


def test_exact_dedup_removes_exact_only(docs):
    kept = sorted(r.doc_id for r in dedup.dedup_exact(docs, ["text"], "doc_id").collect())
    assert kept == [1, 2, 3, 5]


def test_minhash_identical_signatures_for_exact_dups(docs):
    sig = minhash.with_signature(docs, n_hashes=8).select("doc_id", "mh_0", "mh_7").collect()
    by_id = {r.doc_id: (r.mh_0, r.mh_7) for r in sig}
    assert by_id[1] == by_id[4]
    assert by_id[1] != by_id[3]


def test_minhash_short_doc_empty_shingles(docs):
    row = (
        minhash.with_signature(docs, n_hashes=4)
        .filter(F.col("doc_id") == 5)
        .select("_shingles", "mh_0")
        .collect()[0]
    )
    assert row._shingles == [] and row.mh_0 is None


def test_near_duplicates_finds_planted_pair(docs):
    pairs = {(r.id_a, r.id_b) for r in minhash.near_duplicates(docs, "doc_id", threshold=0.5).collect()}
    assert (1, 4) in pairs  # exact dup: jaccard 1.0
    assert (1, 2) in pairs or (2, 4) in pairs  # near-dup via shared shingles
    assert all(a < b for a, b in pairs)


@pytest.mark.slow
def test_minhash_band_curve_candidates_nest(spark):
    """With 24 shared hashes the grid's band structures REFINE each
    other — a (4,6) band equality implies both covered (8,3) bands
    collide, and any 3 consecutive positions contain an aligned 2-block
    — so candidate sets are deterministically nested: n_candidates and
    n_true are monotone in n_bands, and precision monotone down."""
    from duva_spark.llm.ppjoin import prefix_filter_pairs

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [(1, base), (2, base)]  # exact dup: collides at every config
    for i in range(3, 23):
        words = base.split()
        words[i % 10] = f"tok{i}a"
        words[(i + 3) % 10] = f"tok{i}b"
        words[(i + 6) % 10] = f"tok{i}c"
        rows.append((i, " ".join(words)))  # borderline-Jaccard cloud
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = prefix_filter_pairs(docs, "doc_id", "text", threshold=0.5)
    curve = {
        r["n_bands"]: r
        for r in minhash.band_sensitivity(
            docs, exact, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert set(curve) == {4, 8, 12}
    assert curve[4]["n_candidates"] <= curve[8]["n_candidates"] <= curve[12]["n_candidates"]
    assert curve[4]["n_true"] <= curve[8]["n_true"] <= curve[12]["n_true"]
    tot = {r["n_true_total"] for r in curve.values()}
    assert len(tot) == 1  # one shared exact ground truth
    for r in curve.values():
        assert r["n_true"] <= r["n_true_total"]
        assert 0.0 <= r["pair_precision"] <= 1.0
        assert 0.0 <= r["pair_recall"] <= 1.0
    assert curve[12]["pair_recall"] >= curve[4]["pair_recall"]


def test_simhash_close_for_near_dups(docs):
    out = {r.doc_id: r.sh for r in simhash.with_simhash(docs, out="sh").collect()}
    d_near = bin(out[1] ^ out[2]).count("1")
    d_far = bin(out[1] ^ out[3]).count("1")
    assert out[1] == out[4]  # exact dup → identical simhash
    assert d_near < d_far


def test_hamming_distance_column(spark):
    df = spark.createDataFrame([(0b1011, 0b0011)], "a long, b long")
    assert df.select(simhash.hamming_distance(F.col("a"), F.col("b")).alias("d")).collect()[0].d == 1


def test_cosine_self_similarity(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0]), (2, [2.0, 4.0, 6.0]), (3, [-3.0, 0.0, 1.0])],
                               "vec_id long, embedding array<double>")
    top = similarity.brute_force_topk(df, df.filter(F.col("vec_id") == 1), k=2)
    rows = {r.neighbor_id: r.cosine_sim for r in top.collect()}
    assert rows[2] == 1.0  # colinear
    assert rows[3] < 1.0


def test_ivf_assign_buckets(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0), (3, [0.0, 1.0], 1), (4, [0.1, 0.9], 1)],
        "vec_id long, embedding array<double>, label int",
    )
    cents = similarity.label_centroids(emb)
    assigned = {r.vec_id: r.bucket for r in similarity.ivf_assign(emb, cents).collect()}
    assert assigned[1] == 0 and assigned[3] == 1


def test_ivf_assign_is_shuffle_free(spark):
    """Mirror of test_kmeans_assignment_is_shuffle_free for the cosine
    path: the r4 verdict's one perf-weak finding was ivf_assign's
    crossJoin + row_number plan (an n×nlist Exchange); the shared
    broadcast-argmax helper must leave NO Exchange, Join or Window
    between the corpus scan and the bucket column."""
    import contextlib
    import io

    emb = spark.createDataFrame(
        [(i, [float(i), float(i % 3)], i % 3) for i in range(20)],
        "vec_id long, embedding array<double>, label int",
    )
    cents = similarity.label_centroids(emb)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        similarity.ivf_assign(emb, cents).explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan and "Join" not in plan and "Window" not in plan


def test_ivf_topk_evaluates_assignment_udf_once_per_branch(spark):
    """The equi-join on bucket infers isnotnull filters; without the
    asNondeterministic marker on the assignment UDF, Catalyst
    duplicated the expensive Arrow argmax into them — TWO
    ArrowEvalPython nodes per branch, 2× the assignment compute
    (caught by the r5 plan audit). Pin: exactly one python-eval node
    per side of the join."""
    import contextlib
    import io

    emb = spark.createDataFrame(
        [(i, [float(i), float(i % 3)], i % 3) for i in range(20)],
        "vec_id long, embedding array<double>, label int",
    )
    cents = similarity.label_centroids(emb)
    out = similarity.ivf_topk(emb, emb.filter(F.col("vec_id") < 5), cents, k=3)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain()
    plan = buf.getvalue()
    n = plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")
    assert n == 2, f"expected 1 python-eval per join branch, plan has {n}"


def test_ivf_qprobe_tie_breaks_by_bucket(spark):
    """A probe equidistant (in cosine) from two centroids must rank the
    LOWER bucket first — the oracle's ORDER BY ROUND(sim,9) DESC, bucket
    rule, preserved by the stable top-n argsort in llm/assign.py."""
    from duva_spark.llm import assign

    rows = [
        {"bucket": 1, "centroid": [1.0, 0.0]},
        {"bucket": 0, "centroid": [0.0, 1.0]},
    ]
    from pyspark.sql import Row

    crows = [Row(**r) for r in rows]
    q = spark.createDataFrame([(7, [1.0, 1.0])], "query_id long, q_vec array<double>")
    out = assign.assign_nearest(
        q, crows, metric="cosine", round_dp=9, n=2, vec_col="q_vec",
        out_col="b", id_field="bucket", cen_field="centroid", id_type="int",
    ).collect()[0]["b"]
    assert out == [0, 1]  # equal sims → lowest bucket id first


@pytest.mark.parametrize("seed", [0, 7, 42])
def test_assign_nearest_matches_numpy_reference(spark, seed):
    """The shared broadcast-argmin helper must agree with an independent
    brute-force numpy reference on BOTH metrics and in top-n mode,
    including the tie rule (best score first, ties to lowest id),
    across random inputs — the property that lets KMeans and IVF share
    one implementation."""
    import numpy as np
    from pyspark.sql import Row

    from duva_spark.llm import assign

    rng = np.random.RandomState(seed)
    n, k, dim = 50, 7, 8
    vecs = rng.uniform(-1, 1, (n, dim))
    cens = rng.uniform(-1, 1, (k, dim))
    ids = list(rng.permutation(100)[:k])  # non-contiguous, unsorted ids
    rows = [Row(cluster=int(c), cen=[float(x) for x in cens[i]]) for i, c in enumerate(ids)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )

    order = np.argsort(ids)
    sorted_ids = np.array(ids)[order]
    sorted_cens = cens[order]

    # euclidean top-1 vs reference argmin (stable → lowest id on ties)
    got = {
        r.vec_id: r.cluster
        for r in assign.assign_nearest(df, rows, metric="euclidean").collect()
    }
    d = ((vecs[:, None, :] - sorted_cens[None, :, :]) ** 2).sum(axis=2)
    want = sorted_ids[np.argmin(d, axis=1)]
    assert [got[i] for i in range(n)] == [int(x) for x in want]

    # cosine top-3 vs reference stable argsort on the rounded sims
    got3 = {
        r.vec_id: r.b
        for r in assign.assign_nearest(
            df, rows, metric="cosine", round_dp=9, n=3, out_col="b"
        ).collect()
    }
    sims = np.round(
        (vecs @ sorted_cens.T)
        / np.outer(
            np.linalg.norm(vecs, axis=1), np.linalg.norm(sorted_cens, axis=1)
        ),
        9,
    )
    idx = np.argsort(-sims, axis=1, kind="stable")[:, :3]
    want3 = sorted_ids[idx]
    assert [got3[i] for i in range(n)] == [[int(x) for x in row] for row in want3]


def test_textstats_columns(docs):
    out = textstats.with_text_stats(docs).filter(F.col("doc_id") == 1).collect()[0]
    assert out.n_tokens_ws == 9
    assert out.lang_pred == "en"  # two "the" markers
    assert 0.0 <= out.quality <= 1.0


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame([(1, "b a c"), (2, "c b a")], "doc_id long, text string")
    fps = [r.fp for r in df.select(textstats.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_multimodal_payload_roundtrip(docs):
    media = to_media_table(docs, "doc_id", "text")
    stats = {r.doc_id: r for r in payload_stats(media, "doc_id").collect()}
    assert stats[5].n_bytes == 4  # "tiny"
    assert stats[5].header_hex == "74696e79"  # utf-8 "tiny"
    assert stats[1].media_type == "image"


def test_multimodal_decode_stub_and_fake(docs):
    media = to_media_table(docs, "doc_id", "text")
    with pytest.raises(Exception, match="NotImplementedError|pillow"):
        decode_image_features(media, "doc_id", fake=False).collect()
    feats = decode_image_features(media, "doc_id", dim=8, fake=True).collect()
    assert len(feats) == 5 and len(feats[0].features) == 8
    again = decode_image_features(media, "doc_id", dim=8, fake=True).collect()
    assert sorted(map(tuple, feats)) == sorted(map(tuple, again))  # deterministic


def test_short_docs_never_enter_band_buckets(spark):
    """Docs with <k words have empty shingle sets; concat_ws skips their
    all-NULL minhash columns, so without the explicit exclusion they'd
    all share the md5('') band key and the band self-join would go
    quadratic in the short-doc count. They must produce zero candidate
    rows (not just zero verified pairs)."""
    from duva_spark.llm import minhash

    short = [(i, "hi") for i in range(40)]
    pair = [
        (100, "a unique document about spark window aggregation semantics today"),
        (101, "a unique document about spark window aggregation semantics tonight"),
    ]
    df = spark.createDataFrame(short + pair, "doc_id long, text string")
    cand = minhash.candidate_pairs(df, "doc_id").select("id_a", "id_b").collect()
    ids = {r.id_a for r in cand} | {r.id_b for r in cand}
    assert ids <= {100, 101}  # no short doc in ANY candidate pair
    pairs = {(r.id_a, r.id_b) for r in minhash.near_duplicates(df, "doc_id", threshold=0.5).collect()}
    assert pairs == {(100, 101)}


def test_multimodal_resize_and_frame_sample(docs):
    from duva_spark.llm.multimodal import resize_images, sample_frames, to_media_table

    media = to_media_table(docs, "doc_id", "text")
    resized = resize_images(media, "doc_id", 32, 32, fake=True).collect()
    assert all(r.width == 32 and r.height == 32 and len(r.payload) > 0 for r in resized)
    frames = sample_frames(media, "doc_id", every_nth_byte=8, fake=True)
    per_doc = {r.doc_id: r["n"] for r in frames.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert per_doc[5] == 1  # "tiny" = 4 bytes → one frame
    assert per_doc[1] > 1  # longer doc → multiple frames
    with pytest.raises(Exception, match="pillow|NotImplementedError"):
        resize_images(media, "doc_id", 8, 8, fake=False).collect()


def _hot_block_docs(spark, n=200, n_planted=5):
    """One (g) block of n mutually-distinct docs plus n_planted near-dup
    pairs (ids n+2i / n+2i+1)."""
    import random

    rng = random.Random(7)
    vocab = [f"w{j}" for j in range(500)]
    rows = [(i, " ".join(rng.sample(vocab, 12))) for i in range(n)]
    for i in range(n_planted):
        base = " ".join(rng.sample(vocab, 12))
        rows.append((n + 2 * i, base + " alpha"))
        rows.append((n + 2 * i + 1, base + " beta"))
    return spark.createDataFrame([(d, t, "g") for d, t in rows], "doc_id long, text string, g string")


def test_bounded_jaccard_overflow_is_subquadratic(spark):
    """A block over the cap routes through MinHash-LSH: candidate pairs
    stay far below n(n-1)/2 and planted near-dups survive."""
    from duva_spark.llm import blocked, minhash

    n, n_planted = 200, 5
    df = _hot_block_docs(spark, n, n_planted)
    total = n + 2 * n_planted
    s = df.select(
        "g",
        F.col("doc_id").alias("_id"),
        F.array_distinct(
            F.transform(minhash.word_shingles(F.split("text", " "), 3), minhash.md5_hash60)
        ).alias("_sh"),
    )
    n_cand = blocked.jaccard_overflow_candidates(s, ["g"]).count()
    assert n_cand < total * (total - 1) / 2 * 0.05  # sub-quadratic, not all-pairs
    out = blocked.bounded_jaccard_pairs(
        df, "doc_id", "text", ["g"], threshold=0.5, max_block_size=50
    )
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    planted = {(n + 2 * i, n + 2 * i + 1) for i in range(n_planted)}
    assert planted <= pairs


@pytest.mark.slow
def test_bounded_containment_overflow_and_exact_parity(spark):
    """metric='containment' on the bounded machinery (r4 verdict item
    3): under the cap it equals the unbounded exact operator; with a
    forced tiny cap, a short doc quoted whole inside a long one (high
    containment AND high-enough jaccard to collide in bands) still
    surfaces through the LSH overflow, and every overflow pair is
    verified — no false positives vs exact."""
    from duva_spark.llm import blocked

    n = 120
    df = _hot_block_docs(spark, n, 3)
    base = df.filter(F.col("doc_id") == 0).collect()[0].text
    quoted = [
        # 500: the first 9 words of doc 0 (contained almost whole);
        # 501: doc 0 plus a short tail (the long side of another pair)
        (500, " ".join(base.split()[:9]), "g"),
        (501, base + " tail words appended", "g"),
    ]
    df = df.unionByName(
        spark.createDataFrame(quoted, "doc_id long, text string, g string")
    )
    kw = dict(threshold=0.6, k=3, metric="containment")
    exact = blocked.bounded_jaccard_pairs(
        df, "doc_id", "text", ["g"], max_block_size=None, **kw
    )
    under_cap = blocked.bounded_jaccard_pairs(
        df, "doc_id", "text", ["g"], max_block_size=10_000, **kw
    )
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, under_cap.collect()))
    assert set(exact.columns) == {"id_a", "id_b", "containment", "jaccard"}
    exact_pairs = {(r.id_a, r.id_b) for r in exact.collect()}
    assert (0, 501) in exact_pairs  # near-dup: high containment + jaccard
    overflow = blocked.bounded_jaccard_pairs(
        df, "doc_id", "text", ["g"], max_block_size=20, **kw
    )
    overflow_pairs = {(r.id_a, r.id_b) for r in overflow.collect()}
    assert (0, 501) in overflow_pairs  # survives banding above the cap
    assert overflow_pairs <= exact_pairs  # verify step: no false positives


def test_bounded_jaccard_matches_exact_under_cap(spark):
    """With the cap above every block, bounded == unbounded exact."""
    from duva_spark.llm import blocked

    df = _hot_block_docs(spark, 40, 3)
    capped = blocked.bounded_jaccard_pairs(df, "doc_id", "text", ["g"], 0.3, max_block_size=10_000)
    exact = blocked.bounded_jaccard_pairs(df, "doc_id", "text", ["g"], 0.3, max_block_size=None)
    assert sorted(map(tuple, capped.collect())) == sorted(map(tuple, exact.collect()))


def _hot_block_vectors(spark, n=200, n_planted=5, dim=16):
    import random

    rng = random.Random(11)
    rows = []
    for i in range(n):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(dim)], "b"))
    for i in range(n_planted):
        v = [rng.uniform(-1, 1) for _ in range(dim)]
        rows.append((n + 2 * i, v, "b"))
        rows.append((n + 2 * i + 1, [x + rng.uniform(-1e-3, 1e-3) for x in v], "b"))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")


def test_bounded_cosine_overflow_is_subquadratic(spark):
    """An oversized label bucket sub-buckets via hyperplane-LSH: the
    candidate join is bounded and near-parallel planted pairs survive.
    Candidates equal those of fold-built codes (table t at plane seed
    t), and the verified pairs carry the fold's rounded cosine."""
    from reference_folds import cosine_fold, hyperplane_code_fold

    from duva_spark.llm import blocked

    n, n_planted, dim = 200, 5, 16
    df = _hot_block_vectors(spark, n, n_planted, dim)
    total = n + 2 * n_planted
    e = df.select("label", F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
    cand = blocked.cosine_overflow_candidates(e, ["label"], dim=dim)
    got = {(r.id_a, r.id_b) for r in cand.collect()}
    assert len(got) < total * (total - 1) / 2 * 0.25  # bounded, not all-pairs
    coded = e.select(
        "label",
        "_id",
        "_v",
        F.posexplode(
            F.array(*[hyperplane_code_fold(F.col("_v"), dim, 8, seed=t) for t in range(4)])
        ).alias("tbl", "code"),
    )
    key = ["label", "tbl", "code"]
    fold_pairs = (
        coded.select(*key, F.col("_id").alias("id_a"), F.col("_v").alias("va"))
        .join(coded.select(*key, F.col("_id").alias("id_b"), F.col("_v").alias("vb")), key)
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    assert {(r.id_a, r.id_b) for r in fold_pairs.collect()} == got
    out = blocked.bounded_cosine_pairs(
        df, "vec_id", "embedding", ["label"], threshold=0.95, dim=dim, max_block_size=50
    )
    want = {
        tuple(r)
        for r in fold_pairs.select(
            "id_a", "id_b", F.round(cosine_fold(F.col("va"), F.col("vb")), 6).alias("c")
        )
        .filter(F.col("c") >= 0.95)
        .collect()
    }
    rows = {tuple(r) for r in out.select("id_a", "id_b", "cosine_sim").collect()}
    assert rows == want
    planted = {(n + 2 * i, n + 2 * i + 1) for i in range(n_planted)}
    assert planted <= {(a, b) for a, b, _ in rows}


def test_hyperplane_code_deterministic_and_bounded(spark):
    """Codes are reproducible across runs, stay within n_bits, and table
    t equals the fold at plane seed t."""
    from reference_folds import hyperplane_code_fold

    from duva_spark.llm import similarity as sim

    df = spark.createDataFrame([(1, [0.5, -0.25, 0.75, 1.0])], "vec_id long, embedding array<double>")
    c1, c2 = (
        {r.tbl: r.code for r in sim.rplsh_codes_arrow(df, 4, 6, 2).collect()}
        for _ in range(2)
    )
    fold = df.select(
        *[hyperplane_code_fold(F.col("embedding"), 4, 6, seed=t).alias(f"c{t}") for t in range(2)]
    ).collect()[0]
    assert c1 == c2 == {0: fold.c0, 1: fold.c1}
    assert all(0 <= c < 64 for c in c1.values())


@pytest.mark.slow
def test_rplsh_codes_arrow_matches_jvm_fold(spark, sf_dir):
    """The Arrow/numpy RP-LSH coding kernel must be bit-identical to the
    hyperplane_code_fold on real embeddings (the oracle replays the
    fold, so a single flipped sign bit is an oracle failure). The kernel
    accumulates plane terms in index order — the same IEEE op sequence
    as the fold — so equality is by construction; this pins it on data
    at every grid shape the registered queries use."""
    from reference_folds import hyperplane_code_fold

    from duva_spark.catalog import load_table
    from duva_spark.llm import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    # (n_tables, n_bits, base_seed): the three registered grid shapes at
    # seed 0 plus one nonzero base seed, so the seed-offset plumbing
    # (seed + t inside the kernel vs the fold at seed + t) is pinned too
    for n_tables, n_bits, seed in ((8, 6, 0), (8, 4, 0), (2, 6, 0), (2, 4, 7)):
        jvm = emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("tbl"),
                            hyperplane_code_fold(
                                F.col("embedding"), 64, n_bits, seed=seed + t
                            ).alias("code"),
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("bk"),
        ).select("neighbor_id", "bk.tbl", "bk.code")
        ker = sim.rplsh_codes_arrow(emb, 64, n_bits, n_tables, seed).select(
            "neighbor_id", "tbl", "code"
        )
        assert jvm.exceptAll(ker).count() == 0
        assert ker.exceptAll(jvm).count() == 0


@pytest.mark.slow
def test_cosine_pairs_arrow_matches_jvm_fold(spark, sf_dir):
    """The Arrow sliver-cosine kernel must be bit-identical to the
    ``F.round(cosine_fold(q, c), 6)`` fold on real embeddings (the
    oracle replays the fold) — index-order accumulation, same sqrt,
    same division, same rounding grid."""
    from reference_folds import cosine_fold

    from duva_spark.catalog import load_table
    from duva_spark.llm import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    b = emb.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    pairs = a.crossJoin(b).filter(F.col("query_id") != F.col("neighbor_id"))
    jvm = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_fold(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine_sim"),
    )
    ker = sim.cosine_pairs_arrow(pairs)
    assert jvm.exceptAll(ker).count() == 0
    assert ker.exceptAll(jvm).count() == 0


def test_cosine_pairs_arrow_null_and_ragged_yield_null(spark):
    """Null / wrong-length vectors must yield a NULL cosine — the JVM
    fold's NULL propagation. A zero-norm vector yields NULL too: under
    Spark 4's default ANSI mode the JVM fold would RAISE on that
    division by zero (no embedding table here carries zero-norm rows),
    so NULL is the kernel's graceful superset of the fold's behavior —
    asserted kernel-side only."""
    from reference_folds import cosine_fold

    from duva_spark.llm import similarity as sim

    rows = [
        (1, 10, [1.0, 2.0, 3.0, 4.0], [4.0, 3.0, 2.0, 1.0]),  # well-formed
        (2, 20, None, [4.0, 3.0, 2.0, 1.0]),                   # null q
        (3, 30, [1.0, 2.0], [4.0, 3.0, 2.0, 1.0]),             # ragged q
    ]
    pairs = spark.createDataFrame(
        rows,
        "query_id long, neighbor_id long, q_vec array<double>, c_vec array<double>",
    )
    jvm = {
        (r.query_id, r.neighbor_id): r.cs
        for r in pairs.select(
            "query_id",
            "neighbor_id",
            F.round(cosine_fold(F.col("q_vec"), F.col("c_vec")), 6).alias("cs"),
        ).collect()
    }
    ker = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in sim.cosine_pairs_arrow(pairs).collect()
    }
    assert ker == jvm
    assert ker[(2, 20)] is None and ker[(3, 30)] is None
    zpairs = spark.createDataFrame(
        [(4, 40, [1.0, 2.0, 3.0, 4.0], [0.0, 0.0, 0.0, 0.0])],
        "query_id long, neighbor_id long, q_vec array<double>, c_vec array<double>",
    )
    zk = sim.cosine_pairs_arrow(zpairs).collect()
    assert len(zk) == 1 and zk[0].cosine_sim is None


def test_rplsh_codes_arrow_null_and_ragged_code_to_zero(spark):
    """Null and wrong-length vectors must code to 0 in every table —
    the JVM fold's NULL-propagation outcome — rather than crashing the
    Arrow kernel's np.stack (r12 ADVICE)."""
    from reference_folds import hyperplane_code_fold

    from duva_spark.llm import similarity as sim

    df = spark.createDataFrame(
        [
            (1, [0.5, -0.25, 0.75, 1.0]),   # well-formed
            (2, None),                       # null vector
            (3, [0.5, -0.25]),               # too short
            (4, [0.5, -0.25, 0.75, 1.0, 2.0]),  # too long
        ],
        "vec_id long, embedding array<double>",
    )
    ker = sim.rplsh_codes_arrow(df, 4, 6, 2, 0, out_id="nid").select(
        "nid", "tbl", "code"
    )
    got = {(r.nid, r.tbl): r.code for r in ker.collect()}
    jvm_ok = df.filter("vec_id = 1").select(
        *[
            hyperplane_code_fold(F.col("embedding"), 4, 6, seed=t).alias(f"c{t}")
            for t in range(2)
        ]
    ).collect()[0]
    assert got[(1, 0)] == jvm_ok.c0 and got[(1, 1)] == jvm_ok.c1
    for bad in (2, 3, 4):
        assert got[(bad, 0)] == 0 and got[(bad, 1)] == 0


class _FakePILImage:
    """Minimal PIL.Image-shaped module: open().convert().resize().getdata()."""

    class _Img:
        def __init__(self, payload):
            self.payload = payload
            self.size = (1, 1)

        def convert(self, mode):
            return self

        def resize(self, wh):
            self.size = wh
            return self

        def getdata(self):
            w, h = self.size
            return [self.payload[i % len(self.payload)] for i in range(w * h)]

        def save(self, buf, format=None):
            buf.write(b"PNG" + bytes(self.payload[:8]))

    @staticmethod
    def open(fp):
        return _FakePILImage._Img(fp.read())


def test_multimodal_real_decoder_selected_when_importable():
    """Task-level auto-detection: with a pillow-shaped module importable,
    the real decode path runs; with none, fallback= controls fake vs raise."""
    import pandas as pd

    from duva_spark.llm import multimodal as mm

    pdf = pd.DataFrame({"doc_id": [1], "payload": [b"abcdefgh"]})
    real = mm.decode_features_batch(pdf, "doc_id", 4, False, "raise", lambda: _FakePILImage)
    assert real["features"][0] == [b / 255.0 for b in b"abcd"]  # pixels, not md5
    fake = mm.decode_features_batch(pdf, "doc_id", 4, True, "raise", lambda: _FakePILImage)
    assert fake["features"][0] == mm._fake_features(b"abcdefgh", 4)  # fake wins when asked
    degraded = mm.decode_features_batch(pdf, "doc_id", 4, False, "fake", lambda: None)
    assert degraded["features"][0] == fake["features"][0]  # fallback='fake'
    with pytest.raises(NotImplementedError, match="pillow"):
        mm.decode_features_batch(pdf, "doc_id", 4, False, "raise", lambda: None)


def test_multimodal_real_resize_and_frames_kernels():
    import pandas as pd

    from duva_spark.llm import multimodal as mm

    pdf = pd.DataFrame({"doc_id": [1], "payload": [bytes(range(64))]})
    out = mm.resize_batch(pdf, "doc_id", 8, 8, False, "raise", lambda: _FakePILImage)
    assert bytes(out["payload"][0]).startswith(b"PNG")  # re-encoded by the "library"
    with pytest.raises(NotImplementedError, match="PyAV"):
        mm.sample_frames_batch(pdf, "doc_id", 16, False, "raise", lambda: None)
    frames = mm.sample_frames_batch(pdf, "doc_id", 16, False, "fake", lambda: None)
    assert list(frames["frame_idx"]) == [0, 1, 2, 3]


def test_redact_scrubs_real_pii_and_counts(spark):
    from duva_spark.llm import redact as R

    text = (
        "Mail jane.doe+spam@corp.example.co.uk or visit "
        "https://example.com/a?x=1&u=bob@evil.com then call 555-0142; "
        "server at 192.168.10.255 end"
    )
    df = spark.range(1).select(F.lit(text).alias("text"))
    row = df.select(
        R.redact(F.col("text")).alias("clean"),
        R.match_count(F.col("text"), "email").alias("n_email"),
        R.match_count(F.col("text"), "url").alias("n_url"),
        R.match_count(F.col("text"), "phone").alias("n_phone"),
        R.match_count(F.col("text"), "ipv4").alias("n_ip"),
    ).first()
    clean = row["clean"]
    assert "[EMAIL]" in clean and "[URL]" in clean and "[PHONE]" in clean and "[IP]" in clean
    assert "jane.doe" not in clean and "192.168" not in clean and "555-0142" not in clean
    # URL applied first: the email inside the URL query string is scrubbed
    # as part of the URL, leaving exactly one [EMAIL] marker.
    assert clean.count("[URL]") == 1 and clean.count("[EMAIL]") == 1
    assert (row["n_email"], row["n_url"], row["n_phone"], row["n_ip"]) == (2, 1, 1, 1)


def test_connected_components_chain_and_islands(spark):
    from duva_spark.llm.components import connected_components, dedup_clusters

    # A 6-node chain (diameter 5 — forces several propagation rounds),
    # a triangle, and an isolated pair.
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (11, 12), (10, 12), (20, 21)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    comp = {r["id"]: r["comp"] for r in connected_components(df).collect()}
    assert {comp[i] for i in (1, 2, 3, 4, 5, 6)} == {1}
    assert {comp[i] for i in (10, 11, 12)} == {10}
    assert {comp[i] for i in (20, 21)} == {20}

    sizes = {r["id"]: r["n_members"] for r in dedup_clusters(df).collect()}
    assert sizes[3] == 6 and sizes[12] == 3 and sizes[21] == 2
    # keep-list = representative per cluster
    keep = {i for i, c in comp.items() if i == c}
    assert keep == {1, 10, 20}


def test_rplsh_multi_table_recall_beats_single(spark, sf_dir):
    """The OR'd-tables construction must (a) strictly improve recall vs
    one table, (b) report exact cosines for what it does return, and
    (c) stay approximate, i.e. touch far fewer pairs than brute force."""
    from duva_spark.catalog import load_table
    from duva_spark.llm import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in similarity.brute_force_topk(emb, q, k=5).collect()
    }
    multi = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in similarity.rplsh_topk(emb, q, 64, 4, 5, 0, n_tables=8).collect()
    }
    single = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.rplsh_topk(emb, q, 64, 4, 5, 0, n_tables=1).collect()
    }
    recall_multi = len(bf.keys() & multi.keys()) / len(bf)
    recall_single = len(bf.keys() & single) / len(bf)
    assert recall_multi > recall_single
    assert recall_multi >= 0.5  # measured 0.7 at sf0.001 with 8x4-bit tables
    for pair in bf.keys() & multi.keys():  # sims are exact, never estimated
        assert multi[pair] == bf[pair]


def test_connected_components_raises_rather_than_splitting_clusters(spark):
    """An exhausted iteration budget must fail loudly — silently returning
    partial propagation would report one real cluster as several."""
    import pytest as _pytest

    from duva_spark.llm.components import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(1, 7)], ["id_a", "id_b"])
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)


def test_kmeans_separates_obvious_clusters(spark):
    """Two tight blobs far apart: 2-means must assign each blob to one
    cluster and land the centroids on the blob means."""
    from duva_spark.llm import kmeans

    rows = [(0, [0.0, 0.0]), (1, [10.0, 10.0]),  # the two seeds
            (2, [0.2, 0.0]), (3, [0.0, 0.2]),
            (4, [10.2, 10.0]), (5, [10.0, 10.2])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cen, assigned = kmeans.lloyd(emb, k=2, iters=2, dim=2)
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    assert got[0] == got[2] == got[3]
    assert got[1] == got[4] == got[5]
    assert got[0] != got[1]
    cents = {r["cluster"]: r["cen"] for r in cen.collect()}
    lo = cents[got[0]]
    assert abs(lo[0] - 0.2 / 3) < 1e-6 and abs(lo[1] - 0.2 / 3) < 1e-6


def test_kmeans_assignment_is_shuffle_free(spark):
    """Assignment must be a pure projection: no join, no window, no
    Exchange between the embeddings scan and the cluster column — the
    r3 verdict flagged the old crossJoin+row_number form for shuffling
    n×k rows per Lloyd round."""
    from duva_spark.llm import kmeans

    emb = spark.createDataFrame(
        [(i, [float(i), float(i)]) for i in range(20)], ["vec_id", "embedding"]
    )
    import contextlib
    import io

    cen = kmeans.init_centroids(emb, 2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        kmeans.assign_clusters(emb, cen).explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan and "Join" not in plan and "Window" not in plan


def test_kmeans_assignment_tie_breaks_by_cluster_id(spark):
    """A point equidistant from two centroids must go to the LOWER
    cluster id — the same tie rule the window form had and the oracle's
    QUALIFY ORDER BY (dist, cluster) encodes."""
    from duva_spark.llm import kmeans

    emb = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 0.0]), (2, [5.0, 0.0])],
        ["vec_id", "embedding"],
    )
    cen = kmeans.init_centroids(emb, 2)  # centroids at x=0 and x=10
    got = {r["vec_id"]: r["cluster"] for r in kmeans.assign_clusters(emb, cen).collect()}
    assert got[2] == 0  # equidistant → lower cluster id wins


@pytest.mark.slow
def test_semdedup_hot_cluster_overflow_engages(spark):
    """A cluster above the cap must route through the hyperplane-LSH
    overflow and still find its prunes. Corpus: one hot blob of 25
    identical vectors (cluster population 25 > cap 10) + one far seed.
    Identical vectors share every sign code, so LSH recall is exact
    here and the capped census must equal the uncapped one; if the
    overflow path failed to engage (or dropped candidates), n_pruned
    for the hot cluster would be 0 and this fails."""
    from duva_spark.llm import semdedup

    rows = [(0, [1.0, 0.0]), (1, [-1.0, 0.0])] + [
        (i, [1.0, 0.0]) for i in range(2, 26)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kw = dict(k=2, iters=1, dim=2, tau=0.3)
    capped = {
        r["cluster"]: (r["n_members"], r["n_pruned"], r["n_kept"])
        for r in semdedup.semdedup_census(emb, max_cluster_size=10, **kw).collect()
    }
    exact = {
        r["cluster"]: (r["n_members"], r["n_pruned"], r["n_kept"])
        for r in semdedup.semdedup_census(emb, max_cluster_size=None, **kw).collect()
    }
    assert capped == exact
    assert capped[0] == (25, 24, 1)  # hot cluster: all but the min id pruned
    assert capped[0][0] > 10  # and it really was above the cap
    assert capped[1] == (1, 0, 1)


def test_semdedup_choose_k_scales_and_k16_runs(spark, sf_dir):
    """choose_k grows with the corpus (k ~ n/avg_cluster, floored) and
    the Lloyd operator accepts a non-default k — r3 verdict item #7."""
    from duva_spark.catalog import load_table
    from duva_spark.llm import kmeans, semdedup

    assert semdedup.choose_k(100_000_000, avg_cluster=5000) == 20000
    assert semdedup.choose_k(10) == 8  # floor
    assert semdedup.choose_k(5001, avg_cluster=5000, k_min=1) == 2  # ceil

    emb = load_table(spark, sf_dir, "embeddings")
    cen, assigned = kmeans.lloyd(emb, k=16, iters=1, dim=64)
    assert cen.count() == 16  # every seed keeps at least itself
    assert assigned.select("cluster").distinct().count() == 16


def test_incremental_pairs_equal_cross_split_subset(spark, sf_dir):
    """Delta-vs-corpus LSH must find exactly the cross-split subset of the
    full all-pairs run — no pairs lost by splitting, none invented."""
    from pyspark.sql import functions as F

    from duva_spark.catalog import load_table
    from duva_spark.llm import minhash

    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    is_new = (h % 10) < 2
    inc = {
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in minhash.incremental_pairs(
            docs.filter(is_new), docs.filter(~is_new), "doc_id", threshold=0.5
        ).collect()
    }
    full = minhash.near_duplicates(docs, "doc_id", threshold=0.5).collect()
    new_ids = {r["doc_id"] for r in docs.filter(is_new).select("doc_id").collect()}
    want = set()
    for r in full:
        a_new, b_new = r["id_a"] in new_ids, r["id_b"] in new_ids
        if a_new != b_new:
            nid, cid = (r["id_a"], r["id_b"]) if a_new else (r["id_b"], r["id_a"])
            want.add((nid, cid, r["jaccard"]))
    assert inc == want and len(want) > 0


def test_arrow_topk_equals_jvm_topk(spark, sf_dir):
    """brute_force_topk must return the fold's rows exactly — same
    rounding, same tie-breaks, same top-k — at 7, 100 and 400 probes
    (400 slabs each batch into several scoring chunks) and with the
    label exclusion of hard-negative mining."""
    from reference_folds import brute_force_topk_fold

    from duva_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    for n_probes in (7, 100, 400):
        q = emb.filter(F.col("vec_id") < n_probes)
        a = sorted(map(tuple, brute_force_topk_fold(emb, q, 4).collect()))
        b = sorted(map(tuple, similarity.brute_force_topk(emb, q, 4).collect()))
        assert a == b and len(a) == 4 * n_probes
    q = emb.filter(F.col("vec_id") < 5)
    a = sorted(map(tuple, brute_force_topk_fold(emb, q, 3, exclude_same="label").collect()))
    b = sorted(map(tuple, similarity.brute_force_topk(emb, q, 3, exclude_same="label").collect()))
    assert a == b and len(a) == 15


def test_topk_null_cosine_never_outranks_a_finite_one(spark):
    """A zero-norm or ragged corpus row scores a NULL cosine (the edge
    cosine_pairs_arrow declares) and ranks after every finite cosine,
    even one below zero."""
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0]),  # zero norm
            (3, [1.0, 0.0]),  # ragged
            (4, [-1.0, 0.1, 0.0]),  # finite, negative
        ],
        "vec_id long, embedding array<double>",
    )
    got = [
        (r.rank, r.neighbor_id, r.cosine_sim)
        for r in similarity.brute_force_topk(df, df.filter("vec_id = 1"), k=3)
        .orderBy("rank")
        .collect()
    ]
    assert got[0] == (1, 4, round(-1 / (1.01**0.5), 6))
    assert got[1:] == [(2, 2, None), (3, 3, None)]


def test_topk_six_dp_tie_goes_to_the_lower_id(spark):
    """k=1: two neighbors round to the same 6-dp cosine; the lower id
    wins even though its unrounded cosine is the smaller one."""
    import math

    hi = math.cos(1e-4)  # 0.999999995 -> rounds to 1.0
    df = spark.createDataFrame(
        [
            (10, [1.0, 0.0]),
            (20, [math.cos(2e-4), math.sin(2e-4)]),  # 0.99999998 -> 1.0
            (30, [hi, math.sin(1e-4)]),
        ],
        "vec_id long, embedding array<double>",
    )
    top = similarity.brute_force_topk(df, df.filter("vec_id = 10"), k=1).collect()
    assert [(r.neighbor_id, r.cosine_sim, r.rank) for r in top] == [(20, 1.0, 1)]


def test_star_components_handle_high_diameter_paths(spark):
    """large-star/small-star converges in O(log n) rounds: a 64-node path
    (diameter 63) resolves inside a 25-round budget, where min-label
    propagation needs 63 rounds. Components still = min node id."""
    from duva_spark.llm.components import connected_components_star

    path = spark.createDataFrame([(i, i + 1) for i in range(63)], ["id_a", "id_b"])
    out = {r["id"]: r["comp"] for r in connected_components_star(path).collect()}
    assert len(out) == 64
    assert set(out.values()) == {0}


def test_star_components_match_label_propagation(spark):
    """Both algorithms reach the identical fixpoint (comp = min id of the
    group) on a multi-component graph with chains, a triangle, and an
    isolated pair."""
    from duva_spark.llm.components import (
        connected_components,
        connected_components_star,
    )

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (11, 12), (10, 12), (20, 21)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    star = sorted((r["id"], r["comp"]) for r in connected_components_star(df).collect())
    prop = sorted((r["id"], r["comp"]) for r in connected_components(df).collect())
    assert star == prop


def test_ppjoin_is_exact_and_contains_lsh_pairs(spark, sf_dir):
    """Prefix filtering equals the brute-force all-pairs result (zero
    missed pairs — the lossless-pruning guarantee), and the MinHash-LSH
    pair set at the same threshold is a subset of it (LSH has a recall
    curve; the exact join is its upper bound)."""
    from pyspark.sql import functions as F

    from duva_spark.catalog import load_table
    from duva_spark.llm import minhash
    from duva_spark.llm.ppjoin import prefix_filter_pairs

    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r.id_a, r.id_b)
        for r in prefix_filter_pairs(docs, "doc_id", "text", 0.5).collect()
    }
    # brute force over hashed shingle sets (identical token definition)
    hs = F.array_distinct(
        F.transform(minhash.word_shingles(F.split(F.col("text"), " "), 3), minhash.base_hash)
    )
    d = docs.select(F.col("doc_id").alias("_id"), hs.alias("hs")).filter(F.size("hs") > 0)
    a = d.select(F.col("_id").alias("id_a"), F.col("hs").alias("sh_a"))
    b = d.select(F.col("_id").alias("id_b"), F.col("hs").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    brute = {
        (r.id_a, r.id_b)
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(jac, 6) >= 0.5)
        .collect()
    }
    assert got == brute and got
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash.near_duplicates(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert lsh <= got


def test_ppjoin_stop_token_cap_bounds_degenerate_corpus(spark):
    """A corpus where every document shares ONE boilerplate shingle
    (document frequency = corpus size): uncapped, that token sits in
    every prefix and generates all C(n,2) candidate pairs; with a stop-
    token df cap below the corpus size it is dropped from prefixes, the
    unique tokens generate zero cross-document candidates, and the join
    finds nothing — the documented recall trade that bounds the
    candidate buckets at the cap. The cap must not disturb an exact run
    (q_ppjoin_exact_pairs passes no cap)."""
    from duva_spark.llm.ppjoin import prefix_filter_pairs

    # "C0 C1 C2" is the shared leading phrase → exactly one shared
    # shingle; the remaining words are per-doc unique → 4 unique
    # shingles. Pairwise Jaccard = 1/9 ≥ 0.1, so every pair is a true
    # match at threshold 0.1.
    docs = spark.createDataFrame(
        [(i, "C0 C1 C2 " + " ".join(f"u{i}_{j}" for j in range(4))) for i in range(50)],
        ["doc_id", "text"],
    )
    exact = prefix_filter_pairs(docs, "doc_id", "text", 0.1)
    assert exact.count() == 50 * 49 // 2
    capped = prefix_filter_pairs(docs, "doc_id", "text", 0.1, stop_token_df_cap=10)
    assert capped.count() == 0


def test_arrow_topk_probe_guard_raises_on_oversized_probe_set(spark, sf_dir):
    """The probe collect is bounded by max_probes: a frame over the cap
    raises instead of silently materializing on the driver (r3 verdict
    item #4); under the cap the path works unchanged."""
    import pytest as _pytest

    from duva_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    with _pytest.raises(ValueError, match="max_probes"):
        similarity.brute_force_topk(emb, emb, 3, max_probes=10)
    ok = similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") < 3), 3)
    assert ok.count() == 9


def test_lloyd_sample_training_assigns_full_corpus(spark):
    """train_df runs the Lloyd rounds on a subset but the returned
    assignment covers every input row, against the same centroid
    generation the last training round used."""
    import pandas as pd
    from duva_spark.llm import kmeans

    pdf = pd.DataFrame(
        {
            "vec_id": range(40),
            "embedding": [[float(i % 2) * 10, 0.0] for i in range(40)],
        }
    )
    emb = spark.createDataFrame(pdf)
    train = emb.filter(F.col("vec_id") % 4 < 2)  # 50% sample, both blobs
    cen, assigned = kmeans.lloyd(emb, k=2, iters=2, dim=2, train_df=train)
    rows = assigned.collect()
    assert len(rows) == 40  # full corpus assigned, not just the sample
    # the two obvious blobs (x=0 vs x=10) separate regardless of sample
    by_parity = {r["vec_id"] % 2: set() for r in rows}
    for r in rows:
        by_parity[r["vec_id"] % 2].add(r["cluster"])
    assert all(len(v) == 1 for v in by_parity.values())
    assert by_parity[0] != by_parity[1]


def test_assign_nearest_exact_ties_across_chunk_seam(spark):
    """Adversarial exact-float ties straddling BOTH internal chunk seams
    (the 256-centroid chunk and the 1024-row chunk): equal-distance
    centroids on each side of index 256 must resolve to the LOWEST id,
    in top-1 (strict-inequality update across chunks) and top-n (stable
    argsort over the concatenated row) — r5 verdict item 8."""
    from pyspark.sql import Row

    from duva_spark.llm import assign

    k = 260  # crosses the 256-centroid chunk boundary
    # ids 254..257 sit at exact squared distance 1.0 from the origin —
    # two in chunk 0, two in chunk 1; everything else is far away
    tied = {254: [1.0, 0.0], 255: [-1.0, 0.0], 256: [0.0, 1.0], 257: [0.0, -1.0]}
    rows = [
        Row(cluster=i, cen=tied.get(i, [10.0 + i, 10.0])) for i in range(k)
    ]
    n_rows = 1030  # crosses the 1024-row chunk boundary too
    df = spark.createDataFrame(
        [(i, [0.0, 0.0]) for i in range(n_rows)],
        "vec_id long, embedding array<double>",
    ).repartition(4)

    top1 = assign.assign_nearest(df, rows, metric="euclidean").collect()
    assert len(top1) == n_rows
    assert {r.cluster for r in top1} == {254}  # lowest tied id, every row

    top4 = assign.assign_nearest(
        df.limit(3), rows, metric="euclidean", n=4, out_col="b"
    ).collect()
    assert all(r.b == [254, 255, 256, 257] for r in top4)

    # cosine seam tie: ids 255 and 256 both at similarity exactly 1.0
    # (colinear with the query, norms divide out exactly in binary fp)
    crows = [
        Row(cluster=i, cen={255: [2.0, 0.0], 256: [3.0, 0.0]}.get(i, [-10.0 - i, -10.0]))
        for i in range(k)
    ]
    cdf = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<double>")
    got = assign.assign_nearest(cdf, crows, metric="cosine", round_dp=9).collect()
    assert got[0].cluster == 255

    # zero-norm query: NaN sims map to -inf, argmax falls back to the
    # lowest bucket id overall
    zdf = spark.createDataFrame([(0, [0.0, 0.0])], "vec_id long, embedding array<double>")
    assert assign.assign_nearest(zdf, crows, metric="cosine").collect()[0].cluster == 0


def test_ivf_topk_grid_assigns_once_and_matches_single_runs(spark):
    """The nprobe grid must (a) evaluate the corpus-assignment UDF once
    per join branch (same nondeterminism pin as ivf_topk — the grid adds
    NO extra corpus work), and (b) agree slice-for-slice with separate
    ivf_topk runs at each nprobe value."""
    import contextlib
    import io

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0], i % 4) for i in range(40)],
        "vec_id long, embedding array<double>, label int",
    )
    cents = similarity.label_centroids(emb)
    queries = emb.filter(F.col("vec_id") < 3)
    grid = similarity.ivf_topk_grid(emb, queries, cents, k=3, nprobes=(1, 2))

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        grid.explain()
    plan = buf.getvalue()
    n = plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")
    assert n == 2, f"grid must not add python-eval nodes: {n}"

    got = {
        (r.nprobe, r.query_id, r.rank): r.neighbor_id for r in grid.collect()
    }
    for p in (1, 2):
        single = {
            (p, r.query_id, r.rank): r.neighbor_id
            for r in similarity.ivf_topk(emb, queries, cents, k=3, nprobe=p).collect()
        }
        slice_p = {k: v for k, v in got.items() if k[0] == p}
        assert slice_p == single, f"nprobe={p} slice diverges from ivf_topk"


def test_gopher_flags_plan_is_scan_only(spark):
    """The Gopher rule battery must fold entirely into the scan
    projection: no Exchange, no Join, no Window, no python eval."""
    import contextlib
    import io

    from duva_spark.llm import textstats

    docs = spark.createDataFrame(
        [(1, "the quick brown fox of and that have with it jumps")],
        "doc_id long, text string",
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        textstats.gopher_flags(docs).explain("formatted")
    plan = buf.getvalue()
    for bad in ("Exchange", "Join", "Window", "ArrowEvalPython", "BatchEvalPython"):
        assert bad not in plan, f"{bad} leaked into the rule-battery plan"


# ---------------------------------------------------------------------------
# hashed bag-of-words LMs: DSIR importance weights + count-trained NB
# ---------------------------------------------------------------------------


def _dsir_python_reference(rows, n_buckets):
    """Pure-python DSIR log-weights over (id, text, is_target) rows,
    mirroring the documented contract (md5-60-bit bucket hash, Laplace
    smoothing over the raw-observed bucket domain)."""
    import hashlib
    from collections import Counter

    def bucket(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % n_buckets

    raw, tgt = Counter(), Counter()
    per_doc = {}
    for i, text, is_t in rows:
        bs = [bucket(w) for w in text.split(" ")]
        per_doc[i] = bs
        raw.update(bs)
        if is_t:
            tgt.update(bs)
    n_raw, n_tgt = sum(raw.values()), sum(tgt.values())
    import math

    def lr(b):
        return math.log((tgt[b] + 1) / (n_tgt + n_buckets)) - math.log(
            (raw[b] + 1) / (n_raw + n_buckets)
        )

    return {i: sum(lr(b) for b in bs) for i, bs in per_doc.items()}


def test_dsir_log_weights_match_python_reference(spark):
    from duva_spark.llm import hashed_lm

    rows = [
        (1, "alpha beta gamma alpha", True),
        (2, "alpha beta", True),
        (3, "delta epsilon zeta", False),
        (4, "alpha delta", False),
        (5, "eta theta eta theta eta", False),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_target boolean")
    got = {
        r.doc_id: r.log_w
        for r in hashed_lm.dsir_log_weights(
            df, "doc_id", "text", "is_target", n_buckets=64
        ).collect()
    }
    want = _dsir_python_reference(rows, 64)
    assert set(got) == set(want)
    for i in got:
        assert got[i] == pytest.approx(want[i], abs=1e-9), i
    # directional sanity: the pure-target-vocab doc outweighs the
    # pure-raw-vocab doc
    assert got[2] > got[5]


def test_dsir_resample_deterministic_and_bounded(spark):
    from duva_spark.llm import hashed_lm

    df = spark.createDataFrame(
        [(i, ("target words here" if i % 2 else "other stuff entirely"), i % 2 == 1) for i in range(40)],
        "doc_id long, text string, is_target boolean",
    )
    a = hashed_lm.dsir_resample(df, "doc_id", "text", "is_target", k=10).collect()
    b = hashed_lm.dsir_resample(df, "doc_id", "text", "is_target", k=10).collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]  # reproducible
    assert len(a) == 10
    # with two disjoint vocab pools the target-looking docs should
    # dominate the sample (importance weights differ by several nats,
    # dwarfing Gumbel noise for most draws)
    n_target = sum(1 for r in a if r.is_target)
    assert n_target >= 8


def test_dsir_resample_plans_top_k_not_global_sort(spark):
    from duva_spark.llm import hashed_lm

    df = spark.createDataFrame(
        [(1, "a b", True), (2, "c d", False)],
        "doc_id long, text string, is_target boolean",
    )
    plan = hashed_lm.dsir_resample(
        df, "doc_id", "text", "is_target", k=5
    )._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_nb_classifier_separates_disjoint_vocab(spark):
    from duva_spark.llm import hashed_lm

    train = spark.createDataFrame(
        [(i, "en", "hello world common tongue") for i in range(10)]
        + [(10 + i, "fr", "bonjour monde langue commune") for i in range(10)],
        "doc_id long, lang string, text string",
    )
    test = spark.createDataFrame(
        [(100, "hello common"), (101, "bonjour langue"), (102, "monde monde world monde")],
        "doc_id long, text string",
    )
    lik, stats = hashed_lm.nb_train(train, "lang", "text", n_buckets=256)
    scored = hashed_lm.nb_score(test, "doc_id", "text", lik, stats, n_buckets=256)
    pred = {r.doc_id: r.pred_label for r in hashed_lm.nb_predict(scored, "doc_id").collect()}
    assert pred == {100: "en", 101: "fr", 102: "fr"}


def test_nb_predict_exact_tie_breaks_to_smallest_label(spark):
    from duva_spark.llm import hashed_lm

    # symmetric training (equal priors, equal token totals) + an
    # all-unseen test doc → exact score tie → lexicographically
    # smallest label must win (the documented determinism rule)
    train = spark.createDataFrame(
        [(1, "bb", "x y"), (2, "bb", "x y"), (3, "aa", "p q"), (4, "aa", "p q")],
        "doc_id long, lang string, text string",
    )
    test = spark.createDataFrame([(9, "zzz unseen")], "doc_id long, text string")
    lik, stats = hashed_lm.nb_train(train, "lang", "text", n_buckets=128)
    scored = hashed_lm.nb_score(test, "doc_id", "text", lik, stats, n_buckets=128)
    rows = {(r.doc_id, r.label): r.score for r in scored.collect()}
    assert rows[(9, "aa")] == pytest.approx(rows[(9, "bb")], abs=1e-12)
    pred = hashed_lm.nb_predict(scored, "doc_id").collect()
    assert pred[0].pred_label == "aa"


def test_kcenter_greedy_picks_farthest_corners(spark):
    from duva_spark.llm import coreset

    def v(x, y):
        return [float(x), float(y)] + [0.0] * 62

    df = spark.createDataFrame(
        [(0, v(0, 0)), (1, v(10, 0)), (2, v(0, 10)), (3, v(10, 10)), (4, v(5, 5)), (5, v(1, 1))],
        "vec_id long, embedding array<float>",
    )
    picks = coreset.kcenter_select(df, "vec_id", "embedding", 4)
    ids = [p[1] for p in picks]
    assert ids[0] == 0  # deterministic seed: smallest id
    assert ids[1] == 3  # farthest from origin is the opposite corner
    # the two remaining corners tie at distance 10 → smallest id first
    assert ids[2:] == [1, 2]
    radii = [p[2] for p in picks[1:]]
    assert radii == sorted(radii, reverse=True)  # farthest-point radii shrink
    frame = coreset.kcenter_frame(df, "vec_id", "embedding", 4)
    assert [r.sel_rank for r in frame.orderBy("sel_rank").collect()] == [1, 2, 3, 4]


def _bpe_greedy_python(seq, a, b):
    """Reference greedy left-to-right merge: scan, merge, consume both."""
    out, i = [], 0
    while i < len(seq):
        if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(seq[i])
            i += 1
    return out


def test_bpe_greedy_merge_matches_scan_reference(spark):
    """The codegen fold must equal the scan semantics — including the
    odd-run case ('a a a a a' with rule (a,a) → [aa, aa, a]) where a
    naive string-replace implementation diverges."""
    from duva_spark.llm import bpe

    cases = [
        (["a", "a", "a", "a", "a"], "a", "a"),
        (["a", "a", "a", "a"], "a", "a"),
        (["x", "a", "b", "a", "b", "y"], "a", "b"),
        (["b", "a", "b"], "a", "b"),
        (["a"], "a", "a"),
        ([], "a", "b"),
        (["a", "ab", "ab"], "a", "ab"),
        (["p", "a", "r", "t"], "a", "r"),
    ]
    rows = [(i, seq) for i, (seq, _, _) in enumerate(cases)]
    df = spark.createDataFrame(rows, "i long, syms array<string>")
    for idx, (seq, a, b) in enumerate(cases):
        got = (
            df.filter(F.col("i") == idx)
            .select(bpe.greedy_merge(F.col("syms"), a, b).alias("m"))
            .collect()[0]["m"]
        )
        assert got == _bpe_greedy_python(seq, a, b), (seq, a, b)


def test_bpe_train_on_constructed_corpus(spark):
    """Deterministic trainer end-to-end on a corpus whose merge order is
    computable by hand: 'lo lo low low lower' repeated — (l,o) wins
    round 1 (freq 5/doc), then (lo,w) (freq 3/doc), then ties break
    lexicographically."""
    from duva_spark.llm import bpe

    docs = spark.createDataFrame(
        [(i, "lo lo low low lower") for i in range(4)],
        "doc_id long, text string",
    )
    rules = bpe.bpe_train(docs, "text", n_merges=3)
    assert [(r[1], r[2]) for r in rules] == [("l", "o"), ("lo", "w"), ("e", "r")]
    assert rules[0][4] == 20  # 5 (l,o) pairs per doc × 4 docs
    assert rules[1][4] == 12  # 3 (lo,w) pairs per doc × 4 docs
    # round numbering and merged spellings
    assert [r[0] for r in rules] == [1, 2, 3]
    assert [r[3] for r in rules] == ["lo", "low", "er"]


def test_byte_bpe_multibyte_fallback(spark):
    """The byte alphabet's reason to exist: a multi-byte codepoint
    decomposes into hex byte symbols (no OOV possible) and its bytes
    merge back together once frequent enough. 'é' is C3 A9; a corpus
    dominated by 'éé' must learn (C3, A9) first — a merge the char
    alphabet can never express — and the merged token must unhex back
    to the original codepoint. Also pins Spark↔DuckDB symbolization
    parity (uppercase hex, pairwise split)."""
    from duva_spark.llm import bpe

    docs = spark.createDataFrame(
        [(i, "\u00e9\u00e9 \u00e9\u00e9 ab") for i in range(3)],
        "doc_id long, text string",
    )
    rules = bpe.bpe_train(docs, "text", n_merges=2, alphabet="byte")
    assert (rules[0][1], rules[0][2]) == ("C3", "A9")
    assert bytes.fromhex(rules[0][3]).decode("utf-8") == "\u00e9"
    # round 2: the two merged é-tokens pair up within 'éé'
    assert (rules[1][1], rules[1][2]) == ("C3A9", "C3A9")
    assert bytes.fromhex(rules[1][3]).decode("utf-8") == "\u00e9\u00e9"

    # byte census: n_char_tokens counts BYTES (octet_length), and the
    # encode under the two rules collapses 'éé' to ONE token
    census = {
        r.doc_id: r
        for r in bpe.encode_token_counts(
            docs, rules, "doc_id", "text", alphabet="byte"
        ).collect()
    }
    r0 = census[0]
    assert r0.n_words == 3
    assert r0.n_char_tokens == 4 + 4 + 2  # utf-8 bytes
    assert r0.n_bpe_tokens == 1 + 1 + 2  # [éé] [éé] [a b]

    # Spark symbolize == DuckDB's oracle expression on the same word
    import duckdb

    got = (
        spark.range(1)
        .select(bpe.symbolize(F.lit("h\u00e9llo"), "byte").alias("s"))
        .collect()[0]["s"]
    )
    want = duckdb.sql(
        "SELECT regexp_extract_all(hex(encode('h\u00e9llo')), '..')"
    ).fetchone()[0]
    assert got == want == ["68", "C3", "A9", "6C", "6C", "6F"]


def test_bpe_encode_arrow_matches_fold(spark, sf_dir):
    """The Arrow encode kernel is pinned value-identical to the Column
    fold reference on BOTH alphabets over real corpus text."""
    from reference_folds import encode_token_counts_fold

    from duva_spark.catalog import load_table
    from duva_spark.llm import bpe

    docs = load_table(spark, sf_dir, "documents").limit(120).localCheckpoint()
    for alphabet in ("char", "byte"):
        rules = bpe.bpe_train(docs, "text", n_merges=4, alphabet=alphabet)
        fold = {
            r["doc_id"]: r.asDict()
            for r in encode_token_counts_fold(
                docs, rules, "doc_id", "text", alphabet=alphabet
            ).collect()
        }
        arrow = {
            r["doc_id"]: r.asDict()
            for r in bpe.encode_token_counts(
                docs, rules, "doc_id", "text", alphabet=alphabet
            ).collect()
        }
        assert fold == arrow, f"alphabet={alphabet}"


def test_fertility_arrow_matches_fold(spark, sf_dir):
    """The fused fertility Arrow kernel (BPE merges + unigram Viterbi
    counts in one pass, per-task word memos) is pinned value-identical
    to the interpreted-HOF fold projection built from the reference
    folds."""
    from reference_folds import encode_word_fold, viterbi_token_count_fold, vocab_map_of

    from duva_spark.catalog import load_table
    from duva_spark.llm import bpe, unigram

    cap, max_len = 16, 4
    docs = load_table(spark, sf_dir, "documents").limit(120).localCheckpoint()
    rules = bpe.bpe_train(docs, "text", n_merges=4)
    lp = unigram.unigram_trained_lp(
        docs, "text", max_len=max_len, n_seed=24, rounds=2, word_cap=cap
    )
    vocab_map = vocab_map_of(lp)
    ws = F.filter(
        F.split(F.col("text"), " "),
        lambda w: (w != "") & (F.length(w) <= cap),
    )
    zero = F.lit(0)
    fold = (
        docs.select(
            "lang",
            F.size(ws).alias("nw"),
            F.aggregate(
                F.transform(ws, lambda w: F.length(w)), zero, lambda a, v: a + v
            ).alias("nc"),
            F.aggregate(
                F.transform(ws, lambda w: F.size(encode_word_fold(w, rules))),
                zero,
                lambda a, v: a + v,
            ).alias("nb"),
            F.aggregate(
                F.transform(
                    ws, lambda w: viterbi_token_count_fold(w, vocab_map, max_len)
                ),
                zero,
                lambda a, v: a + v,
            ).alias("nu"),
        )
        .groupBy("lang")
        .agg(
            F.sum("nw").alias("nw"), F.sum("nc").alias("nc"),
            F.sum("nb").alias("nb"), F.sum("nu").alias("nu"),
        )
    )
    arrow = (
        unigram.fertility_counts(
            docs, rules, lp, group_col="lang", text_col="text",
            word_cap=cap, max_len=max_len,
        )
        .groupBy("lang")
        .agg(
            F.sum("nw").alias("nw"), F.sum("nc").alias("nc"),
            F.sum("nb").alias("nb"), F.sum("nu").alias("nu"),
        )
    )
    got_f = {r["lang"]: r.asDict() for r in fold.collect()}
    got_a = {r["lang"]: r.asDict() for r in arrow.collect()}
    assert got_f == got_a


def _unigram_python_reference(texts, max_len, n_seed, rounds):
    """Pure-python replay of the unigram_train spec: weighted substring
    seed vocab (singles + top-n_seed multis, count-desc piece-asc),
    Laplace 6-dp log-probs, Viterbi with smallest-start tie-break,
    hard-EM recounts."""
    import math
    from collections import Counter

    from duva_spark.llm.hashed_lm import round_half_up

    words = Counter()
    for t in texts:
        for w in t.split(" "):
            if w and len(w) <= 16:  # the word_cap contract
                words[w] += 1
    sub = Counter()
    for w, c in words.items():
        for st in range(len(w)):
            for ln in range(1, min(max_len, len(w) - st) + 1):
                sub[w[st : st + ln]] += c
    seed = {p: c for p, c in sub.items() if len(p) == 1}
    seed.update(
        dict(
            sorted(
                ((p, c) for p, c in sub.items() if len(p) >= 2),
                key=lambda kv: (-kv[1], kv[0]),
            )[:n_seed]
        )
    )
    vsz, t0 = len(seed), sum(seed.values())
    lp = {
        p: round_half_up(math.log((c + 1) / (t0 + vsz)), 6)
        for p, c in seed.items()
    }

    def viterbi(w):
        n = len(w)
        best, back = [0.0] + [None] * n, [0] * (n + 1)
        for i in range(1, n + 1):
            bs, bj = -1e18, None
            for j in range(max(0, i - max_len), i):
                p = w[j:i]
                if p in lp:
                    cs = best[j] + lp[p]
                    if cs > bs:
                        bs, bj = cs, j
            best[i], back[i] = bs, bj
        seg, i = [], n
        while i > 0:
            seg.append(w[back[i] : i])
            i = back[i]
        return seg

    cnt = Counter()
    for _ in range(rounds):
        cnt = Counter()
        for w, c in words.items():
            for p in viterbi(w):
                cnt[p] += c
        tt = sum(cnt.values())
        lp = {
            p: round_half_up(math.log((cnt.get(p, 0) + 1) / (tt + vsz)), 6)
            for p in lp
        }
    return dict(cnt), tt, vsz


def test_unigram_train_matches_python_reference(spark):
    """Three EM rounds on a corpus with genuinely competing
    segmentations (ban/band/ana overlap, repeated-char runs) must
    reproduce the pure-python hard-EM replay count-for-count."""
    from duva_spark.llm import unigram

    texts = [
        "banana bandana banana aaa",
        "ban and band banana aaa aaaa",
        "a an band bandana nab nab",
        # >16-char word: excluded from training by the word_cap contract
        "bananabandanabananaband nab",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    pieces, counts, tt, vsz = unigram.unigram_train(
        docs, max_len=4, n_seed=8, rounds=3
    )
    ref_counts, ref_tt, ref_vsz = _unigram_python_reference(texts, 4, 8, 3)
    assert counts == ref_counts
    assert (tt, vsz) == (ref_tt, ref_vsz)


def test_unigram_viterbi_prefers_longest_on_equal_scores(spark):
    """When two segmentations of a span score identically, the
    strictly-greater update keeps the earliest start = the longest
    final piece — pinned on the kernel DP and on the Column fold
    reference so both engines' tie rule stays explicit."""
    from reference_folds import viterbi_segment_fold, vocab_map_of

    from duva_spark.llm import unigram

    # lp('ab') == lp('a') + lp('b') exactly → 'ab' (earliest j) wins
    lp = {"a": -1.0, "b": -2.0, "ab": -3.0}
    assert unigram._viterbi_seg_py("ab", lp, 4) == ["ab"]
    assert unigram._viterbi_count_py("ab", lp, 4) == 1
    docs = spark.createDataFrame([(0, "ab")], ["doc_id", "text"])
    got = docs.select(
        viterbi_segment_fold(F.col("text"), vocab_map_of(lp), 4).alias("seg")
    ).collect()[0]["seg"]
    assert got == ["ab"]


def test_unigram_token_count_matches_full_backtrace(spark):
    """The slim (score, n_pieces) DP must count exactly what the full
    piece-array DP backtraces, including across score ties (same
    smallest-start rule), and return 0 for unsegmentable words — on
    the kernel's Python DP and on the Column fold reference alike,
    with the two agreeing piece-for-piece."""
    from reference_folds import (
        viterbi_segment_fold,
        viterbi_token_count_fold,
        vocab_map_of,
    )

    from duva_spark.llm import unigram

    words = ["ab", "abab", "aabba", "bbbb", "a", "abba", "xq"]
    lp = {"a": -1.0, "b": -2.0, "ab": -3.0, "ba": -2.5, "abb": -4.0}
    docs = spark.createDataFrame([(w,) for w in words], ["text"])
    m = vocab_map_of(lp)
    rows = docs.select(
        "text",
        viterbi_segment_fold(F.col("text"), m, 4).alias("seg"),
        viterbi_token_count_fold(F.col("text"), m, 4).alias("slim"),
    ).collect()
    for r in rows:
        seg_py = unigram._viterbi_seg_py(r["text"], lp, 4)
        count_py = unigram._viterbi_count_py(r["text"], lp, 4)
        assert list(r["seg"]) == seg_py, r
        assert r["slim"] == count_py == len(seg_py), r
        if r["text"] == "xq":  # 'x'/'q' not in vocab -> unsegmentable
            assert r["slim"] == 0
        else:
            assert r["slim"] > 0, r


def test_unigram_encode_census_shape(spark):
    """End-to-end train+encode on a tiny corpus: compression <= 1 (a
    piece is never shorter than a char), word_cap exclusion applies,
    and the whitespace-only doc yields the defined 0.0 row."""
    from duva_spark.llm import unigram

    docs = spark.createDataFrame(
        [
            (1, "spark spark streaming streaming spark"),
            (2, "spark absurdlylongtokenxyz"),  # >16 chars: excluded
            (3, "  "),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r
        for r in unigram.unigram_train_encode(
            docs, max_len=4, n_seed=8, rounds=2
        ).collect()
    }
    assert got[1]["n_words"] == 5
    assert 0 < got[1]["n_unigram_tokens"] <= got[1]["n_char_tokens"]
    assert got[1]["compression"] <= 1.0
    assert got[2]["n_words"] == 1  # the 21-char token fell to the cap
    assert got[3]["n_words"] == 0 and got[3]["compression"] == 0.0


@pytest.mark.slow
def test_unigram_arrow_and_fold_paths_are_value_identical(spark):
    """The Arrow kernels must equal the interpreted Column-fold
    references on a corpus with competing segmentations: the E-step
    recount (``estep_counts`` vs fold + explode + groupBy), the encode
    census, and the prune report's pruned pass. Training itself is
    pinned by test_unigram_train_matches_python_reference."""
    import math

    from reference_folds import (
        unigram_encode_counts_fold,
        viterbi_segment_fold,
        viterbi_token_count_fold,
        vocab_map_of,
    )

    from duva_spark.llm import unigram
    from duva_spark.llm.bpe import word_vocab
    from duva_spark.llm.hashed_lm import round_half_up

    docs = spark.createDataFrame(
        [
            (1, "banana bandana banana aaa"),
            (2, "ban and band banana aaa aaaa"),
            (3, "a an band bandana nab nab"),
            (4, "bananabandanabananaband nab"),  # >16-char word: capped
            (5, "  "),
        ],
        ["doc_id", "text"],
    )
    words = word_vocab(docs, "text").filter(F.length("w") <= 16)
    lp = unigram.unigram_trained_lp(docs, max_len=4, n_seed=8, rounds=2)

    kernel = sorted(map(tuple, unigram.estep_counts(words, lp, 4).collect()))
    fold = sorted(
        map(
            tuple,
            words.select(
                F.explode(viterbi_segment_fold(F.col("w"), vocab_map_of(lp), 4))
                .alias("piece"),
                "cnt",
            )
            .groupBy("piece")
            .agg(F.sum("cnt").alias("c"))
            .collect(),
        )
    )
    assert kernel == fold

    a = sorted(map(tuple, unigram.unigram_encode_counts(docs, lp).collect()))
    f = sorted(map(tuple, unigram_encode_counts_fold(docs, lp).collect()))
    assert a == f

    # the prune report's pruned pass, replayed through the fold
    pieces, counts, tt, _ = unigram.unigram_train(docs, max_len=4, n_seed=8, rounds=2)
    surv = [p for p in pieces if len(p) == 1 or counts.get(p, 0) * 1000 >= tt * 30]
    mass = sum(counts.get(p, 0) for p in surv)
    lp_p = {
        p: round_half_up(math.log((counts.get(p, 0) + 1) / (mass + len(surv))), 6)
        for p in surv
    }
    want = words.select(
        F.sum(
            F.col("cnt") * viterbi_token_count_fold(F.col("w"), vocab_map_of(lp_p), 4)
        ).alias("t")
    ).collect()[0]["t"]
    rows = {
        r["variant"]: r
        for r in unigram.unigram_prune_report(
            docs, max_len=4, n_seed=8, rounds=1, prune_permille=30
        ).collect()
    }
    assert rows["pruned"]["vocab_size"] == len(surv)
    assert rows["pruned"]["total_tokens"] == want


def test_sq8_decode_error_bounded_by_half_step(spark):
    """Quantize-dequantize error is at most half a quantization step
    (span/255/2, plus the 6-dp pre-round slack) per element; constant
    dimensions (span 0) decode exactly to their value."""
    from duva_spark.llm import pq

    rows = [
        (0, [0.0, -1.0, 7.5]),
        (1, [10.0, 1.0, 7.5]),
        (2, [3.3, 0.25, 7.5]),
        (3, [7.77, -0.6, 7.5]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    mns, sps = pq.sq8_bounds(emb, dim=3)
    assert mns == [0.0, -1.0, 7.5] and sps[2] == 0.0
    dec = {
        r["vec_id"]: r["dv"]
        for r in emb.select(
            "vec_id", pq.sq8_decode_expr(F.col("embedding"), mns, sps).alias("dv")
        ).collect()
    }
    for vid, vec in rows:
        for j, x in enumerate(vec):
            step = sps[j] / 255.0
            tol = step / 2 + 1e-4 if sps[j] > 0 else 1e-12
            assert abs(dec[vid][j] - x) <= tol, (vid, j, dec[vid][j], x)


def test_pq_encode_is_shuffle_free(spark):
    """PQ encoding must be m chained Arrow projections: no Join, no
    Window, no Exchange between the corpus scan and the code columns —
    the corpus never moves (the kmeans-assignment contract, lifted)."""
    import contextlib
    import io

    from duva_spark.llm import pq

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3)] * 4) for i in range(40)],
        ["vec_id", "embedding"],
    )
    books = pq.pq_train(emb, m=2, ksub=2, iters=1, dim=8)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pq.pq_encode(emb, books, dim=8).explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan and "Join" not in plan and "Window" not in plan


def test_pq_adc_recovers_cluster_structure(spark):
    """On well-separated per-subspace clusters PQ quantization is
    lossless, so ADC top-k must equal exact L2 top-k: vectors live at
    two centers per subspace with a tiny per-id jitter; every probe's
    nearest neighbors share its center pattern."""
    from duva_spark.llm import pq, similarity  # noqa: F401

    rows = []
    for i in range(24):
        pat = (i % 2, (i // 2) % 2)  # subspace center pattern
        v = []
        for s, p in enumerate(pat):
            base = 10.0 * p
            v += [base + 0.001 * i, base - 0.001 * i]
        rows.append((i, v))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    books = pq.pq_train(emb, m=2, ksub=4, iters=3, dim=4)
    codes = pq.pq_encode(emb, books, dim=4)
    probes = emb.filter(F.col("vec_id") < 4)
    got = pq.pq_adc_topk(codes, probes, books, k=3, dim=4).collect()
    assert len(got) == 12
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    for qid, nbrs in by_q.items():
        pat = (qid % 2, (qid // 2) % 2)
        for n in nbrs:
            assert (n % 2, (n // 2) % 2) == pat, (qid, n)


def test_pq_adc_probe_guard(spark):
    """The ADC distance tables are driver-built — an oversized probe set
    must refuse, not silently materialize."""
    from duva_spark.llm import pq

    emb = spark.createDataFrame(
        [(i, [float(i), float(i)]) for i in range(10)], ["vec_id", "embedding"]
    )
    books = pq.pq_train(emb, m=1, ksub=2, iters=1, dim=2)
    codes = pq.pq_encode(emb, books, dim=2)
    with pytest.raises(ValueError, match="max_probes"):
        pq.pq_adc_topk(codes, emb, books, k=2, dim=2, max_probes=4)


def test_residuals_subtract_assigned_centroid(spark):
    """residuals() must bucket each vector to its nearest (rounded)
    centroid and emit vec − that centroid, elementwise double."""
    from duva_spark.llm import pq

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [101.0, 99.0]), (2, [3.0, -1.0])],
        ["vec_id", "embedding"],
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [100.0, 100.0])], ["bucket", "centroid"]
    ).collect()
    got = {r["vec_id"]: r for r in pq.residuals(emb, cents).collect()}
    assert got[0]["bucket"] == 0 and got[0]["resid"] == [1.0, 2.0]
    assert got[1]["bucket"] == 1 and got[1]["resid"] == [1.0, -1.0]
    assert got[2]["bucket"] == 0 and got[2]["resid"] == [3.0, -1.0]


@pytest.mark.slow
def test_ivfpq_residual_recovers_fine_structure(spark):
    """With coarse buckets at 0/100 and fine sub-clusters at +0/+5
    inside each bucket, residual PQ must be lossless: every probe's
    top neighbors share BOTH its coarse bucket (nprobe=1) and its fine
    sub-cluster — the structure raw-vector codebooks straddling two
    coarse offsets would blur."""
    from duva_spark.llm import pq

    rows = []
    for i in range(24):
        f, c = i % 2, (i // 2) % 2
        v = [100.0 * c + 5.0 * f + 0.001 * i] * 4
        rows.append((i, v))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = spark.createDataFrame(
        [(0, [0.0] * 4), (1, [100.0] * 4)], ["bucket", "centroid"]
    ).collect()
    got = pq.ivfpq_residual_topk(
        emb, emb.filter(F.col("vec_id") < 4), cents,
        k=3, nprobe=1, dim=4, m=2, ksub=2, iters=2,
    ).collect()
    assert len(got) == 12
    for r in got:
        qf, qc = r.query_id % 2, (r.query_id // 2) % 2
        nf, nc = r.neighbor_id % 2, (r.neighbor_id // 2) % 2
        assert (nf, nc) == (qf, qc), (r.query_id, r.neighbor_id)


def _doremi_python_reference(rows, n_buckets, eta, smoothing, rounds):
    """Pure-python replay of the doremi_weights spec (hashed buckets via
    the same md5-60bit contract, Laplace LMs, per-round 6-dp excess,
    exponentiated-gradient update, 9-dp weights)."""
    import hashlib
    import math

    from duva_spark.llm.hashed_lm import round_half_up

    def bucket(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % n_buckets

    cnt, nd = {}, {}
    for d, text in rows:
        for w in text.split(" "):
            b = bucket(w)
            cnt[(d, b)] = cnt.get((d, b), 0) + 1
            nd[d] = nd.get(d, 0) + 1
    domains = sorted(nd)
    buckets = sorted({b for _, b in cnt})
    p = {
        (d, b): (cnt.get((d, b), 0) + 1) / (nd[d] + n_buckets)
        for d in domains
        for b in buckets
    }
    base = {
        d: round_half_up(
            -sum(cnt.get((d, b), 0) * math.log(p[(d, b)]) for b in buckets) / nd[d],
            6,
        )
        for d in domains
    }
    alpha = {d: 1.0 / len(domains) for d in domains}
    excess = {d: 0.0 for d in domains}
    for _ in range(rounds):
        q = {b: sum(alpha[d] * p[(d, b)] for d in domains) for b in buckets}
        mix = {
            d: round_half_up(
                -sum(cnt.get((d, b), 0) * math.log(q[b]) for b in buckets) / nd[d],
                6,
            )
            for d in domains
        }
        excess = {d: max(0.0, round_half_up(mix[d] - base[d], 6)) for d in domains}
        up = {d: alpha[d] * math.exp(eta * excess[d]) for d in domains}
        z = sum(up[d] for d in domains)
        alpha = {
            d: round_half_up(
                (1 - smoothing) * up[d] / z + smoothing / len(domains), 9
            )
            for d in domains
        }
    return [(d, base[d], excess[d], alpha[d]) for d in domains]


@pytest.mark.slow
def test_doremi_weights_match_python_reference(spark):
    from duva_spark.llm import hashed_lm

    rows = [
        ("web", "the cat sat on the mat with the hat"),
        ("web", "dogs and cats and hats and mats galore"),
        ("code", "def foo bar return foo bar baz qux"),
        ("code", "class foo init self return self value"),
        ("books", "once upon a time in a land far away"),
    ]
    df = spark.createDataFrame(rows, "lang string, text string")
    got = hashed_lm.doremi_weights(
        df, "lang", "text", n_buckets=64, eta=0.5, smoothing=0.1, rounds=3
    )
    want = _doremi_python_reference(rows, 64, 0.5, 0.1, 3)
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        for i in (1, 2, 3):
            assert g[i] == pytest.approx(w[i], abs=2e-9), (g, w)
    # weights are a smoothed distribution: sum to 1, floor at s/D
    ws = [g[3] for g in got]
    assert sum(ws) == pytest.approx(1.0, abs=1e-6)
    assert min(ws) >= 0.1 / len(ws) - 1e-9


def test_doremi_upweights_worst_modeled_domain(spark):
    """Two domains share a vocabulary (the mixture models each of them
    with ~2/3 of its own probability mass → excess ≈ ln 3/2); a third
    disjoint-vocabulary domain is modeled with only ~1/3 of its mass
    (excess ≈ ln 3) — the multiplicative-weights update must pull the
    badly-modeled domain ABOVE the well-modeled pair."""
    from duva_spark.llm import hashed_lm

    shared = "alpha beta gamma delta epsilon " * 4
    rows = (
        [("a", shared)] * 4
        + [("b", shared)] * 4
        + [("c", "zeta11 zeta22 zeta33 zeta44 zeta55 " * 4)] * 4
    )
    df = spark.createDataFrame(rows, "lang string, text string")
    got = {
        d: w
        for d, _, _, w in hashed_lm.doremi_weights(
            df, "lang", "text", n_buckets=128, rounds=3
        )
    }
    assert got["c"] > got["a"] and got["c"] > got["b"]
    assert got["c"] > 1 / 3  # above uniform


@pytest.mark.slow
def test_doremi_weight_curve_prefix_of_trajectory(spark):
    """The sensitivity curve runs ONE EG trajectory and snapshots it, so
    its rounds=3 slice must equal a standalone doremi_weights(rounds=3)
    run exactly, and each snapshot must be a distribution."""
    from duva_spark.llm import hashed_lm

    rows = [
        ("web", "the cat sat on the mat with the hat"),
        ("web", "dogs and cats and hats and mats galore"),
        ("code", "def foo bar return foo bar baz qux"),
        ("books", "once upon a time in a land far away"),
    ]
    df = spark.createDataFrame(rows, "lang string, text string")
    curve = {
        (r.rounds, r.domain): r.weight
        for r in hashed_lm.doremi_weight_curve(
            df, "lang", "text", n_buckets=64, snapshots=(1, 3)
        ).collect()
    }
    standalone = hashed_lm.doremi_weights(
        df, "lang", "text", n_buckets=64, rounds=3
    )
    for d, _, _, w in standalone:
        assert curve[(3, d)] == pytest.approx(w, abs=1e-12)
    for snap in (1, 3):
        ws = [v for (r, _), v in curve.items() if r == snap]
        assert sum(ws) == pytest.approx(1.0, abs=1e-6)


def test_dup_sentence_spans_merges_runs(spark):
    """Constructed corpus: docs 1 and 2 share two CONSECUTIVE sentences
    (one merged run of 2) and doc 3 shares only the first of them
    (a singleton run); doc 4 is all-unique."""
    from duva_spark.llm import dedup

    rows = [
        (1, "alpha beta the gamma delta the unique1 words1"),
        (2, "alpha beta the gamma delta the unique2 words2"),
        (3, "alpha beta the solo sentence here"),
        (4, "nothing shared the anywhere at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_sents, r.n_spans, r.covered_sents, r.sent_coverage)
        for r in dedup.dup_sentence_spans(df, "doc_id", "text").collect()
    }
    # docs 1/2: sentences [alpha beta][gamma delta][uniqueN wordsN] —
    # first two duplicated and adjacent → one span covering 2
    assert got[1] == (3, 1, 2, 0.666667)
    assert got[2] == (3, 1, 2, 0.666667)
    # doc 3: [alpha beta][solo sentence here] — one singleton dup span
    assert got[3] == (2, 1, 1, 0.5)
    assert got[4] == (2, 0, 0, 0.0)


def test_sentences_of_boundary_edges(spark):
    """Segmentation edge cases: leading/trailing/consecutive boundaries
    produce no empty segments, and a boundary-only text yields zero
    sentences (coverage reports 0.0, no division blowup)."""
    from duva_spark.llm import dedup

    df = spark.createDataFrame(
        [
            (1, "the alpha beta the"),
            (2, "the"),
            (3, "alpha the the beta"),
        ],
        "doc_id long, text string",
    )
    segs = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id", dedup.sentences_of("text").alias("s")
        ).collect()
    }
    assert segs[1] == ["alpha beta"]
    assert segs[2] == []
    # ' alpha the the beta ': non-overlapping split consumes the first
    # ' the '; the second 'the' survives inside the next segment — a
    # documented quirk of the literal-split boundary, identical on both
    # engines
    assert segs[3] == ["alpha", "the beta"]
    out = {
        r.doc_id: (r.n_sents, r.sent_coverage)
        for r in dedup.dup_sentence_spans(df, "doc_id", "text").collect()
    }
    assert out[2] == (0, 0.0)


@pytest.mark.slow
def test_rplsh_grid_matches_single_runs(spark):
    """One-pass grid vs independent rplsh_topk runs at each (tables,
    bits) point — the prefix-mask/prefix-table nesting must reproduce
    every single-run result exactly."""
    from duva_spark.llm import similarity

    emb = spark.createDataFrame(
        [
            (i, [((i * 7 + j * 13) % 19 - 9.0) / 9.0 for j in range(8)])
            for i in range(60)
        ],
        ["vec_id", "embedding"],
    )
    probes = emb.filter(F.col("vec_id") < 3)
    grid = [(2, 3), (4, 3), (4, 5)]
    got = similarity.rplsh_topk_grid(emb, probes, grid, dim=8, k=4)
    for t, b in grid:
        g = sorted(
            (r.query_id, r.neighbor_id, r.cosine_sim, r.rank)
            for r in got.filter(
                (F.col("n_tables") == t) & (F.col("n_bits") == b)
            ).collect()
        )
        single = sorted(
            (r.query_id, r.neighbor_id, r.cosine_sim, r.rank)
            for r in similarity.rplsh_topk(
                emb, probes, dim=8, n_bits=b, k=4, seed=0, n_tables=t
            ).collect()
        )
        assert g == single, (t, b)


def test_bpe_encode_is_scan_only_and_matches_python(spark):
    """Encoding under trained rules is a pure projection (no Exchange,
    no Join in the plan), and per-word sequences equal the python scan
    reference applied rule-by-rule in training order."""
    import contextlib
    import io

    from duva_spark.llm import bpe

    rules = [(1, "a", "b", "ab", 9), (2, "ab", "c", "abc", 5), (3, "d", "d", "dd", 3)]
    df = spark.createDataFrame(
        [(1, "abc abdd ddd xyz"), (2, "ababc ddabc")], "doc_id long, text string"
    )
    out = bpe.encode_token_counts(df, rules)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan and "Join" not in plan

    def enc(word):
        syms = list(word)
        for _, a, b, _, _ in rules:
            syms = _bpe_greedy_python(syms, a, b)
        return syms

    got = {r.doc_id: (r.n_words, r.n_char_tokens, r.n_bpe_tokens) for r in out.collect()}
    for doc_id, text in [(1, "abc abdd ddd xyz"), (2, "ababc ddabc")]:
        words = text.split(" ")
        want = (
            len(words),
            sum(len(w) for w in words),
            sum(len(enc(w)) for w in words),
        )
        assert got[doc_id] == want, (doc_id, got[doc_id], want)


@pytest.mark.slow
def test_ivfpq_candidates_respect_probed_buckets(spark):
    """IVF-PQ must rank ONLY members of the query's nprobe nearest
    buckets: with two well-separated clusters and nprobe=1, every
    returned neighbor shares the query's cluster; with nprobe=2 the
    candidate set widens to both."""
    from duva_spark.llm import pq, similarity

    rows = []
    for i in range(20):
        side = i % 2
        base = 100.0 * side
        rows.append((i, [base + 0.01 * i] * 8, side))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    cent = similarity.label_centroids(emb)
    crows = cent.select(
        F.col("label").cast("int").alias("bucket"), "centroid"
    ).collect()
    books = pq.pq_train(emb, m=2, ksub=4, iters=2, dim=8)
    probes = emb.filter(F.col("vec_id") < 2)
    near = pq.ivfpq_topk(emb, probes, crows, books, k=3, nprobe=1, dim=8).collect()
    assert len(near) == 6
    for r in near:
        assert r.neighbor_id % 2 == r.query_id % 2, tuple(r)
    wide = pq.ivfpq_topk(emb, probes, crows, books, k=19, nprobe=2, dim=8).collect()
    # with both buckets probed every other vector is a candidate
    assert {(r.query_id, r.neighbor_id) for r in wide} == {
        (q, n) for q in (0, 1) for n in range(20) if n != q
    }


@pytest.mark.slow
def test_gopher_repetition_matches_python_reference(spark):
    """The repetition battery vs a brute-force reference: top-n-gram
    char fraction (count-desc, lexicographic-gram tie), overlap-safe
    duplicate n-gram position coverage, short-doc and empty-doc
    edges."""
    from duva_spark.llm.textstats import (
        GOPHER_DUP_NGRAM_MAX,
        GOPHER_TOP_NGRAM_MAX,
        gopher_repetition,
    )

    texts = [
        # overlapping duplicate 5-grams: the run of 9 'p's
        "one two three four five p p p p p p p p p tail",
        # a repeated 6-word phrase (non-overlapping duplicates)
        "aa bb cc dd ee ff gg " * 3 + "zz yy xx ww vv uu",
        # shorter than every dup-n, still has 2/3/4-grams
        "tiny doc here",
        # shorter than every n
        "solo",
        "",
    ]
    docs = [(i, t.strip()) for i, t in enumerate(texts)]
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_repetition(
            spark.createDataFrame(docs, ["doc_id", "text"])
        ).collect()
    }

    for doc_id, text in docs:
        words = text.split(" ")
        wchars = sum(len(w) for w in words)
        want = {"n_words": len(words), "word_chars": wchars}
        for n, thr in sorted(GOPHER_TOP_NGRAM_MAX.items()):
            grams = [tuple(words[i : i + n]) for i in range(len(words) - n + 1)]
            if grams and wchars:
                from collections import Counter

                c = Counter(grams)
                best = min(c, key=lambda g: (-c[g], " ".join(g)))
                want[f"top_frac_{n}"] = round(
                    c[best] * sum(len(w) for w in best) / wchars, 6
                )
            else:
                want[f"top_frac_{n}"] = 0.0
        for n, thr in sorted(GOPHER_DUP_NGRAM_MAX.items()):
            grams = [tuple(words[i : i + n]) for i in range(len(words) - n + 1)]
            from collections import Counter

            c = Counter(grams)
            covered = set()
            for i, g in enumerate(grams):
                if c[g] >= 2:
                    covered.update(range(i, i + n))
            want[f"dup_frac_{n}"] = (
                round(sum(len(words[i]) for i in covered) / wchars, 6)
                if wchars
                else 0.0
            )
        want["pass_repetition"] = all(
            want[f"top_frac_{n}"] <= t for n, t in GOPHER_TOP_NGRAM_MAX.items()
        ) and all(
            want[f"dup_frac_{n}"] <= t for n, t in GOPHER_DUP_NGRAM_MAX.items()
        )
        g = got[doc_id]
        for k, v in want.items():
            assert g[k] == v, (doc_id, k, g[k], v)


@pytest.mark.slow
def test_logreg_train_matches_python_reference(spark):
    """Full GD replay in pure python with the identical rounding spec
    (6-dp margins/gradients, 9-dp half-up weights, clamped sigmoid,
    train/holdout split) must reproduce every learning-curve row."""
    import hashlib
    import math

    from duva_spark.llm.hashed_lm import round_half_up
    from duva_spark.llm.logreg import logreg_train

    B, ETA, T, HOLD = 16, 4.0, 4, 30

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    rows = []
    for i in range(40):
        words = [f"w{(i * 7 + j) % 23}" for j in range(5 + (i % 9))]
        rows.append((i, " ".join(words), i % 3 != 0))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "y"])
    got, wfin = logreg_train(
        docs, "doc_id", "y", "text", n_buckets=B, eta=ETA, rounds=T, holdout_pct=HOLD
    )

    feats, labels, hs = {}, {}, {}
    for i, text, y in rows:
        ws = text.split(" ")
        f = {-1: 1.0, -2: len(ws) / 100.0}
        for w in ws:
            b = h60(w) % B
            f[b] = f.get(b, 0.0) + 1.0 / len(ws)
        feats[i], labels[i], hs[i] = f, y, h60(str(i)) % 100
    train = [i for i in feats if hs[i] >= HOLD]
    w = {b: 0.0 for b in range(-2, B)}
    want = []
    for t in range(T):
        z = {
            i: round(sum(w[b] * x for b, x in sorted(f.items())), 6)
            for i, f in feats.items()
        }
        p = {
            i: min(max(round(1.0 / (1.0 + math.exp(-zz)), 6), 1e-6), 1 - 1e-6)
            for i, zz in z.items()
        }
        loss = round(
            -sum(
                math.log(p[i]) if labels[i] else math.log(1 - p[i]) for i in train
            )
            / len(train),
            6,
        )
        hold = [i for i in feats if hs[i] < HOLD]
        acc = round(
            sum(1.0 for i in hold if (z[i] > 0) == labels[i]) / len(hold), 6
        )
        want.append((t, loss, acc))
        if t == T - 1:
            break
        g = {}
        for i in train:
            for b, x in feats[i].items():
                g[b] = g.get(b, 0.0) + (p[i] - (1.0 if labels[i] else 0.0)) * x
        g = {b: round(v / len(train), 6) for b, v in g.items()}
        w = {b: round_half_up(wv - ETA * g.get(b, 0.0), 9) for b, wv in w.items()}
    assert got == want, (got, want)


@pytest.mark.slow
def test_bpe_encode_oracle_survives_early_vocab_exhaustion(spark):
    """When the vocabulary fully merges before 8 rounds, the operator
    breaks early; the oracle's chr(1) sentinel rounds must behave as
    exact no-ops (not empty every downstream CTE) so both sides still
    agree — including a (0, 0, 0, 0.0) row for an empty document."""
    import duckdb

    from duva_spark.llm import bpe
    from duva_spark.queries import load_all

    rows = [(0, "ab ab ab"), (1, "ab cd"), (2, "")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    rules = bpe.bpe_train(docs, "text", n_merges=8)
    assert len(rules) == 2  # ab, cd — then no pairs remain
    got = {
        r["doc_id"]: (r["n_words"], r["n_char_tokens"], r["n_bpe_tokens"], r["compression"])
        for r in bpe.encode_token_counts(docs, rules).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES"
        " (0, 'ab ab ab'), (1, 'ab cd'), (2, '')) t(doc_id, text)"
    )
    q = load_all()["q_bpe_encode"]
    want = {r[0]: (r[1], r[2], r[3], r[4]) for r in con.execute(q.oracle).fetchall()}
    assert got == want, (got, want)
    tr = load_all()["q_bpe_train_merges"]
    merges = con.execute(tr.oracle).fetchall()
    assert [(m[0], m[1], m[2]) for m in merges] == [(1, "a", "b"), (2, "c", "d")]


@pytest.mark.slow
def test_auc_known_values(spark):
    """Tie-averaged Mann-Whitney AUC against hand-computed cases:
    perfect ranking -> 1.0, anti-ranking -> 0.0, all-tied -> 0.5."""
    from duva_spark.llm import evals

    perfect = spark.createDataFrame(
        [(0.9, True), (0.8, True), (0.2, False), (0.1, False)], ["p", "y"]
    )
    assert evals.auc_frame(perfect).collect()[0]["auc"] == 1.0
    inverted = spark.createDataFrame(
        [(0.1, True), (0.2, True), (0.8, False), (0.9, False)], ["p", "y"]
    )
    assert evals.auc_frame(inverted).collect()[0]["auc"] == 0.0
    tied = spark.createDataFrame(
        [(0.5, True), (0.5, True), (0.5, False), (0.5, False)], ["p", "y"]
    )
    assert evals.auc_frame(tied).collect()[0]["auc"] == 0.5
    # mixed case vs sklearn-style hand calc: pos={0.9,0.5}, neg={0.5,0.1}
    # pairs: (0.9>0.5)=1, (0.9>0.1)=1, (0.5=0.5)=0.5, (0.5>0.1)=1 -> 3.5/4
    mixed = spark.createDataFrame(
        [(0.9, True), (0.5, True), (0.5, False), (0.1, False)], ["p", "y"]
    )
    assert evals.auc_frame(mixed).collect()[0]["auc"] == 0.875


def test_auc_empty_class_is_null(spark):
    from duva_spark.llm import evals

    one_class = spark.createDataFrame([(0.9, True), (0.1, True)], ["p", "y"])
    row = evals.auc_frame(one_class).collect()[0]
    assert row["auc"] is None and row["n_neg"] == 0


def test_calibration_bins_clamp_and_rates(spark):
    from duva_spark.llm import evals

    rows = [(0.05, False), (0.05, True), (0.95, True), (1.0, True), (0.999999, True)]
    df = spark.createDataFrame(rows, ["p", "y"])
    got = {r["bin"]: r for r in evals.calibration_bins(df, "m").collect()}
    assert got[0]["n"] == 2 and got[0]["frac_pos"] == 0.5
    # p = 1.0 and 0.999999 clamp into the last bin with 0.95
    assert got[9]["n"] == 3 and got[9]["frac_pos"] == 1.0
    assert all(r["model"] == "m" for r in got.values())


def test_logreg_degenerate_split_raises(spark):
    """All docs hashing into one side of the split must fail loudly,
    not divide by zero (r7 ADVICE item)."""
    from duva_spark.llm import logreg

    docs = spark.createDataFrame(
        [(1, "a b c", True), (2, "d e f", False)], ["doc_id", "text", "y"]
    )
    with pytest.raises(ValueError, match="degenerate split"):
        logreg.logreg_train(docs, "doc_id", "y", "text", holdout_pct=0)


@pytest.mark.slow
def test_gopher_repetition_arrow_equals_codegen(spark):
    """The Arrow kernel and the Column HOF fold reference must be
    value-identical on adversarial docs (ties between grams,
    overlapping duplicate runs, short docs below every n, empty-ish
    docs)."""
    from reference_folds import gopher_repetition_fold

    from duva_spark.llm import textstats

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b c d e f g h i j"),             # bigram reps
            (2, "x y z " * 4 + "q r s t u v w"),            # overlapping dups
            (3, "one two"),                                  # below n for most
            (4, "solo"),                                     # single word
            (5, "t t t t t t t t t t t t"),                  # degenerate runs
            (6, "aa bb aa bb cc aa bb aa bb cc dd ee ff gg"),  # tie candidates
            (7, "zz y zz y a bbb a bbb"),  # count tie, different gram lengths
        ],
        ["doc_id", "text"],
    )
    a = [r.asDict() for r in gopher_repetition_fold(docs).orderBy("doc_id").collect()]
    b = [r.asDict() for r in textstats.gopher_repetition(docs).orderBy("doc_id").collect()]
    assert a == b


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram LM (r8)
# ---------------------------------------------------------------------------


def _kn_python_reference(docs, d_disc=0.75):
    """Pure-python replay of the q_kneser_ney_nll spec: 70% md5 hash
    split, absolute-discount bigram probability interpolated with the
    continuation unigram, add-one floor for unseen continuations,
    per-language census of 6-dp per-doc average NLLs."""
    import hashlib
    import math
    from collections import Counter, defaultdict

    def h100(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 100

    ucnt, bcnt = Counter(), Counter()
    for doc_id, lang, text in docs:
        if h100(doc_id) < 70:
            ws = text.split(" ")
            ucnt.update(ws)
            bcnt.update(zip(ws, ws[1:]))
    cc, n1p, cont = Counter(), Counter(), Counter()
    for (w1, w2), c in bcnt.items():
        cc[w1] += c
        n1p[w1] += 1
        cont[w2] += 1
    bt, v = float(len(bcnt)), float(len(ucnt))
    per_lang = defaultdict(list)
    rates = defaultdict(lambda: [0.0, 0.0, 0.0])  # ub, uc, nt
    for doc_id, lang, text in docs:
        if h100(doc_id) < 70:
            continue
        ws = text.split(" ")
        if len(ws) < 2:
            continue
        nlls = []
        for w1, w2 in zip(ws, ws[1:]):
            pcont = (cont.get(w2, 0) + 1) / (bt + v)
            if w1 not in cc:
                p = pcont
                rates[lang][1] += 1
            else:
                first = (bcnt[(w1, w2)] - d_disc) / cc[w1] if (w1, w2) in bcnt else 0.0
                p = first + (d_disc * n1p[w1] / cc[w1]) * pcont
            if (w1, w2) not in bcnt:
                rates[lang][0] += 1
            rates[lang][2] += 1
            nlls.append(-math.log(p))
        per_lang[lang].append(round(sum(nlls) / len(nlls), 6))
    return {
        lang: (
            len(vals),
            round(sum(vals) / len(vals), 6),
            round(rates[lang][0] / rates[lang][2], 6),
            round(rates[lang][1] / rates[lang][2], 6),
        )
        for lang, vals in per_lang.items()
    }


@pytest.mark.slow
def test_kneser_ney_matches_python_reference(spark, sf_dir):
    from duva_spark.queries import load_all

    q = load_all()["q_kneser_ney_nll"]
    got = {
        r.lang: (r.n_docs, r.mean_doc_nll, r.unseen_bigram_rate, r.unseen_ctx_rate)
        for r in q.fn(spark, sf_dir).collect()
    }
    docs = [
        (r.doc_id, r.lang, r.text)
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang", "text")
        .collect()
    ]
    want = _kn_python_reference(docs)
    assert set(got) == set(want)
    for lang in got:
        assert got[lang][0] == want[lang][0], lang
        for i in (1, 2, 3):
            assert got[lang][i] == pytest.approx(want[lang][i], abs=2e-6), (lang, i)


def test_kneser_ney_discount_conserves_mass(spark, sf_dir):
    """For every SEEN context w1, sum over the full seen-vocab of
    P_KN(w2|w1) must be ~1 when the continuation distribution is not
    floored (exact KN conserves the discounted mass). Verified on one
    high-frequency context from the corpus via the python replay."""
    import hashlib
    from collections import Counter

    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )

    def h100(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 100

    bcnt = Counter()
    for r in rows:
        if h100(r.doc_id) < 70:
            ws = r.text.split(" ")
            bcnt.update(zip(ws, ws[1:]))
    cc, n1p, cont = Counter(), Counter(), Counter()
    for (w1, w2), c in bcnt.items():
        cc[w1] += c
        n1p[w1] += 1
        cont[w2] += 1
    bt = float(len(bcnt))
    w1 = cc.most_common(1)[0][0]
    # un-floored continuation: P_cont(w2) = cont/bt over observed w2s
    total = sum(
        (max(bcnt.get((w1, w2), 0) - 0.75, 0.0)) / cc[w1]
        + (0.75 * n1p[w1] / cc[w1]) * (cont[w2] / bt)
        for w2 in cont
    )
    assert total == pytest.approx(1.0, abs=1e-9)


# ---------------------------------------------------------------------------
# Multi-probe LSH (r8)
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_multiprobe_shells_nest_and_recall_monotone(spark, sf_dir):
    """Each radius level's candidate set must contain every smaller
    level's (whole Hamming shells nest by construction), so per-query
    n_cand and recall are non-decreasing in the radius; radius-2
    candidates at 2 tables must also beat plain radius-0 LSH recall on
    aggregate (the probes-for-tables pitch)."""
    from duva_spark.queries import load_all

    rows = load_all()["q_rplsh_multiprobe_recall"].fn(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, {})[r.radius] = (r.n_cand, r.recall_at_5)
    assert by_q and all(set(v) == {0, 1, 2} for v in by_q.values())
    for q, v in by_q.items():
        assert v[0][0] <= v[1][0] <= v[2][0], q
        assert v[0][1] <= v[1][1] <= v[2][1], q
    mean0 = sum(v[0][1] for v in by_q.values()) / len(by_q)
    mean2 = sum(v[2][1] for v in by_q.values()) / len(by_q)
    assert mean2 > mean0


def test_probe_masks_complete_shells():
    from duva_spark.llm.similarity import probe_masks

    masks = probe_masks(6, 2)
    assert len(masks) == 1 + 6 + 15
    for m, r in masks:
        assert bin(m).count("1") == r
    assert len({m for m, _ in masks}) == len(masks)
    with pytest.raises(ValueError):
        probe_masks(6, 3)


# ---------------------------------------------------------------------------
# Fold-wise CV AUC (r8)
# ---------------------------------------------------------------------------


def test_auc_by_group_matches_auc_frame_per_group(spark):
    """auc_by_group restricted to one group must equal auc_frame on
    that group's rows — the generalization cannot drift from the
    verified single-frame statistic."""
    from duva_spark.llm import evals

    rows = [
        (g, round(0.05 * i + 0.1 * g, 6), (i * 7 + g) % 3 == 0)
        for g in range(3)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "grp int, p double, y boolean")
    grouped = {
        r.grp: (r.n_pos, r.n_neg, r.auc)
        for r in evals.auc_by_group(df, "grp").collect()
    }
    for g in range(3):
        single = evals.auc_frame(df.filter(F.col("grp") == g)).collect()[0]
        assert grouped[g] == (single.n_pos, single.n_neg, single.auc), g


@pytest.mark.slow
def test_lr_auc_cv_summary_row(spark, sf_dir):
    from duva_spark.queries import load_all

    rows = load_all()["q_lr_auc_cv"].fn(spark, sf_dir).collect()
    folds = [r for r in rows if r.fold >= 0]
    summ = [r for r in rows if r.fold == -1]
    assert len(summ) == 1 and len(folds) == 3
    assert summ[0].n_pos == sum(r.n_pos for r in folds)
    assert summ[0].n_neg == sum(r.n_neg for r in folds)
    aucs = [r.auc for r in folds if r.auc is not None]
    assert aucs and summ[0].auc == pytest.approx(sum(aucs) / len(aucs), abs=1e-6)
    # each fold AUC must be a meaningful ranking signal on this corpus
    assert all(a > 0.6 for a in aucs)


# ---------------------------------------------------------------------------
# Exact-integer Spearman (r8)
# ---------------------------------------------------------------------------


def test_spearman_matches_scipy_free_reference(spark):
    """spearman_pairs must reproduce the classic tie-averaged Spearman
    (Pearson on average ranks) computed by a pure-python reference,
    including heavy ties."""
    from duva_spark.llm import evals

    rows = [
        (i, float(i % 7), round((i * 3) % 11 + 0.5 * (i % 2), 6), float(i))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, a double, b double, c double")

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
                j += 1
            r = (i + j) / 2 + 1
            for t in range(i, j + 1):
                ranks[order[t]] = r
            i = j + 1
        return ranks

    def rho(x, y):
        rx, ry = avg_ranks(x), avg_ranks(y)
        n = len(x)
        mx, my = sum(rx) / n, sum(ry) / n
        num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
        vx = sum((a - mx) ** 2 for a in rx)
        vy = sum((b - my) ** 2 for b in ry)
        return num / (vx**0.5 * vy**0.5)

    got = {
        (r.sig_a, r.sig_b): r.rho
        for r in evals.spearman_pairs(df, ["a", "b", "c"]).collect()
    }
    cols = {"a": [r[1] for r in rows], "b": [r[2] for r in rows], "c": [r[3] for r in rows]}
    for (a, b), v in got.items():
        assert v == pytest.approx(rho(cols[a], cols[b]), abs=1e-6), (a, b)


def test_spearman_constant_signal_null_rho(spark):
    from duva_spark.llm import evals

    df = spark.createDataFrame(
        [(i, 1.0, float(i)) for i in range(10)], "doc_id long, a double, b double"
    )
    row = evals.spearman_pairs(df, ["a", "b"]).collect()[0]
    assert row.rho is None  # zero variance -> undefined, not a crash


# ---------------------------------------------------------------------------
# Domain-divergence matrix (r8)
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_domain_divergence_information_inequalities(spark, sf_dir):
    """Gibbs' inequality end-to-end: KL(a||b) >= 0 with equality only
    on the diagonal; cross-entropy(a,b) >= entropy(a) (= the diagonal
    CE); and the matrix is complete over the source universe."""
    from duva_spark.queries import load_all

    rows = load_all()["q_domain_divergence"].fn(spark, sf_dir).collect()
    sources = {r.src_a for r in rows}
    assert len(rows) == len(sources) ** 2
    kl = {(r.src_a, r.src_b): r.kl_nats for r in rows}
    ce = {(r.src_a, r.src_b): r.cross_entropy_nats for r in rows}
    for (a, b), v in kl.items():
        if a == b:
            assert abs(v) <= 1e-6, (a, b)
        else:
            assert v > 0, (a, b)
        # CE(a,b) = H(a) + KL(a||b), so the identity must hold exactly
        # on the 1e-6 grid
        assert ce[(a, b)] == pytest.approx(ce[(a, a)] + v, abs=5e-6), (a, b)


@pytest.mark.slow
def test_simhash_radius_curve_monotone(spark, sf_dir):
    """Radius levels nest: candidates and true hits are non-decreasing
    in the radius, recall is monotone, and every level reads the same
    ground-truth total."""
    from duva_spark.queries import load_all

    rows = sorted(
        load_all()["q_simhash_radius_curve"].fn(spark, sf_dir).collect(),
        key=lambda r: r.max_hamming,
    )
    assert [r.max_hamming for r in rows] == [0, 1, 2, 3]
    assert len({r.n_true_total for r in rows}) == 1
    for a, b in zip(rows, rows[1:]):
        assert a.n_candidates <= b.n_candidates
        assert a.n_true <= b.n_true
        assert a.pair_recall <= b.pair_recall


# ---------------------------------------------------------------------------
# Unigram vocab prune (r8)
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_unigram_prune_report_invariants(spark, sf_dir):
    from duva_spark.queries import load_all

    rows = {
        r.variant: r for r in load_all()["q_unigram_prune"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == {"full", "pruned"}
    f, p = rows["full"], rows["pruned"]
    assert p.vocab_size < f.vocab_size  # the seed over-allocates; prune must bite
    # dropping pieces can never make segmentations shorter: Viterbi under
    # the pruned model re-spends the same words over fewer choices
    assert p.total_tokens >= f.total_tokens
    assert p.tokens_per_word >= f.tokens_per_word
    assert f.total_tokens > 0 and p.total_tokens > 0


@pytest.mark.slow
def test_unigram_prune_threshold_zero_is_identity(spark):
    """With prune_permille=0 every piece survives (0.1%-of-mass floor
    drops to zero), so the pruned row must reproduce the full row's
    token totals exactly."""
    from duva_spark.llm import unigram

    docs = spark.createDataFrame(
        [(i, "spark table query engine data " * 3) for i in range(20)],
        "doc_id long, text string",
    )
    rows = {
        r.variant: r
        for r in unigram.unigram_prune_report(
            docs, n_seed=8, prune_permille=0
        ).collect()
    }
    assert rows["pruned"].vocab_size == rows["full"].vocab_size
    assert rows["pruned"].total_tokens == rows["full"].total_tokens


# ---------------------------------------------------------------------------
# Soft dedup + Platt scaling (r8)
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_soft_dedup_weights_bounds(spark, sf_dir):
    """Effective chars are bounded by raw chars (weights <= 1), equal
    exactly when a source has no duplicate members, and the per-source
    doc totals match the raw table."""
    from duva_spark.queries import load_all

    rows = load_all()["q_soft_dedup_weights"].fn(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    totals = {
        r.source: (r.n, r.chars)
        for r in docs.groupBy("source")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("chars"))
        .collect()
    }
    assert {r.source for r in rows} == set(totals)
    for r in rows:
        assert (r.n_docs, r.raw_chars) == totals[r.source]
        assert r.effective_chars <= r.raw_chars + 1e-6
        assert 0 < r.effective_ratio <= 1.0
        if r.n_dup_members == 0:
            assert r.effective_chars == pytest.approx(r.raw_chars, abs=1e-6)
        else:
            assert r.effective_chars < r.raw_chars


@pytest.mark.slow
def test_platt_scaling_improves_calibration(spark, sf_dir):
    """At the (1, 0) init the model IS the raw NB (round 0 equals the
    round=-1 raw row up to q-rounding), and descent must strictly
    improve the CALIBRATION loss by the final round; the test loss —
    never touched by the fit — must improve too on this corpus."""
    from duva_spark.queries import load_all

    rows = {r.round: r for r in load_all()["q_platt_scaling"].fn(spark, sf_dir).collect()}
    raw, first = rows[-1], rows[0]
    last = rows[max(k for k in rows if k >= 0)]
    assert first.a == 1.0 and first.b == 0.0
    assert first.calib_loss == pytest.approx(raw.calib_loss, abs=1e-5)
    assert last.calib_loss < raw.calib_loss
    assert last.test_loss < raw.test_loss


def test_fuzzy_decontamination_flags_planted_near_dup(spark):
    """A training doc that lightly paraphrases an eval doc (way past
    exact-gram matching but J >= 0.7 on shingles) must be flagged;
    unrelated docs must not. Eval membership: md5-hash60 % 20 == 7."""
    import hashlib

    from duva_spark.llm import minhash as mh
    from pyspark.sql import functions as F

    def h(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 20

    eval_id = next(i for i in range(1000) if h(i) == 7)
    ids = [i for i in range(1000) if h(i) != 7][:2]
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base + " extra"  # shares almost every 3-shingle
    far = "completely different words about spark tables and shuffles here"
    docs = spark.createDataFrame(
        [(eval_id, base, "s"), (ids[0], near, "s"), (ids[1], far, "s")],
        "doc_id long, text string, source string",
    )
    hcol = mh.md5_hash60(F.col("doc_id").cast("string"))
    pairs = mh.incremental_pairs(
        docs.filter(~((hcol % 20) == 7)),
        docs.filter((hcol % 20) == 7),
        "doc_id", "text", threshold=0.7,
    ).collect()
    flagged = {r.new_id for r in pairs}
    assert ids[0] in flagged
    assert ids[1] not in flagged


def test_rendezvous_resharding_stability(spark, sf_dir):
    """HRW must move roughly 1/(S+1) of docs on a grow-by-one reshard
    while modulo moves nearly everything — and every moved HRW doc
    must have moved TO the new shard (monotonicity: old weights are
    untouched, so a change can only crown shard S)."""
    from duva_spark.queries import load_all
    from duva_spark.queries.pipeline_q import _RDV_S

    rows = {r.scheme: r for r in
            load_all()["q_rendezvous_resharding"].fn(spark, sf_dir).collect()}
    assert rows["modulo"].moved_fraction > 0.8
    exp = 1.0 / (_RDV_S + 1)
    assert 0.3 * exp < rows["rendezvous"].moved_fraction < 3.0 * exp
    assert rows["rendezvous"].n_moved < rows["modulo"].n_moved


@pytest.mark.slow
def test_lr_data_curve_invariants(spark, sf_dir):
    from duva_spark.queries import load_all

    rows = sorted(
        load_all()["q_lr_data_curve"].fn(spark, sf_dir).collect(),
        key=lambda r: r.train_frac,
    )
    assert [r.train_frac for r in rows] == [0.2, 0.5, 1.0]
    assert rows[0].n_train < rows[1].n_train < rows[2].n_train
    for r in rows:
        assert r.auc is not None and r.auc > 0.6
        assert 0.5 < r.holdout_acc <= 1.0


def _kn3_python_reference(docs, d_disc=0.75):
    """Pure-python replay of q_kneser_ney_trigram: recursive
    interpolated KN at order 3 with the same fallback chain and
    add-one continuation floor."""
    import hashlib
    import math
    from collections import Counter, defaultdict

    def h100(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 100

    bcnt, t3 = Counter(), Counter()
    for doc_id, lang, text in docs:
        if h100(doc_id) < 70:
            ws = text.split(" ")
            bcnt.update(zip(ws, ws[1:]))
            t3.update(zip(ws, ws[1:], ws[2:]))
    ucnt = Counter()
    for doc_id, lang, text in docs:
        if h100(doc_id) < 70:
            ucnt.update(text.split(" "))
    cont, n1p2 = Counter(), Counter()
    for (w1, w2), c in bcnt.items():
        cont[w2] += 1
        n1p2[w1] += 1
    cc12, n1p12, mid, c23 = Counter(), Counter(), Counter(), Counter()
    for (w1, w2, w3), c in t3.items():
        cc12[(w1, w2)] += c
        n1p12[(w1, w2)] += 1
        mid[w2] += 1
        c23[(w2, w3)] += 1
    bt, v = float(len(bcnt)), float(len(ucnt))
    per_lang = defaultdict(list)
    for doc_id, lang, text in docs:
        if h100(doc_id) < 70:
            continue
        ws = text.split(" ")
        if len(ws) < 3:
            continue
        nlls = []
        for tri in zip(ws, ws[1:], ws[2:]):
            w1, w2, w3 = tri
            pc = (cont.get(w3, 0) + 1) / (bt + v)
            if w2 not in mid:
                pk2 = pc
            else:
                first = (
                    (c23[(w2, w3)] - d_disc) / mid[w2]
                    if (w2, w3) in c23
                    else 0.0
                )
                pk2 = first + (d_disc * n1p2[w2] / mid[w2]) * pc
            if (w1, w2) not in cc12:
                p = pk2
            else:
                first = (t3[tri] - d_disc) / cc12[(w1, w2)] if tri in t3 else 0.0
                p = first + (d_disc * n1p12[(w1, w2)] / cc12[(w1, w2)]) * pk2
            nlls.append(-math.log(p))
        per_lang[lang].append(round(sum(nlls) / len(nlls), 6))
    return {
        lang: (len(vs), round(sum(vs) / len(vs), 6)) for lang, vs in per_lang.items()
    }


def test_kneser_ney_trigram_matches_python_reference(spark, sf_dir):
    from duva_spark.queries import load_all

    got = {
        r.lang: (r.n_docs, r.mean_doc_nll)
        for r in load_all()["q_kneser_ney_trigram"].fn(spark, sf_dir).collect()
    }
    docs = [
        (r.doc_id, r.lang, r.text)
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang", "text")
        .collect()
    ]
    want = _kn3_python_reference(docs)
    assert set(got) == set(want)
    for lang in got:
        assert got[lang][0] == want[lang][0], lang
        assert got[lang][1] == pytest.approx(want[lang][1], abs=2e-6), lang


def test_kn_trigram_sparser_than_bigram(spark, sf_dir):
    """Trigram coverage saturates sooner: the unseen-trigram rate must
    exceed the bigram query's unseen-bigram rate on the same split."""
    from duva_spark.queries import load_all

    reg = load_all()
    tri = {r.lang: r.unseen_trigram_rate
           for r in reg["q_kneser_ney_trigram"].fn(spark, sf_dir).collect()}
    bi = {r.lang: r.unseen_bigram_rate
          for r in reg["q_kneser_ney_nll"].fn(spark, sf_dir).collect()}
    common = set(tri) & set(bi)
    assert common
    assert sum(tri[x] for x in common) > sum(bi[x] for x in common)


@pytest.mark.slow
def test_trained_ivf_recall_matches_or_beats_label_buckets(spark, sf_dir):
    """The k-means-trained coarse quantizer (FAISS's construction) must
    match or beat the label-derived buckets on macro recall@5 at equal
    nlist/nprobe — the r9 fidelity upgrade's acceptance bar."""
    from duva_spark.queries.llm_q import q_embed_ivf_trained_recall

    rows = q_embed_ivf_trained_recall(spark, sf_dir).collect()
    hits = {"label": 0, "trained": 0}
    for r in rows:
        hits[r["variant"]] += r["n_hits"]
    assert hits["trained"] >= hits["label"], hits


@pytest.mark.slow
def test_pruned_kn_trigram_prunes_and_stays_finite(spark, sf_dir):
    """Singleton pruning must RAISE the unseen-trigram rate (the pruned
    mass is visible) while every per-language NLL stays finite (the
    mass re-routes through the backoff chain, never to log(0))."""
    from duva_spark.queries.pipeline_q import (
        q_kneser_ney_trigram,
        q_kneser_ney_trigram_pruned,
    )

    full = {r["lang"]: r for r in q_kneser_ney_trigram(spark, sf_dir).collect()}
    pruned = {
        r["lang"]: r for r in q_kneser_ney_trigram_pruned(spark, sf_dir).collect()
    }
    assert set(full) == set(pruned)
    import math

    for lang, p in pruned.items():
        assert math.isfinite(p["mean_doc_nll"]), lang
        assert p["unseen_trigram_rate"] >= full[lang]["unseen_trigram_rate"], lang


def test_nb_langid_production_path_and_fallback(spark):
    """hashed_lm.nb_langid routes through the trained NB when a labeled
    slice exists and falls back to the stopword heuristic when it does
    not; overall accuracy of the NB path must match or beat the
    heuristic on the labeled corpus (the known-gap-#2 closure bar)."""
    from duva_spark.catalog import load_table
    from duva_spark.llm import hashed_lm, textstats

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    h100 = hashed_lm.md5_hash60(F.col("doc_id").cast("string")) % 100
    train = docs.filter(h100 < 70)
    test = docs.filter(~(h100 < 70))
    nbp = hashed_lm.nb_langid(test, train, "doc_id", "text")
    nb_ok = (
        nbp.join(docs.select("doc_id", "lang"), "doc_id")
        .filter(F.col("lang_pred") == F.col("lang"))
        .count()
    )
    heur_ok = test.filter(
        textstats.predicted_lang(F.col("text")) == F.col("lang")
    ).count()
    assert nb_ok >= heur_ok, (nb_ok, heur_ok)
    # fallback: no labeled slice → the heuristic's predictions verbatim
    fb = hashed_lm.nb_langid(test, train.limit(0), "doc_id", "text")
    heur = test.select(
        "doc_id", textstats.predicted_lang(F.col("text")).alias("lang_pred")
    )
    assert fb.subtract(heur).count() == 0 and heur.subtract(fb).count() == 0


@pytest.mark.slow
def test_unigram_vocab_curve_is_monotone(spark, sf_dir):
    """Bigger seed vocabularies must never cost MORE tokens per word
    (nested seed sets: every smaller vocab's segmentation remains
    available to the larger one at equal-or-better likelihood)."""
    from duva_spark.queries.llm_q import q_unigram_vocab_curve

    rows = sorted(
        q_unigram_vocab_curve(spark, sf_dir).collect(),
        key=lambda r: r["n_seed"],
    )
    assert [r["n_seed"] for r in rows] == [24, 48, 96]
    for a, b in zip(rows, rows[1:]):
        assert b["vocab_size"] >= a["vocab_size"]
        assert b["tokens_per_word"] <= a["tokens_per_word"], (a, b)


@pytest.mark.slow
def test_compression_pareto_tiers_are_ordered(spark, sf_dir):
    """The Pareto table must carry all five tiers with the documented
    byte costs; fp32 is exact by definition and no lossy tier may
    exceed it."""
    from duva_spark.queries.llm_q import q_embed_compression_pareto

    rows = {r["variant"]: r for r in q_embed_compression_pareto(spark, sf_dir).collect()}
    assert set(rows) == {"fp32", "sq8", "pq", "ivfpq", "ivfpq_residual"}
    assert rows["fp32"]["mean_recall_at_5"] == 1.0
    assert rows["fp32"]["bytes_per_vector"] == 256
    assert rows["sq8"]["bytes_per_vector"] == 64
    for v in ("sq8", "pq", "ivfpq", "ivfpq_residual"):
        assert rows[v]["mean_recall_at_5"] <= 1.0


def test_cms_never_undercounts_and_stays_bounded(spark):
    """The CMS one-sided guarantee on a constructed stream: every point
    estimate >= its exact count, the sketch table never exceeds D*W
    rows, and a key absent from the stream estimates at most the
    collision mass (never negative)."""
    from duva_spark.llm import cms

    rows = [("alpha",)] * 500 + [("beta",)] * 120 + [(f"tail{i}",) for i in range(300)]
    toks = spark.createDataFrame(rows, "word string")
    sk = cms.cms_sketch(toks, "word").localCheckpoint()
    assert sk.count() <= cms.CMS_D * cms.CMS_W
    keys = spark.createDataFrame(
        [("alpha", 500), ("beta", 120), ("tail7", 1)], "word string, exact int"
    )
    got = {r["word"]: r["cms_est"] for r in cms.cms_estimate(sk, keys, "word").collect()}
    for w, exact in (("alpha", 500), ("beta", 120), ("tail7", 1)):
        assert got[w] >= exact, (w, got[w], exact)
    # total stream mass bounds any single estimate
    assert max(got.values()) <= len(rows)


def test_cms_cu_matches_sequential_reference_and_dominates(spark):
    """The conservative-update sketch equals a straight sequential CU
    replay (key-at-a-time, update-at-a-time — NOT the batched closed
    form, so the closed-form collapse in cms_cu_sketch is itself under
    test), and every bucket value is <= the plain-CMS bucket and >= the
    max key count in the bucket."""
    import hashlib

    from duva_spark.llm import cms
    from duva_spark.llm.minhash import MERSENNE_P, hash_params

    counts = {"alpha": 500, "beta": 120, "gamma": 7, "delta": 1, "eps": 33}
    wc = spark.createDataFrame(list(counts.items()), "word string, c long")
    got = {
        (r["width"], r["row"], r["bucket"]): r["v"]
        for r in cms.cms_cu_sketch(wc, "word", "c", widths=(4, 8)).collect()
    }
    params = hash_params(cms.CMS_D)
    for w in (4, 8):
        # sequential reference: ascending keys, ONE increment at a time
        st = [[0] * w for _ in range(cms.CMS_D)]
        plain = [[0] * w for _ in range(cms.CMS_D)]
        for word in sorted(counts):
            base = int(hashlib.md5(word.encode()).hexdigest()[:15], 16) % MERSENNE_P
            bs = [(base * a + b) % MERSENNE_P % w for a, b in params]
            for _ in range(counts[word]):
                m = min(st[i][bs[i]] for i in range(cms.CMS_D)) + 1
                for i in range(cms.CMS_D):
                    if st[i][bs[i]] < m:
                        st[i][bs[i]] = m
            for i in range(cms.CMS_D):
                plain[i][bs[i]] += counts[word]
        for i in range(cms.CMS_D):
            for b in range(w):
                assert got.get((w, i, b), 0) == st[i][b], (w, i, b)
                assert st[i][b] <= plain[i][b]


def test_exact_sum_round_equals_decimal_round(spark):
    """The floor-grid exact sum is value-identical to the decimal(18,6)
    accumulation it replaced, including boundary sums landing exactly on
    a half-cent."""
    from duva_spark.queries import exact_sum_round

    rows = [(1.005,), (2.0,), (0.0025,), (0.0025,), (123456.789,), (0.115,)]
    df = spark.createDataFrame(rows, "x double")
    got = df.agg(exact_sum_round(F.col("x")).alias("s")).collect()[0]["s"]
    want = df.agg(
        F.round(F.sum(F.col("x").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("s")
    ).collect()[0]["s"]
    assert got == want == 123459.91


def test_assert_nonneg_guard_fires(spark, monkeypatch):
    """Under DUVA_ASSERT_NONNEG=1 a negative summand actually raises
    (the r11 ADVICE hazard was an optimizer rule silently folding the
    guard away), and a non-negative sum still returns the exact value."""
    from duva_spark.queries import exact_sum_round

    monkeypatch.setenv("DUVA_ASSERT_NONNEG", "1")
    neg = spark.createDataFrame([(1.5,), (-0.25,)], "x double")
    with pytest.raises(Exception, match="non-negative"):
        neg.agg(exact_sum_round(F.col("x")).alias("s")).collect()
    ok = spark.createDataFrame([(1.005,), (2.0,), (None,)], "x double")
    got = ok.agg(exact_sum_round(F.col("x")).alias("s")).collect()[0]["s"]
    assert got == 3.01


@pytest.mark.slow
def test_bpe_dropout_matches_sequential_reference(spark):
    """The dropout encode kernel equals a brute-force sequential greedy
    scan with the same (word, rule, position) mask, and dropout never
    yields coarser segmentation than the per-rule merge count allows."""
    import hashlib

    from duva_spark.llm import bpe

    docs = spark.createDataFrame(
        [(1, "s", "aaaa abab abcabc zq"), (2, "s", "abab aaaa aaaa")],
        "doc_id long, source string, text string",
    )
    rules = bpe.bpe_train(docs, "text", n_merges=3)
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"], r["n_bpe_dropout"])
        for r in bpe.encode_dropout_counts(docs, rules, "doc_id", "source").collect()
    }

    def ref_counts(word, dropout):
        syms = list(word)
        for r, a, b, m, _ in rules:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    dropped = dropout and (
                        int(
                            hashlib.md5(f"{word}|{r}|{i + 1}".encode()).hexdigest()[:15],
                            16,
                        )
                        % 10
                        == 0
                    )
                    if not dropped:
                        out.append(m)
                        i += 2
                        continue
                out.append(syms[i])
                i += 1
            syms = out
        return len(syms)

    for did, text in ((1, "aaaa abab abcabc zq"), (2, "abab aaaa aaaa")):
        ws = text.split(" ")
        want = (
            len(ws),
            sum(ref_counts(w, False) for w in ws),
            sum(ref_counts(w, True) for w in ws),
        )
        assert got[did] == want, (did, got[did], want)


def test_multimodal_perceptual_hash_kernels():
    """aHash/dHash kernels: deterministic fake paths match a sequential
    reference; real path consumes pillow-shaped pixels; raise path raises."""
    import hashlib

    import pandas as pd

    from duva_spark.llm import multimodal as mm

    payload = b"key agg row scan slow key agg fast table value"
    pdf = pd.DataFrame({"doc_id": [1], "payload": [payload]})

    # fake aHash == sequential bigram-histogram reference
    toks = payload.split(b" ")
    g = [0] * 64
    for i in range(len(toks) - 1):
        h = int(hashlib.md5(toks[i] + b" " + toks[i + 1]).hexdigest()[:15], 16)
        g[h % 64] += 1
    tot = sum(g)
    want = sum(1 << i for i in range(63) if g[i] * 64 > tot)
    out = mm.ahash_batch(pdf, "doc_id", True, "raise", lambda: None)
    assert int(out["ahash"][0]) == want
    assert 0 <= want < 1 << 63

    # fake dHash == nearest-neighbor byte-downsample reference
    n = len(payload)
    gd = [payload[(i * n) // 64] for i in range(64)]
    want_d = sum(
        1 << (r * 7 + c)
        for r in range(8)
        for c in range(7)
        if gd[r * 8 + c] < gd[r * 8 + c + 1]
    )
    out_d = mm.dhash_batch(pdf, "doc_id", True, "raise", lambda: None)
    assert int(out_d["dhash"][0]) == want_d

    # real path: pillow-shaped module supplies the 8x8 pixel grid
    real = mm.ahash_batch(pdf, "doc_id", False, "raise", lambda: _FakePILImage)
    gp = [payload[i % n] for i in range(64)]
    tp = sum(gp)
    assert int(real["ahash"][0]) == sum(
        1 << i for i in range(63) if gp[i] * 64 > tp
    )
    # no decoder importable + fallback='raise' -> loud failure
    with pytest.raises(NotImplementedError, match="pillow"):
        mm.ahash_batch(pdf, "doc_id", False, "raise", lambda: None)
    with pytest.raises(NotImplementedError, match="pillow"):
        mm.dhash_batch(pdf, "doc_id", False, "raise", lambda: None)
