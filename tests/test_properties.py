"""Property-style tests: seeded-random batches for Spark operators
(one job per property, not per example) and hypothesis for the pure-
Python protocol code."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from duva_spark.llm import dedup, simhash
from duva_spark.operators import asof_join
from duva_spark.shaping import split_select_multiple, unsplit_select_multiple

RNG = np.random.default_rng(42)


def test_asof_join_matches_pandas_merge_asof(spark):
    n_l, n_r = 400, 300
    left = pd.DataFrame(
        {
            "k": RNG.integers(0, 20, n_l),
            "t": RNG.integers(0, 10_000, n_l),
            "lid": np.arange(n_l),
        }
    )
    right = pd.DataFrame(
        {
            "k": RNG.integers(0, 20, n_r),
            "t": RNG.integers(0, 10_000, n_r),
            "v": RNG.normal(size=n_r).round(6),
        }
    )
    # merge_asof needs unique sort keys per group for determinism
    right = right.drop_duplicates(subset=["k", "t"])
    sl = spark.createDataFrame(left.astype({"k": "int64", "t": "int64"}))
    sr = spark.createDataFrame(right.astype({"k": "int64", "t": "int64"}))
    got = (
        asof_join(sl, sr, on="k", ts="t")
        .toPandas()
        .sort_values("lid")
        .reset_index(drop=True)
    )
    want = pd.merge_asof(
        left.sort_values("t"),
        right.sort_values("t"),
        on="t",
        by="k",
        direction="backward",
    ).sort_values("lid").reset_index(drop=True)
    pd.testing.assert_series_equal(
        got["asof_v"].rename("v"), want["v"], check_exact=False, rtol=1e-9
    )


def test_split_unsplit_roundtrip_random(spark):
    choices = ["a", "b", "c", "d"]
    rows = []
    for i in range(200):
        picked = [c for c in choices if RNG.random() < 0.4]
        rows.append((i, " ".join(picked) if picked else None))
    df = spark.createDataFrame(rows, "id long, q string")
    split = split_select_multiple(df, "q", choices, binary_select_multiples=True)
    back = unsplit_select_multiple(split.drop("q"), "q", choices)
    got = {r.id: r.q for r in back.collect()}
    for i, multi in rows:
        want = [c for c in choices if multi and c in multi.split(" ")]
        assert got[i] == want, f"row {i}: {got[i]} != {want}"


def test_exact_dedup_idempotent(spark):
    texts = [f"doc {i % 37}" for i in range(500)]  # heavy duplication
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    once = dedup.dedup_exact(df, ["text"], "doc_id")
    twice = dedup.dedup_exact(once, ["text"], "doc_id")
    assert sorted(r.doc_id for r in once.collect()) == sorted(r.doc_id for r in twice.collect())
    assert once.count() == 37


def test_simhash_word_order_invariant(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta"
    words = base.split()
    perms = [" ".join(RNG.permutation(words)) for _ in range(10)]
    df = spark.createDataFrame([(i, t) for i, t in enumerate([base] + perms)], "id long, text string")
    vals = {r.sh for r in simhash.with_simhash(df, out="sh").collect()}
    assert len(vals) == 1  # bag-of-words fingerprint ignores order


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.sampled_from([200, 404, 500, 502, 503, 504]), min_size=1, max_size=6)
)
def test_fetch_retry_protocol(statuses):
    """fetch_to_local terminates for every status sequence: returns a file
    iff a 200 appears within the retry budget among retryable statuses."""
    from duva_spark.sources.http import FailedExternalRequest, fetch_to_local

    seq = iter(statuses + [200] * 10)
    calls = []

    def getter(url):
        s = next(seq)
        calls.append(s)
        return (s, b"x")

    try:
        p = fetch_to_local("http://x", getter, retries=3, sleep=lambda _: None)
        assert calls[-1] == 200
        p.unlink()
    except FailedExternalRequest:
        # must have stopped on a non-retryable status or exhausted retries
        assert calls[-1] == 404 or len(calls) == 4
    assert len(calls) <= 4  # never more than retries+1 attempts


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=0, max_value=5))
def test_failure_cap_monotone(tmp_path_factory, n_failures):
    """is_active flips exactly at the cap and stays off."""
    from duva_spark.orchestration.state import FAILURE_CAP, MetadataStore

    store = MetadataStore(tmp_path_factory.mktemp("s") / "c.json")
    for _ in range(n_failures):
        store.record_failure("d", "x")
    assert store.get("d").is_active == (n_failures < FAILURE_CAP)


def test_minhash_deterministic_under_partitioning(spark):
    """Signatures must not depend on parallelism — same values at 1 and
    32 partitions (the property that makes results reproducible across
    cluster sizes)."""
    from duva_spark.llm import minhash

    texts = [(i, " ".join(f"w{(i * 7 + j) % 50}" for j in range(30))) for i in range(100)]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    one = minhash.with_signature(df.repartition(1), n_hashes=4)
    many = minhash.with_signature(df.repartition(32), n_hashes=4)
    cols = ["doc_id", "mh_0", "mh_1", "mh_2", "mh_3"]
    assert sorted(map(tuple, one.select(cols).collect())) == sorted(
        map(tuple, many.select(cols).collect())
    )


def test_dedup_keeper_deterministic_under_partitioning(spark):
    from duva_spark.llm import dedup

    rows = [(i, f"t{i % 11}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(r.doc_id for r in dedup.dedup_exact(df.repartition(1), ["text"], "doc_id").collect())
    b = sorted(r.doc_id for r in dedup.dedup_exact(df.repartition(32), ["text"], "doc_id").collect())
    assert a == b == sorted(range(11))


@given(
    st.lists(
        st.tuples(st.integers(0, 65535), st.integers(0, 65535)),
        min_size=2,
        max_size=50,
    )
)
@settings(max_examples=50, deadline=None)
def test_zorder_key_is_a_bijective_interleave(pairs):
    """Pure-Python replica of the bit placement: the Morton key must
    decode back to its inputs (bijectivity) and be monotone in each
    coordinate when the other is fixed."""

    def morton(x, y, bits=16):
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return out

    def demorton(z, bits=16):
        x = y = 0
        for i in range(bits):
            x |= ((z >> (2 * i)) & 1) << i
            y |= ((z >> (2 * i + 1)) & 1) << i
        return x, y

    for x, y in pairs:
        assert demorton(morton(x, y)) == (x, y)
    xs = sorted({x for x, _ in pairs})
    assert [morton(x, 7) for x in xs] == sorted(morton(x, 7) for x in xs)


def test_zorder_spark_matches_python_and_clusters_tightly(spark):
    from duva_spark.operators.zorder import cluster_by_zorder, zorder_key

    n = 4096
    df = spark.range(n).select(
        (F.col("id") * 2654435761 % 1024).alias("x"),
        (F.col("id") * 40503 % 1024).alias("y"),
    )
    rows = df.withColumn("z", zorder_key([F.col("x"), F.col("y")], 10)).collect()

    def morton(x, y, bits=10):
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return out

    assert all(r["z"] == morton(r["x"], r["y"]) for r in rows)

    # Clustered layout: per-partition extents must be tight rectangles in
    # BOTH dims vs the ~full-range extents of round-robin partitions.
    clustered = cluster_by_zorder(df, [F.col("x"), F.col("y")], 10, num_partitions=16)
    ext = (
        clustered.groupBy(F.spark_partition_id().alias("pid"))
        .agg(
            (F.max("x") - F.min("x")).alias("xr"),
            (F.max("y") - F.min("y")).alias("yr"),
        )
        .agg(F.avg((F.col("xr") + F.col("yr")) / 2).alias("avg_extent"))
        .first()["avg_extent"]
    )
    assert ext < 0.55 * 1023  # each dim's average extent roughly halves (or better)


def test_repetition_signals_match_python_reference(spark):
    """The shuffle-free sorted-run mode trick == a literal Counter-based
    reference, across seeded random word sequences (incl. heavy repeats)."""
    from collections import Counter

    from duva_spark.llm import textstats

    vocab = ["a", "b", "c", "dd", "ee"]
    texts = [
        " ".join(RNG.choice(vocab, size=int(n)))
        for n in RNG.integers(2, 60, size=40)
    ] + ["a a a a a", "a b a b a b", "x"]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = df.select(
        "text",
        textstats.dup_word_fraction(F.col("text")).alias("dup"),
        textstats.max_word_run(F.col("text")).alias("run"),
        textstats.top_bigram_fraction(F.col("text")).alias("top_bg"),
    ).collect()
    for r in got:
        ws = r["text"].split(" ")
        assert abs(r["dup"] - (1 - len(set(ws)) / len(ws))) < 1e-9
        best = cur = 1
        for i in range(1, len(ws)):
            cur = cur + 1 if ws[i] == ws[i - 1] else 1
            best = max(best, cur)
        assert r["run"] == best
        bgs = [f"{ws[i]} {ws[i+1]}" for i in range(len(ws) - 1)]
        want = max(Counter(bgs).values()) / len(bgs) if bgs else 0.0
        assert abs(r["top_bg"] - want) < 1e-9


@pytest.mark.slow
def test_prefix_sum_invariant_under_partitioning(spark):
    """running_sum must equal the single-partition window cumsum for any
    input partitioning — the two-pass offsets are the thing under test."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from duva_spark.operators.prefix_sum import running_sum

    rng = random.Random(11)
    rows = [(i, rng.randint(0, 50)) for i in range(300)]
    for nparts in (1, 7, 32):
        df = spark.createDataFrame(rows, "k long, v long").repartition(nparts)
        got = {r["k"]: r["cum"] for r in running_sum(df, "k", "v", out_col="cum").collect()}
        want_df = spark.createDataFrame(rows, "k long, v long").withColumn(
            "cum",
            F.sum("v").over(
                W.orderBy("k").rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        want = {r["k"]: r["cum"] for r in want_df.collect()}
        assert got == want


@pytest.mark.slow
def test_kmeans_invariant_under_partitioning(spark):
    """Lloyd's with grid-rounded centroids must converge to identical
    centroids and assignments regardless of input partitioning."""
    import random

    from duva_spark.llm import kmeans

    rng = random.Random(5)
    rows = [
        (i, [rng.uniform(0, 1) + (5.0 if i % 3 == 0 else 0.0), rng.uniform(0, 1)])
        for i in range(90)
    ]
    results = []
    for nparts in (1, 13):
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(
            nparts
        )
        cen, assigned = kmeans.lloyd(emb, k=3, iters=3, dim=2)
        results.append(
            (
                sorted((r["cluster"], tuple(r["cen"])) for r in cen.collect()),
                sorted((r["vec_id"], r["cluster"]) for r in assigned.collect()),
            )
        )
    assert results[0] == results[1]


@pytest.mark.slow
def test_star_components_match_networkx_free_reference(spark):
    """Star CC equals a pure-Python union-find on seeded random graphs of
    varying density — one Spark job per graph, reference is dependency-
    free. Covers sparse forests through dense blobs."""

    def uf_components(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # path-compress fully, then map every node to its root min
        return {n: find(n) for n in nodes}

    from duva_spark.llm.components import connected_components_star

    for density, seed in ((0.3, 1), (1.0, 2), (3.0, 3)):
        rng = np.random.default_rng(seed)
        n = 150
        m = int(n * density)
        edges = [
            (int(a), int(b))
            for a, b in zip(rng.integers(0, n, m), rng.integers(0, n, m))
            if a != b
        ]
        if not edges:
            continue
        nodes = sorted({x for e in edges for x in e})
        want = uf_components(edges, nodes)
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {r["id"]: r["comp"] for r in connected_components_star(df).collect()}
        assert got == want, f"density={density}"


@pytest.mark.slow
def test_quantile_operator_matches_numpy_on_random_data(spark):
    """Distributed exact quantile == numpy linear interpolation on
    seeded-random data with heavy ties, at several partition counts
    (result must be partitioning-invariant)."""
    from duva_spark.operators.quantile import quantile_cont_row

    vals = np.concatenate(
        [RNG.integers(0, 50, 3000), RNG.normal(100, 20, 2000).round(3)]
    )
    want = {q: float(np.quantile(vals, q)) for q in (0.1, 0.5, 0.9, 0.99)}
    pdf = pd.DataFrame({"v": vals})
    for parts in (1, 7, 32):
        df = spark.createDataFrame(pdf).repartition(parts)
        got = quantile_cont_row(
            df, "v", {"p10": 0.1, "p50": 0.5, "p90": 0.9, "p99": 0.99}
        ).collect()[0]
        for name, q in (("p10", 0.1), ("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
            assert abs(got[name] - want[q]) < 1e-9, (parts, name, got[name], want[q])


def test_grouped_quantile_matches_numpy_per_group(spark):
    from duva_spark.operators.quantile import grouped_quantile_cont

    pdf = pd.DataFrame(
        {
            "g": RNG.integers(0, 5, 4000),
            "v": RNG.normal(0, 10, 4000).round(2),  # .round → heavy ties
        }
    )
    df = spark.createDataFrame(pdf).repartition(13)
    got = {
        r.g: (r.p25, r.med)
        for r in grouped_quantile_cont(df, ["g"], "v", {"p25": 0.25, "med": 0.5}).collect()
    }
    for g, grp in pdf.groupby("g"):
        want = (float(np.quantile(grp.v, 0.25)), float(np.quantile(grp.v, 0.5)))
        assert abs(got[g][0] - want[0]) < 1e-9 and abs(got[g][1] - want[1]) < 1e-9


@pytest.mark.slow
def test_heavy_hitters_matches_counter_on_zipf(spark):
    """Two-pass MG+recount == a plain Counter on zipfian data, across
    partition counts and caps (≥ the guarantee floor)."""
    from collections import Counter

    from duva_spark.operators.heavy_hitters import heavy_hitters

    vals = [f"w{z}" for z in RNG.zipf(1.5, 6000) if z < 10_000]
    n = len(vals)
    c = Counter(vals)
    for k, cap in ((10, None), (10, 9), (50, 60)):
        want = {(w, m) for w, m in c.items() if m > n / k}
        for parts in (3, 17):
            df = spark.createDataFrame(pd.DataFrame({"v": vals})).repartition(parts)
            got = {(r.v, r.cnt) for r in heavy_hitters(df, "v", k=k, cap=cap).collect()}
            assert got == want, (k, cap, parts, len(got), len(want))


@pytest.mark.slow
def test_bloom_prefilter_exact_on_random_overlap(spark):
    """Semi/anti bloom compositions equal the plain joins on random key
    sets with random overlap — under a deliberately tiny filter so the
    false-positive path carries real traffic."""
    from duva_spark.llm import bloom

    probe_keys = RNG.choice(2000, size=600, replace=False)
    build_keys = RNG.choice(2000, size=600, replace=False)
    probe = spark.createDataFrame(
        pd.DataFrame({"k": [f"k{x}" for x in probe_keys]})
    )
    build = spark.createDataFrame(
        pd.DataFrame({"k": [f"k{x}" for x in build_keys]})
    )
    for fn, how in (
        (bloom.prefilter_semi_join, "left_semi"),
        (bloom.prefilter_anti_join, "left_anti"),
    ):
        got = {r["k"] for r in fn(probe, build, "k", m_bits=256, k_hashes=2).collect()}
        want = {r["k"] for r in probe.join(build, "k", how).collect()}
        assert got == want, how


@pytest.mark.slow
def test_leakproof_split_has_zero_spanning_clusters(spark):
    """The defining invariant: no dedup cluster contributes docs to more
    than one split. Forced duplicate clusters with ids far apart so a
    per-doc hash split would almost surely leak."""
    from duva_spark.llm.components import dedup_clusters
    from duva_spark.llm import minhash

    base = [
        f"the quick brown fox jumps over the lazy dog variant {i} "
        + " ".join(f"w{i}x{j}" for j in range(30))
        for i in range(20)
    ]
    rows = []
    for i, text in enumerate(base):
        rows.append((i, text))
        rows.append((i + 1000, text))  # exact dup, distant id
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    pairs = minhash.near_duplicates(docs, "doc_id", "text", threshold=0.5)
    cc = dedup_clusters(pairs.select("id_a", "id_b")).select("id", "comp")
    lab = (
        docs.select("doc_id")
        .join(cc, docs["doc_id"] == cc["id"], "left")
        .select("doc_id", F.coalesce("comp", "doc_id").alias("comp"))
    )
    h = minhash.md5_hash60(F.col("comp").cast("string")) % 100
    split = F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    spanning = (
        lab.select("comp", split.alias("split"))
        .groupBy("comp")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert spanning == 0
    # and every forced pair really is one cluster (the premise)
    comps = {r["doc_id"]: r["comp"] for r in lab.collect()}
    for i in range(20):
        assert comps[i] == comps[i + 1000]


def test_dup_span_counts_matches_python_reference(spark):
    """dup_span_counts (the exact-substring-dedup removal pass) agrees
    with a brute-force pure-python reference on a randomized corpus with
    planted boilerplate, including docs below the k-word floor (absent
    from the output) and dup counts per doc."""
    words = [f"w{i}" for i in range(30)]
    boiler = " ".join(words[:8])  # an 8-gram planted into many docs
    rows = []
    for i in range(60):
        n = int(RNG.integers(0, 14))
        body = " ".join(str(RNG.choice(words)) for _ in range(n))
        if i % 3 == 0:
            body = (boiler + " " + body).strip()
        rows.append((i, body))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_grams, r.n_dup)
        for r in dedup.dup_span_counts(df, "doc_id", "text", k=8).collect()
    }
    # python reference: distinct 8-gram sets per doc, global doc-freq
    grams = {}
    for i, t in rows:
        ws = t.split(" ")
        grams[i] = {" ".join(ws[j : j + 8]) for j in range(len(ws) - 7)} if len(ws) >= 8 else set()
    from collections import Counter

    df_count = Counter(g for gs in grams.values() for g in gs)
    for i, gs in grams.items():
        if not gs:
            assert i not in got  # short docs never reach the output
            continue
        n_dup = sum(1 for g in gs if df_count[g] >= 2)
        assert got[i] == (len(gs), n_dup), f"doc {i}"


@pytest.mark.slow
def test_dup_spans_exact_matches_python_interval_merge(spark):
    """dup_spans_exact (variable-length Lee et al. span semantics) agrees
    with a pure-python positional-gram + interval-union reference on a
    randomized corpus with planted multi-template boilerplate, including
    adjacent spans (templates inserted back-to-back merge into one
    region), the min_span floor, and short/empty docs (zero rows)."""
    import random

    k, min_df, min_span = 8, 2, 16
    rng = random.Random(4242)
    templates = [
        [f"t{j}x{i}" for i in range(length)]
        for j, length in enumerate([10, 14, 20, 9])
    ]
    vocab = [f"r{i}" for i in range(500)]  # big vocab: random grams unique
    rows = []
    for did in range(80):
        wordlist: list[str] = []
        for _ in range(rng.randint(1, 5)):
            if rng.random() < 0.45:
                wordlist += templates[rng.randrange(len(templates))]
            else:
                wordlist += [rng.choice(vocab) for _ in range(rng.randint(0, 12))]
        rows.append((did, " ".join(wordlist)))
    rows.append((900, ""))  # empty doc
    rows.append((901, "a b c"))  # below the k-word floor

    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(7)
    got = {
        r.doc_id: (r.n_words, r.n_spans, r.covered_words, r.span_coverage)
        for r in dedup.dup_spans_exact(
            df, "doc_id", "text", k=k, min_df=min_df, min_span=min_span
        ).collect()
    }

    # --- pure-python reference -------------------------------------
    grams = {}
    for did, t in rows:
        ws = t.split(" ")
        grams[did] = [
            (p, " ".join(ws[p : p + k])) for p in range(len(ws) - k + 1)
        ]
    from collections import defaultdict

    docs_per_gram: dict[str, set] = defaultdict(set)
    for did, pg in grams.items():
        for _, g in pg:
            docs_per_gram[g].add(did)
    dup = {g for g, ds in docs_per_gram.items() if len(ds) >= min_df}
    assert dup  # the corpus really planted shared spans

    for did, t in rows:
        ws = t.split(" ")
        positions = sorted(p for p, g in grams[did] if g in dup)
        spans: list[list[int]] = []  # [start, last_gram_pos]
        for p in positions:
            if spans and p <= spans[-1][1] + k:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        kept = [(s, last + k - 1) for s, last in spans if last - s + k >= min_span]
        covered = sum(e - s + 1 for s, e in kept)
        n_words = len(ws)
        want = (
            n_words,
            len(kept),
            covered,
            round(covered * 1.0 / n_words, 6),
        )
        assert got[did] == want, f"doc {did}: {got[did]} != {want}"
    assert len(got) == len(rows)  # short/empty docs present with zeros

    # the removal transform must cut exactly the reference's intervals
    cleaned = {
        r.doc_id: (r.n_words_kept, r.cleaned_text)
        for r in dedup.remove_dup_spans(
            df, "doc_id", "text", k=k, min_df=min_df, min_span=min_span
        ).collect()
    }
    for did, t in rows:
        ws = t.split(" ")
        positions = sorted(p for p, g in grams[did] if g in dup)
        spans = []
        for p in positions:
            if spans and p <= spans[-1][1] + k:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        drop = set()
        for s, last in spans:
            if last - s + k >= min_span:
                drop.update(range(s, last + k))
        kept_ws = [w for i, w in enumerate(ws) if i not in drop]
        assert cleaned[did] == (len(kept_ws), " ".join(kept_ws)), f"doc {did}"


def test_contamination_spans_matches_python_reference(spark):
    """contamination_spans (span machinery with an EXTERNAL gram set)
    agrees with a python positional-gram + interval-union reference:
    eval-set grams mark positions, spans merge per doc, coverage is the
    union size — including train docs with zero contamination."""
    import random

    k = 8
    rng = random.Random(77)
    eval_phrase = [f"e{i}" for i in range(18)]  # the "benchmark" text
    vocab = [f"v{i}" for i in range(400)]
    rows = []
    for did in range(50):
        words: list[str] = []
        for _ in range(rng.randint(1, 4)):
            if rng.random() < 0.4:
                words += eval_phrase
            else:
                words += [rng.choice(vocab) for _ in range(rng.randint(0, 10))]
        rows.append((did, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(5)

    eval_doc = spark.createDataFrame(
        [(9000, " ".join(eval_phrase))], "doc_id long, text string"
    )
    eval_grams = dedup.gram_keys(eval_doc, "doc_id").select("gh")
    got = {
        r.doc_id: (r.n_words, r.n_spans, r.covered_words, r.contamination_ratio)
        for r in dedup.contamination_spans(df, eval_grams, "doc_id", k=k).collect()
    }

    ev = {
        " ".join(eval_phrase[p : p + k])
        for p in range(len(eval_phrase) - k + 1)
    }
    for did, t in rows:
        ws = t.split(" ")
        positions = sorted(
            p
            for p in range(len(ws) - k + 1)
            if " ".join(ws[p : p + k]) in ev
        )
        spans = []
        for p in positions:
            if spans and p <= spans[-1][1] + k:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        covered = sum(last - s + k for s, last in spans)
        want = (
            len(ws),
            len(spans),
            covered,
            round(covered * 1.0 / len(ws), 6),
        )
        assert got[did] == want, f"doc {did}: {got[did]} != {want}"
    assert any(v[1] > 0 for v in got.values())  # contamination planted
    assert any(v[1] == 0 for v in got.values())  # and clean docs exist
