"""Column-fold reference implementations of the tokenizer and repetition
kernels — the pin-test oracles for ``duva_spark.llm``.

Each fold is a pure Column expression (``F.aggregate``/``F.transform``
higher-order functions: no UDF, no join, no shuffle) that computes the
same values as its production Arrow kernel by a different route. The
folds are INTERPRETED per element — higher-order-function lambdas fall
out of codegen, which is why production runs the kernels (the r8/r9
A/Bs measured the folds 10-30× slower) — but they are independent
replays of the spec, so tests assert kernel == fold value-for-value:

- ``viterbi_segment_fold`` / ``viterbi_token_count_fold`` /
  ``unigram_encode_counts_fold`` pin ``unigram._viterbi_seg_py``,
  ``unigram._viterbi_count_py``, ``unigram.estep_counts``,
  ``unigram.unigram_encode_counts`` and ``unigram.fertility_counts``;
- ``encode_word_fold`` / ``encode_token_counts_fold`` pin
  ``bpe.encode_token_counts`` and the BPE half of
  ``unigram.fertility_counts``;
- ``gopher_repetition_fold`` pins ``textstats.gopher_repetition`` (it
  shares ``textstats._repetition_report``, the rounding/threshold tail,
  so only the integer statistics are compared);
- ``cosine_fold`` / ``hyperplane_code_fold`` / ``brute_force_topk_fold``
  pin ``similarity.cosine_pairs_arrow``, ``similarity.rplsh_codes_arrow``
  and ``similarity.brute_force_topk`` (the crossJoin + window form the
  brute-force top-k used to plan as);
- ``apply_export_settings_fold`` pins ``shaping.ops.apply_export_settings``
  (and through it ``split_select_multiple``, ``flatten_group_names`` and
  ``rename_to_labels``): the ``withColumn``-per-choice and
  rename chain the export shaping used to build, one DataFrame call per
  step, against production's single projection. Renames are positional
  (``toDF``) and keep a column's old name when its target is taken.

Two reference plans sit beside the folds: ``curation_funnel_handwritten``
(the hand-built canonical funnel that ``funnel.compile_funnel`` must
reproduce row-for-row) and ``group_ols_slope`` (the ``applyInPandas``
twin of ``pandas_ops.slope_grouped_agg``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W, functions as F

from duva_spark.llm.bpe import greedy_merge, symbolize
from duva_spark.llm.funnel import FUNNEL_STAGES, funnel_features
from duva_spark.llm.similarity import _hyperplane, dot, norm
from duva_spark.llm.textstats import (
    GOPHER_DUP_NGRAM_MAX,
    GOPHER_TOP_NGRAM_MAX,
    _repetition_report,
    words_of,
)
from duva_spark.llm.unigram import _SENTINEL


def viterbi_segment_fold(word: Column, vocab_map: Column, max_len: int) -> Column:
    """The word's max-likelihood segmentation under ``vocab_map``
    (piece → 6-dp log-prob) as ``array<string>`` — a single pure fold
    (``F.aggregate``) over character positions: state i carries
    (best score, best segment) for the prefix w[1..i]; candidates scan
    start positions j ascending and replace only when STRICTLY better,
    so the smallest j attaining the max wins (the rule the oracle's
    exact-equality backtrace reproduces)."""
    n = F.length(word)
    init = F.array(
        F.struct(
            F.lit(0.0).alias("s"), F.array().cast("array<string>").alias("seg")
        )
    )
    sentinel = F.struct(
        F.lit(_SENTINEL).alias("s"), F.array().cast("array<string>").alias("seg")
    )

    def step(acc: Column, i: Column) -> Column:
        def cand(b: Column, j: Column) -> Column:
            piece = word.substr(j + 1, i - j)
            lpv = F.element_at(vocab_map, piece)
            st = F.element_at(acc, j + 1)
            cs = st["s"] + lpv
            better = lpv.isNotNull() & (cs > b["s"])
            return F.when(
                better,
                F.struct(
                    cs.alias("s"),
                    F.concat(st["seg"], F.array(piece)).alias("seg"),
                ),
            ).otherwise(b)

        best = F.aggregate(
            F.sequence(F.greatest(i - F.lit(max_len), F.lit(0)), i - 1),
            sentinel,
            cand,
        )
        return F.concat(acc, F.array(best))

    states = F.aggregate(F.sequence(F.lit(1), n), init, step)
    return F.element_at(states, n + 1)["seg"]


def viterbi_token_count_fold(
    word: Column, vocab_map: Column, max_len: int
) -> Column:
    """Number of pieces in the word's max-likelihood segmentation — the
    ``viterbi_segment_fold`` DP with the state slimmed to
    (score, n_pieces): the strictly-better replace rule picks the same
    smallest-start predecessor chain, so the count equals
    ``size(viterbi_segment_fold(...))``. Unsegmentable words yield 0."""
    n = F.length(word)
    init = F.array(F.struct(F.lit(0.0).alias("s"), F.lit(0).alias("np")))
    sentinel = F.struct(F.lit(_SENTINEL).alias("s"), F.lit(0).alias("np"))

    def step(acc: Column, i: Column) -> Column:
        def cand(b: Column, j: Column) -> Column:
            piece = word.substr(j + 1, i - j)
            lpv = F.element_at(vocab_map, piece)
            st = F.element_at(acc, j + 1)
            cs = st["s"] + lpv
            better = lpv.isNotNull() & (cs > b["s"])
            return F.when(
                better, F.struct(cs.alias("s"), (st["np"] + 1).alias("np"))
            ).otherwise(b)

        best = F.aggregate(
            F.sequence(F.greatest(i - F.lit(max_len), F.lit(0)), i - 1),
            sentinel,
            cand,
        )
        return F.concat(acc, F.array(best))

    states = F.aggregate(F.sequence(F.lit(1), n), init, step)
    final = F.element_at(states, n + 1)
    return F.when(final["s"] > _SENTINEL / 2, final["np"]).otherwise(F.lit(0))


def vocab_map_of(lp: dict[str, float]) -> Column:
    """The unigram model ``lp`` (piece → log-prob) as a map literal —
    two array literals, not CreateArray over 2×vocab literal nodes."""
    pieces = sorted(lp)
    return F.map_from_arrays(F.lit(pieces), F.lit([lp[p] for p in pieces]))


def unigram_encode_counts_fold(
    docs: DataFrame,
    lp: dict[str, float],
    id_col: str = "doc_id",
    text_col: str = "text",
    max_len: int = 4,
    word_cap: int = 16,
) -> DataFrame:
    """(id_col, n_words, n_char_tokens, n_unigram_tokens, compression):
    the per-document unigram census as one projection — the model
    inlined as a map literal, each word through the slim Viterbi fold."""
    vocab_map = vocab_map_of(lp)
    ws = F.filter(
        F.split(F.col(text_col), " "),
        lambda w: (w != "") & (F.length(w) <= word_cap),
    )
    per_word = F.transform(
        ws, lambda w: viterbi_token_count_fold(w, vocab_map, max_len)
    )
    chars = F.transform(ws, lambda w: F.length(w))
    n_char = F.aggregate(chars, F.lit(0), lambda acc, v: acc + v)
    n_uni = F.aggregate(per_word, F.lit(0), lambda acc, v: acc + v)
    return docs.select(
        id_col,
        F.size(ws).cast("long").alias("n_words"),
        n_char.cast("long").alias("n_char_tokens"),
        n_uni.cast("long").alias("n_unigram_tokens"),
        F.when(n_char > 0, F.round(n_uni * 1.0 / n_char, 6))
        .otherwise(F.lit(0.0))
        .alias("compression"),
    )


def encode_word_fold(
    word: Column,
    rules: list[tuple[int, str, str, str, int]],
    alphabet: str = "char",
) -> Column:
    """A word's BPE symbol sequence after applying the trained merge
    rules IN TRAINING ORDER: symbolize, then one ``bpe.greedy_merge``
    fold per rule with the pair inlined as literals."""
    syms = symbolize(word, alphabet)
    for _, a, b, _, _ in rules:
        syms = greedy_merge(syms, a, b)
    return syms


def encode_token_counts_fold(
    docs: DataFrame,
    rules: list[tuple[int, str, str, str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
    alphabet: str = "char",
) -> DataFrame:
    """(id_col, n_words, n_char_tokens, n_bpe_tokens, compression):
    the per-document BPE census as one projection of per-word nested
    greedy folds."""
    ws = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    per_word = F.transform(
        ws, lambda w: F.size(encode_word_fold(w, rules, alphabet))
    )
    chars = F.transform(
        ws,
        (lambda w: F.octet_length(w)) if alphabet == "byte" else (lambda w: F.length(w)),
    )
    n_char = F.aggregate(chars, F.lit(0), lambda acc, v: acc + v)
    n_bpe = F.aggregate(per_word, F.lit(0), lambda acc, v: acc + v)
    return docs.select(
        id_col,
        F.size(ws).cast("long").alias("n_words"),
        n_char.cast("long").alias("n_char_tokens"),
        n_bpe.cast("long").alias("n_bpe_tokens"),
        F.when(n_char > 0, F.round(n_bpe * 1.0 / n_char, 6))
        .otherwise(F.lit(0.0))
        .alias("compression"),
    )


def gopher_repetition_fold(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dp: int = 6,
) -> DataFrame:
    """The Gopher repetition battery's integer statistics as array
    expressions in one projection, through the shared
    ``_repetition_report`` tail. Per n: sort the doc's gram array once —
    the longest equal-adjacent run IS the top count (ascending sort
    makes the first maximal run the lexicographic tie-winner),
    adjacent-equal pairs ARE the duplicate-gram set, and coverage is a
    width-n sliding OR over the dup flags."""
    ws = words_of(F.col(text_col))
    top_ns = sorted(GOPHER_TOP_NGRAM_MAX)
    dup_ns = sorted(GOPHER_DUP_NGRAM_MAX)
    base = df.select(F.col(id_col), ws.alias("ws"))
    wc = F.length(F.concat_ws("", "ws"))
    L = F.size("ws")

    def grams_of(n: int):
        # slot i (0-based) is the gram starting at word i; guarded so a
        # doc shorter than n words yields an empty array
        return F.when(
            L >= n,
            F.transform(
                F.sequence(F.lit(0), L - n),
                lambda i: F.concat_ws(" ", F.slice("ws", i + 1, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    def top_chars(n: int):
        # longest equal-adjacent run in the SORTED gram array = the max
        # occurrence count; strict '>' keeps the first (lexicographically
        # smallest) maximal run's gram as the tie-winner
        sg = F.array_sort(grams_of(n))
        z = F.aggregate(
            sg,
            F.struct(
                F.lit("").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
                F.lit("").alias("bg"),
            ),
            lambda a, x: F.struct(
                x.alias("prev"),
                F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)).alias("run"),
                F.greatest(
                    a["best"],
                    F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)),
                ).alias("best"),
                F.when(
                    F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)) > a["best"],
                    x,
                )
                .otherwise(a["bg"])
                .alias("bg"),
            ),
        )
        return z["best"].cast("long") * (F.length(z["bg"]) - (n - 1))

    def dup_chars(n: int):
        # duplicate grams = values with an equal neighbor in the sorted
        # array; coverage = width-n sliding OR over per-gram dup flags,
        # charged at each covered word's length (overlap-safe)
        g = grams_of(n)
        sg = F.array_sort(g)
        eqs = F.zip_with(
            sg,
            F.slice(sg, 2, F.greatest(F.size(sg) - 1, F.lit(0))),
            lambda a, b: F.when(a == b, a),
        )
        dups = F.array_distinct(F.filter(eqs, lambda x: x.isNotNull()))
        flags = F.transform(g, lambda x: F.array_contains(dups, x))
        covered = F.aggregate(
            F.sequence(F.lit(0), L - 1),
            F.lit(0).cast("long"),
            lambda acc, j: acc
            + F.when(
                F.exists(
                    F.sequence(
                        F.greatest(j - (n - 1), F.lit(0)),
                        F.least(j, F.size(g) - 1),
                    ),
                    lambda i: F.element_at(flags, i + 1),
                ),
                F.length(F.element_at(F.col("ws"), j + 1)),
            ).otherwise(F.lit(0)),
        )
        return F.when((L >= n) & (F.size(dups) > 0), covered).otherwise(F.lit(0))

    cols = [
        F.col(id_col),
        L.cast("long").alias("n_words"),
        wc.cast("long").alias("word_chars"),
    ]
    for n in top_ns:
        cols.append(top_chars(n).cast("long").alias(f"tc_{n}"))
    for n in dup_ns:
        cols.append(dup_chars(n).cast("long").alias(f"dc_{n}"))
    return _repetition_report(base.select(*cols), id_col, dp)


def cosine_fold(a: Column, b: Column) -> Column:
    """Cosine as interpreted index-order folds: the oracle's
    ``list_aggregate`` sequence, unrounded."""
    return dot(a, b) / (norm(a) * norm(b))


def hyperplane_code_fold(vec: Column, dim: int, n_bits: int, seed: int = 0) -> Column:
    """Sign-bit code of one table: bit i = [vec · plane_i >= 0], with
    the md5-derived planes of seed ``seed``; a NULL dot (NULL or ragged
    vector) leaves every bit 0."""
    code = F.lit(0).cast("long")
    for i in range(n_bits):
        plane = F.lit(_hyperplane(dim, i, seed))
        bit = F.when(dot(vec, plane) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        code = code + F.shiftleft(bit, i)
    return code


def brute_force_topk_fold(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_same: str | None = None,
) -> DataFrame:
    """Exact cosine top-k as a broadcast crossJoin of the probes against
    the corpus: pairs equal on ``exclude_same`` (default ``id_col``)
    dropped, rounded-6dp ``cosine_fold``, row_number over (cosine desc,
    neighbor id asc) per probe."""
    ex = exclude_same or id_col
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), F.col(ex).alias("_qx")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), F.col(ex).alias("_cx")
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("_cx") != F.col("_qx"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_fold(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def _ident_col(name: str) -> Column:
    return F.col("`" + name.replace("`", "``") + "`")


def _split_select_multiple_fold(
    df: DataFrame,
    question: str,
    choices: list[str],
    value_select_multiples: bool,
    binary_select_multiples: bool,
    choice_labels: dict[str, str] | None,
    sep: str = "/",
) -> DataFrame:
    arr = F.split(_ident_col(question), " ")
    selected = lambda choice: F.array_contains(arr, choice) & _ident_col(question).isNotNull()  # noqa: E731
    out = df
    for choice in choices:
        col_name = f"{question}{sep}{choice}"
        if binary_select_multiples:
            expr = selected(choice).cast("int")
        elif value_select_multiples:
            shown = (choice_labels or {}).get(choice, choice)
            expr = F.when(selected(choice), F.lit(shown))
        else:
            expr = selected(choice)
        out = out.withColumn(col_name, expr)
    return out


def _rename_fold(df: DataFrame, target_of) -> DataFrame:
    """Positional rename over the pre-rename names, set by ``toDF``: until
    none is left, the first renamed column whose target another column
    already resolves to (one that keeps its name, or an earlier renamed
    one) goes back to its old name."""
    sensitive = df.sparkSession.conf.get("spark.sql.caseSensitive") == "true"
    key = (lambda c: c) if sensitive else str.lower
    old = df.columns
    new = [target_of(c) for c in old]

    def clashes(i: int) -> bool:
        held = [new[j] for j in range(len(old)) if j != i and (j < i or new[j] == old[j])]
        return new[i] != old[i] and key(new[i]) in {key(c) for c in held}

    while (i := next((k for k in range(len(old)) if clashes(k)), None)) is not None:
        new[i] = old[i]
    return df.toDF(*new)


def _flatten_group_names_fold(df: DataFrame, sep: str = "/") -> DataFrame:
    return _rename_fold(df, lambda c: c.rsplit(sep, 1)[-1])


def apply_export_settings_fold(
    df: DataFrame,
    settings,
    question_labels: dict[str, str] | None = None,
    select_multiples: dict[str, list[str]] | None = None,
    choice_labels: dict[str, dict[str, str]] | None = None,
    reviews: DataFrame | None = None,
) -> DataFrame:
    """select-multiple split → group flatten → review join → label
    rename or label metadata, one ``withColumn`` per split column."""
    out = df
    if not settings.do_not_split_select_multiple:
        for q, choices in (select_multiples or {}).items():
            out = _split_select_multiple_fold(
                out,
                q,
                choices,
                settings.value_select_multiples,
                settings.binary_select_multiples,
                (choice_labels or {}).get(q) if settings.show_choice_labels else None,
            )
    if settings.remove_group_name:
        out = _flatten_group_names_fold(out)
    if settings.include_reviews and reviews is not None:
        out = out.join(F.broadcast(reviews), on="_id", how="left")
    if settings.include_labels_only and question_labels:
        out = _rename_fold(out, lambda c: question_labels.get(c, c))
    elif settings.include_labels and question_labels:
        out = _labels_metadata_fold(out, question_labels)
    return out


def _labels_metadata_fold(df: DataFrame, labels: dict[str, str]) -> DataFrame:
    """Every column named by a key of ``labels`` gets ``{"label": ...}``
    as its metadata, one ``withMetadata`` per column over positional
    stand-in names."""
    names = df.columns
    out = df.toDF(*[f"_l{i}" for i in range(len(names))])
    for i, c in enumerate(names):
        if c in labels:
            out = out.withMetadata(f"_l{i}", {"label": labels[c]})
    return out.toDF(*names)


def curation_funnel_handwritten(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The original hand-built plan of ``funnel.curation_funnel``: the
    compiler must reproduce it row-for-row."""
    feats = funnel_features(docs, id_col, text_col)
    b2 = F.col("h") >= 10
    b3 = b2 & F.col("pass_gopher")
    b4 = b3 & F.col("pass_repetition")
    flags = feats.select(
        id_col,
        "ch",
        "fp",
        b2.alias("b2"),
        b3.alias("b3"),
        b4.alias("b4"),
        F.col("cont"),
    )
    w_ch, w_fp = W.partitionBy("ch"), W.partitionBy("fp")
    flags = (
        flags.withColumn(
            "b5",
            F.col("b4")
            & (F.col(id_col) == F.min(F.when(F.col("b4"), F.col(id_col))).over(w_ch)),
        )
        .withColumn(
            "b6",
            F.col("b5")
            & (F.col(id_col) == F.min(F.when(F.col("b5"), F.col(id_col))).over(w_fp)),
        )
        .withColumn("b7", F.col("b6") & ~F.col("cont"))
    )
    agg = flags.agg(
        F.count("*").alias("n1"),
        *[
            F.coalesce(F.sum(F.col(f"b{k}").cast("long")), F.lit(0)).alias(f"n{k}")
            for k in range(2, 8)
        ],
    )
    stages = []
    for k, stage in enumerate(FUNNEL_STAGES, start=1):
        src = F.col(f"n{k - 1}" if k > 1 else "n1")
        out = F.col(f"n{k}")
        stages.append(
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
        agg.select(F.explode(F.array(*stages)).alias("s"))
        .select("s.*")
        .orderBy("stage_ord")
    )


def group_ols_slope(
    df: DataFrame, group_cols: list[str], x_col: str, y_col: str
) -> DataFrame:
    """OLS slope of y on x per group via ``groupBy().applyInPandas``:
    the reference for ``pandas_ops.slope_grouped_agg``."""
    out_schema = (
        ", ".join(f"{c} string" for c in group_cols) + ", slope double, n bigint"
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        x, y = pdf[x_col].astype(float), pdf[y_col].astype(float)
        dx = x - x.mean()
        denom = float((dx * dx).sum())
        slope = float((dx * (y - y.mean())).sum() / denom) if denom else float("nan")
        head = {c: [pdf[c].iloc[0]] for c in group_cols}
        return pd.DataFrame({**head, "slope": [slope], "n": [len(pdf)]})

    return df.groupBy(*group_cols).applyInPandas(fit, out_schema)
