"""Text analysis operators: tokenization, quality scoring, language-ID,
document fingerprinting.

All pure Column expressions (whole-stage codegen, no UDFs) except the
Gopher repetition battery, a batched Arrow kernel — at 100 TB these run
at parquet-scan speed with full column pruning. A BPE-ish
regex token count is included alongside whitespace tokens for
token-budget estimation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column

# Minimal per-language stopword markers for the n-gram/stopword language
# heuristic. Real deployments plug in fasttext via a pandas UDF; the
# heuristic keeps the operator dependency-free and deterministic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "y", "es"),
    "fr": ("le", "la", "de", "et", "est"),
    "de": ("der", "die", "das", "und", "ist"),
    "zh": ("的", "是", "了", "在", "和"),
}

STOPWORDS = ("the", "a", "an", "of", "and", "or", "is", "to", "in")


def words_of(text: Column) -> Column:
    return F.split(text, " ")


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(words_of(text))


def token_count_bpe_ish(text: Column) -> Column:
    """BPE-ish token estimate: count of word-piece matches (runs of
    letters, digits, or single non-space symbols), the standard cheap
    proxy for subword-tokenizer budgets."""
    pieces = F.regexp_extract_all(text, F.lit(r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])"), 0)
    return F.size(pieces)


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    ws = words_of(text)
    n_stop = F.size(F.filter(ws, lambda w: w.isin(*stopwords)))
    return n_stop / F.size(ws)


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^\w\s]", "")
    return (F.length(text) - F.length(stripped)) / F.length(text)


def quality_score(text: Column) -> Column:
    """Heuristic [0,1] quality score: favors mid-length documents with
    low punctuation density and a sane stopword ratio (C4-style filters)."""
    n = token_count_ws(text)
    len_term = F.least(n / F.lit(100.0), F.lit(1.0))
    punct_term = 1 - F.least(punct_ratio(text) * 5, F.lit(1.0))
    stop = stopword_ratio(text)
    stop_term = 1 - F.abs(stop - 0.1) * 2
    return F.round((len_term + punct_term + F.greatest(stop_term, F.lit(0.0))) / 3, 6)


def _isin_filter(markers: tuple[str, ...]):
    # NB: a plain `lambda w, m=markers:` won't do — PySpark counts default
    # params and would bind the 2-arg (element, index) HOF variant.
    return lambda w: w.isin(*markers)


def lang_scores(text: Column) -> dict[str, Column]:
    ws = words_of(text)
    return {
        lang: F.size(F.filter(ws, _isin_filter(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def predicted_lang(text: Column) -> Column:
    """argmax over stopword-marker hit counts; 'und' when all zero.
    Ties break by language code order (deterministic)."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in sorted(scores, reverse=True):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(text: Column) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted distinct
    word set — robust to word reordering, the classic cheap near-dup key."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(words_of(text)))))


# Gopher rule constants (Rae et al. 2021, appendix A1.1 — the public
# rule battery most production corpora start from)
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MEAN_LEN = (3.0, 10.0)
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOP_HITS = 2


def gopher_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc Gopher quality-rule battery (Rae et al. 2021): word-count
    bounds, mean word length, symbol-to-word ratio (# and ellipsis),
    alphabetic-word fraction, and the distinct-stopword-hit rule, each as
    its own boolean plus the conjunction. Pure Column expressions — the
    whole battery folds into the scan projection and runs at parquet
    speed with zero shuffles at any corpus size.

    Ellipses count in BOTH spellings the A1.1 rule is applied to: the
    U+2026 character and the ASCII '...' sequence (each '...' occurrence
    counts once — occurrence count via length-delta / 3)."""
    from duva_spark.operators.parallel import ensure_min_parallelism

    # The per-word rlike in alpha_frac is the battery's dominant CPU;
    # spread a single-split scan across cores first (no-op on any
    # multi-split input — the flags stay a scan-local projection at
    # scale, just above a fan-out exchange on tiny local files).
    df = ensure_min_parallelism(df)
    t = F.col(text_col)
    ws = words_of(t)
    n = F.size(ws)
    mean_len = (F.length(t) - n + 1) / n
    n_symbols = (
        F.length(t)
        - F.length(F.replace(t, F.lit("#"), F.lit("")))
        + (F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit(""))))
        + (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    )
    alpha_frac = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))) / n
    stop_hits = F.size(
        F.array_intersect(F.array_distinct(ws), F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]))
    )
    p_words = (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS)
    p_mean = (mean_len >= GOPHER_MEAN_LEN[0]) & (mean_len <= GOPHER_MEAN_LEN[1])
    p_sym = (n_symbols / n) <= GOPHER_MAX_SYMBOL_RATIO
    p_alpha = alpha_frac >= GOPHER_MIN_ALPHA_FRAC
    p_stop = stop_hits >= GOPHER_MIN_STOP_HITS
    return df.select(
        "*",
        n.cast("long").alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(n_symbols / n, 6).alias("symbol_ratio"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        stop_hits.cast("long").alias("n_stop_hits"),
        p_words.alias("pass_word_count"),
        p_mean.alias("pass_mean_len"),
        p_sym.alias("pass_symbol_ratio"),
        p_alpha.alias("pass_alpha"),
        p_stop.alias("pass_stopwords"),
        (p_words & p_mean & p_sym & p_alpha & p_stop).alias("pass_gopher"),
    )


def structural_pass() -> Column:
    """The language-agnostic STRUCTURAL subset of the Gopher battery over
    `gopher_flags` output: every rule but the per-language stopword rule
    (it zeroes a multilingual corpus; production gates it per lang). The
    funnel's quality stage and the classifiers' distillation label."""
    return (
        F.col("pass_word_count")
        & F.col("pass_mean_len")
        & F.col("pass_symbol_ratio")
        & F.col("pass_alpha")
    )


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    return df.select(
        "*",
        token_count_ws(t).cast("long").alias("n_tokens_ws"),
        token_count_bpe_ish(t).cast("long").alias("n_tokens_bpe"),
        F.round(stopword_ratio(t), 6).alias("stopword_ratio"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        quality_score(t).alias("quality"),
        predicted_lang(t).alias("lang_pred"),
        fingerprint(t).alias("fingerprint"),
    )


def winnowing_fingerprints(text: Column, k: int = 5, window: int = 4) -> Column:
    """Winnowing document fingerprints (rolling-hash scheme): hash every
    k-char-gram, then keep the minimum hash of each sliding window of
    `window` consecutive gram hashes. Robust local fingerprints for
    plagiarism/near-dup detection; output is the sorted distinct
    fingerprint set.

    Built entirely from array ops: char k-grams via zip_with over shifted
    slices, window minima likewise via iterated least() zips.
    """
    from duva_spark.llm.minhash import base_hash

    chars = F.split(text, "")
    grams = chars
    for j in range(1, k):
        grams = F.zip_with(grams, F.slice(chars, j + 1, F.size(chars)), lambda a, b: F.concat(a, b))
    grams = F.filter(grams, lambda x: x.isNotNull() & (F.length(x) == k))
    hashes = F.transform(grams, base_hash)
    mins = hashes
    for j in range(1, window):
        mins = F.zip_with(
            mins, F.slice(hashes, j + 1, F.size(hashes)), lambda a, b: F.least(a, b)
        )
    mins = F.filter(mins, lambda x: x.isNotNull())
    n_windows = F.greatest(F.size(hashes) - window + 1, F.lit(0))
    return F.array_sort(F.array_distinct(F.slice(mins, 1, n_windows)))


def dup_word_fraction(text: Column) -> Column:
    """Gopher-style repetition signal: fraction of word occurrences that
    are repeats of an earlier word (1 - distinct/total)."""
    ws = words_of(text)
    return 1 - F.size(F.array_distinct(ws)) / F.size(ws)


def _max_equal_adjacent_run(arr: Column) -> Column:
    """Length (in elements) of the longest run of equal adjacent elements.

    Linear, pure codegen: flag equal-adjacent pairs via a shifted zip, then
    a single F.aggregate pass carries (current_run, best_run). Returns 1
    for any non-empty array with no repeats; callers guard empty arrays.
    """
    flags = F.zip_with(
        arr,
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        lambda a, b: F.when(a.eqNullSafe(b), F.lit(1)).otherwise(F.lit(0)),
    )
    best = F.aggregate(
        flags,
        F.struct(F.lit(0).alias("cur"), F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            F.when(x == 1, acc.cur + 1).otherwise(F.lit(0)).alias("cur"),
            F.greatest(acc.best, F.when(x == 1, acc.cur + 1).otherwise(F.lit(0))).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return best + 1


def max_word_run(text: Column) -> Column:
    """Longest run of the same word repeated consecutively ("a a a" -> 3).
    The Gopher/RefinedWeb consecutive-repetition filter signal."""
    return _max_equal_adjacent_run(words_of(text))


def word_bigrams(text: Column) -> Column:
    """Adjacent word pairs as strings; size = n_words - 1 (codegen zip)."""
    ws = words_of(text)
    pairs = F.zip_with(
        ws,
        F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    # zip_with pads the shorter side with NULL; concat(a, NULL) is NULL,
    # so trimming to n-1 drops exactly the padded tail element.
    return F.slice(pairs, 1, F.greatest(F.size(ws) - 1, F.lit(0)))


def top_bigram_fraction(text: Column) -> Column:
    """Fraction of all word-bigram occurrences taken by the single most
    frequent bigram (Gopher's top-2-gram repetition filter).

    Shuffle-free mode computation: sort the bigram array, then the mode's
    count is the longest equal-adjacent run in the sorted array — O(L log L)
    per row, whole-stage codegen, no explode/groupBy."""
    bg = word_bigrams(text)
    top = _max_equal_adjacent_run(F.array_sort(bg))
    return F.when(F.size(bg) > 0, top / F.size(bg)).otherwise(F.lit(0.0))


# Gopher repetition-rule thresholds (Rae et al. 2021, appendix A1.1,
# table A1 — the second half of the battery: repetition signals).
# Applied to the 6-dp ROUNDED fraction so a boundary value cannot flip
# between engines.
GOPHER_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def _repetition_report(
    raw: DataFrame, id_col: str, dp: int
) -> DataFrame:
    """Repetition-battery tail: turn the exact integer counts (tc_n =
    top-gram char mass, dc_n = duplicate-gram char coverage) into
    rounded fractions + the threshold conjunction. The test-side Column
    fold shares this tail, so kernel and reference cannot drift on the
    cross-engine rounding contract."""
    wc = F.col("word_chars")

    def frac(col):
        return F.when(wc > 0, F.round(col / wc, dp)).otherwise(F.lit(0.0))

    cols = [F.col(id_col), F.col("n_words"), F.col("word_chars")]
    passes = []
    for n in sorted(GOPHER_TOP_NGRAM_MAX):
        f = frac(F.col(f"tc_{n}"))
        cols.append(f.alias(f"top_frac_{n}"))
        passes.append(f <= GOPHER_TOP_NGRAM_MAX[n])
    for n in sorted(GOPHER_DUP_NGRAM_MAX):
        f = frac(F.col(f"dc_{n}"))
        cols.append(f.alias(f"dup_frac_{n}"))
        passes.append(f <= GOPHER_DUP_NGRAM_MAX[n])
    conj = passes[0]
    for p_ in passes[1:]:
        conj = conj & p_
    return raw.select(*cols, conj.alias("pass_repetition"))


def gopher_repetition(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dp: int = 6,
) -> DataFrame:
    """Per-doc Gopher REPETITION battery (Rae et al. 2021 A1.1, table
    A1) — the within-document complement of the cross-document span
    family:

    - ``top_frac_{2,3,4}``: fraction of word characters contained in
      the most frequently occurring n-gram (occurrence count × the
      gram's word-char length, over the doc's total word chars); ties
      on count break to the LEXICOGRAPHICALLY SMALLEST gram on both
      engines.
    - ``dup_frac_{5..10}``: fraction of word characters covered by any
      n-gram occurring >= 2 times in the doc, counted by POSITION
      COVERAGE (overlapping duplicate grams never double-count) — the
      DataTrove/NeMo-Curator accounting.
    - ``pass_repetition``: the conjunction of all nine thresholds
      (table A1), each compared on the ``dp``-rounded fraction.

    Character accounting covers word characters only (inter-word
    whitespace excluded on both engines — on canonically single-spaced
    text the two differ only by the whitespace mass, documented
    deviation from the paper's raw-char counts).

    Scale design — ZERO SHUFFLES: every statistic is a function of ONE
    document, so the battery is an Arrow kernel (mapInPandas) over the
    scan, plan-asserted no-Exchange. One python pass per document
    computes the EXACT INTEGER statistics (top-gram char mass per n,
    duplicate-coverage char mass per n); the fractions, rounding, and
    thresholds live in the Column tail ``_repetition_report``. The
    Column form of the same battery (sorted-gram-array higher-order
    functions, interpreted per element) measured 15× slower in the r8
    A/B; it shares ``_repetition_report`` and is the pin-test oracle
    in ``tests/reference_folds.py``."""
    import pandas as pd

    top_ns = sorted(GOPHER_TOP_NGRAM_MAX)
    dup_ns = sorted(GOPHER_DUP_NGRAM_MAX)
    id_dt = df.schema[id_col].dataType.simpleString()
    schema = ", ".join(
        [f"{id_col} {id_dt}", "n_words long", "word_chars long"]
        + [f"tc_{n} long" for n in top_ns]
        + [f"dc_{n} long" for n in dup_ns]
    )

    def kernel(batches):
        from collections import Counter

        for pdf in batches:
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if not isinstance(text, str):
                    # NULL text: NULL n_words/word_chars and 0.0
                    # fractions after the report's guard (split(NULL)
                    # semantics), don't crash
                    rows.append(
                        [did, None, None] + [0] * (len(top_ns) + len(dup_ns))
                    )
                    continue
                ws = text.split(" ")
                L = len(ws)
                wlens = [len(w) for w in ws]
                # r12 optimization (same values, faster batch python):
                # count TUPLES with collections.Counter (C-speed) and
                # only materialize joined gram STRINGS for tie-break
                # candidates; compute duplicate coverage as an interval
                # union over the (usually sparse) flagged positions with
                # a word-length prefix sum, instead of the O(L·n)
                # any(flags[slice]) scan per word. Joined-string
                # equality == tuple equality (words cannot contain the
                # separator), so counts and tie-breaks are identical.
                pre = [0]
                for wl in wlens:
                    pre.append(pre[-1] + wl)
                rec = [did, L, pre[-1]]
                for n in top_ns:
                    if L >= n:
                        counts = Counter(zip(*(ws[i:] for i in range(n))))
                        best = max(counts.values())
                        # tie → lexicographically smallest gram
                        bg = min(
                            " ".join(t) for t, c in counts.items() if c == best
                        )
                        rec.append(best * (len(bg) - (n - 1)))
                    else:
                        rec.append(0)
                for n in dup_ns:
                    if L >= n:
                        g = list(zip(*(ws[i:] for i in range(n))))
                        counts = Counter(g)
                        covered = 0
                        start = end = -1
                        for i, t in enumerate(g):
                            if counts[t] >= 2:
                                if start < 0:
                                    start, end = i, i + n
                                elif i <= end:
                                    end = i + n
                                else:
                                    covered += pre[end] - pre[start]
                                    start, end = i, i + n
                        if start >= 0:
                            covered += pre[end] - pre[start]
                        rec.append(covered)
                    else:
                        rec.append(0)
                rows.append(rec)
            yield pd.DataFrame(
                rows,
                columns=[id_col, "n_words", "word_chars"]
                + [f"tc_{n}" for n in top_ns]
                + [f"dc_{n}" for n in dup_ns],
            )

    raw = df.select(id_col, text_col).mapInPandas(kernel, schema=schema)
    return _repetition_report(raw, id_col, dp)
