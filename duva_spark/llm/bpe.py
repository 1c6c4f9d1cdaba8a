"""BPE merge-rule training (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units") as a bounded-iteration
Spark loop.

The classic trainer never iterates the corpus: it iterates the **word-
frequency table** — count every distinct whitespace word ONCE (the only
corpus-sized job), split each word into character symbols, then repeat
``n_merges`` times: count adjacent symbol pairs weighted by word
frequency, pick the most frequent pair, and greedily merge its
occurrences in every word's symbol sequence. This module is that loop,
Spark-first:

- The corpus-sized work is exactly ONE map-side-combined groupBy (the
  word vocabulary). Every later round touches only the vocab table —
  Zipf-bounded, independent of corpus row count.
- Per round: pair counts are one small shuffle on the (a, b) symbol-pair
  key (alphabet²-bounded early, vocab-bounded always); the winning pair
  comes back through an ORDER BY LIMIT 1 → TakeOrderedAndProject
  (per-partition top-1, the driver receives ONE row per round — the
  same bounded-collect contract as ``llm/coreset.py`` and
  ``llm/kmeans.py``).
- The merge application is a pure whole-stage-codegen fold
  (``F.aggregate``) with the winning pair inlined as literals — no UDF,
  no join, no shuffle. Greedy left-to-right semantics (scan, merge,
  skip both) are exactly the reference algorithm's; the fold form is
  equivalent because a just-merged token ``a+b`` can never re-match as
  ``a`` (``b`` is non-empty), property-tested against a pure-python
  scan reference in tests/test_llm_ops.py.

Determinism contract: pair counts are exact integers; ties break
(count DESC, left ASC, right ASC) under binary string collation on
both engines — no float anywhere in the ranking.

At 100 TB: one corpus scan + N vocab-table rounds, each round's state
localCheckpoint'd so lineage TRULY stays depth-1 (persist() would only
cache — an eviction replays every prior merge round; the checkpoint
severs the chain, the hashed_lm/doremi contract); driver holds N merge
rows. The
trainer composes with q_bpe_pair_counts (the single-round statistic)
the way kmeans composes with assign_nearest.

Reference parity: none — onaio/duva has no tokenizer surface (it is an
ingest/export service, app/core/importer.py); this is part of the
beyond-reference LLM-pipeline inventory SURVEY.md §2c calls for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def symbolize(word: Column, alphabet: str = "char") -> Column:
    """A word's initial symbol sequence.

    - ``char``: unicode characters (the Sennrich setup).
    - ``byte``: UTF-8 bytes as 2-char uppercase-hex symbols (the GPT-2
      byte-fallback alphabet: a closed 256-symbol universe, so NO word
      is ever OOV and multi-byte codepoints merge back together from
      their byte pieces). Hex pairs rather than the GPT-2
      bytes→unicode remap: the bijection is what matters (tokens stay
      losslessly decodable via unhex), and hex compares identically
      under both engines' binary collation — no printable-remap table
      to keep in sync.
    """
    if alphabet == "char":
        return F.filter(F.split(word, ""), lambda c: c != "")
    if alphabet == "byte":
        return F.regexp_extract_all(F.hex(F.encode(word, "UTF-8")), F.lit("(..)"), 1)
    raise ValueError(f"unknown alphabet {alphabet!r}")


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, cnt): whitespace-word frequency table — the trainer's input
    and the ONLY corpus-sized computation in BPE training."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )


def greedy_merge(syms: Column, a: str, b: str) -> Column:
    """Apply merge rule (a, b) → a+b to a symbol array, greedy
    left-to-right (merge and consume both; 'a a a' with rule (a,a)
    yields ['aa','a']). Pure codegen fold: the accumulator appends the
    symbol, or replaces its own tail when (tail, current) is the pair.
    Equivalent to the scan because the merged token a+b ≠ a."""
    merged = a + b

    def step(acc: Column, s: Column) -> Column:
        hit = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b))
        )
        return F.when(
            hit,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(syms, F.array().cast("array<string>"), step)


def encode_word_py(
    word: str, pairs: list[tuple[str, str, str]], alphabet: str = "char"
) -> list[str]:
    """Python twin of ``symbolize`` + one ``greedy_merge`` per rule:
    the word's symbols (chars, or UTF-8 bytes as 2-char uppercase hex)
    after each (a, b, merged) rule in TRAINING ORDER as one greedy
    left-to-right merge-and-consume scan. The Arrow encode kernels run
    this per distinct word."""
    if alphabet == "byte":
        h = word.encode("utf-8").hex().upper()
        syms = [h[i : i + 2] for i in range(0, len(h), 2)]
    else:
        syms = list(word)
    for a, b, m in pairs:
        out = []
        i = 0
        n = len(syms)
        while i < n:
            if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                out.append(m)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def _pair_counts(seqs: DataFrame) -> DataFrame:
    """(a, b, n): adjacent-pair frequencies over the current symbol
    sequences, weighted by word count (overlapping pairs counted, the
    reference trainer's statistic). One vocab-bounded shuffle."""
    return (
        seqs.select(
            "cnt",
            F.explode(
                # sequence(0, -1) DESCENDS in Spark — single-symbol
                # words must short-circuit to an empty pair list.
                F.expr(
                    "CASE WHEN size(syms) >= 2 THEN"
                    " transform(sequence(0, size(syms) - 2),"
                    " i -> struct(syms[i] AS a, syms[i + 1] AS b))"
                    " ELSE array() END"
                )
            ).alias("p"),
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "cnt")
        .groupBy("a", "b")
        .agg(F.sum("cnt").alias("n"))
    )


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    alphabet: str = "char",
) -> list[tuple[int, str, str, str, int]]:
    """Train ``n_merges`` BPE merge rules; returns
    [(merge_round, left_sym, right_sym, merged, pair_count)].

    Driver state is the ≤n_merges winning rows (one bounded collect per
    round); the corpus is scanned once, every round after operates on
    the persisted word-frequency table."""
    vocab = word_vocab(docs, text_col)
    # lazy localCheckpoint per round: the next round's argmax job both
    # materializes AND truncates lineage at this generation, so a
    # cache-pressure eviction never replays prior merge rounds
    # (persist() only cached — an eviction replayed the whole chain;
    # r7 ADVICE item). The trade: checkpointed blocks are NOT
    # recomputable after executor loss — acceptable for a bounded
    # driver loop whose job simply re-runs
    seqs = vocab.select(
        "w", "cnt", symbolize(F.col("w"), alphabet).alias("syms")
    ).localCheckpoint(eager=False)
    rules: list[tuple[int, str, str, str, int]] = []
    for r in range(1, n_merges + 1):
        win = (
            _pair_counts(seqs)
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not win:  # vocabulary fully merged — stop early
            break
        a, b, n = win[0]["a"], win[0]["b"], int(win[0]["n"])
        rules.append((r, a, b, a + b, n))
        seqs = seqs.select(
            "w", "cnt", greedy_merge(F.col("syms"), a, b).alias("syms")
        ).localCheckpoint(eager=False)
    return rules


def bpe_train_frame(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    alphabet: str = "char",
) -> DataFrame:
    """The trained merge table as a DataFrame (n_merges rows, built from
    the driver-side winners — bounded by n_merges, the kcenter_frame
    pattern)."""
    spark = docs.sparkSession
    rows = [
        (int(r), a, b, m, int(n))
        for r, a, b, m, n in bpe_train(docs, text_col, n_merges, alphabet)
    ]
    return spark.createDataFrame(
        rows,
        "merge_round long, left_sym string, right_sym string,"
        " merged string, pair_count long",
    )


def encode_token_counts(
    docs: DataFrame,
    rules: list[tuple[int, str, str, str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
    alphabet: str = "char",
) -> DataFrame:
    """(id_col, n_words, n_char_tokens, n_bpe_tokens, compression):
    per-document token census under the trained merges — the
    tokenizer-application dual of bpe_train (train once, encode as a
    pure per-row projection, zero exchanges before the per-doc
    aggregate).

    An Arrow kernel (mapInPandas, one batched Python pass, per-task
    word→count memo): symbolization (chars, or UTF-8 bytes as 2-char
    uppercase hex), then each trained rule applied in TRAINING ORDER as
    one greedy left-to-right merge-and-consume scan (``encode_word_py``).
    The Column form of
    the same encode (nested per-rule ``greedy_merge`` folds) is
    interpreted per SYMBOL and measured ~30× slower; it is the pin-test
    oracle in ``tests/reference_folds.py``
    (tests/test_llm_ops.py::test_bpe_encode_arrow_matches_fold).
    """
    pairs = [(a, b, m) for _, a, b, m, _ in rules]

    def kernel(batches):
        import pandas as pd

        memo: dict[str, int] = {}

        def n_tokens(word: str) -> int:
            hit = memo.get(word)
            if hit is None:
                hit = memo[word] = len(encode_word_py(word, pairs, alphabet))
            return hit

        for pdf in batches:
            ids, nw, nc, nb = [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                ws = [w for w in text.split(" ") if w]
                ids.append(did)
                nw.append(len(ws))
                nc.append(
                    sum(len(w.encode("utf-8")) for w in ws)
                    if alphabet == "byte"
                    else sum(len(w) for w in ws)
                )
                nb.append(sum(n_tokens(w) for w in ws))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_words": nw,
                    "n_char_tokens": nc,
                    "n_bpe_tokens": nb,
                }
            )

    id_type = docs.schema[id_col].dataType.simpleString()
    out = docs.select(id_col, text_col).mapInPandas(
        kernel,
        f"{id_col} {id_type}, n_words long, n_char_tokens long, n_bpe_tokens long",
    )
    return out.select(
        id_col,
        "n_words",
        "n_char_tokens",
        "n_bpe_tokens",
        F.when(
            F.col("n_char_tokens") > 0,
            F.round(F.col("n_bpe_tokens") * 1.0 / F.col("n_char_tokens"), 6),
        )
        # empty/whitespace-only doc: 0/0 is defined as 0.0 (the oracle's
        # LEFT JOIN + CASE twin), not NULL
        .otherwise(F.lit(0.0))
        .alias("compression"),
    )


def encode_dropout_counts(
    docs: DataFrame,
    rules: list[tuple[int, str, str, str, int]],
    id_col: str = "doc_id",
    group_col: str = "source",
    text_col: str = "text",
    alphabet: str = "char",
    p_inv: int = 10,
) -> DataFrame:
    """(id_col, group_col, n_words, n_bpe_tokens, n_bpe_dropout): the
    standard greedy encode next to BPE-DROPOUT (Provilkov et al. 2020,
    "BPE-Dropout: Simple and Effective Subword Regularization") under a
    DETERMINISTIC seed: during rule ``r``'s greedy left-to-right scan a
    matching candidate at (1-based) position ``i`` of word ``w`` is
    skipped when ``md5_60("w|r|i") % p_inv == 0`` (p = 1/p_inv). Because
    the mask is a pure function of (word, rule, position) — not a
    sequential RNG — absorbed positions' draws are irrelevant to the
    outcome in any implementation order, which is exactly what lets the
    DuckDB oracle replay the same segmentation with the window-function
    merge chain plus one extra mask predicate. Same Arrow/memo shape as
    encode_token_counts; one batched pass, zero exchanges before
    the downstream aggregate."""
    import hashlib

    pairs = [(r, a, b, m) for r, a, b, m, _ in rules]
    std_pairs = [(a, b, m) for _, a, b, m in pairs]

    def kernel(batches):
        import pandas as pd

        memo: dict[str, tuple[int, int]] = {}

        def dropout_pass(syms, a, b, m, drop_key):
            out = []
            i = 0
            n = len(syms)
            while i < n:
                if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                    h = int(
                        hashlib.md5(
                            f"{drop_key}|{i + 1}".encode("utf-8")
                        ).hexdigest()[:15],
                        16,
                    )
                    if h % p_inv == 0:
                        out.append(syms[i])
                        i += 1
                        continue
                    out.append(m)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            return out

        def counts(word: str) -> tuple[int, int]:
            hit = memo.get(word)
            if hit is not None:
                return hit
            drp = encode_word_py(word, [], alphabet)
            for r, a, b, m in pairs:
                drp = dropout_pass(drp, a, b, m, drop_key=f"{word}|{r}")
            memo[word] = (len(encode_word_py(word, std_pairs, alphabet)), len(drp))
            return memo[word]

        for pdf in batches:
            ids, grp, nw, ns, nd = [], [], [], [], []
            for did, g, text in zip(pdf[id_col], pdf[group_col], pdf[text_col]):
                ws = [w for w in text.split(" ") if w]
                s = d = 0
                for w in ws:
                    cs, cd = counts(w)
                    s += cs
                    d += cd
                ids.append(did)
                grp.append(g)
                nw.append(len(ws))
                ns.append(s)
                nd.append(d)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    group_col: grp,
                    "n_words": nw,
                    "n_bpe_tokens": ns,
                    "n_bpe_dropout": nd,
                }
            )

    id_type = docs.schema[id_col].dataType.simpleString()
    g_type = docs.schema[group_col].dataType.simpleString()
    return docs.select(id_col, group_col, text_col).mapInPandas(
        kernel,
        f"{id_col} {id_type}, {group_col} {g_type},"
        " n_words long, n_bpe_tokens long, n_bpe_dropout long",
    )
