"""Embedding similarity search: brute-force cosine top-k baseline, an
IVF-bucketed approximate path and random-projection (sign-bit) LSH.

Every production cosine goes through ONE numpy helper, ``_cosine6``,
called from two Arrow kernels: ``cosine_pairs_arrow`` (row-aligned
candidate pairs — the IVF, RP-LSH and rerank slivers) and
``brute_force_topk`` (every corpus row against a broadcast probe
matrix). The helper accumulates each dot product and both squared
norms in INDEX ORDER — one IEEE double multiply and one add per
element, ``((0+x0·y0)+x1·y1)+…`` — which is exactly the operation
sequence of the DuckDB oracle's ``list_aggregate`` fold (and of the
Column fold the tests keep as the pin, ``tests/reference_folds.py``),
so the rounded 6-dp cosine is bit-exact by construction. A BLAS matmul
would re-associate the sums and could move a value across a rounding
boundary. Sign-bit codes have one kernel too, ``rplsh_codes_arrow``,
with the same index-order discipline for the plane dot products.

Scale design:
- brute-force: probes are collected once and broadcast (a top-k probe
  set is small by definition, guarded by ``max_probes``); the corpus is
  scanned once with zero shuffle on its side, and each Arrow batch
  pre-reduces to its local top-k, so the final window ranks
  O(batches · probes · k) rows.
- IVF: corpus is assigned once to nearest-centroid buckets (analogous
  to FAISS IVF lists) via a SHUFFLE-FREE broadcast Arrow argmax
  (`llm/assign.py`, shared with KMeans — no n×nlist exchange). A query
  probes its nprobe nearest centroids (same helper, top-n mode) and the
  candidate scan is a broadcast join on bucket — zero corpus shuffle
  end-to-end; 1/nlist·nprobe of the data touched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def _hyperplane(dim: int, bit: int, seed: int) -> list[float]:
    """Deterministic pseudo-random hyperplane in [-1, 1]^dim, derived from
    md5 so it is reproducible across processes with no RNG state."""
    import hashlib

    coefs = []
    for j in range(dim):
        h = hashlib.md5(f"{seed}:{bit}:{j}".encode()).hexdigest()
        coefs.append(int(h[:15], 16) / float(0xFFFFFFFFFFFFFFF) * 2.0 - 1.0)
    return coefs


def _cosine6(a, b):
    """Rounded-6dp cosine of ``a`` and ``b`` along their last axis, with
    the leading axes broadcast: (m, d) with (m, d) scores row-aligned
    pairs, (n, 1, d) with (1, m, d) scores all n×m pairs. Non-finite
    results (a zero-norm side) come back as NaN, which Arrow turns into
    NULL.

    The one place production code computes a cosine. Dot and squared norms
    accumulate in index order, in place — one multiply and one add per
    element — then ``dot / (sqrt(na) * sqrt(nb))`` and the 6-dp round
    run on the same doubles as the oracle's fold (IEEE sqrt is
    correctly rounded in numpy, the JVM and DuckDB alike)."""
    import numpy as np

    # dim-first contiguous copies: each step reads one contiguous slab
    a = np.ascontiguousarray(np.moveaxis(np.asarray(a, dtype=np.float64), -1, 0))
    b = np.ascontiguousarray(np.moveaxis(np.asarray(b, dtype=np.float64), -1, 0))
    dot = np.zeros(np.broadcast_shapes(a.shape[1:], b.shape[1:]))
    na, nb = np.zeros(a.shape[1:]), np.zeros(b.shape[1:])
    tmp, ta, tb = np.empty_like(dot), np.empty_like(na), np.empty_like(nb)
    for aj, bj in zip(a, b):
        dot += np.multiply(aj, bj, out=tmp)
        na += np.multiply(aj, aj, out=ta)
        nb += np.multiply(bj, bj, out=tb)
    with np.errstate(divide="ignore", invalid="ignore"):
        s = np.round(dot / (np.sqrt(na) * np.sqrt(nb)), 6)
    s[~np.isfinite(s)] = np.nan
    return s


def index_sum_sql(n: int, term: str) -> str:
    """DuckDB SQL for the sum of ``term`` over the 1-based index ``i`` in
    1..n, folded in index order: the oracle twin of `_cosine6`'s
    accumulation, and the one spelling of every oracle dot, norm and
    squared distance."""
    return f"list_aggregate(list_transform(range(1, {n + 1}), i -> {term}), 'sum')"


def _lengths(vecs):
    """Per-row vector length, -1 for a NULL vector."""
    import numpy as np

    return np.array([-1 if v is None else len(v) for v in vecs], dtype=np.int64)


def _rank(df: DataFrame, k: int | None = None, by: tuple[str, ...] = ("query_id",)) -> DataFrame:
    """The top-k contract every similarity search shares: ``rank`` =
    row_number over ``by`` ordered by (cosine_sim desc, neighbor_id
    asc) — NULL cosines sort last — kept to ``rank <= k``."""
    w = W.partitionBy(*by).orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    ranked = df.withColumn("rank", F.row_number().over(w).cast("long"))
    return ranked if k is None else ranked.filter(F.col("rank") <= k)


def rplsh_codes_arrow(
    df: DataFrame,
    dim: int,
    n_bits: int,
    n_tables: int,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "neighbor_id",
    out_vec: str = "c_vec",
    tbl_col: str = "tbl",
    code_col: str = "code",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Exploded sign-bit codes — one row per (vector, table) with that
    table's ``n_bits`` code, bit i = [vec · plane_i >= 0] — as an
    Arrow/numpy kernel. Table t uses planes ``_hyperplane(dim, i, seed
    + t)``; collision probability for angle θ is (1 - θ/π)^n_bits, so
    near-parallel vectors share codes. ``keep`` columns (e.g. block
    keys) pass through unchanged.

    Why a kernel: ``n_tables × n_bits`` higher-order-function folds are
    CodegenFallback, so every ROW paid tables·bits·dim interpreted
    lambda evaluations (~3k per row on the 8×6 grid), and the
    tables·bits fold trees made first-run planning of the grid queries
    cost seconds of driver time. One mapInPandas pass computes every
    bit of every table as dim vectorized numpy ops per (table, bit).

    Bit-exact with the oracle BY CONSTRUCTION: each dot product
    accumulates plane terms in index order, the same operation sequence
    as the DuckDB oracle's ``list_aggregate`` fold (``_rplsh_code_sql``),
    so the ``>= 0`` sign test sees the identical double. (A matmul would
    re-associate the sum and could flip a near-zero sign.) A pin test
    asserts equality against the Column fold in
    ``tests/reference_folds.py`` on real data.

    Codes return as ONE array column per row (the table explode stays in
    the JVM), so the Arrow roundtrip carries no duplication.

    Null and wrong-length (ragged) vectors code to 0 in every table —
    the fold's NULL-propagation outcome (every ``>= 0`` sign test on a
    NULL dot is false). Vector ELEMENTS are assumed non-null finite
    numerics, the embedding-table contract every caller scans.
    """
    import numpy as np
    import pandas as pd

    planes = np.array(
        [
            [_hyperplane(dim, i, seed + t) for i in range(n_bits)]
            for t in range(n_tables)
        ],
        dtype=np.float64,
    )  # (n_tables, n_bits, dim)
    fields = [(out_id, id_col), (out_vec, vec_col)] + [(c, c) for c in keep]
    schema = ", ".join(
        f"{o} {df.schema[c].dataType.simpleString()}" for o, c in fields
    )

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = pdf[vec_col].to_numpy()
            ok = _lengths(vecs) == dim
            codes = np.zeros((len(vecs), n_tables), dtype=np.int64)
            if ok.any():
                V = np.stack(vecs[ok]).astype(np.float64)
                n = V.shape[0]
                sub = np.zeros((n, n_tables), dtype=np.int64)
                for t in range(n_tables):
                    code_t = np.zeros(n, dtype=np.int64)
                    for i in range(n_bits):
                        acc = np.zeros(n, dtype=np.float64)
                        p = planes[t, i]
                        for j in range(dim):
                            acc = acc + V[:, j] * p[j]  # index-order fold
                        code_t |= (acc >= 0).astype(np.int64) << i
                    sub[:, t] = code_t
                codes[ok] = sub
            # all columns positional (numpy / plain list): mixing in the
            # index-carrying Series pdf[vec_col] was only correct while
            # batches arrived with a default RangeIndex
            data = {o: pdf[c].to_numpy() for o, c in fields}
            data["_codes"] = list(codes)
            yield pd.DataFrame(data)

    coded = df.select(id_col, vec_col, *keep).mapInPandas(
        gen, f"{schema}, _codes array<long>"
    )
    return coded.select(
        out_id, out_vec, *keep, F.posexplode("_codes").alias(tbl_col, code_col)
    )


def cosine_pairs_arrow(
    pairs: DataFrame,
    keep: tuple[str, ...] = ("query_id", "neighbor_id"),
    q_col: str = "q_vec",
    c_col: str = "c_vec",
    out: str = "cosine_sim",
) -> DataFrame:
    """Rounded-6dp exact cosine of each row's (``q_col``, ``c_col``)
    vector pair as an Arrow/numpy kernel over ``_cosine6`` — the
    verification step of every candidate sliver (IVF, RP-LSH, blocked
    overflow, rerank features). The sliver grows with corpus size, so
    its per-row cost is a scale term; one mapInPandas pass replaces the
    per-element interpreted fold.

    Declared edges: a NULL vector or a pair of different lengths
    yields a NULL cosine (the fold's NULL propagation); a zero-norm
    vector yields NULL too — where the fold's 0/0 would raise under
    Spark's ANSI mode, NULL is the kernel's graceful superset. A pin
    test asserts equality against the Column fold on real data.

    Only ``keep`` + the two vector columns cross the boundary.
    """
    import numpy as np
    import pandas as pd

    keep_t = [(c, pairs.schema[c].dataType.simpleString()) for c in keep]
    schema = ", ".join([f"{c} {t}" for c, t in keep_t] + [f"{out} double"])

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            qv = pdf[q_col].to_numpy()
            cv = pdf[c_col].to_numpy()
            lq, lc = _lengths(qv), _lengths(cv)
            res = np.full(len(pdf), np.nan)
            for d in np.unique(lq[(lq == lc) & (lq >= 0)]):
                rows = (lq == d) & (lc == d)
                res[rows] = _cosine6(np.stack(qv[rows]), np.stack(cv[rows]))
            data = {c: pdf[c].to_numpy() for c, _ in keep_t}
            data[out] = res
            yield pd.DataFrame(data)

    return pairs.select(*keep, q_col, c_col).mapInPandas(gen, schema)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_same: str | None = None,
    max_probes: int = 4096,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine_sim, rank),
    ids in ``id_col``'s type.

    A (probe, corpus row) pair is dropped when the two rows are equal on
    ``exclude_same`` (default ``id_col``: no self-matches; ``"label"``
    mines hard negatives). Ranks follow ``_rank``: cosine desc, ties to
    the lower neighbor id, NULL cosines (zero-norm or ragged rows) last.

    The probe rows are collected once and broadcast; each corpus Arrow
    batch scores every (row, probe) pair through ``_cosine6`` and emits
    only its local top-k per probe, ordered on the ROUNDED cosine like
    the final rank, so the window merges O(batches · probes · k) rows
    instead of O(corpus · probes). Batches are scored in slabs of about
    a million pairs, bounding executor memory at any probe count.

    The probe collect is GUARDED by ``max_probes``: ``limit(max_probes +
    1)`` bounds what can ever be pulled, and crossing the cap raises
    instead of silently materializing a large frame on the driver.
    """
    import numpy as np
    import pandas as pd

    ex_col = exclude_same or id_col
    cols = list(dict.fromkeys([id_col, vec_col, ex_col]))
    id_t = corpus.schema[id_col].dataType.simpleString()
    spark = corpus.sparkSession
    q_rows = queries.select(*cols).limit(max_probes + 1).collect()
    if len(q_rows) > max_probes:
        raise ValueError(
            f"brute_force_topk probe frame exceeds max_probes="
            f"{max_probes}; a top-k probe set must be small (raise "
            f"max_probes explicitly if this is intentional)"
        )
    out_schema = f"query_id {id_t}, neighbor_id {id_t}, cosine_sim double"
    if not q_rows:  # empty probes -> empty result
        return spark.createDataFrame([], f"{out_schema}, rank long")
    q_ids = np.array([r[id_col] for r in q_rows])
    q_ex = np.array([r[ex_col] for r in q_rows], dtype=object)
    q_len = _lengths([r[vec_col] for r in q_rows])
    # probes grouped by vector length: a pair scores only when both
    # sides have the same length (anything else is NULL, as in the fold)
    groups = {}
    for d in np.unique(q_len[q_len >= 0]):
        idx = np.nonzero(q_len == d)[0]
        groups[d] = (idx, np.array([q_rows[i][vec_col] for i in idx], dtype=np.float64))
    b_probes = spark.sparkContext.broadcast((q_ids, q_ex, groups))
    step = max(1, (1 << 20) // len(q_rows))

    def score(batches):
        qi, qx, grp = b_probes.value
        m = len(qi)
        for pdf in batches:
            for lo in range(0, len(pdf), step):
                part = pdf.iloc[lo : lo + step]
                nid = part[id_col].to_numpy()
                cv = part[vec_col].to_numpy()
                cx = part[ex_col].to_numpy()
                lc = _lengths(cv)
                sims = np.full((len(part), m), np.nan)
                for d, (qcols, Q) in grp.items():
                    rows = np.nonzero(lc == d)[0]
                    if len(rows):
                        sims[np.ix_(rows, qcols)] = _cosine6(
                            np.stack(cv[rows])[:, None, :], Q[None, :, :]
                        )
                drop = (
                    (cx[:, None] == qx[None, :])
                    | pd.isna(cx)[:, None]
                    | pd.isna(qx)[None, :]
                )
                # per probe column: kept pairs first, then cosine desc
                # with NULL last, then neighbor id asc
                id_key = np.unique(nid, return_inverse=True)[1][:, None]
                order = np.lexsort(
                    (
                        np.broadcast_to(id_key, sims.shape),
                        np.where(np.isnan(sims), np.inf, -sims),
                        drop,
                    ),
                    axis=0,
                )[:k]
                qcol = np.broadcast_to(np.arange(m), order.shape)
                kept = ~drop[order, qcol]
                yield pd.DataFrame(
                    {
                        "query_id": qi[qcol[kept]],
                        "neighbor_id": nid[order[kept]],
                        "cosine_sim": sims[order, qcol][kept],
                    }
                )

    return _rank(corpus.select(*cols).mapInPandas(score, out_schema), k)


def label_centroids(
    corpus: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Elementwise-mean centroid per label: (label, centroid array<double>).

    posexplode → (label, pos) avg → re-assemble sorted by pos. Two narrow
    shuffles over (label × dim) rows — independent of corpus width.
    """
    exploded = corpus.select(label_col, F.posexplode(vec_col).alias("pos", "v"))
    # exact 1e-9 term grid (round_avg_audit's centroid remedy): the
    # unrounded mean is a deterministic rational of exact integers, so
    # both engines and every rerun produce the identical double
    v = F.col("v").cast("double")
    means = exploded.groupBy(label_col, "pos").agg(
        (
            F.sum(F.floor(v * 1e9 + F.lit(0.5)).cast("decimal(38,0)")).cast("double")
            / (F.count("*") * 1e9)
        ).alias("m")
    )
    return (
        means.groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(label_col, F.transform("pm", lambda s: s.getField("m")).alias("centroid"))
    )


def _centroid_rows(centroids: DataFrame, label_col: str) -> tuple[list, str]:
    """Collect the nlist centroid rows (the index being broadcast — the
    one justified driver materialization, nlist ≪ corpus) plus the label
    column's Spark type for the pandas-UDF return DDL."""
    rows = centroids.select(
        F.col(label_col).alias("bucket"), F.col("centroid")
    ).collect()
    id_type = centroids.schema[label_col].dataType.simpleString()
    return rows, id_type


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    centroid_rows: list | None = None,
    id_type: str | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid (cosine): adds `bucket`.

    Shuffle-free: the nlist centroids are collected once and the cosine
    argmax runs as a chunked Arrow projection (shared helper with the
    KMeans euclidean path, ``llm/assign.py``) — no Join, no Window, no
    Exchange between the corpus scan and the bucket column
    (plan-asserted). The previous crossJoin + ``row_number`` form moved
    n×nlist rows through a hash exchange — the r4 verdict's one
    perf-weak finding. Similarities are rounded to 9 dp BEFORE the
    argmax (ties → lowest bucket), reproducing the oracle's
    ``ORDER BY ROUND(sim, 9) DESC, bucket`` rule despite ~1e-15
    summation-order drift across engines.
    """
    from duva_spark.llm import assign

    if centroid_rows is None:
        centroid_rows, id_type = _centroid_rows(centroids, label_col)
    return assign.assign_nearest(
        corpus, centroid_rows, metric="cosine", round_dp=9, vec_col=vec_col,
        out_col="bucket", id_field="bucket", cen_field="centroid",
        id_type=id_type or "int",
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Approximate top-k: probe the nprobe nearest centroid buckets only.

    Same output shape as brute_force_topk; recall < 1 by design — the
    scale path when the corpus no longer fits a full scan per query.
    The one-point ``ivf_topk_grid``.
    """
    return ivf_topk_grid(
        corpus, queries, centroids, k, (nprobe,), id_col, vec_col, label_col
    ).drop("nprobe")


def ivf_topk_grid(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobes: tuple[int, ...] = (1, 2, 4),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """ivf_topk evaluated at SEVERAL nprobe values in ONE pass — the
    quality/cost dial of the IVF index (larger nprobe → more buckets
    probed → higher recall, more candidate volume).

    Returns (nprobe, query_id, neighbor_id, cosine_sim, rank). The
    corpus is assigned ONCE through the shared shuffle-free Arrow
    argmax; the query probe ranks max(nprobes) buckets once; only the
    candidate sliver (probed buckets × queries, never the corpus) is
    replicated per grid point before the per-(nprobe, query) window —
    so a 3-point curve costs ~one ivf_topk at the widest nprobe, not
    three separate index scans.
    """
    from duva_spark.llm import assign

    nprobes = tuple(sorted(set(int(p) for p in nprobes)))
    rows, id_type = _centroid_rows(centroids, label_col)
    assigned = ivf_assign(
        corpus, centroids, id_col, vec_col, label_col,
        centroid_rows=rows, id_type=id_type,
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    probed = assign.assign_nearest(
        q, rows, metric="cosine", round_dp=9, n=max(nprobes), vec_col="q_vec",
        out_col="_buckets", id_field="bucket", cen_field="centroid",
        id_type=id_type,
    )
    if max(nprobes) > 1:
        qprobe = probed.select(
            "query_id", "q_vec", F.posexplode("_buckets").alias("probe_rank", "bucket")
        )
    else:  # degenerate 1-point grid: scalar bucket, rank 0
        qprobe = probed.select(
            "query_id", "q_vec",
            F.lit(0).alias("probe_rank"), F.col("_buckets").alias("bucket"),
        )
    cand = assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), "bucket"
    )
    # each corpus vector lives in exactly one bucket and a query's probed
    # buckets are distinct, so (query, neighbor) appears at most once —
    # no dedup needed before the rank window
    sims = cosine_pairs_arrow(
        cand.join(F.broadcast(qprobe), "bucket").filter(
            F.col("neighbor_id") != F.col("query_id")
        ),
        keep=("query_id", "neighbor_id", "probe_rank"),
    )
    ex = sims.select(
        "*",
        F.explode(F.array(*[F.lit(p).cast("int") for p in nprobes])).alias("nprobe"),
    ).filter(F.col("probe_rank") < F.col("nprobe"))
    return _rank(ex, k, ("nprobe", "query_id")).select(
        "nprobe", "query_id", "neighbor_id", "cosine_sim", "rank"
    )


def rplsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int = 64,
    n_bits: int = 4,
    k: int = 5,
    seed: int = 0,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-projection (sign-bit) LSH top-k with OR'd hash tables.

    The third ANN strategy next to brute-force and IVF: no training/
    centroid stage at all (the planes are constants), so it works on a
    cold corpus in one pass. Each of `n_tables` independent sign-bit
    codes (seeds seed..seed+T-1) buckets both sides; a pair is a
    candidate if it collides in ANY table -- recall 1-(1-p^bits)^T, the
    same AND/OR construction as MinHash bands, and the same plan shape:
    explode to narrow (table, code) rows, ONE equi-join against the
    broadcast query codes, dedupe, verify with exact cosine. Corpus-side
    cost stays a projection + explode; expected candidates are
    |corpus| * T / 2^bits per query before dedup.
    """

    c = rplsh_codes_arrow(
        corpus, dim, n_bits, n_tables, seed, id_col, vec_col,
        out_id="neighbor_id", out_vec="c_vec", code_col="bucket",
    )
    q = rplsh_codes_arrow(
        queries, dim, n_bits, n_tables, seed, id_col, vec_col,
        out_id="query_id", out_vec="q_vec", code_col="bucket",
    )
    # dedup BEFORE the cosine (a pair colliding in several tables used
    # to pay the verification once per collision), then verify the
    # distinct sliver through the index-order Arrow kernel instead of
    # the interpreted fold — values identical per pair either way
    cand = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "q_vec", "c_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _rank(cosine_pairs_arrow(cand), k)


def rplsh_topk_grid(
    corpus: DataFrame,
    queries: DataFrame,
    grid: list[tuple[int, int]],
    dim: int = 64,
    k: int = 5,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """RP-LSH recall/cost dial in ONE pass: top-k at every
    (n_tables, n_bits) grid point without re-coding the corpus per
    point — the sign-bit analogue of ``ivf_topk_grid``'s one-pass
    discipline.

    The nesting that makes one pass possible: bit i of a code depends
    only on plane (seed+tbl, i), so the low ``b`` bits of a
    max_bits-code ARE the b-bit code, and tables 0..T-1 are a prefix of
    0..max_tables-1. The corpus is therefore coded ONCE at
    (max_tables, max_bits); the base candidate join runs at the
    SMALLEST grid mask (the superset of every grid point's collisions);
    each grid point then filters that candidate sliver by its table
    count and its prefix mask — only the sliver replicates per grid
    point, never the corpus. Exact-cosine verification is computed once
    per distinct candidate pair and shared by all grid points.

    Returns (n_tables, n_bits, query_id, neighbor_id, cosine_sim, rank),
    rank <= k per (grid point, query).
    """
    max_bits = max(b for _, b in grid)
    max_tables = max(t for t, _ in grid)
    base_mask = (1 << min(b for _, b in grid)) - 1

    c = rplsh_codes_arrow(
        corpus, dim, max_bits, max_tables, seed, id_col, vec_col,
        out_id="neighbor_id", out_vec="c_vec", code_col="c_code",
    ).withColumn("b_low", F.col("c_code").bitwiseAND(F.lit(base_mask)))
    q = rplsh_codes_arrow(
        queries, dim, max_bits, max_tables, seed, id_col, vec_col,
        out_id="query_id", out_vec="q_vec", code_col="q_code",
    ).withColumn("b_low", F.col("q_code").bitwiseAND(F.lit(base_mask)))
    # localCheckpoint: base feeds BOTH the exact-sim leg and the
    # per-grid-point candidate filter, and the two consumers' exchanges
    # differ, so without it the corpus coding projection + collision
    # join execute twice per run (and every AQE re-optimization walks
    # the doubled tree). The checkpointed frame is the candidate
    # sliver — bounded by bucket collisions at the smallest mask, never
    # corpus-sized — so materializing it is safe at any scale.
    base = (
        c.join(F.broadcast(q), ["tbl", "b_low"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .localCheckpoint()
    )
    sims = cosine_pairs_arrow(
        base.select("query_id", "neighbor_id", "q_vec", "c_vec").dropDuplicates(
            ["query_id", "neighbor_id"]
        )
    )
    spark = corpus.sparkSession
    grid_df = spark.createDataFrame(
        [(t, b, (1 << b) - 1) for t, b in grid],
        "n_tables int, n_bits int, mask long",
    )
    cand = (
        base.select("query_id", "neighbor_id", "tbl", "c_code", "q_code")
        .crossJoin(F.broadcast(grid_df))
        .filter(
            (F.col("tbl") < F.col("n_tables"))
            & (
                F.col("c_code").bitwiseAND(F.col("mask"))
                == F.col("q_code").bitwiseAND(F.col("mask"))
            )
        )
        .select("n_tables", "n_bits", "query_id", "neighbor_id")
        .distinct()
    )
    return _rank(
        cand.join(sims, ["query_id", "neighbor_id"]), k, ("n_tables", "n_bits", "query_id")
    ).select("n_tables", "n_bits", "query_id", "neighbor_id", "cosine_sim", "rank")


def probe_masks(n_bits: int, max_radius: int) -> list[tuple[int, int]]:
    """(xor_mask, radius) for every Hamming ball shell up to
    ``max_radius``: radius 0 is the exact bucket, radius 1 the n_bits
    single-bit flips, radius 2 the C(n_bits, 2) double flips. Complete
    shells make the probe set order-free — Lv et al.'s query-directed
    probing sequence (flip the least-confident bit first) only matters
    when a budget truncates MID-shell, so probing whole shells sidesteps
    the margin bookkeeping while keeping the recall curve exact."""
    masks = [(0, 0)]
    if max_radius >= 1:
        masks += [(1 << i, 1) for i in range(n_bits)]
    if max_radius >= 2:
        masks += [
            ((1 << i) | (1 << j), 2)
            for i in range(n_bits)
            for j in range(i + 1, n_bits)
        ]
    if max_radius >= 3:
        raise ValueError("probe_masks supports radius <= 2 (shells grow as C(b,r))")
    return masks


def rplsh_multiprobe_cands(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int = 64,
    n_bits: int = 6,
    n_tables: int = 2,
    max_radius: int = 2,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe RP-LSH candidates (Lv et al. 2007): instead of
    paying memory for more OR'd tables, each query also probes the
    NEIGHBORING buckets of its code — the buckets one (and two) bit
    flips away, which near-misses of the sign test land in. The
    recall/memory trade inverts the table dial: radius 0 at T tables is
    plain LSH; radius 1 adds n_bits probes per table for free corpus
    cost (probes multiply only the broadcast QUERY side; the corpus is
    still coded once and never shuffles).

    Returns one row per (radius_level, query_id, neighbor_id) with the
    exact verified cosine and the per-level rank — a candidate appears
    at every level >= the smallest shell that reaches it, so level
    recall is monotone by construction. Candidate volume is the frame's
    per-(level, query) row count.
    """
    masks = probe_masks(n_bits, max_radius)

    c = rplsh_codes_arrow(
        corpus, dim, n_bits, n_tables, seed, id_col, vec_col,
        out_id="neighbor_id", out_vec="c_vec", code_col="c_code",
    )
    mask_df = F.explode(
        F.array(
            *[
                F.struct(F.lit(m).alias("mask"), F.lit(r).alias("radius"))
                for m, r in masks
            ]
        )
    ).alias("mk")
    q = (
        rplsh_codes_arrow(
            queries, dim, n_bits, n_tables, seed, id_col, vec_col,
            out_id="query_id", out_vec="q_vec", code_col="q_code",
        )
        .select("query_id", "q_vec", "tbl", "q_code", mask_df)
        .select(
            "query_id",
            "q_vec",
            "tbl",
            F.col("q_code").bitwiseXOR(F.col("mk.mask")).alias("probe"),
            F.col("mk.radius").alias("radius"),
        )
    )
    pairs = cosine_pairs_arrow(
        c.join(F.broadcast(q), (c.tbl == q.tbl) & (c.c_code == q.probe))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.min("radius").alias("min_r"),
            F.first("q_vec").alias("q_vec"),
            F.first("c_vec").alias("c_vec"),
        ),
        keep=("query_id", "neighbor_id", "min_r"),
    )
    spark = corpus.sparkSession
    lvl = spark.createDataFrame([(r,) for r in range(max_radius + 1)], "radius int")
    cand = pairs.crossJoin(F.broadcast(lvl)).filter(F.col("min_r") <= F.col("radius"))
    return _rank(
        cand.select("radius", "query_id", "neighbor_id", "cosine_sim"),
        by=("radius", "query_id"),
    )
