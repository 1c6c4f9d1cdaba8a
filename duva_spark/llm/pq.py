"""Product quantization (PQ) for embedding compression + ANN scoring.

Public technique (Jégou, Douze, Schmid 2011, "Product Quantization for
Nearest Neighbor Search" — the compression step behind FAISS's IVF-PQ):
split each dim-D vector into ``m`` contiguous subvectors, train an
independent ``ksub``-centroid codebook per subspace (plain Lloyd — this
module reuses ``llm/kmeans.py`` verbatim, so training inherits its
shuffle-free-assignment plan and its cross-engine determinism contract),
and store each vector as ``m`` small codes. Asymmetric distance
computation (ADC) then approximates ``||q - x||²`` as the sum of
per-subspace distances from the query's EXACT subvectors to x's
RECONSTRUCTED subvectors — a table lookup per subspace, no float vector
left at query time.

Scale design (the 100 TB question):
- Training: ``m × iters`` Lloyd rounds over ``dsub``-dim subvector
  projections — each round one shuffle-free Arrow assignment + one
  hash-shuffle centroid update, exactly the audited KMeans shape.
  Codebooks are ``m × ksub`` rows total — driver/broadcast-sized by
  construction (32 rows here).
- Encoding: ``m`` chained shuffle-free Arrow projections
  (``assign.assign_nearest``) — zero Exchange between the corpus scan
  and the code columns (plan-asserted in tests). A corpus row shrinks
  from D floats to m small ints — the point of PQ at 100 TB.
- ADC query: the per-(query, subspace, code) distance table is computed
  DRIVER-SIDE (|queries| × m × ksub scalars — bounded because a probe
  set is small by definition, same guard as brute_force_topk) and
  attaches via m broadcast hash joins; the only corpus-sized work is
  the scored scan plus the per-query top-k window, identical to the
  brute-force baseline's accepted shape.

Determinism contract: per-subspace d2 entries are computed as
SEQUENTIAL python-float sums (IEEE double, index order) — bit-identical
to the oracle's ``list_aggregate(..., 'sum')``; the m-term ADC sum is
written as one fixed left-to-right addition on both engines; the final
distance rounds to 6 dp before ranking with neighbor-id tie-break.

Reference parity: none — onaio/duva has no vector surface; this extends
the beyond-reference similarity inventory (SURVEY.md §2c) and composes
three already-verified operators (lloyd, assign_nearest, the L2
baseline).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from duva_spark.llm import assign, kmeans
from duva_spark.operators.parallel import run_parallel


def pq_train(
    emb: DataFrame,
    m: int,
    ksub: int,
    iters: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dp: int = 6,
) -> list[list]:
    """Train one Lloyd codebook per subspace; returns m lists of
    centroid Rows (cluster, cen) sorted by cluster id. m × ksub rows
    total — the codebook IS driver-sized by construction."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m

    def train_one(s: int) -> list:
        sub = emb.select(
            id_col, F.slice(F.col(vec_col), s * dsub + 1, dsub).alias("sub")
        )
        cen, _ = kmeans.lloyd(
            sub, k=ksub, iters=iters, dim=dsub, id_col=id_col, vec_col="sub", dp=dp
        )
        return sorted(cen.collect(), key=lambda r: r["cluster"])

    # the m subspace chains are independent: each trains on its own slice
    return run_parallel(
        emb.sparkSession, [functools.partial(train_one, s) for s in range(m)]
    )


def pq_encode(
    emb: DataFrame,
    codebooks: list[list],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """emb plus code_0..code_{m-1}: m chained shuffle-free Arrow
    projections (no Join, no Exchange — the corpus never moves)."""
    m = len(codebooks)
    dsub = dim // m
    df = emb
    for s in range(m):
        df = assign.assign_nearest(
            df.withColumn("_sub", F.slice(F.col(vec_col), s * dsub + 1, dsub)),
            codebooks[s],
            metric="euclidean",
            vec_col="_sub",
            out_col=f"code_{s}",
            id_field="cluster",
            cen_field="cen",
            id_type="int",
        ).drop("_sub")
    return df


def _adc_tables(
    qrows: list, codebooks: list[list], dim: int, vec_col: str, id_col: str
) -> list[list[tuple]]:
    """Per-subspace driver-side distance tables:
    tables[s] = [(query_id, code, d2), ...] with d2 the SEQUENTIAL
    index-order float sum (bit-identical to list_aggregate('sum'))."""
    m = len(codebooks)
    dsub = dim // m
    tables: list[list[tuple]] = []
    for s in range(m):
        rows = []
        for qr in qrows:
            qsub = [float(x) for x in qr[vec_col][s * dsub : (s + 1) * dsub]]
            for crow in codebooks[s]:
                acc = 0.0
                for qx, cx in zip(qsub, crow["cen"]):
                    d = qx - float(cx)
                    acc += d * d
                rows.append((qr[id_col], int(crow["cluster"]), acc))
        tables.append(rows)
    return tables


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list],
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dp: int = 6,
    max_probes: int = 4096,
) -> DataFrame:
    """(query_id, neighbor_id, adc_dist, rank): PQ-ADC approximate L2
    top-k of each probe against the encoded corpus. The m distance
    tables attach as broadcast hash joins keyed on (query, code); the
    ADC sum is one fixed left-to-right addition; ranking mirrors
    q_embed_l2_topk (round 6 dp, neighbor-id tie-break)."""
    spark = codes.sparkSession
    qrows = _probe_rows(queries, id_col, vec_col, max_probes)
    scored = codes
    for s, rows in enumerate(_adc_tables(qrows, codebooks, dim, vec_col, id_col)):
        qd = spark.createDataFrame(
            rows, f"query_id long, code_{s} int, d2_{s} double"
        )
        on = ["code_" + str(s)] if s == 0 else ["query_id", f"code_{s}"]
        scored = scored.join(F.broadcast(qd), on)
    return _adc_topk(scored, len(codebooks), k, id_col, dp)


def _probe_rows(queries: DataFrame, id_col: str, vec_col: str, max_probes: int) -> list:
    """The probe set collected to the driver, which builds the ADC
    tables from it: more than ``max_probes`` probes raise."""
    qrows = queries.select(id_col, vec_col).limit(max_probes + 1).collect()
    if len(qrows) > max_probes:
        raise ValueError(
            f"probe set exceeds max_probes={max_probes}; ADC tables are "
            "driver-built and must stay bounded"
        )
    return qrows


def _probed_buckets(
    queries: DataFrame,
    centroid_rows: list,
    nprobe: int,
    id_col: str,
    vec_col: str,
    dp: int,
    max_probes: int,
) -> tuple[list, DataFrame]:
    """(probe rows, (query_id, bucket)): the probe set and one row per
    probe and each of its ``nprobe`` nearest IVF buckets, by the same
    ``dp``-rounded assignment as the corpus."""
    qrows = _probe_rows(queries, id_col, vec_col, max_probes)
    qdf = queries.sparkSession.createDataFrame(
        [(r[id_col], list(map(float, r[vec_col]))) for r in qrows],
        f"query_id long, {vec_col} array<double>",
    )
    qprobe = assign.assign_nearest(
        qdf,
        centroid_rows,
        metric="euclidean",
        n=nprobe,
        vec_col=vec_col,
        out_col="buckets",
        id_field="bucket",
        cen_field="centroid",
        round_dp=dp,
        id_type="int",
    ).select(
        "query_id",
        # n=1 returns a scalar bucket, n>1 an array — normalize to
        # one row per probed bucket either way (the ivf_topk rule)
        (F.explode("buckets") if nprobe > 1 else F.col("buckets")).alias("bucket"),
    )
    return qrows, qprobe


def _adc_topk(scored: DataFrame, m: int, k: int, id_col: str, dp: int) -> DataFrame:
    """(query_id, neighbor_id, adc_dist, rank), rank <= k: the ranking
    tail of every ADC top-k. Self-matches drop, the m-term ADC sum
    rounds to ``dp``, and ties on the rounded distance break by
    neighbor id."""
    w = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(_ordered_sum(m), dp).alias("adc_dist"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _ordered_sum(m: int):
    """d2_0 + d2_1 + ... built left-to-right so the float addition order
    matches the oracle's literal expression exactly."""
    acc = F.col("d2_0")
    for s in range(1, m):
        acc = acc + F.col(f"d2_{s}")
    return acc


def residuals(
    emb: DataFrame,
    centroid_rows: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dp: int = 6,
) -> DataFrame:
    """(id, bucket, resid): IVF coarse assignment plus the residual
    vector ``resid = vec − centroid[bucket]`` (FAISS's default encoding
    input — residuals concentrate around 0, so the same PQ code budget
    buys materially better recall than coding raw vectors).

    ``centroid_rows`` carry 6-dp-ROUNDED centroids (fields bucket /
    centroid) so the residual elements are bit-identical across engines
    (double minus exact-decimal, no AVG summation drift in the value
    itself; assignment distances additionally round to ``dp`` before
    the argmin — the assign_nearest contract). Shuffle-free: one Arrow
    assignment projection + one broadcast hash join on the nlist-row
    centroid table."""
    assigned = assign.assign_nearest(
        emb,
        centroid_rows,
        metric="euclidean",
        vec_col=vec_col,
        out_col="bucket",
        id_field="bucket",
        cen_field="centroid",
        round_dp=dp,
        id_type="int",
    )
    spark = emb.sparkSession
    cen_df = spark.createDataFrame(
        [
            (int(r["bucket"]), [float(x) for x in r["centroid"]])
            for r in centroid_rows
        ],
        "bucket int, _cen array<double>",
    )
    return assigned.join(F.broadcast(cen_df), "bucket").select(
        id_col,
        "bucket",
        F.zip_with(
            F.col(vec_col).cast("array<double>"), "_cen", lambda a, b: a - b
        ).alias("resid"),
    )


def _residual_adc_tables(
    qrows: list,
    qprobe_pairs: list[tuple[int, int]],
    cen_by_bucket: dict[int, list[float]],
    codebooks: list[list],
    dim: int,
    vec_col: str,
    id_col: str,
) -> list[list[tuple]]:
    """Per-subspace driver-side distance tables for the RESIDUAL path:
    tables[s] = [(query_id, bucket, code, d2), ...] where d2 sums
    ``((q_i − cent_i) − cen_i)²`` in index order with the subtraction
    left-to-right — the exact expression the oracle's
    ``q[i] - centroid[i] - cen[i]`` evaluates. Bounded at
    |q| × nprobe × m × ksub rows by construction."""
    m = len(codebooks)
    dsub = dim // m
    qvec = {r[id_col]: [float(x) for x in r[vec_col]] for r in qrows}
    tables: list[list[tuple]] = []
    for s in range(m):
        off = s * dsub
        rows = []
        for qid, bucket in qprobe_pairs:
            qv, cv = qvec[qid], cen_by_bucket[bucket]
            for crow in codebooks[s]:
                acc = 0.0
                for i in range(dsub):
                    d = qv[off + i] - cv[off + i] - float(crow["cen"][i])
                    acc += d * d
                rows.append((qid, bucket, int(crow["cluster"]), acc))
        tables.append(rows)
    return tables


def ivfpq_residual_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroid_rows: list,
    k: int,
    nprobe: int,
    dim: int,
    m: int,
    ksub: int,
    iters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dp: int = 6,
    max_probes: int = 4096,
) -> DataFrame:
    """Residual IVF-PQ top-k (Jégou et al. 2011 §V; the FAISS
    IndexIVFPQ default): PQ codebooks are trained on and applied to
    the RESIDUALS ``vec − coarse_centroid`` instead of the raw vectors,
    and a query's ADC tables are built per probed bucket from the
    query's own residual against that bucket's centroid. Composes three
    verified operators — assign_nearest (coarse + code assignment),
    subvector Lloyd (codebooks), and the broadcast-ADC scoring shape.

    Returns (query_id, neighbor_id, adc_dist, rank), rank <= k.
    Scale: the residual table is computed once (one Arrow projection +
    one broadcast join) and checkpointed — at 100 TB it IS the
    persisted index artifact; training/encoding inherit the audited
    Lloyd/projection shapes; query-time joins are all broadcasts keyed
    (query, bucket, code), so the corpus never shuffles."""
    spark = emb.sparkSession
    # the residual frame is read m×(iters+1)+1 times (training rounds +
    # encoding); checkpoint so the Arrow assignment runs once — this is
    # the "persisted index" materialization, not a convenience cache
    res = residuals(emb, centroid_rows, id_col, vec_col, dp).localCheckpoint(
        eager=False
    )
    books = pq_train(res, m=m, ksub=ksub, iters=iters, dim=dim,
                     id_col=id_col, vec_col="resid", dp=dp)
    codes = pq_encode(res, books, dim=dim, id_col=id_col, vec_col="resid")
    qrows, qprobe = _probed_buckets(
        queries, centroid_rows, nprobe, id_col, vec_col, dp, max_probes
    )
    # the probe pairs are driver-bounded (|q| × nprobe) and are needed
    # to key the per-bucket residual ADC tables
    qprobe_pairs = [
        (r["query_id"], int(r["bucket"])) for r in qprobe.collect()
    ]
    qprobe_df = spark.createDataFrame(qprobe_pairs, "query_id long, bucket int")
    cen_by_bucket = {
        int(r["bucket"]): [float(x) for x in r["centroid"]]
        for r in centroid_rows
    }
    scored = codes.join(F.broadcast(qprobe_df), "bucket")
    tables = _residual_adc_tables(
        qrows, qprobe_pairs, cen_by_bucket, books, dim, vec_col, id_col
    )
    for s, rows in enumerate(tables):
        qd = spark.createDataFrame(
            rows, f"query_id long, bucket int, code_{s} int, d2_{s} double"
        )
        scored = scored.join(
            F.broadcast(qd), ["query_id", "bucket", f"code_{s}"]
        )
    return _adc_topk(scored, m, k, id_col, dp)


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroid_rows: list,
    codebooks: list[list],
    k: int,
    nprobe: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dp: int = 6,
    max_probes: int = 4096,
) -> DataFrame:
    """IVF-PQ (the FAISS-style composition, non-residual variant):
    the corpus is bucketed by nearest L2 centroid (shuffle-free Arrow
    assignment) AND PQ-encoded; a query probes its ``nprobe`` nearest
    buckets and ranks ONLY those buckets' members by ADC distance.
    Candidate count per query is |corpus| × nprobe / nlist in
    expectation — the IVF candidate cut and the PQ memory cut compose.

    Returns (query_id, neighbor_id, adc_dist, rank), rank <= k.
    Determinism: bucket assignment rounds distances to ``dp`` before
    the argmin (ties to the lower bucket id); ADC rounds to ``dp``
    before the neighbor-id-tie-broken rank — both mirrored by the
    oracle.
    """
    spark = emb.sparkSession
    assigned = assign.assign_nearest(
        emb,
        centroid_rows,
        metric="euclidean",
        vec_col=vec_col,
        out_col="bucket",
        id_field="bucket",
        cen_field="centroid",
        round_dp=dp,
        id_type="int",
    )
    codes = pq_encode(assigned, codebooks, dim, id_col, vec_col)
    qrows, qprobe = _probed_buckets(
        queries, centroid_rows, nprobe, id_col, vec_col, dp, max_probes
    )
    scored = codes.join(F.broadcast(qprobe), "bucket")
    m = len(codebooks)
    for s, rows in enumerate(_adc_tables(qrows, codebooks, dim, vec_col, id_col)):
        qd = spark.createDataFrame(rows, f"query_id long, code_{s} int, d2_{s} double")
        scored = scored.join(F.broadcast(qd), ["query_id", f"code_{s}"])
    return _adc_topk(scored, m, k, id_col, dp)


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) — the FAISS ScalarQuantizer QT_8bit point on
# the compression curve (fp32 256 B/vec -> PQ 4 B -> SQ8 64 B)
# ---------------------------------------------------------------------------


def sq8_bounds(
    emb: DataFrame, dim: int, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, span) trained over the corpus — ONE global
    aggregation, a single 2*dim-float row to the driver (the bounded-
    collect contract; FAISS QT_8bit's train step)."""
    row = emb.agg(
        *[
            F.min(F.element_at(vec_col, i + 1).cast("double")).alias(f"mn_{i}")
            for i in range(dim)
        ],
        *[
            F.max(F.element_at(vec_col, i + 1).cast("double")).alias(f"mx_{i}")
            for i in range(dim)
        ],
    ).collect()[0]
    if row["mn_0"] is None:
        # an empty corpus yields an all-NULL bounds row — fail loudly
        # rather than as float(None) deep in the comprehension (the
        # logreg degenerate-split contract)
        raise ValueError("sq8_bounds: empty embeddings input, no bounds")
    mns = [float(row[f"mn_{i}"]) for i in range(dim)]
    sps = [float(row[f"mx_{i}"]) - float(row[f"mn_{i}"]) for i in range(dim)]
    return mns, sps


def sq8_decode_expr(
    vec: Column, mns: list[float], sps: list[float]
) -> Column:
    """quantize-then-dequantize as ONE pure projection: per element,
    code = clamp(floor(round6((x - mn) * 255 / span) + 0.5), 0, 255)
    (6-dp pre-round absorbs cross-engine scaling drift; floor(t + .5)
    is the explicit half-up both engines replay; floor cast to double —
    Spark floor returns long, DuckDB double), decoded = mn + code *
    span / 255. Constant dimensions (span 0) decode to mn. The bounds
    ride inline as a literal struct array — no join, no shuffle."""
    blit = F.array(
        *[
            F.struct(F.lit(mn).alias("mn"), F.lit(sp).alias("sp"))
            for mn, sp in zip(mns, sps)
        ]
    )

    def dec(x: Column, b: Column) -> Column:
        t = F.round((x.cast("double") - b["mn"]) * 255.0 / b["sp"], 6)
        code = F.least(
            F.lit(255.0),
            F.greatest(F.lit(0.0), F.floor(t + 0.5).cast("double")),
        )
        return F.when(
            b["sp"] > 0, b["mn"] + code * b["sp"] / 255.0
        ).otherwise(b["mn"])

    return F.zip_with(vec, blit, dec)


def sq8_topk(
    emb: DataFrame,
    queries: DataFrame,
    mns: list[float],
    sps: list[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dp: int = 6,
) -> DataFrame:
    """(query_id, neighbor_id, l2_dist, rank): asymmetric exact-query /
    decoded-corpus L2 top-k (the ScalarQuantizer analogue of ADC).
    Plan = the q_embed_l2_topk shape with the dequantize folded into
    the scan projection: broadcast probe attach, zero corpus shuffle
    before the per-query rank window."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        sq8_decode_expr(F.col(vec_col), mns, sps).alias("dv"),
    )
    d2 = F.aggregate(
        F.zip_with(
            "qv", "dv", lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.sqrt(d2), dp).alias("l2_dist"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.asc("l2_dist"), F.asc("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )
