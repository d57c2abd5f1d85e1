"""Similarity search over embedding columns: exact brute-force top-k
(the correctness baseline) and an LSH-bucketed approximate variant (the
scale path).

Brute force broadcasts the query set and scans the corpus once —
correct at any corpus size as long as the QUERY set is broadcastable;
cost is O(|corpus| × |queries|) fused in codegen, then a per-query
top-k window on a (corpus→queries)-sized intermediate. The LSH variant
bounds that intermediate by only scoring within random-hyperplane
buckets, trading recall for a ~bucket-fraction of the work — the same
probe pattern an IVF index gives, without a side index structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.functions.hashing import portable_hash64
from sfcrimedatapipeline_spark.functions.vectors import cosine_fixed, norm_fixed

DEFAULT_DIM = 64


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-matches excluded).

    Deterministic ranking: (cosine DESC, neighbor id ASC) — ties cannot
    reorder across engines. Norms are computed once per vector on each
    side; the per-pair work is a single unrolled codegen dot product.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            norm_fixed(vec_col, dim).alias("qn"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm_fixed(vec_col, dim).alias("cn"),
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_fixed("qv", "cv", dim, "qn", "cn"), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "neighbor_id", "cosine")
    )


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from the portable-hash
    formula (driver-side constant, broadcast with the plan)."""
    import hashlib

    return [
        int(hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[:8], 16) / 0x7FFFFFFF - 1.0
        for d in range(dim)
    ]


def lsh_bucket(vec_col, planes: list[list[float]]):
    """Random-hyperplane signature: one sign bit per plane.

    Kept as the HOF ``aggregate`` fold DELIBERATELY: unrolling each
    projection into a flat ``vec[i] * <literal>`` sum (the
    ``dot_fixed`` pattern) was tried and MEASURED 4x SLOWER at sf0.1
    (ann_cosine_topk_lsh 2.4 s → 9.5 s, emb_near_duplicates_lsh
    0.85 s → 3.0 s, 3-rep medians): 6 planes × 64 terms = 384-term
    expression trees per row blow past the whole-stage-codegen method
    budget and drop the operator to interpreted eval — the opposite of
    the scoring path, where ONE 64-term dot per pair fits codegen and
    the unroll wins an order of magnitude. Projection cost here is
    per-row linear, not per-pair, so the interpreted HOF is not the
    bottleneck at any scale.
    """
    bits = []
    for p_idx, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec_col,
                F.lit(plane).cast("array<double>"),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append((proj >= 0).cast("int") * F.lit(2**p_idx))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's LSH
    bucket. Equi-join on the bucket key instead of a cross join — the
    100 TB shape (hash-partitioned, AQE-skew-safe). Recall is tunable
    via n_planes (fewer planes → bigger buckets → higher recall)."""
    planes = [_hyperplane(dim, p) for p in range(n_planes)]
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            norm_fixed(vec_col, dim).alias("qn"),
            lsh_bucket(F.col(vec_col), planes).alias("bucket"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm_fixed(vec_col, dim).alias("cn"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    scored = (
        c.join(q, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_fixed("qv", "cv", dim, "qn", "cn"), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "neighbor_id", "cosine")
    )


def _ivf_seq_norm(cvec: list[float]) -> float:
    """Sequential left-fold norm, NOT math.fsum: fsum is exactly
    rounded while the JVM fold and DuckDB's list_sum accumulate in
    order — a 1-ulp difference here could flip an assignment tie."""
    import math

    s = 0.0
    for x in cvec:
        s += float(x) * float(x)
    return math.sqrt(s)


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vid_alias: str,
    rank_limit: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DEFAULT_DIM,
    keep_cos: bool = False,
) -> DataFrame:
    """Attach the ``rank_limit`` best centroids (cos DESC, id ASC) to
    every vector — the IVF coarse assignment, shared verbatim by
    :func:`cosine_topk_ivf` (corpus lists + query probes), the
    list-size audit, and the silhouette audit so none can drift.
    Output columns: ``(vid_alias, __v, __n, centroid_id)``, plus
    ``(__ccos, __r)`` when ``keep_cos=True`` (rank_limit ≥ 2 path
    only — the audits need the per-rank cosine itself)."""
    cent_norms = {cid: _ivf_seq_norm(cvec) for cid, cvec in centroids}
    cent_ids = [cid for cid, _ in centroids]
    cent_vecs = [[float(x) for x in cvec] for _, cvec in centroids]

    def _cos_structs(negate_id: bool):
        """All (cosine, centroid_id) pairs as ONE array expression.

        The centroid table is a single nested literal and the cosine is
        ONE shared ``transform`` lambda indexed into it — expanding a
        per-centroid copy of the dot expression instead (8 structs × a
        64-element HOF each) made driver-side Catalyst analysis, not
        execution, the dominant cost (measured 4.4 s plan build vs
        0.25 s warm exec at sf0.1). Arithmetic per element is unchanged
        (same multiply order, same left fold), so assignment stays
        bit-identical to the oracle twin.
        """
        cent_arr = F.array(*[F.lit(v) for v in cent_vecs])
        norm_arr = F.lit([cent_norms[cid] for cid in cent_ids])
        cid_arr = F.lit(
            [-cid if negate_id else cid for cid in cent_ids]
        ).cast("array<long>")
        return F.transform(
            F.sequence(F.lit(1), F.lit(len(cent_ids))),
            lambda j: F.struct(
                (
                    F.aggregate(
                        F.zip_with(
                            F.col("__v"),
                            F.element_at(cent_arr, j),
                            lambda x, y: x.cast("double") * y,
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    / (F.col("__n") * F.element_at(norm_arr, j))
                ).alias("ccos"),
                F.element_at(cid_arr, j).alias("cid"),
            ),
        )

    staged = df.select(
        F.col(id_col).alias(vid_alias),
        F.col(vec_col).alias("__v"),
        norm_fixed(vec_col, dim).alias("__n"),
    )
    if rank_limit == 1:
        # argmax via ONE array_max over (ccos, -cid) structs —
        # lexicographic struct max = max cosine, ties → min id. The
        # array expression is referenced exactly once: binding the 8
        # cosines to columns and folding greatest/when over them let
        # CollapseProject inline each HOF dot into every branch
        # (~10x work — measured 13 s vs LSH's 2.6 s at sf0.1).
        best = F.array_max(_cos_structs(negate_id=True))
        return staged.select(
            vid_alias, "__v", "__n", (-best.getField("cid")).alias("centroid_id")
        )
    stacked = staged.select(
        vid_alias,
        "__v",
        "__n",
        F.explode(_cos_structs(negate_id=False)).alias("e"),
    ).select(vid_alias, "__v", "__n", F.col("e.cid").alias("centroid_id"), "e.ccos")
    w = Window.partitionBy(vid_alias).orderBy(
        F.desc("ccos"), F.asc("centroid_id")
    )
    ranked = stacked.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") <= rank_limit
    )
    if keep_cos:
        return ranked.select(
            vid_alias, "__v", "__n", "centroid_id",
            F.col("ccos").alias("__ccos"), "__r",
        )
    return ranked.select(vid_alias, "__v", "__n", "centroid_id")


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    n_probe: int = 2,
    dim: int = DEFAULT_DIM,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse centroids partition the corpus into
    inverted lists; each query probes its ``n_probe`` nearest lists and
    is scored exactly within them. The third ANN tier next to
    brute-force (exact) and LSH (hash buckets) — IVF buckets follow the
    data's own geometry, so recall at equal candidate count is
    typically higher than hyperplane buckets.

    ``centroids`` is an INPUT ``[(centroid_id, vector), ...]`` — by
    default the ``n_centroids`` lowest-id corpus vectors. Training them
    (k-means) is deliberately outside the oracle gate: a distributed
    mean sums floats in partition order, which is not bit-reproducible,
    while assignment/probe/scoring against FIXED centroids is exact.
    Like any real IVF index, the centroid table is driver-held index
    metadata (a ≤ n_centroids-row fetch, same class as approxQuantile
    bounds — never corpus data).

    Scale shape: corpus assignment is a PURE PER-ROW expression over
    broadcast-literal centroids — the corpus is scanned once and never
    shuffled before scoring (the per-centroid cosines are bound to
    columns in a staged select first; inlining HOFs into the argmax
    tree would re-evaluate them per branch, the lang-id lesson). Query
    probes are a tiny broadcast; only the probed candidate pairs reach
    the final top-k window.
    """
    if centroids is None:
        centroids = [
            (r[0], list(r[1]))
            for r in corpus.select(id_col, vec_col).orderBy(id_col).limit(n_centroids).collect()
        ]

    c = ivf_assign(corpus, centroids, "neighbor_id", 1, id_col, vec_col, dim).withColumnRenamed("__v", "cv").withColumnRenamed("__n", "cn")
    q = F.broadcast(
        ivf_assign(queries, centroids, "query_id", n_probe, id_col, vec_col, dim)
        .withColumnRenamed("__v", "qv")
        .withColumnRenamed("__n", "qn")
    )
    scored = (
        c.join(q, "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_fixed("qv", "cv", dim, "qn", "cn"), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "neighbor_id", "cosine")
    )


# --- Product quantization (PQ) ----------------------------------------------

PQ_SUBSPACES = 8
PQ_CODEBOOK_SIZE = 16


def default_pq_codebooks(
    corpus: DataFrame,
    n_codes: int = PQ_CODEBOOK_SIZE,
    m: int = PQ_SUBSPACES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DEFAULT_DIM,
) -> list[list[list[float]]]:
    """Deterministic per-subspace codebooks: the ``n_codes`` lowest-id
    corpus vectors, split into ``m`` contiguous subvectors —
    ``codebooks[s][c]`` is centroid ``c`` of subspace ``s``. They are
    also the seeds of the trained codebooks
    (:func:`~sfcrimedatapipeline_spark.operators.mltrain.pq_kmeans_det`).
    Driver-held index metadata (≤ n_codes rows)."""
    sub = dim // m
    rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(n_codes).collect()
    )
    return [
        [[float(x) for x in r[1][s * sub : (s + 1) * sub]] for r in rows]
        for s in range(m)
    ]


def _pq_subspace_dists(vec: str, codebooks: list[list[list[float]]], s: int):
    """(squared-L2 distance, centroid_id) structs of subspace ``s`` —
    one shared ``transform`` lambda over an array-literal codebook (the
    IVF lesson: per-centroid expression copies melt driver-side
    analysis). The fold is sequential in element order, matching the
    oracle's unrolled left-associative sum.

    QUERY-side only since OPTIMIZATION r13: per corpus row the
    interpreted HOF fold (m·k·sub lambda evaluations) was the dominant
    cost of every PQ consumer (measured 1.36 s per corpus pass at
    sf0.1, guide §4); corpus-side assignment now runs through
    :func:`_pq_assign_arrow`. Flat SQL unrolling was re-measured and
    REJECTED again (2.2× slower: 1024 squared-diff terms blow the
    whole-stage-codegen method budget — the r12 lsh_bucket lesson)."""
    sub = len(codebooks[s][0])
    cent_arr = F.array(*[F.lit(c) for c in codebooks[s]])
    subv = F.slice(F.col(vec), s * sub + 1, sub)
    return F.transform(
        F.sequence(F.lit(1), F.lit(len(codebooks[s]))),
        lambda j: F.struct(
            F.aggregate(
                F.zip_with(
                    subv,
                    F.element_at(cent_arr, j),
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            (j - 1).cast("int").alias("cid"),
        ),
    )


def _pq_assign_arrow(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_alias: str,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Corpus-side PQ (and optional IVF coarse) assignment as ONE
    vectorized Arrow pass: ``(id_alias, [list_id,] code)``.

    OPTIMIZATION r13 (guide §4.2): the per-row assignment is pure
    arithmetic over plan-literal codebooks, but as Catalyst HOF folds it
    ran INTERPRETED (m·k·sub lambda evaluations per row — measured
    1.36 s per corpus pass at sf0.1, the dominant term of every PQ
    consumer), and flat SQL unrolling blows the whole-stage-codegen
    method budget (re-measured 2.2× slower). ``mapInArrow`` + numpy is
    the remaining fast path: batches cross the boundary columnar, only
    (id, vec) is shipped, and the argmin runs vectorized.

    Bit-identity with the Catalyst form (proven by the oracle gate and
    the parity in the r13 experiment log):

    - each squared-diff term is the same float64 IEEE op sequence
      (float→double widening exact, subtract, multiply);
    - the per-subspace sum is accumulated LEFT-ASSOCIATIVELY in element
      order (explicit sequential adds, never ``np.sum``'s pairwise
      reduction), matching the old ``aggregate`` fold from 0.0 — exact
      because t₁ ≥ 0 makes 0.0 + t₁ ≡ t₁;
    - ``np.argmin`` returns the FIRST minimum = lowest centroid id,
      the struct-min tie rule.

    Vectors must carry at least ``m·sub`` elements (every caller here
    passes fixed-dim embeddings; a ragged batch fails loudly in the
    reshape instead of silently null-padding like ``slice`` did).

    Vectors must not contain NaN. A NaN element makes its distances
    NaN, and the two forms then disagree: ``np.argmin`` returns the
    first NaN's index, while Spark's struct min (and the DuckDB
    oracle's list min) orders NaN above every number and picks the
    nearest finite centroid. Nothing here checks for NaN."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    dim = m * sub
    cbl = [[[float(v) for v in c] for c in s] for s in codebooks]
    cl = (
        [[float(x) for x in c] for c in centroids]
        if centroids is not None
        else None
    )
    with_list = cl is not None

    def assign(batches, cbl=cbl, cl=cl, m=m, sub=sub, dim=dim):
        import numpy as np
        import pyarrow as pa

        C = np.array(cbl, dtype=np.float64)  # (m, k, sub)
        CO = np.array(cl, dtype=np.float64) if cl is not None else None
        for batch in batches:
            # the output schema declares the id as long: widen an int
            # (or any integral) id column instead of passing it through
            ids = batch.column(0).cast(pa.int64())
            flat = batch.column(1).flatten().to_numpy(zero_copy_only=False)
            V = np.asarray(flat, dtype=np.float64).reshape(-1, dim)
            n = len(batch)
            codes = np.empty((n, m), dtype=np.int32)
            for s in range(m):
                diff = V[:, s * sub : (s + 1) * sub, None] - C[s].T[None, :, :]
                sq = diff * diff  # (n, sub, k)
                acc = sq[:, 0, :]
                for d in range(1, sub):  # left-assoc, element order
                    acc = acc + sq[:, d, :]
                codes[:, s] = np.argmin(acc, axis=1)
            offs = pa.array(
                np.arange(0, m * (n + 1), m, dtype=np.int32), type=pa.int32()
            )
            code_arr = pa.ListArray.from_arrays(
                offs, pa.array(codes.ravel(), type=pa.int32())
            )
            cols, names = [ids], [id_alias]
            if CO is not None:
                cdiff = V[:, :, None] - CO.T[None, :, :]
                csq = cdiff * cdiff  # (n, dim, n_cent)
                cacc = csq[:, 0, :]
                for d in range(1, dim):
                    cacc = cacc + csq[:, d, :]
                cols.append(
                    pa.array(np.argmin(cacc, axis=1).astype(np.int32))
                )
                names.append("list_id")
            cols.append(code_arr)
            names.append("code")
            yield pa.record_batch(cols, names=names)

    schema = (
        f"{id_alias} long, list_id int, code array<int>"
        if with_list
        else f"{id_alias} long, code array<int>"
    )
    return corpus.select(F.col(id_col), F.col(vec_col)).mapInArrow(
        assign, schema
    )


def _pq_adc_dist(tbl_col: str, code_col: str, m: int):
    """ADC distance: the ``m`` table lookups summed as ONE flat
    left-associative SQL expression — small enough to stay inside
    whole-stage codegen, unlike the old interpreted ``aggregate`` fold
    it replaces (OPTIMIZATION r13, guide §4.1). Identical arithmetic:
    0-based ``[]`` indexing ≡ the old 1-based ``element_at(·, s)`` /
    ``element_at(·, code[s]+1)``, and the flat ``+`` chain is the same
    left fold from 0.0 (t₁ ≥ 0, so dropping the leading 0.0 is
    IEEE-exact)."""
    return F.expr(
        " + ".join(
            f"`{tbl_col}`[{s}][`{code_col}`[{s}]]" for s in range(m)
        )
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector to ``m`` uint8-sized centroid ids — the
    compressed representation PQ search scans instead of raw floats
    (Jégou et al. 2011). m bytes/vector vs dim·4: at 100 TB of
    embeddings the code table is ~32× smaller than the corpus and is
    the ONLY thing the search joins against.

    One vectorized Arrow pass over (id, vec) — see
    :func:`_pq_assign_arrow` for why this replaced the interpreted
    Catalyst HOF fold (OPTIMIZATION r13) and the bit-identity argument.
    One corpus scan, no shuffle. Ties in the per-subspace argmin break
    to the lowest centroid id — bit-identical to the oracle's
    lexicographic list-min."""
    return _pq_assign_arrow(corpus, codebooks, id_col, id_col, vec_col)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """Approximate top-k nearest neighbors by PQ asymmetric distance
    (ADC): the corpus is scanned as m-byte codes; each query carries a
    broadcast m×k lookup table of exact query↔centroid subdistances,
    and a candidate's distance is the m-term table sum — m lookups +
    adds per pair instead of ``dim`` multiplies, the classic
    memory-bound ANN shape. Ranking is (distance ASC, neighbor ASC) on
    the 6-dp-rounded distance, so ties cannot reorder across engines.

    Scale shape: encode is one shuffle-free corpus scan; the query
    table is a tiny broadcast; only code lookups happen per pair. The
    final top-k window shuffles (query_id, code)-sized rows — never
    raw vectors."""
    if codebooks is None:
        codebooks = default_pq_codebooks(
            corpus, id_col=id_col, vec_col=vec_col, dim=dim
        )
    m = len(codebooks)
    codes = pq_encode(corpus, codebooks, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "code"
    )
    # per-query ADC table: tbl[s][c] = ||q_sub_s - cent[s][c]||², exact
    tbl = F.array(
        *[
            F.transform(
                _pq_subspace_dists("__qv", codebooks, s), lambda st: st["d"]
            )
            for s in range(m)
        ]
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
        ).select("query_id", tbl.alias("__tbl"))
    )
    # per-pair ADC sum: flat codegen chain, not the interpreted fold
    # (OPTIMIZATION r13 — this expression runs |corpus|×|queries| times)
    dist = _pq_adc_dist("__tbl", "code", m)
    scored = (
        codes.join(q, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(dist, 6).alias("approx_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            "approx_dist",
        )
    )


def _coarse_dist_structs(vec: str, centroids: list[list[float]]):
    """(full-dim squared L2, centroid id) structs over a broadcast-
    literal centroid table — same shared-lambda shape as the PQ
    subspace dists; struct-min over it is the deterministic coarse
    quantizer every IVF-family operator here shares."""
    cent_arr = F.array(*[F.lit(c) for c in centroids])
    return F.transform(
        F.sequence(F.lit(1), F.lit(len(centroids))),
        lambda j: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col(vec),
                    F.element_at(cent_arr, j),
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            (j - 1).cast("int").alias("cid"),
        ),
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    n_probe: int = 2,
    codebooks: list[list[list[float]]] | None = None,
    centroids: list[list[float]] | None = None,
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """IVF+PQ — the composed billion-scale ANN shape (Jégou et al.
    2011; FAISS ``IVFx,PQy``): a coarse L2 quantizer partitions the
    corpus into inverted lists, each vector is stored only as its
    ``m``-byte PQ code, and a query ADC-scores codes in its ``n_probe``
    nearest lists. At 100 TB the scan per query is
    (n_probe/n_centroids) of the corpus, read as codes (~32× smaller
    than floats) — the product of both reductions.

    Determinism discipline: coarse centroids default to the
    ``n_centroids`` lowest-id corpus vectors (full-dim) and codebooks
    to :func:`default_pq_codebooks`; assignment/probe ties break to the
    lowest centroid id via struct-min; the ADC sum is a fixed-order
    fold — fully hash-gated against the SQL twin. Trained inputs come
    from the deterministic trainers in operators/mltrain.py:
    ``pq_kmeans_det(corpus, m, k, iters)`` for the codebooks and
    ``pq_kmeans_det(corpus, 1, n_centroids, iters)[0]`` for squared-L2
    coarse centroids.

    Scale shape: corpus assignment + encoding is ONE shuffle-free scan
    (pure Catalyst expressions over broadcast-literal centroids +
    codebooks); queries broadcast (probe list, ADC table) pairs; the
    equi-join on list id replaces pq_topk's all-pairs nested loop, so
    only probed candidates are ever scored.
    """
    if centroids is None:
        centroids = [
            [float(x) for x in r[1]]
            for r in corpus.select(id_col, vec_col)
            .orderBy(id_col)
            .limit(n_centroids)
            .collect()
        ]
    if codebooks is None:
        codebooks = default_pq_codebooks(
            corpus, id_col=id_col, vec_col=vec_col, dim=dim
        )
    m = len(codebooks)

    # coarse assignment + PQ encode fused into ONE Arrow pass over the
    # corpus (OPTIMIZATION r13, guide §4.2 — was two interpreted HOF
    # folds per row); bit-identity per _pq_assign_arrow's docstring
    codes = _pq_assign_arrow(
        corpus, codebooks, "neighbor_id", id_col, vec_col, centroids=centroids
    )

    tbl = F.array(
        *[
            F.transform(
                _pq_subspace_dists("__v", codebooks, s), lambda st: st["d"]
            )
            for s in range(m)
        ]
    )
    probes = F.slice(
        F.array_sort(_coarse_dist_structs("__v", centroids)), 1, n_probe
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__v")
        )
        .select(
            "query_id",
            tbl.alias("__tbl"),
            F.explode(probes).alias("__p"),
        )
        .select("query_id", "__tbl", F.col("__p")["cid"].alias("list_id"))
    )
    dist = _pq_adc_dist("__tbl", "code", m)
    scored = (
        codes.join(q, "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", F.round(dist, 6).alias("approx_dist")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            "approx_dist",
        )
    )


def ivfpq_index_write(
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    dim: int = DEFAULT_DIM,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> dict:
    """Materialize an IVF+PQ index on storage: PQ codes written as
    parquet PARTITIONED BY INVERTED LIST (``partitionBy("list_id")``)
    plus a JSON sidecar holding centroids + codebooks (index metadata,
    a few KiB). Build-once/search-many — and because each inverted
    list is a partition directory, probing at search time is PARTITION
    PRUNING: a query that probes ``n_probe`` lists physically reads
    ~n_probe/n_centroids of the code files. The I/O reduction is
    enforced by the storage layout, not just the plan.

    Build cost: one shuffle-free corpus scan (assignment + encoding are
    the same broadcast-literal expressions as :func:`ivfpq_topk`) and
    one partitioned write. Codes are m bytes/vector — the index is
    ~32× smaller than the float corpus.

    The sidecar is written with plain ``open()`` from the driver: on a
    cluster, ``index_dir`` must be a shared/driver-visible mount for
    the metadata (the parquet codes go through the Hadoop FS layer and
    work on any scheme).
    """
    import json
    import os

    if centroids is None:
        centroids = [
            [float(x) for x in r[1]]
            for r in corpus.select(id_col, vec_col)
            .orderBy(id_col)
            .limit(n_centroids)
            .collect()
        ]
    if codebooks is None:
        codebooks = default_pq_codebooks(
            corpus, id_col=id_col, vec_col=vec_col, dim=dim
        )
    codes = _pq_assign_arrow(
        corpus, codebooks, "neighbor_id", id_col, vec_col, centroids=centroids
    )
    codes.write.mode("overwrite").partitionBy("list_id").parquet(
        os.path.join(index_dir, "codes")
    )
    meta = {"dim": dim, "centroids": centroids, "codebooks": codebooks}
    with open(os.path.join(index_dir, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


def ivfpq_index_append(
    index_dir: str,
    new_corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """INCREMENTAL maintenance of a persisted IVF+PQ index
    (:func:`ivfpq_index_write`): encode NEW vectors with the index's
    OWN frozen centroids + codebooks (from ``meta.json``) and append
    their code rows into the existing ``partitionBy("list_id")``
    layout — no rebuild, no touch of existing files (parquet append
    adds files inside each list directory).

    This is how a 100 TB corpus actually grows: daily increments are
    a shuffle-free scan + append of m bytes/vector, while the
    quantizers stay frozen so old and new codes share one ADC table.
    Search (:func:`ivfpq_index_search`) is oblivious to the split —
    the parity test builds an index from half the corpus, appends the
    other half, and gets byte-identical results to a full build.
    Re-train (a fresh :func:`ivfpq_index_write`) only when drift
    accumulates — the recall harness is the trigger, not the calendar.

    Caller contract: ids in ``new_corpus`` must be new (the index has
    no uniqueness check — appending an existing id yields duplicate
    rows, exactly like appending to any parquet table).
    """
    import json
    import os

    with open(os.path.join(index_dir, "meta.json")) as fh:
        meta = json.load(fh)
    centroids, codebooks = meta["centroids"], meta["codebooks"]
    codes = _pq_assign_arrow(
        new_corpus,
        codebooks,
        "neighbor_id",
        id_col,
        vec_col,
        centroids=centroids,
    )
    codes.write.mode("append").partitionBy("list_id").parquet(
        os.path.join(index_dir, "codes")
    )
    return meta


def ivfpq_index_search(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a persisted IVF+PQ index (:func:`ivfpq_index_write`).

    The union of all probed list ids (≤ |queries|·n_probe ints — index
    metadata, same class as the centroid fetch) becomes a LITERAL
    ``isin`` filter on the partition column, so the parquet scan shows
    ``PartitionFilters`` and un-probed list directories are never
    opened (plan-tested). Scoring is the same broadcast-ADC-table
    equi-join as :func:`ivfpq_topk` — results are identical to the
    inline path by the parity test.
    """
    import json
    import os

    with open(os.path.join(index_dir, "meta.json")) as fh:
        meta = json.load(fh)
    centroids, codebooks = meta["centroids"], meta["codebooks"]
    m = len(codebooks)

    probes = F.slice(
        F.array_sort(_coarse_dist_structs("__v", centroids)), 1, n_probe
    )
    tbl = F.array(
        *[
            F.transform(
                _pq_subspace_dists("__v", codebooks, s), lambda st: st["d"]
            )
            for s in range(m)
        ]
    )
    q_frame = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__v")
        )
        .select("query_id", tbl.alias("__tbl"), F.explode(probes).alias("__p"))
        .select("query_id", "__tbl", F.col("__p")["cid"].alias("list_id"))
    )
    probe_ids = sorted(
        {r["list_id"] for r in q_frame.select("list_id").distinct().collect()}
    )
    codes = spark.read.parquet(os.path.join(index_dir, "codes")).filter(
        F.col("list_id").isin(probe_ids)
    )
    dist = _pq_adc_dist("__tbl", "code", m)
    scored = (
        codes.join(F.broadcast(q_frame), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", F.round(dist, 6).alias("approx_dist")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            "approx_dist",
        )
    )


def rrf_fuse(
    result_sets: list[DataFrame],
    k: int = 5,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of multiple
    top-k result frames — the standard hybrid-search combiner (e.g.
    exact + LSH + PQ tiers, or dense + lexical retrieval): per
    (query, neighbor), score = Σ_sets 1/(rrf_k + rank), re-ranked.

    Exactness discipline: each 1/(rrf_k + rank) is one IEEE division of
    exact integers and the cross-set sum is folded in INPUT-SET ORDER
    via an array literal (a groupBy SUM over doubles would be
    aggregation-order-dependent) — so fused scores hash-compare. Ties
    re-rank by neighbor id.

    Scale shape: each input is already a per-query top-k (tiny);
    fusion is one union + one groupBy at fused-candidate cardinality +
    one per-query window. Inputs must share (query_id, rank,
    neighbor_id) columns — exactly what every ANN tier here returns.
    """
    tagged = [
        df.select(
            "query_id",
            "neighbor_id",
            F.lit(i).alias("__set"),
            F.col("rank").cast("long").alias("__rank"),
        )
        for i, df in enumerate(result_sets)
    ]
    allr = tagged[0]
    for t in tagged[1:]:
        allr = allr.unionByName(t)
    n_sets = len(result_sets)
    # per (query, neighbor): one slot per input set, folded in set order
    slots = F.array(
        *[
            F.max(F.when(F.col("__set") == i, F.col("__rank"))).alias(f"r{i}")
            for i in range(n_sets)
        ]
    )
    fused = (
        allr.groupBy("query_id", "neighbor_id")
        .agg(slots.alias("__slots"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.col("__slots"),
                F.lit(0.0),
                lambda acc, r: acc
                + F.coalesce(
                    F.lit(1.0) / (F.lit(rrf_k) + r), F.lit(0.0)
                ),
            ).alias("rrf_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("neighbor_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            "rrf_score",
        )
    )


def sq8_bounds(corpus: DataFrame, vec_col: str = "embedding", dim: int = DEFAULT_DIM) -> DataFrame:
    """Per-dimension [min, max] of the corpus as ONE 1-row aggregate
    (2·dim counters, map-side combined) — the training artifact of the
    SQ8 tier, broadcast into both encode sides. Exact doubles from the
    data; no iteration, no driver collect."""
    return corpus.agg(
        *[
            F.min(F.element_at(F.col(vec_col), i + 1).cast("double")).alias(f"__mn_{i}")
            for i in range(dim)
        ],
        *[
            F.max(F.element_at(F.col(vec_col), i + 1).cast("double")).alias(f"__mx_{i}")
            for i in range(dim)
        ],
    )


def _sq8_codes(vec_col: str, dim: int):
    """Affine int8-range quantizer per dimension: code_i =
    floor((x_i − mn_i)·255/(mx_i − mn_i) + 0.5) ∈ [0, 255]
    (constant dimensions encode 0). Pure IEEE −·×/÷·floor in a fixed
    order, so codes are bit-identical in the DuckDB twin."""
    return [
        F.when(
            F.col(f"__mx_{i}") > F.col(f"__mn_{i}"),
            F.floor(
                (F.element_at(F.col(vec_col), i + 1).cast("double") - F.col(f"__mn_{i}"))
                * F.lit(255.0)
                / (F.col(f"__mx_{i}") - F.col(f"__mn_{i}"))
                + F.lit(0.5)
            ).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias(f"__c_{i}")
        for i in range(dim)
    ]


def _sq8_recon_sql(vec_col: str, dim: int) -> str:
    """Decode expression: recon_i = mn_i + code_i·(mx_i−mn_i)/255 —
    the value the stored 8-bit code stands for. Emitted as ONE SQL
    string (the ``dot_fixed`` lesson: Column-operator composition costs
    ~6 py4j round-trips per element; ``F.expr`` of the same text is
    milliseconds and parses to the identical tree). ``255.0D``/``0.5D``
    pin DOUBLE literals — a bare ``255.0`` parses as DECIMAL in Spark
    SQL and would change the arithmetic the oracle replays."""
    terms = []
    for i in range(dim):
        x = f"CAST(`{vec_col}`[{i}] AS DOUBLE)"
        mn, mx = f"`__mn_{i}`", f"`__mx_{i}`"
        terms.append(
            f"CASE WHEN {mx} > {mn} THEN {mn} + "
            f"FLOOR(({x} - {mn}) * 255.0D / ({mx} - {mn}) + 0.5D)"
            f" * ({mx} - {mn}) / 255.0D ELSE {mn} END"
        )
    return "array(" + ", ".join(terms) + ")"


def cosine_topk_sq8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """SCALAR-QUANTIZED (SQ8) similarity tier — the FAISS-style memory
    path: corpus vectors live as dim bytes (:func:`_sq8_codes`)
    instead of dim floats, an 8× smaller footprint that at 100 TB of
    embeddings IS the feature. Scoring DECODES each code back to the
    value it stands for (``mn_i + code·(mx_i−mn_i)/255`` — raw code
    dot products are meaningless across dimensions with different
    affine scales) and computes exact cosine over the reconstructions,
    reusing the unrolled-codegen ``cosine_fixed`` path.

    Rank fidelity vs the exact tier is pinned in tests (recall@k) —
    the quantization error is the stated trade. Deterministic:
    reconstruction is fixed-order IEEE arithmetic, so the DuckDB twin
    replays it bit-for-bit and the tier hash-gates like the others.

    Scale shape: bounds = one 1-row aggregate; decode = map-only under
    that broadcast row; scoring/top-k mirror cosine_topk (broadcast
    queries, per-query window). A production layout would persist the
    byte codes and decode at scan time — the plan shape is the same.
    """
    bounds = F.broadcast(sq8_bounds(corpus, vec_col, dim))
    recon = F.expr(_sq8_recon_sql(vec_col, dim))
    c = (
        corpus.crossJoin(bounds)
        .select(F.col(id_col).alias("neighbor_id"), recon.alias("cv"))
        .select("neighbor_id", "cv", norm_fixed("cv", dim).alias("cn"))
    )
    q = F.broadcast(
        queries.crossJoin(bounds)
        .select(F.col(id_col).alias("query_id"), recon.alias("qv"))
        .select("query_id", "qv", norm_fixed("qv", dim).alias("qn"))
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_fixed("qv", "cv", dim, "qn", "cn"), 6
            ).alias("cosine_sq8"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sq8"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            "cosine_sq8",
        )
    )


def gram_matrix_exact(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = DEFAULT_DIM,
    scale_bits: int = 20,
) -> DataFrame:
    """EXACT Gram matrix Σ qᵀq over integer-quantized embeddings —
    the d×d summary that feeds PCA/whitening without ever shuffling a
    vector. Each float is quantized ONCE to ``round(x·2^scale_bits)``
    (deterministic), per-Arrow-batch partial Grams accumulate in numpy
    int64 (|x|≤2 ⇒ products < 2^42; a 10k-row batch stays < 2^56), and
    the cross-batch merge is a DECIMAL(38,0) sum on (i, j) — map-side
    combined, shuffle = d² rows per task regardless of corpus size.

    Returns (i, j, gram_q) with 1-based indices and the QUANTIZED
    integer gram (divide by 2^(2·scale_bits) for the float Gram).
    Bit-stable under any partitioning: integer addition commutes.
    """
    import numpy as np
    import pandas as pd

    scale = float(1 << scale_bits)
    ij = np.indices((dim, dim)) + 1  # 1-based

    def acc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            q = np.floor(m * scale + 0.5).astype(np.int64)
            g = q.T @ q
            yield pd.DataFrame(
                {
                    "i": ij[0].ravel(),
                    "j": ij[1].ravel(),
                    "g": g.ravel(),
                }
            )

    partial = df.select(vec_col).mapInPandas(acc, "i long, j long, g long")
    return partial.groupBy("i", "j").agg(
        F.sum(F.col("g").cast("decimal(38,0)")).alias("gram_q")
    )


def pca_eigenvalues(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = DEFAULT_DIM,
    scale_bits: int = 20,
) -> DataFrame:
    """Top-k PCA eigenvalues + explained-variance ratios of the
    embedding covariance. Distributed part is EXACT and bounded: the
    quantized Gram (``gram_matrix_exact``) plus per-dimension integer
    sums — d² + d rows collected to the driver (4 KB·d²/4096 — metadata,
    not data), where the covariance is assembled and ``eigvalsh`` runs
    on a d×d symmetric matrix. Eigen-VECTORS are deliberately not
    returned (sign/rotation ambiguity breaks any cross-run contract);
    eigenvalues are rotation-free.

    Gated rows-only: LAPACK eigensolvers are iterative and
    platform-specific; tests pin parity against ``np.cov`` + eigvalsh
    on the same data and the trace identity Σλ = tr(C).
    """
    import numpy as np

    gram_rows = gram_matrix_exact(df, vec_col, dim, scale_bits).collect()
    scale = float(1 << scale_bits)
    sums = (
        df.select(
            F.posexplode(
                F.transform(
                    vec_col,
                    lambda x: F.floor(x.cast("double") * F.lit(scale) + 0.5).cast(
                        "long"
                    ),
                )
            ).alias("pos", "q")
        )
        .groupBy("pos")
        .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
        .collect()
    )
    n = int(sums[0]["n"]) if sums else 0
    if n < 2:
        raise ValueError(
            f"pca_eigenvalues needs >= 2 vectors (got {n}): the sample "
            "covariance divides by n-1, so fewer rows have no spectrum"
        )
    s = np.zeros(dim)
    for r in sums:
        s[r["pos"]] = float(r["s"])
    g = np.zeros((dim, dim))
    for r in gram_rows:
        g[int(r["i"]) - 1, int(r["j"]) - 1] = float(r["gram_q"])
    cov = (g - np.outer(s, s) / n) / ((n - 1) * scale * scale)
    evals = np.linalg.eigvalsh(cov)[::-1]
    total = float(evals.sum())
    spark = df.sparkSession
    return spark.createDataFrame(
        [
            (r + 1, float(evals[r]), float(evals[r] / total))
            for r in range(min(k, dim))
        ],
        "component int, eigenvalue double, explained_ratio double",
    )


def mmr_rerank(
    candidates: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    lamb: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking — the diversity pass after
    any ANN tier: greedily pick, per query, the candidate maximizing
    ``λ·relevance − (1−λ)·max_cosine_to_already_picked`` (λ=1 is pure
    relevance, λ→0 maximal diversity). Sequential by definition, so it
    runs in ``applyInPandas`` per query over the CANDIDATE set (the
    ANN top-N, bounded by contract) — the corpus-sized work already
    happened in the ANN tier; this join only moves |candidates|
    vectors.

    Deterministic: float64 numpy in fixed order, ties broken by
    smaller neighbor id. ``candidates`` needs (query_id, neighbor_id,
    cosine); vectors are joined in from ``corpus``.
    """
    import numpy as np
    import pandas as pd

    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
    joined = candidates.join(vecs, "neighbor_id")

    out_schema = (
        "query_id long, rank int, neighbor_id long, relevance double, "
        "mmr_score double"
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("neighbor_id", kind="mergesort").reset_index(
            drop=True
        )
        m = np.stack(pdf["__nv"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        unit = m / norms[:, None]
        sim = unit @ unit.T
        rel = pdf["cosine"].to_numpy(dtype=np.float64)
        ids = pdf["neighbor_id"].to_numpy()
        chosen: list[int] = []
        rows = []
        for rank in range(1, min(k, len(pdf)) + 1):
            if chosen:
                penalty = sim[:, chosen].max(axis=1)
            else:
                penalty = np.zeros(len(pdf))
            score = lamb * rel - (1.0 - lamb) * penalty
            score[chosen] = -np.inf
            # np.argmax returns the FIRST max — ids are sorted
            # ascending, so the smaller neighbor id wins ties
            best = int(np.argmax(score))
            chosen.append(best)
            rows.append(
                (
                    int(pdf["query_id"].iloc[0]),
                    rank,
                    int(ids[best]),
                    float(rel[best]),
                    float(score[best]),
                )
            )
        return pd.DataFrame(
            rows,
            columns=["query_id", "rank", "neighbor_id", "relevance", "mmr_score"],
        )

    return joined.groupBy("query_id").applyInPandas(pick, out_schema)
