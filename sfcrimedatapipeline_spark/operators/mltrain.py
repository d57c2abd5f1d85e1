"""Deterministic distributed model training — gradient descent whose
trace is bit-reproducible across Spark, DuckDB, and driver Python.

The classic objection to training INSIDE a data engine is that the
result is not reproducible: float gradient sums depend on partition
order, and sigmoid/exp differ between libms. Both objections fall to
the repo's determinism primitives:

- gradients are Q40 fixed-point sums (functions/fixedpoint.py) —
  exact DECIMAL(38,0) integers, any aggregation order, any partition
  count;
- the sigmoid rides ``exp_det`` (functions/detmath.py) — the
  squaring-chain exp built only from IEEE-correctly-rounded ops,
  bit-identical on every engine;
- weight updates are plain scalar IEEE double math, repeated textually
  in the DuckDB oracle's recursive CTE and in the driver loop here.

By induction over iterations the weight trace is IDENTICAL in all
three implementations — which is why the ``docs_logreg_train`` query
(plans/infotheory.py) can be VALUE-HASH gated against a recursive-CTE
SQL oracle: the first gated in-engine trainer in this repo.

Scale (100 TB): each iteration is ONE map-side-combinable aggregate
over the cached feature frame — F+1 fixed-point sums (F features + the
count) shuffle F+1 scalars total; the driver holds only the weight
vector. This is textbook full-batch distributed GD; iterations
serialize (inherent to GD), everything inside an iteration is one
whole-stage-codegen pass.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.functions.detmath import exp_det_py, with_exp_det
from sfcrimedatapipeline_spark.functions.fixedpoint import FX_SCALE, fx_int64, sql_fx


def logreg_train(
    feats: DataFrame,
    feature_cols: list[str],
    label_col: str,
    iters: int,
    lr: float,
) -> list[tuple]:
    """Full-batch logistic-regression GD over a feature frame.

    Returns the weight TRACE ``[(it, w_0..w_F), ...]`` for it = 0..iters
    (it=0 is the zero seed) — the value the gated query materializes as
    a literal frame. ``feats`` must expose ``feature_cols`` and a 0/1
    double ``label_col``; it is cached for the duration (iters passes)
    and unpersisted before returning."""
    feats = feats.cache()
    n = feats.count()
    w = [0.0] * len(feature_cols)
    trace: list[tuple] = [(0, *w)]
    for it in range(1, iters + 1):
        # z with the current weights embedded as full-precision literals
        # (repr round-trips the double; both engines parse it back to
        # the same value — the oracle's recursive CTE carries w as
        # columns instead, same arithmetic text)
        z = " + ".join(
            f"CAST({w[j]!r} AS DOUBLE) * {c}"
            for j, c in enumerate(feature_cols)
        )
        d = feats.withColumn("nz", F.expr(f"0.0 - ({z})"))
        d = with_exp_det(d, "nz", "enz")
        d = d.withColumn("sig", F.expr("1.0 / (1.0 + enz)"))
        grads = d.agg(
            *[
                F.sum(F.expr(sql_fx(f"{c} * ({label_col} - sig)"))).alias(
                    f"g{j}"
                )
                for j, c in enumerate(feature_cols)
            ]
        ).collect()[0]
        # update arithmetic mirrored TEXTUALLY by the oracle:
        # w' = w + lr * ((unfx(g) ) / n)
        w = [
            w[j] + lr * ((float(grads[f"g{j}"]) / FX_SCALE) / n)
            for j in range(len(feature_cols))
        ]
        trace.append((it, *w))
    feats.unpersist()
    return trace


def logreg_train_py(
    rows: list[tuple],
    iters: int,
    lr: float,
) -> list[tuple]:
    """Bit-exact Python twin of :func:`logreg_train` for parity tests:
    ``rows`` is ``[(y, x_0..x_F), ...]``. Every operation sequence
    matches the engine path (fx floor-quantization, exp_det sigmoid,
    identical update order), so the traces must be EQUAL, not close."""
    import math

    nf = len(rows[0]) - 1
    n = len(rows)
    w = [0.0] * nf
    trace: list[tuple] = [(0, *w)]
    for it in range(1, iters + 1):
        g = [0] * nf
        for row in rows:
            y, xs = row[0], row[1:]
            # left-associated exactly like the SQL text `w0*x0 + w1*x1
            # + ...` (no leading 0.0+ term — keeps ±0 edge cases
            # bit-identical)
            z = w[0] * xs[0]
            for j in range(1, nf):
                z = z + w[j] * xs[j]
            sig = 1.0 / (1.0 + exp_det_py(0.0 - z))
            for j in range(nf):
                g[j] += math.floor((xs[j] * (y - sig)) * FX_SCALE)
        w = [w[j] + lr * ((float(g[j]) / FX_SCALE) / n) for j in range(nf)]
        trace.append((it, *w))
    return trace


# ---------------------------------------------------------------------------
# deterministic power iteration — the gated PCA/top-eigenvector trainer
# ---------------------------------------------------------------------------


def power_iteration(
    emb: DataFrame,
    iters: int,
    dims: int,
) -> tuple[list[float], float]:
    """Top eigenvector of the (uncentered) Gram matrix XᵀX by power
    iteration, deterministic to the bit: matrix-vector products are Q40
    fixed-point sums at the vec / dim grains, the norm is a fixed-point
    sum over the dim grain, and the normalize step is one IEEE
    sqrt + divide. Returns ``(v, eigenvalue)`` with ``v`` the unit
    loading vector after ``iters`` rounds and ``eigenvalue ≈ ‖XᵀXv‖``.

    The init is the exact uniform unit vector (1/√dims must be a power
    of two — asserted — so the literal is exact). Scale (100 TB): per
    iteration ONE pass over the vector frame — the dims-cell loading
    vector rides the plan as an array literal, each row's x·v is a
    per-row fixed-point fold, and the only shuffle is the map-side-
    combined dim-grain aggregate (64 groups). (OPTIMIZATION r12, guide
    §2.3/§2.4: the previous shape exploded the points and ran TWO
    broadcast-join + groupBy rounds per iteration over the
    |points|×dims grain; the per-row fold produces bit-identical fx
    integers.) The driver holds only the 64 loadings (BPE-trainer
    precedent)."""
    import math

    from sfcrimedatapipeline_spark.functions.fixedpoint import (
        FX_SCALE,
        fx,
        sql_fx,
    )

    lg = int(round(math.log2(dims)))
    assert (1 << lg) == dims and lg % 2 == 0, (
        "dims must be an even power of two so 1/sqrt(dims) is exact"
    )
    init = 1.0 / float(1 << (lg // 2))
    vecs = emb.select("embedding").cache()
    dec0 = F.lit(0).cast("decimal(38,0)")
    v = [init] * dims
    norm2 = 1.0
    for _ in range(iters):
        u_fx = F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.lit(v).cast("array<double>"),
                lambda x, y: fx(x.cast("double") * y),
            ),
            dec0,
            lambda acc, t: acc + t,
        )
        uval = u_fx.cast("double") / F.lit(FX_SCALE)
        w_rows = (
            vecs.select(
                uval.alias("uval"),
                F.posexplode("embedding").alias("pos", "val_f"),
            )
            .select(
                (F.col("pos") + F.lit(1)).alias("dim"),
                F.col("val_f").cast("double").alias("val"),
                "uval",
            )
            .groupBy("dim")
            .agg(F.sum(F.expr(sql_fx("val * uval"))).alias("w_fx"))
            .collect()
        )
        w = [0.0] * dims
        for r in w_rows:
            w[r["dim"] - 1] = float(r["w_fx"]) / FX_SCALE
        # norm² as the same fixed-point sum the oracle runs on its dim
        # rows (python ints are exact)
        norm2 = float(sum(math.floor((wd * wd) * FX_SCALE) for wd in w)) / FX_SCALE
        s = math.sqrt(norm2)
        v = [wd / s for wd in w]
    vecs.unpersist()
    return v, math.sqrt(norm2)


# ---------------------------------------------------------------------------
# deterministic k-means — one Lloyd loop behind the three gated trainers
# ---------------------------------------------------------------------------


def _l2_codes(V, C):
    """Squared-L2 assignment per subspace: ``(n, m)`` codes of the rows
    of ``V`` against the codebooks ``C`` (m, k, sub). Each term is
    ``floor((v − c)² · 2^40)`` of the same float64 ops as the SQL
    oracle, so the per-code sums are exact integers and the argmin is an
    integer compare whose ties go to the lowest id (``np.argmin``'s
    first minimum, the oracle's struct-min rule)."""
    m, _, sub = C.shape
    return np.stack(
        [
            np.argmin(
                fx_int64(
                    (V[:, None, s * sub : (s + 1) * sub] - C[s][None]) ** 2,
                    axis=2,
                ).sum(axis=2),
                axis=1,
            )
            for s in range(m)
        ],
        axis=1,
    )


def _cos_codes(V, C):
    """Cosine assignment (m = 1): ``(n, 1)`` codes. Vector and centroid
    norms are the square root of the exact integer sum of
    ``floor(x² · 2^40)`` terms (a zero norm divides by 1.0); the dot of
    the two unit vectors is the same exact sum, and ``np.argmax``'s
    first maximum sends ties to the lowest id."""

    def unit(X):
        n = np.sqrt(fx_int64(X * X, axis=1).sum(axis=1).astype(np.float64) / FX_SCALE)
        n[n == 0.0] = 1.0
        return X / n[:, None]

    dots = fx_int64(unit(V)[:, :, None] * unit(C[0]).T[None], axis=1).sum(axis=1)
    return np.argmax(dots, axis=1)[:, None]


def _lloyd_fx(emb: DataFrame, k: int, iters: int, m: int, assign):
    """Lloyd's k-means over an ``(vec_id, embedding)`` frame, run on
    each of ``m`` contiguous subspaces at once and deterministic to the
    bit: the result is the same for any partitioning, batch size or
    engine that follows the same arithmetic.

    Seeds are the ``k`` lowest-``vec_id`` embeddings. Each iteration is
    ONE shuffle-free ``mapInArrow`` pass: every task assigns its rows
    with ``assign(V, C) -> (n, m)`` codes and emits the exact
    per-(code, dim) sums of ``floor(v · 2^40)`` (Python ints, as
    strings) and the per-(code, subspace) counts; the driver adds them
    exactly and divides. An empty (code, subspace) keeps its previous
    centroid.

    Within one Arrow batch the fixed-point sums are int64:
    :func:`~sfcrimedatapipeline_spark.functions.fixedpoint.fx_int64`
    raises ``OverflowError`` where one could wrap instead of training
    on wrapped values. Vectors must not contain NaN (see
    :func:`~sfcrimedatapipeline_spark.operators.similarity._pq_assign_arrow`).

    Returns ``(cent, counts)``: ``cent[s][c]`` is code ``c``'s centroid
    in subspace ``s`` and ``counts[s][c]`` its members in the last
    iteration (0 if it was empty, or when ``iters`` is 0)."""
    seeds = np.array(
        [
            r["embedding"]
            for r in emb.select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(k)
            .collect()
        ],
        dtype=np.float64,
    )
    k, dims = seeds.shape
    cent = seeds.reshape(k, m, dims // m).transpose(1, 0, 2)  # (m, k, sub)
    counts = np.zeros((m, k), dtype=np.int64)
    for _ in range(iters):

        def partials(batches, C=cent):
            import pyarrow as pa

            fsum = [0] * C.size  # Python ints: exact across batches
            cnt = np.zeros((m, k), dtype=np.int64)
            for batch in batches:
                flat = batch.column(0).flatten().to_numpy(zero_copy_only=False)
                V = np.asarray(flat, dtype=np.float64).reshape(-1, dims)
                codes = assign(V, C)
                VF = fx_int64(V, axis=0).reshape(len(V), m, -1)
                part = np.zeros(C.shape, dtype=np.int64)
                for s in range(m):
                    for c in range(k):
                        hit = codes[:, s] == c
                        part[s, c] = VF[hit, s].sum(axis=0)
                        cnt[s, c] += hit.sum()
                fsum = [a + b for a, b in zip(fsum, part.ravel().tolist())]
            yield pa.record_batch(
                [
                    pa.array([[str(x) for x in fsum]], pa.list_(pa.string())),
                    pa.array([cnt.ravel().tolist()], pa.list_(pa.int64())),
                ],
                names=["fsum", "cnt"],
            )

        rows = (
            emb.select("embedding")
            .mapInArrow(partials, "fsum array<string>, cnt array<long>")
            .collect()
        )
        # Python ints: the reduce is exact, so task order cannot matter
        tot = [sum(int(x) for x in col) for col in zip(*(r["fsum"] for r in rows))]
        sums = np.array([float(t) for t in tot]).reshape(cent.shape)
        counts = np.sum([r["cnt"] for r in rows], axis=0).reshape(m, k)
        mean = (sums / FX_SCALE) / np.maximum(counts, 1)[:, :, None]
        cent = np.where(counts[:, :, None] > 0, mean, cent)
    return cent.tolist(), counts.tolist()


def kmeans_train(
    emb: DataFrame,
    k: int,
    iters: int,
) -> list[tuple]:
    """Full-batch Lloyd's k-means (squared-L2 assignment) over an
    ``(vec_id, embedding)`` frame, deterministic to the bit (see
    :func:`_lloyd_fx`). Returns the final centroid rows
    ``[(cluster, n_members, dim, centroid), ...]`` — k·dims rows, dims
    1-based — exactly reproducible by the DuckDB unrolled-CTE oracle.

    Two preconditions the Catalyst oracle does not share: a batch whose
    int64 fixed-point distance or column sums could wrap raises
    ``OverflowError``, and vectors must not contain NaN (``np.argmin``
    and Spark's struct min order NaN differently)."""
    cent, counts = _lloyd_fx(emb, k, iters, 1, _l2_codes)
    return [
        (c, counts[0][c], d + 1, x)
        for c, vec in enumerate(cent[0])
        for d, x in enumerate(vec)
    ]


def spherical_kmeans_det(
    emb: DataFrame,
    k: int,
    iters: int,
) -> list[tuple[int, list[float]]]:
    """Spherical k-means — cosine assignment, unnormalized means —
    deterministic to the bit (see :func:`_lloyd_fx`), which is what lets
    the oracle gate ``ann_cosine_topk_ivf_trained`` by value hash.
    Returns ``[(centroid_id, vector), ...]`` in the
    :func:`~sfcrimedatapipeline_spark.operators.similarity.cosine_topk_ivf`
    input shape (centroid ids 0..k-1)."""
    return list(enumerate(_lloyd_fx(emb, k, iters, 1, _cos_codes)[0][0]))


def pq_kmeans_det(
    emb: DataFrame,
    m: int,
    n_codes: int,
    iters: int,
) -> list[list[list[float]]]:
    """Per-subspace squared-L2 k-means for PQ codebooks, all ``m``
    subspaces in the same pass and deterministic to the bit (see
    :func:`_lloyd_fx`), which is what lets the oracle gate
    ``ann_pq_topk_trained`` by value hash. Returns ``codebooks[s][c]``
    in the :func:`~sfcrimedatapipeline_spark.operators.similarity.pq_topk`
    input shape."""
    return _lloyd_fx(emb, n_codes, iters, m, _l2_codes)[0]


# ---------------------------------------------------------------------------
# deterministic MMR — the gated diversity re-ranker
# ---------------------------------------------------------------------------


def mmr_rerank_det(
    candidates: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    lamb: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy MMR (λ·relevance − (1−λ)·max_cosine_to_picked) made
    gate-deterministic: pairwise cosines are SEQUENTIAL left-fold
    dot/norm arithmetic — the exact operation order of the oracle's
    ``list_sum`` fragments — instead of numpy BLAS (whose pairwise
    summation differs in the last ulp and can flip greedy picks), and
    the (1−λ) complement is shared with the oracle via ``repr``
    (Python ``1.0−0.7`` is 0.30000000000000004, not the double the SQL
    decimal would produce). Candidates are the ANN top-N (bounded by
    contract — tens of rows per query), so the greedy loop is
    driver-side on the collected candidate set, like every trainer in
    this module; ties break to the smaller neighbor id."""
    import math

    spark = candidates.sparkSession
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
    rows = (
        candidates.join(vecs, "neighbor_id")
        .select("query_id", "neighbor_id", "cosine", "__nv")
        .collect()
    )
    om = 1.0 - lamb

    def fold_dot(a: list[float], b: list[float]) -> float:
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    def cos_raw(a: list[float], b: list[float]) -> float:
        return fold_dot(a, b) / (
            math.sqrt(fold_dot(a, a)) * math.sqrt(fold_dot(b, b))
        )

    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], float(r["cosine"]), [float(x) for x in r["__nv"]])
        )
    out: list[tuple] = []
    for qid in sorted(by_q):
        cands = sorted(by_q[qid])  # neighbor_id ascending — the tie rule
        picked: list[tuple] = []
        for rank in range(1, min(k, len(cands)) + 1):
            best = None
            for nid, rel, v in cands:
                if any(nid == p[0] for p in picked):
                    continue
                pen = (
                    max(cos_raw(v, p[2]) for p in picked) if picked else 0.0
                )
                score = lamb * rel - om * pen
                if best is None or score > best[0]:
                    best = (score, nid, rel, v)
            out.append((qid, rank, best[1], best[2], best[0]))
            picked.append((best[1], best[2], best[3]))
    return spark.createDataFrame(
        out,
        "query_id long, rank int, neighbor_id long, relevance double, "
        "mmr_score double",
    )
