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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.functions.detmath import exp_det_py, with_exp_det
from sfcrimedatapipeline_spark.functions.fixedpoint import FX_SCALE, sql_fx


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
# deterministic k-means (Lloyd's) — the gated IVF-quantizer trainer
# ---------------------------------------------------------------------------


def kmeans_train(
    emb: DataFrame,
    k: int,
    iters: int,
) -> list[tuple]:
    """Full-batch Lloyd's k-means over an ``(vec_id, embedding)`` frame,
    deterministic to the bit: init is the k smallest vec_ids' vectors;
    per-point distances are Q40 fixed-point sums at the (vec, cluster)
    grain (so the argmin is an exact-integer comparison, tie-broken on
    cluster id); new centroids are fixed-point means. Returns final
    centroid rows ``[(cluster, n_members, dim, centroid), ...]`` —
    k·dims rows — exactly reproducible by the DuckDB unrolled-CTE
    oracle and any partitioning.

    Scale (100 TB): per iteration, ONE pass over the vector frame —
    the k·dims centroids ride the plan as array literals, each row's
    argmin is a per-row fixed-point fold (the ``pq_encode`` search-time
    shape), and the only shuffle is the map-side-combined
    (cluster, dim) mean aggregate. (OPTIMIZATION r12, guide §2.3/§2.4:
    the previous shape exploded the points, broadcast-joined the
    centroid cells, re-aggregated the (vec, cluster) distance grain and
    sorted a per-vector window — 3 exchanges + a sort per iteration,
    all carrying a |points|×k intermediate; the per-row fold produces
    bit-identical fx integers with zero pair-grain shuffle.) Centroids
    collect to the driver between iterations (k·dims values — the
    BPE/IVF trainer precedent); empty clusters keep their previous
    centroid (COALESCE, mirrored in the oracle)."""
    from sfcrimedatapipeline_spark.functions.fixedpoint import (
        FX_SCALE,
        fx,
        sql_fx,
    )

    vecs = emb.select("vec_id", "embedding").cache()
    # deterministic init: the k smallest vec_ids, cluster = their rank
    init_ids = [
        r["vec_id"]
        for r in vecs.select("vec_id").orderBy("vec_id").limit(k).collect()
    ]
    rank = {vid: c for c, vid in enumerate(init_ids)}
    init_rows = (
        vecs.filter(F.col("vec_id").isin(init_ids))
        .select("vec_id", F.posexplode("embedding").alias("pos", "val_f"))
        .select(
            "vec_id",
            (F.col("pos") + F.lit(1)).alias("dim"),
            F.col("val_f").cast("double").alias("val"),
        )
        .collect()
    )
    cent: list[tuple] = sorted(
        (rank[r["vec_id"]], 0, r["dim"], r["val"]) for r in init_rows
    )
    dec0 = F.lit(0).cast("decimal(38,0)")
    for _ in range(iters):
        cvec: dict[int, list[float]] = {}
        for c, _n, _d, v in sorted(cent, key=lambda t: (t[0], t[2])):
            cvec.setdefault(c, []).append(v)
        # per-row argmin over exact fx distance integers: floor each
        # (val-cval)^2 term like the old grouped sum, integer-add in
        # element order (order-free), tie -> lowest cluster id. Kept as
        # a HOF fold over ONE nested-array literal (k is small):
        # unrolling all k*dims terms into flat SQL was tried and blows
        # whole-stage codegen's 64 KB method limit (Janino fallback —
        # the exact r11 failure class), costing more than it saves.
        cent_lit = F.lit([cvec[c] for c in sorted(cvec)])
        dist_structs = F.transform(
            F.sequence(F.lit(1), F.lit(len(cvec))),
            lambda j: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("embedding"),
                        F.element_at(cent_lit, j),
                        lambda x, y: fx(
                            (x.cast("double") - y) * (x.cast("double") - y)
                        ),
                    ),
                    dec0,
                    lambda acc, t: acc + t,
                ).alias("d"),
                (j - 1).cast("bigint").alias("cluster"),
            ),
        )
        # argmin in its OWN select: struct-field extraction and a
        # generator in one projection trips analysis (field names
        # degrade to col1/col2); the two projections collapse anyway
        means = (
            vecs.select(
                F.array_min(dist_structs)["cluster"].alias("cluster"),
                "embedding",
            )
            .select(
                "cluster",
                F.posexplode("embedding").alias("pos", "val_f"),
            )
            .select(
                "cluster",
                (F.col("pos") + F.lit(1)).alias("dim"),
                F.col("val_f").cast("double").alias("val"),
            )
            .groupBy("cluster", "dim")
            .agg(
                F.sum(F.expr(sql_fx("val"))).alias("s_fx"),
                F.count("*").cast("long").alias("n"),
            )
            .collect()
        )
        got = {
            (r["cluster"], r["dim"]): (
                (float(r["s_fx"]) / FX_SCALE) / r["n"],
                r["n"],
            )
            for r in means
        }
        # empty clusters keep the previous centroid (n = 0)
        cent = [
            (c, got[(c, d)][1], d, got[(c, d)][0])
            if (c, d) in got
            else (c, 0, d, v)
            for (c, _, d, v) in cent
        ]
    vecs.unpersist()
    return cent


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
# deterministic spherical k-means — the gated trained-IVF quantizer
# ---------------------------------------------------------------------------


def spherical_kmeans_det(
    emb: DataFrame,
    k: int,
    iters: int,
) -> list[tuple[int, list[float]]]:
    """Spherical k-means (cosine assignment, unnormalized means — the
    train_ivf_centroids semantics) made bit-deterministic: vector and
    centroid norms are fixed-point sums, assignments are argmax over
    exact fixed-point dot integers (ties → lowest centroid id), and
    means divide fixed-point sums — so the trained centroids are
    identical across partitionings AND engines, which is what upgrades
    ``ann_cosine_topk_ivf_trained`` from rows-only to value-hash gated
    (its old rationale: "trained float centroids are not
    engine-reproducible by design").

    Returns ``[(centroid_id, vector), ...]`` in the
    :func:`~sfcrimedatapipeline_spark.operators.similarity.cosine_topk_ivf`
    input shape (centroid ids 0..k-1).

    Scale shape (OPTIMIZATION r13, guide §4.2): per iteration ONE
    shuffle-free Arrow pass — assignment + per-(cid, dim) fx partial
    sums run vectorized in numpy, each task emits k rows of exact
    integer partials (as strings, in unbounded Python ints), and the
    driver reduces them exactly. Within one Arrow batch the fixed-point
    sums are int64, so they hold values below 2^62 / 2^40 ≈ 4.2e6: a
    batch with a squared norm, or a column sum over its rows, that large
    raises ``OverflowError`` instead of training on wrapped values
    (:func:`~sfcrimedatapipeline_spark.functions.fixedpoint.fx_int64`).
    The r12 Catalyst form (per-row interpreted decimal HOF fold +
    posexplode + (cid, dim) shuffle + collect per iteration) measured 2.03 s for 3 iterations at sf0.1 vs 1.19 s for
    this pass — and the remaining cost is the per-iteration job floor,
    not data.

    Bit-identity with the r12 form (pinned by the parity tests and the
    oracle gate on the trained-search query): every fx term is
    ``floor(term · 2^40)`` of the same float64 IEEE op sequence, the
    per-row integer sums are order-free by exactness, ``np.argmax``
    takes the first maximum = lowest cid (the struct-min tie rule),
    and the mean is the same two exact divisions. Zero-norm vectors
    divide by 1.0 (the numpy trainer's vn[vn==0]=1 rule)."""
    import math

    from sfcrimedatapipeline_spark.functions.fixedpoint import FX_SCALE, fx_int64

    seeds = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
    )
    cent: list[list[float]] = [
        [float(x) for x in r["embedding"]] for r in seeds
    ]
    dims = len(cent[0])
    vecs = emb.select("embedding")
    for _ in range(iters):
        # centroid norms with the same fx discipline, driver-side
        # (python ints are exact — mirrors the oracle's per-cid fx sum)
        chn: list[list[float]] = []
        for cv in cent:
            nc = math.sqrt(
                float(sum(math.floor((x * x) * FX_SCALE) for x in cv))
                / FX_SCALE
            )
            div = 1.0 if nc == 0.0 else nc
            chn.append([x / div for x in cv])

        def partials(batches, chn=chn, kk=k, dims=dims):
            import numpy as np
            import pyarrow as pa

            C = np.array(chn, dtype=np.float64)  # (k, dims)
            sums = [[0] * dims for _ in range(kk)]  # python ints: exact
            cnts = [0] * kk
            for batch in batches:
                flat = batch.column(0).flatten().to_numpy(
                    zero_copy_only=False
                )
                V = np.asarray(flat, dtype=np.float64).reshape(-1, dims)
                # fx norm: floor each val² term, integer-add in element
                # order (exact ⇒ order-free), one sqrt of the double
                nt = fx_int64(V * V, axis=1)
                acc = nt[:, 0].copy()
                for d in range(1, dims):
                    acc = acc + nt[:, d]
                nv = np.sqrt(acc.astype(np.float64) / FX_SCALE)
                nv[nv == 0.0] = 1.0
                VH = V / nv[:, None]
                # fx dot per centroid; argmax ties → lowest cid. Both
                # sides are unit vectors, so no term exceeds 2^40
                dt = np.floor(
                    VH[:, :, None] * C.T[None, :, :] * FX_SCALE
                ).astype(np.int64)
                dacc = dt[:, 0, :].copy()
                for d in range(1, dims):
                    dacc = dacc + dt[:, d, :]
                assign = np.argmax(dacc, axis=1)
                VF = fx_int64(V, axis=0)
                for j in range(kk):
                    msk = assign == j
                    nm = int(msk.sum())
                    if nm:
                        cnts[j] += nm
                        cs = VF[msk].sum(axis=0)
                        for d in range(dims):
                            sums[j][d] += int(cs[d])
            yield pa.record_batch(
                [
                    pa.array(list(range(kk)), type=pa.int64()),
                    pa.array(
                        [[str(x) for x in sums[j]] for j in range(kk)],
                        type=pa.list_(pa.string()),
                    ),
                    pa.array(cnts, type=pa.int64()),
                ],
                names=["cid", "fsum", "cnt"],
            )

        rows = vecs.mapInArrow(
            partials, "cid long, fsum array<string>, cnt long"
        ).collect()
        tot: dict[tuple[int, int], int] = {}
        tc = [0] * k
        for r in rows:
            tc[r["cid"]] += r["cnt"]
            for d in range(dims):
                key = (r["cid"], d)
                tot[key] = tot.get(key, 0) + int(r["fsum"][d])
        cent = [
            [
                (float(tot[(cid, d)]) / FX_SCALE) / float(tc[cid])
                if tc[cid] > 0
                else cent[cid][d]
                for d in range(dims)
            ]
            for cid in range(k)
        ]
    return [(cid, cent[cid]) for cid in range(k)]


# ---------------------------------------------------------------------------
# deterministic per-subspace k-means — the gated trained-PQ codebooks
# ---------------------------------------------------------------------------


def pq_kmeans_det(
    emb: DataFrame,
    m: int,
    n_codes: int,
    iters: int,
    dims: int = 64,
) -> list[list[list[float]]]:
    """Per-subspace squared-L2 k-means (the train_pq_codebooks
    semantics) made bit-deterministic: distances are fixed-point sums
    within each subspace (argmin = exact integer compare, ties → lowest
    code id), means are fixed-point sums over assigned members, empty
    codes keep their previous centroid, seeds are the lowest-
    ``n_codes`` vectors' subvectors. Returns ``codebooks[s][c]`` in the
    :func:`~sfcrimedatapipeline_spark.operators.similarity.pq_topk`
    input shape — identical across partitionings AND engines, which is
    what upgrades ``ann_pq_topk_trained`` from rows-only to value-hash
    gated. All ``m`` subspaces train in the SAME Arrow pass.

    Scale shape (OPTIMIZATION r13, guide §4.2): per iteration ONE
    shuffle-free Arrow pass — per-subspace assignment + per-(cid, dim)
    fx partial sums run vectorized in numpy, each task emits n_codes
    rows of exact integer partials (strings, in unbounded Python ints),
    and the driver reduces them exactly. Within one Arrow batch the
    sums are int64, guarded as in :func:`spherical_kmeans_det` (here
    the bound is on subspace squared distances and column sums).
    The r12 shape (posexplode to the (vec, dim) grain, broadcast-join
    the codebook cells, (vec, s, cid) distance shuffle, per-(vec, s)
    row_number window, join back, (cid, dim) mean shuffle — 4 shuffles + a sort
    per iteration) measured 3.55 s for 3 iterations at sf0.1 vs 1.41 s
    for this pass; its three previously-measured alternatives (py4j
    Column HOF, flat SQL both decimal and bigint) all lose to the
    64 KB codegen method limit and stay rejected.

    Bit-identity with the r12 form (parity tests + the trained-search
    oracle gate): every distance term is ``floor((val−cval)²·2^40)``
    of the same float64 ops, per-(vec, s, cid) sums are exact integers
    ⇒ order-free, ``np.argmin`` takes the first minimum = lowest cid
    (the old (dist_fx ASC, cid ASC) row_number rule), and the mean is
    the same two exact divisions over exact operands."""
    from sfcrimedatapipeline_spark.functions.fixedpoint import FX_SCALE, fx_int64

    sub = dims // m
    seeds = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(n_codes).collect()
    )
    # cb[(cid, dim1based)] = value — full-vector layout; the m×k×sub
    # nesting is re-sliced only at return time
    cb: dict[tuple[int, int], float] = {}
    for cid, r in enumerate(seeds):
        for d, x in enumerate(r["embedding"]):
            cb[(cid, d + 1)] = float(x)
    vecs = emb.select("embedding")
    for _ in range(iters):
        cbl = [
            [cb[(cid, d + 1)] for d in range(dims)]
            for cid in range(n_codes)
        ]

        def partials(batches, cbl=cbl, kk=n_codes, mm=m, sub=sub, dims=dims):
            import numpy as np
            import pyarrow as pa

            C = np.array(cbl, dtype=np.float64)  # (k, dims)
            sums = [[0] * dims for _ in range(kk)]  # python ints: exact
            cnts = [[0] * mm for _ in range(kk)]
            for batch in batches:
                flat = batch.column(0).flatten().to_numpy(
                    zero_copy_only=False
                )
                V = np.asarray(flat, dtype=np.float64).reshape(-1, dims)
                VF = fx_int64(V, axis=0)
                for s in range(mm):
                    Vs = V[:, s * sub : (s + 1) * sub]
                    Cs = C[:, s * sub : (s + 1) * sub]
                    term = fx_int64((Vs[:, None, :] - Cs[None, :, :]) ** 2, axis=2)
                    acc = term[:, :, 0]
                    for d in range(1, sub):
                        acc = acc + term[:, :, d]
                    assign = np.argmin(acc, axis=1)
                    for j in range(kk):
                        msk = assign == j
                        nm = int(msk.sum())
                        if nm:
                            cnts[j][s] += nm
                            cs = VF[msk, s * sub : (s + 1) * sub].sum(axis=0)
                            for d in range(sub):
                                sums[j][s * sub + d] += int(cs[d])
            yield pa.record_batch(
                [
                    pa.array(list(range(kk)), type=pa.int64()),
                    pa.array(
                        [[str(x) for x in sums[j]] for j in range(kk)],
                        type=pa.list_(pa.string()),
                    ),
                    pa.array(
                        [cnts[j] for j in range(kk)],
                        type=pa.list_(pa.int64()),
                    ),
                ],
                names=["cid", "fsum", "cnt"],
            )

        rows = vecs.mapInArrow(
            partials, "cid long, fsum array<string>, cnt array<long>"
        ).collect()
        tot: dict[tuple[int, int], int] = {}
        tc: dict[tuple[int, int], int] = {}
        for r in rows:
            for d in range(dims):
                key = (r["cid"], d + 1)
                tot[key] = tot.get(key, 0) + int(r["fsum"][d])
            for s in range(m):
                sk = (r["cid"], s)
                tc[sk] = tc.get(sk, 0) + r["cnt"][s]
        for (cid, d1), v in list(cb.items()):
            c = tc.get((cid, (d1 - 1) // sub), 0)
            if c > 0:
                cb[(cid, d1)] = (float(tot[(cid, d1)]) / FX_SCALE) / float(c)
    return [
        [
            [cb[(cid, s * sub + d + 1)] for d in range(sub)]
            for cid in range(n_codes)
        ]
        for s in range(m)
    ]


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
