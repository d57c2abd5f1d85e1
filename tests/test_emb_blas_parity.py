"""The grid-BLAS near-dup path must be BIT-identical to the unrolled
JVM-expression verify primitive — same pairs, same rounded cosines —
because both claim the same DuckDB oracle. Any drift here means the
dim-sequential accumulation or the Decimal HALF_UP rounding stopped
mirroring Spark. The LSH-bucketed path must be an exact-cosine SUBSET
of the exact pairs (bucketing only prunes candidates, never rescores).
"""

from __future__ import annotations

import pytest

from sfcrimedatapipeline_spark.plans.llmops import EMB_NEAR_DUP_THRESHOLD

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def exact_pairs(spark):
    from sfcrimedatapipeline_spark.operators import dedup
    from sfcrimedatapipeline_spark.plans.llmops import _read_parallel

    emb = _read_parallel(spark, SF_DIR, "embeddings")
    return {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.embedding_near_duplicates(
            emb, threshold=EMB_NEAR_DUP_THRESHOLD
        ).collect()
    }


def test_grid_blas_matches_jvm_exactly(spark, exact_pairs):
    from sfcrimedatapipeline_spark.operators import dedup
    from sfcrimedatapipeline_spark.plans.llmops import _read_parallel

    emb = _read_parallel(spark, SF_DIR, "embeddings")
    # grid=3 forces same-block AND cross-block tiles at fixture size
    blas = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.embedding_near_duplicates_blas(
            emb, threshold=EMB_NEAR_DUP_THRESHOLD, grid=3
        ).collect()
    }
    assert exact_pairs, "fixture produced no near-dup pairs — test is vacuous"
    assert blas.keys() == exact_pairs.keys()
    for pair, cos in exact_pairs.items():
        assert blas[pair] == cos, f"cosine drift at {pair}"


def test_lsh_is_exact_subset(spark, exact_pairs):
    from sfcrimedatapipeline_spark.operators import dedup
    from sfcrimedatapipeline_spark.plans.llmops import _read_parallel

    emb = _read_parallel(spark, SF_DIR, "embeddings")
    lsh = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.embedding_near_duplicates_lsh(
            emb, threshold=EMB_NEAR_DUP_THRESHOLD, n_bands=2, planes_per_band=3
        ).collect()
    }
    assert lsh, "LSH found no pairs — bucketing or scoring is broken"
    assert set(lsh) <= set(exact_pairs)
    for pair, cos in lsh.items():
        assert exact_pairs[pair] == cos, f"cosine drift at {pair}"


def test_standardize_embeddings_unit_stats_and_constant_dim(spark):
    import numpy as np

    from sfcrimedatapipeline_spark.operators.profile import standardize_embeddings

    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 8).astype("float32")
    vecs[:, 3] = 2.5  # constant dimension → z must be exactly 0.0
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r.z_embedding for r in standardize_embeddings(df, dim=8).collect()}
    z = np.array([out[i] for i in range(40)])
    assert z.shape == (40, 8)
    # standardized columns: mean ~0, std ~1 (quantization-tight)
    live = [d for d in range(8) if d != 3]
    assert np.abs(z[:, live].mean(axis=0)).max() < 1e-6
    assert np.abs(z[:, live].std(axis=0) - 1.0).max() < 1e-3
    # the constant dimension is exactly zero, never NaN
    assert (z[:, 3] == 0.0).all()


def test_sq8_codes_bounded_and_rank_fidelity_vs_exact(spark):
    """SQ8 contract: every code lands in [0, 255] (the 8x footprint
    claim is exactly "one byte per dim"); numpy replays the quantizer
    bit-for-bit; and cosine over the DECODED vectors recovers nearly
    all of the exact tier's neighbors (recall@5 ≥ 0.9 on the fixture)
    — 8-bit quantization error is far below this corpus's neighbor
    separation."""
    import numpy as np
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.operators.similarity import (
        _sq8_codes,
        cosine_topk,
        cosine_topk_sq8,
        sq8_bounds,
    )
    from sfcrimedatapipeline_spark.plans.llmops import _read_parallel

    emb = _read_parallel(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)

    codes = (
        emb.crossJoin(F.broadcast(sq8_bounds(emb)))
        .select(F.col("vec_id"), *_sq8_codes("embedding", 64))
        .collect()
    )
    for r in codes:
        for i in range(64):
            assert 0 <= r[f"__c_{i}"] <= 255

    rows = {r["vec_id"]: r for r in codes}
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.select("vec_id", "embedding").collect()}
    mat = np.stack(list(vecs.values()))
    mn, mx = mat.min(axis=0), mat.max(axis=0)
    some_id = next(iter(vecs))
    expect = np.floor((vecs[some_id] - mn) * 255.0 / (mx - mn) + 0.5).astype(np.int64)
    got = np.array([rows[some_id][f"__c_{i}"] for i in range(64)])
    assert (expect == got).all()

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    sq8 = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_sq8(emb, queries, k=5).collect()
    }
    recall = len(exact & sq8) / len(exact)
    assert recall >= 0.9, recall
