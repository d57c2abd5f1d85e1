"""Cache-lifetime contract (ADVICE r4): lazy operators that persist
scan-shared intermediates must release them once the caller drops the
result — a long-lived session running many queries must not accumulate
executor storage. Nor may a query's result outlive its call: no query
is served from a cross-query memo, and the on-disk intermediates it
reads lazily are reaped at interpreter exit."""

from __future__ import annotations

import gc
import os

import pytest
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.operators.graph import triangle_count
from sfcrimedatapipeline_spark.operators.profile import exact_quantiles_by


def _settled_persistent_rdds(spark, at_most: int, tries: int = 20) -> int:
    """Persistent-RDD count once async cleanup settles: the JVM
    ContextCleaner releases blocks on a background thread after GC, so
    a single instantaneous read races it — both for the operator's own
    cache and for leftovers of EARLIER tests sharing the session (the
    flake this replaces: == base failed only under full-suite ordering).
    Polls until the count drops to ``at_most`` or tries run out."""
    import time

    n = _n_persistent_rdds(spark)
    for _ in range(tries):
        if n <= at_most:
            return n
        time.sleep(0.25)
        gc.collect()
        n = _n_persistent_rdds(spark)
    return n


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_triangle_count_releases_edge_cache(spark):
    spark.catalog.clearCache()
    gc.collect()
    base = _n_persistent_rdds(spark)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "doc_a long, doc_b long"
    )
    tri = triangle_count(pairs)
    assert tri.collect()[0].n_triangles == 1
    assert _n_persistent_rdds(spark) > base  # edge list cached during use
    del tri
    gc.collect()
    assert _settled_persistent_rdds(spark, base) <= base  # released with the result


def test_exact_quantiles_by_releases_ranked_cache(spark):
    spark.catalog.clearCache()
    gc.collect()
    base = _n_persistent_rdds(spark)
    df = spark.range(100).select(
        (F.col("id") % 4).alias("g"), F.col("id").cast("double").alias("v")
    )
    q = exact_quantiles_by(df, "g", "v", [0.5])
    assert q.count() == 4
    del q
    gc.collect()
    assert _settled_persistent_rdds(spark, base) <= base


def test_contamination_releases_fingerprint_caches(spark):
    from sfcrimedatapipeline_spark.operators.corpus import (
        cross_corpus_contamination,
    )

    spark.catalog.clearCache()
    gc.collect()
    base = _n_persistent_rdds(spark)
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta " * 4 + str(i)) for i in range(20)],
        "doc_id long, text string",
    )
    out = cross_corpus_contamination(docs, docs.limit(5))
    out.count()
    del out
    gc.collect()
    assert _settled_persistent_rdds(spark, base) <= base


def _near_dup_result(spark, op: str):
    """A lazy result of one near-duplicate operator over a 24-row
    fixture of 12 near-twin pairs (8-dim vectors) or 14 documents."""
    from sfcrimedatapipeline_spark.operators import dedup

    if op.startswith("minhash"):
        tail = "the quick brown fox jumps over the lazy dog again and again"
        docs = spark.createDataFrame(
            [(i, f"doc {i // 2} body{i // 2} words {tail}") for i in range(14)],
            "doc_id long, text string",
        )
        if op == "minhash_near_duplicates":
            return dedup.minhash_near_duplicates(docs)
        odd = F.col("doc_id") % 2 == 1
        return dedup.minhash_cross_corpus(docs.filter(odd), docs.filter(~odd))
    emb = spark.createDataFrame(
        [
            (i, [float(((i // 2) * 31 + d * 7) % 13 - 6) + (i % 2) * 1e-3 for d in range(8)])
            for i in range(24)
        ],
        "vec_id long, embedding array<float>",
    )
    kw = dict(threshold=0.99, dim=8)
    if op == "embedding_near_duplicates_blas":
        return dedup.embedding_near_duplicates_blas(emb, grid=3, **kw)
    if op == "embedding_near_duplicates_lsh":
        return dedup.embedding_near_duplicates_lsh(emb, **kw)
    if op == "embedding_near_duplicates_lsh_auto":
        return dedup.embedding_near_duplicates_lsh_auto(emb, target_bucket_rows=8, **kw)
    odd = F.col("vec_id") % 2 == 1
    return dedup.embedding_contamination_lsh(emb.filter(odd), emb.filter(~odd), **kw)


@pytest.mark.parametrize(
    "op",
    [
        "embedding_near_duplicates_blas",
        "embedding_near_duplicates_lsh",
        "embedding_near_duplicates_lsh_auto",
        "embedding_contamination_lsh",
        "minhash_near_duplicates",
        "minhash_cross_corpus",
    ],
)
def test_near_dup_operators_release_their_caches(spark, op):
    """Whatever a near-duplicate operator persists is released with its
    result, so a later call in the same session finds no cache."""
    spark.catalog.clearCache()
    gc.collect()
    base = _n_persistent_rdds(spark)
    out = _near_dup_result(spark, op)
    assert out.collect(), "fixture produced no pairs"
    del out
    gc.collect()
    assert _settled_persistent_rdds(spark, base) <= base


def test_pipeline_transform_releases_caches(spark, staging):
    from sfcrimedatapipeline_spark.operators.keys import load_order_id
    from sfcrimedatapipeline_spark.plans.dims import (
        generate_dim_date,
        generate_dim_time,
    )
    from sfcrimedatapipeline_spark.plans.pipeline import transform

    spark.catalog.clearCache()
    gc.collect()
    # staging fixture is cached session-wide; clearCache dropped it, so
    # re-cache (and materialize, so it doesn't land after `base`) to
    # restore the fixture contract for other tests
    staging.cache().count()
    base = _n_persistent_rdds(spark)
    tables = transform(
        load_order_id(staging, "id"),
        generate_dim_date(spark, "2018-01-01", "2018-12-31"),
        generate_dim_time(spark),
    )
    assert tables["FactCrime"].count() > 0
    assert _n_persistent_rdds(spark) > base
    del tables
    gc.collect()
    assert _settled_persistent_rdds(spark, base) <= base


def test_trained_ivf_centroids_memo_free_and_deterministic(spark):
    """OPTIMIZATION r13: the r9 _KMEANS_MEMO is retired — the trained
    IVF centroids are re-trained on EVERY call (symmetric timing
    contract with ann_pq_topk_trained; the bench may never serve a
    module-level result memo keyed on the test data). Two calls return
    EQUAL centroids (the trainer is bit-deterministic) but distinct
    objects (no memo hit), in the cosine_topk_ivf input shape."""
    from sfcrimedatapipeline_spark.plans import llmops

    assert not hasattr(llmops, "_KMEANS_MEMO")  # memo really gone
    t1 = llmops._trained_ivf_centroids(spark, "/root/testdata/sf0.001")
    assert len(t1) == llmops.ANN_IVF_CENTROIDS
    cid, vec = t1[0]
    assert isinstance(cid, int) and len(vec) == 64
    t2 = llmops._trained_ivf_centroids(spark, "/root/testdata/sf0.001")
    assert t2 is not t1  # retrained, not memo-served
    assert t2 == t1  # same data → same deterministic centroids


@pytest.mark.parametrize(
    "name", ["dedup_clusters", "corpus_web_e2e", "serve_initial_reports"]
)
def test_repeat_call_runs_the_same_jobs(spark, tmp_path, name):
    """No query serves a later call from a cross-query memo: calling a
    query twice in one session runs the same number of Spark jobs both
    times (a (session, sf_dir) memo let the second call skip the CC
    rounds or the star-schema build). The data is a fresh copy, so no
    earlier test can have warmed anything keyed on its path. Adaptive
    execution is off while counting: its runtime re-planning can add
    or drop a map-stage job between two identical runs."""
    import shutil

    import __spark_entry__ as e

    sf = str(tmp_path / "sf0.001")
    shutil.copytree("/root/testdata/sf0.001", sf)
    query = e.queries()[name]
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    jobs = []
    try:
        for call in range(2):
            group = f"repeat-{name}-{call}"
            sc.setJobGroup(group, group)
            query(spark, sf).collect()
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert jobs[0] == jobs[1] > 0, jobs


def test_reap_removes_index_and_fixture_dirs(spark, tmp_path, monkeypatch):
    """The on-disk intermediates a query reads lazily — the bm25 and
    IVF-PQ delta indexes, the stream fixture, a round-trip sink — are
    exit-reaped temp dirs: each call registers its dir, and
    reap_temp_dirs (the atexit hook) removes every one of them."""
    import shutil

    from sfcrimedatapipeline_spark.functions import caching
    from sfcrimedatapipeline_spark.plans.events_queries import src_jsonl_roundtrip
    from sfcrimedatapipeline_spark.plans.llmops import ann_ivfpq_index_delta
    from sfcrimedatapipeline_spark.plans.llmops_ext import docs_bm25_index_search
    from sfcrimedatapipeline_spark.streaming.events import cached_stream_fixture

    # a private registry, so the reap cannot touch dirs other tests use
    monkeypatch.setattr(caching, "_EXIT_DIRS", set())
    sf = str(tmp_path / "sf0.001")
    shutil.copytree("/root/testdata/sf0.001", sf)
    assert docs_bm25_index_search(spark, sf).count() > 0
    assert ann_ivfpq_index_delta(spark, sf).count() > 0
    fixture = cached_stream_fixture(spark, sf)
    assert src_jsonl_roundtrip(spark, sf).count() > 0
    dirs = set(caching._EXIT_DIRS)
    prefixes = sorted(os.path.basename(d).split("_")[0] for d in dirs)
    assert prefixes == ["bm25idx", "ivfpq", "sfcdp", "sfcdp"], dirs
    assert any(os.path.basename(d).startswith("sfcdp_jsonl_") for d in dirs)
    assert fixture in dirs and all(os.path.isdir(d) for d in dirs)
    caching.reap_temp_dirs()
    assert not any(os.path.exists(d) for d in dirs)
    assert not caching._EXIT_DIRS


def test_keep_alive_until_released_chains_cache_lifetime(spark):
    """A derived frame built on an unpersist_when_released result
    references the PLAN, not the wrapper — keep_alive_until_released
    must hold the wrapper (and so the caches) until the derived frame
    itself is released (the graph_hits_dup .orderBy chain)."""
    import gc

    from sfcrimedatapipeline_spark.functions.caching import (
        keep_alive_until_released,
        unpersist_when_released,
    )

    cached = spark.range(100).persist()
    cached.count()
    assert cached.storageLevel.useMemory
    wrapper = unpersist_when_released(cached.filter("id >= 0"), cached)
    derived = keep_alive_until_released(wrapper.orderBy("id"), wrapper)
    del wrapper
    gc.collect()
    # the wrapper is held by the derived frame's finalizer closure, so
    # the cache must still be alive and usable
    assert cached.storageLevel.useMemory
    assert derived.count() == 100
    del derived
    gc.collect()
    assert not cached.storageLevel.useMemory  # released with the chain
