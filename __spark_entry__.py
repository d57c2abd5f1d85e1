"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship star-join query on sf0.001.
``queries``/``oracle_sql`` expose the operator inventory from
SURVEY.md §2 (implemented in ``sfcrimedatapipeline_spark.plans.tpch``
and the extension operators under
``sfcrimedatapipeline_spark.operators``).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (J8 star join + IN filter + month rollup) on sf0.001."""
    from sfcrimedatapipeline_spark.plans.tpch import j8_star_join_monthly

    return j8_star_join_monthly(spark, SMOKE_SF_DIR)


#: Always FIRST, in this order: the reference-surface series from
#: SURVEY.md §2 (projections, aggregations, the full join ladder, the
#: two window/key ops, both dim generators, and the spark.sql flagship
#: twin). The driver's correctness artifact caps at ~50 queries
#: (VERDICT r4-r6), and the reference ops are the hard contract — they
#: must appear in every round's driver record.
_REFERENCE_FIRST = [
    "s13_sql_flagship",
    "p1_project_alias",
    "p2_null_default",
    "p3_cast_date",
    "p4_cast_time",
    "p5_in_filter",
    "a1_distinct_2col",
    "a2_distinct_3col",
    "a3_month_rollup",
    "j1_left_join_dim",
    "j2_time_string_join",
    "j3_dim_aliased_twice",
    "j4_dead_join_pair",
    "j5_composite_null_keys",
    "j6_composite_2key",
    "j7_dedup_nonkey_join",
    "j8_star_join_monthly",
    "dim_time_rollup",
    "dim_date_yearly",
    "w1_surrogate_key",
    "w2_load_order_id",
]


def _current_round() -> int:
    """Best-effort round number for the rotation seed (VERDICT r6 #6).

    The driver appends ``{"round": N, ...}`` lines to PROGRESS.jsonl;
    the last parseable line wins. Falls back to counting published
    CORRECTNESS_r*.json artifacts. Any failure degrades to round 0
    (a fixed but still deterministic ordering), never an exception —
    queries() must not be able to fail on an I/O edge. Snapshotted
    once per process (ADVICE r7 #3): a new PROGRESS line landing
    between the driver's gate run and a local re-run must not reorder
    queries() mid-process.
    """
    global _ROUND_SNAPSHOT
    if _ROUND_SNAPSHOT is not None:
        return _ROUND_SNAPSHOT
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.abspath(__file__))
    rnd_found = None
    try:
        with open(os.path.join(repo, "PROGRESS.jsonl")) as fh:
            lines = fh.read().strip().splitlines()
        for line in reversed(lines):
            try:
                obj = json.loads(line)
            except json.JSONDecodeError:
                continue
            # a parseable non-dict line (bare number/string/array) must
            # degrade, not raise AttributeError (ADVICE r7 #3)
            if isinstance(obj, dict) and isinstance(obj.get("round"), int):
                rnd_found = obj["round"]
                break
    except OSError:
        pass
    if rnd_found is None:
        rnd_found = len(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))) + 1
    _ROUND_SNAPSHOT = rnd_found
    return rnd_found


_ROUND_SNAPSHOT: int | None = None


def _driver_seen() -> frozenset[str]:
    """Query names present in any published per-round driver artifact
    (``CORRECTNESS_r*.json`` — NOT the ``_FULL_`` local runs, which
    cover everything and would defeat the rotation). Used to sort
    never-driver-verified queries FIRST within the rotating middle
    (VERDICT r9 #8): the driver's ~50-query budget then maximizes
    fresh cumulative coverage every round instead of relying on the
    hash shuffle to land on unseen names. Pure function of repo state,
    snapshotted once per process like the round number; any I/O or
    parse failure degrades to the empty set (plain hash rotation)."""
    global _SEEN_SNAPSHOT
    if _SEEN_SNAPSHOT is not None:
        return _SEEN_SNAPSHOT
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.abspath(__file__))
    seen: set[str] = set()
    # glob matches BOTH the per-round driver records (CORRECTNESS_r9)
    # and the local full runs (CORRECTNESS_FULL_r9) — the _FULL_ guard
    # below is what keeps full-coverage runs out of the rotation seed
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_*.json")):
        if "_FULL_" in os.path.basename(path).upper():
            continue
        try:
            with open(path) as fh:
                doc = json.load(fh)
            if isinstance(doc, dict):
                seen.update(k for k in doc if isinstance(k, str))
        except (OSError, json.JSONDecodeError):
            continue
    _SEEN_SNAPSHOT = frozenset(seen)
    return _SEEN_SNAPSHOT


_SEEN_SNAPSHOT: frozenset[str] | None = None


#: Run these LAST: pipeline rebuilds, iterative ops, and genuine
#: streaming executions (micro-batched, fixture-backed). The round-4
#: driver artifact truncated at 50/118 queries on a time budget
#: (VERDICT r4 #1); cheap oracle-gated batch queries go first so the
#: record maximizes coverage under any budget. The streaming entries
#: share one session-cached fixture (streaming/events.py:
#: cached_stream_fixture), so grouping them also amortizes its build.
#: Round-12 pins (VERDICT r11 #7): run these immediately after the
#: reference surface so the driver PROVES them this round — the three
#: r11 components the driver has never checked (the new substring-
#: dedup / CCNet paragraph-filter family), plus the re-gated
#: duplicate-heavy-media contamination report (the r12 multiplicity
#: fix changed its operator dataflow). Overrides both the rotation
#: and the deferred block.
_PIN_FIRST = [
    "docs_substring_dedup",
    "corpus_ccnet_e2e",
    "docs_paragraph_buckets",
    "media_contamination_perceptual",
]


_DEFERRED = [
    # round-6 iterative additions (CC / MinHash-graph downstream)
    "graph_lpa_communities",
    "graph_lpa_convergence",
    "er_customer_clusters",
    "er_golden_record",
    "geo_dbscan_clusters",
    "graph_modularity_dup",
    "ann_recall_eval",
    "ann_mmr_rerank",
    "emb_pca_topk",
    "docs_bm25_index_search",
    "corpus_shard_manifest",
    "graph_bfs_distances",
    "src_python_stream_source",
    "s20_recursive_cte",
    "text_bpe_merges",
    "emb_semantic_dedup",
    "ann_pq_topk_trained",
    "ann_cosine_topk_ivf_trained",
    "fact_crime_build",
    "serve_initial_reports",
    "fact_cube_districts",
    # round-8 additions that compose multiple detectors / whole chains
    "dedup_method_agreement",
    "corpus_denoise_shards",
    "corpus_quality_dup_correlation",
    "dedup_clusters",
    "dedup_cluster_sizes",
    "dedup_clusters_2phase",
    "pagerank_dup_graph",
    "graph_triangle_count",
    "graph_clustering_coeff",
    "u4_cogroup_alignment",
    "events_hourly_agg_stream",
    "events_sliding_agg_stream",
    "events_session_window_stream",
    "events_stream_static_join",
    "events_incremental_agg_stream",
    "events_stream_stream_join",
    "dedup_exact_stream",
    "dedup_exact_stream_wm",
    "docs_accrete_stream",
    "events_dau_stream",
    "events_dau_stream_wm",
    "events_sessionize_stream",
    # round-9b iterative trainers (multi-job driver loops, the
    # text_bpe_merges precedent) — keep the driver's ~50-query budget
    # on cheap rotating batch queries
    "docs_logreg_train",
    "docs_logreg_calibration",
    "emb_kmeans_train",
    "emb_power_iteration",
    "events_markov_stationary",
    # round-9c iterative additions (k-means trainer loops / multi-job
    # graph rounds / the CC-consuming funnel) — same budget rationale
    "graph_hits_dup",
    "ann_ivf_imbalance_audit",
    "emb_cluster_silhouette",
    "corpus_curation_funnel",
    # round-10: persisted-index build+append at plan time (the
    # docs_bm25_index_search precedent); the composed web E2E runs
    # the iterative CC
    "ann_ivfpq_index_delta",
    "corpus_web_e2e",
    # round-11: the composed paragraph-filter -> substring-dedup chain
    # (two corpus passes by definition)
    "corpus_ccnet_e2e",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ extensions).

    Ordering (VERDICT r6 #6): the reference-surface series first (the
    driver's ~50-query correctness cap must always include the hard
    contract), then every other batch query in a ROUND-SEEDED
    deterministic shuffle (sha256 of ``r{round}:{name}``) so successive
    driver artifacts rotate which ~25 of the remaining ~250 queries get
    driver-verified — cumulatively proving the whole surface across
    rounds — then the expensive/iterative/streaming block (_DEFERRED).
    Within one round the ordering is a pure function of the repo state,
    so the driver's gate and any local re-run see the same sequence.
    """
    import hashlib
    from sfcrimedatapipeline_spark.plans import (
        analytic_ext,
        corpus_queries,
        events_queries,
        fact_queries,
        geo_queries,
        infotheory,
        linkage_queries,
        llmops,
        llmops_ext,
        media,
        sql_surface,
        timeseries,
        tpch,
        tpch_suite,
        udx_queries,
        curation,
    )

    merged = {
        **tpch.QUERIES,
        **analytic_ext.QUERIES,
        **tpch_suite.QUERIES,
        **sql_surface.QUERIES,
        **timeseries.QUERIES,
        **llmops.QUERIES,
        **llmops_ext.QUERIES,
        **events_queries.QUERIES,
        **media.QUERIES,
        **fact_queries.QUERIES,
        **geo_queries.QUERIES,
        **linkage_queries.QUERIES,
        **corpus_queries.QUERIES,
        **infotheory.QUERIES,
        **udx_queries.QUERIES,
        **curation.QUERIES,
    }
    pinned = set(_PIN_FIRST)
    deferred = set(_DEFERRED) - pinned
    first = set(_REFERENCE_FIRST) | pinned
    rnd = _current_round()
    seen = _driver_seen()
    middle = sorted(
        (k for k in merged if k not in deferred and k not in first),
        key=lambda k: (
            k in seen,  # never-driver-verified queries rotate FIRST
            hashlib.sha256(f"r{rnd}:{k}".encode()).hexdigest(),
        ),
    )
    ordered = {k: merged[k] for k in _REFERENCE_FIRST if k in merged}
    ordered.update({k: merged[k] for k in _PIN_FIRST if k in merged})
    ordered.update({k: merged[k] for k in middle})
    ordered.update(
        {k: merged[k] for k in _DEFERRED if k in merged and k not in pinned}
    )
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted keys get rows-only checks."""
    from sfcrimedatapipeline_spark.plans import (
        analytic_ext,
        corpus_queries,
        events_queries,
        fact_queries,
        geo_queries,
        infotheory,
        linkage_queries,
        llmops,
        llmops_ext,
        media,
        sql_surface,
        timeseries,
        tpch,
        tpch_suite,
        udx_queries,
        curation,
    )

    return {
        **tpch.ORACLE_SQL,
        **analytic_ext.ORACLE_SQL,
        **tpch_suite.ORACLE_SQL,
        **sql_surface.ORACLE_SQL,
        **timeseries.ORACLE_SQL,
        **llmops.ORACLE_SQL,
        **llmops_ext.ORACLE_SQL,
        **events_queries.ORACLE_SQL,
        **media.ORACLE_SQL,
        **fact_queries.ORACLE_SQL,
        **geo_queries.ORACLE_SQL,
        **linkage_queries.ORACLE_SQL,
        **corpus_queries.ORACLE_SQL,
        **infotheory.ORACLE_SQL,
        **udx_queries.ORACLE_SQL,
        **curation.ORACLE_SQL,
    }
