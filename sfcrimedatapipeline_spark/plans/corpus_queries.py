"""Corpus-curation driver queries (operators/corpus.py) with DuckDB
oracles: dup-graph connected components, deterministic stratified
sampling, per-group top-k quality selection, tf-idf keywords.

These are the curation steps a training-data pipeline runs AFTER the
per-document analytics: collapse near-dup clusters to one canonical
doc, rebalance languages, keep the best documents per stratum, and
extract characteristic terms. Oracles are exact — the sampling coin is
an md5-derived uniform (not rand()), the idf is rational (not ln, whose
last-ulp can differ across engines), and cluster canonicals come from a
recursive-CTE transitive closure over the SAME MinHash pair SQL the
dedup gate uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.functions.caching import (
    exit_temp_dir,
    keep_alive_until_released,
    unpersist_when_released,
)
from sfcrimedatapipeline_spark.functions.hashing import sql_hash64
from sfcrimedatapipeline_spark.functions.text import (
    SQL_NORMALIZED,
    SQL_TOKENS,
    ids_to_str,
    sql_ids_to_str,
    sql_stopword_hits,
)
from sfcrimedatapipeline_spark.functions.partitioning import ensure_min_partitions
from sfcrimedatapipeline_spark.operators import corpus, textstats
from sfcrimedatapipeline_spark.operators import dedup as dd
from sfcrimedatapipeline_spark.plans.llmops import _minhash_sql
from sfcrimedatapipeline_spark.sources.tables import read_table

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with local fan-out: the table is one parquet split at
    bench scale, and a bare read pins every downstream shingle/hash
    pipeline to a single core (measured 12.6 s vs ~2 s for the minhash
    pair derivation at sf0.1). No-op on multi-split cluster inputs."""
    return ensure_min_partitions(read_table(spark, sf_dir, "documents"))


def _dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pair graph over documents (the gated dedup
    default) — the shared prefix of every dup-graph query below. Each
    query derives it afresh. The iterative graph operators read their
    input more than once (mirrored edge unions), so a query feeding
    one persists the pairs itself and releases them with its result
    (functions/caching.py:unpersist_when_released). The returned frame
    releases the MinHash caches with itself, so a query holds it until
    its own result is released."""
    return dd.minhash_near_duplicates(_docs(spark, sf_dir))


#: stratified-sample rates: downsample the dominant language, keep the
#: rest at a higher rate (the usual rebalancing shape)
SAMPLE_RATES = {"en": 0.3, "zh": 0.8}

#: mixture weights for the data-mixing query: every test source gets a
#: distinct share (k+1)/210 so rates span the clamped (=1) and
#: fractional (<1) branches at any scale factor
MIX_WEIGHTS = {f"src{k}": (k + 1) / 210 for k in range(20)}
MIX_BUDGET = 100_000
SAMPLE_DEFAULT_RATE = 0.6
TOPK_PER_LANG = 5
TFIDF_K = 3


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair graph (MinHash+LSH, the gated dedup default) →
    connected components → (doc_id, canonical_id)."""
    pairs = _dup_pairs(spark, sf_dir).persist()
    out = corpus.connected_components(pairs).orderBy("doc_id")
    return unpersist_when_released(out, pairs)


KCORE_K = 2
KCORE_ROUNDS = 12


def graph_kcore_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the MinHash dup graph (operators/graph.py:k_core):
    documents that stay mutually corroborated after every
    degree-<2 straggler is peeled away, with their in-core degree.

    VALUE-HASH GATED since round 9c. The historical rows-only
    rationale was "the peel is a data-dependent fixed point no single
    recursive-CTE oracle can express" — but the peel is IDEMPOTENT
    past convergence (the survivor set shrinks monotonically, so an
    unchanged count is a fixed point and every later round is a
    no-op), which makes a FIXED unrolled round count exactly
    equivalent to run-to-convergence whenever rounds ≥ peel depth:
    Spark's early break at round j returns the same set as running
    all ``KCORE_ROUNDS``, and the oracle unrolls the same
    ``KCORE_ROUNDS`` as MATERIALIZED CTEs of pure-integer
    degree/filter rounds (the pagerank-upgrade precedent, without
    even needing the fx trick — everything here is BIGINT).
    Peel-depth coverage is pinned by a convergence test
    (tests/test_graph.py), the pure-Python peel parity test, and the
    MARGIN assertion (tests/test_graph.py): measured
    depth is 1 round at all three SFs (dense LSH cliques peel in one
    pass — see operators/graph.py:k_core for why depth tracks chain
    structure, not data volume), vs the 12 unrolled rounds."""
    from sfcrimedatapipeline_spark.operators.graph import k_core

    pairs = _dup_pairs(spark, sf_dir).persist()
    out = k_core(pairs, k=KCORE_K, max_iters=KCORE_ROUNDS)
    return unpersist_when_released(out, pairs)


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keeper per near-dup cluster: min-id canonicals
    pick an ARBITRARY representative; a curation pipeline wants the
    BEST one. Same MinHash pair graph and connected components as
    dedup_clusters, then keeper = the cluster member with the highest
    integer quality score (textstats.with_quality, 0-3; doc_id breaks
    ties) via one top-1-per-group window over the cluster-cardinality
    frame. Output (doc_id, cluster_id, keeper_id, keeper_quality) —
    keeper selection is exact-integer, so the map hash-gates."""
    docs = _docs(spark, sf_dir)
    pairs = _dup_pairs(spark, sf_dir).persist()
    cc = corpus.connected_components(pairs)
    scored = textstats.with_quality(docs).select("doc_id", "quality_score")
    member = cc.join(scored, "doc_id")
    best = corpus.top_k_per_group(
        member,
        ["canonical_id"],
        [F.desc("quality_score"), F.asc("doc_id")],
        1,
    ).select(
        F.col("canonical_id").alias("__cid"),
        F.col("doc_id").alias("keeper_id"),
        F.col("quality_score").alias("keeper_quality"),
    )
    out = member.join(best, F.col("canonical_id") == F.col("__cid")).select(
        "doc_id",
        F.col("canonical_id").alias("cluster_id"),
        "keeper_id",
        "keeper_quality",
    )
    return unpersist_when_released(out, pairs)


def dedup_clusters_2phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME clustering through the alternating large-star/
    small-star algorithm (Kiveris et al., SoCC'14 — O(log²) rounds
    independent of graph diameter, the adversarial-long-chain answer)
    and gated by the SAME recursive-CTE oracle as dedup_clusters: both
    algorithms must produce the identical (doc_id, canonical_id) map.
    Same pair graph, the second algorithm."""
    pairs = _dup_pairs(spark, sf_dir).persist()
    out = corpus.connected_components(pairs, algorithm="two_phase")
    return unpersist_when_released(out.orderBy("doc_id"), pairs)


PAGERANK_ITERS = 5
PAGERANK_DAMPING = 0.85


def pagerank_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the near-dup pair graph
    (operators/graph.py) — rank-ordered cluster representatives.

    VALUE-HASH GATED since round 9b: the historical blocker ("rank
    doubles are aggregation-order-dependent in their low bits, which
    SQL cannot pin across engines") is exactly what the Q40 fixed
    point removes — ``pagerank(deterministic=True)`` floor-quantizes
    each contribution, sums exactly in any order, and the oracle
    re-runs the same 5 rounds as unrolled MATERIALIZED CTEs over the
    same MinHash pair SQL. The float default path keeps its numpy
    power-iteration parity test in tests/test_graph.py."""
    from sfcrimedatapipeline_spark.operators.graph import pagerank

    # 5 iterations: the dup clusters are tiny-diameter, ranks settle
    # fast; the numeric contract at 10 iters lives in the tests
    pairs = _dup_pairs(spark, sf_dir).persist()
    out = pagerank(
        pairs, iters=PAGERANK_ITERS, damping=PAGERANK_DAMPING, deterministic=True
    )
    return unpersist_when_released(out.orderBy("doc_id"), pairs)


HITS_ITERS = 4


def graph_hits_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the near-dup pair graph directed
    LATER→EARLIER doc (operators/graph.py:hits) — authority ranks the
    originals later copies converge on; hub ranks aggregator docs that
    overlap many originals. The directional provenance companion to
    pagerank_dup_graph's undirected centrality.

    VALUE-HASH GATED via the pagerank(deterministic=True) discipline:
    Q40 fixed-point contribution and L1-total sums make every round's
    (hub, authority) trace bit-identical across engines; the oracle
    unrolls the same 4 rounds (2 contribution + 2 normalization CTEs
    each, all MATERIALIZED) over the shared MinHash pair SQL."""
    from sfcrimedatapipeline_spark.operators.graph import hits

    pairs = _dup_pairs(spark, sf_dir)
    base = hits(pairs, iters=HITS_ITERS, deterministic=True)
    # keep the hits() wrapper (and so its edge/node caches) alive for
    # the lifetime of the derived frame — a bare .orderBy() chain would
    # drop it and fire the unpersist finalizer before the first action
    return keep_alive_until_released(base.orderBy("doc_id"), base, pairs)


BFS_SEED_MOD = 3
BFS_MAX_HOPS = 10


def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the near-dup pair graph: hop distance from
    the nearest seed document (every 3rd doc id) for each reached
    node (operators/graph.py:bfs_distances) — the contamination-spread
    query. Integer distances, so unlike PageRank this iterative op is
    FULLY hash-gated against a recursive-CTE oracle."""
    from sfcrimedatapipeline_spark.operators.graph import bfs_distances

    pairs = _dup_pairs(spark, sf_dir).persist()
    out = bfs_distances(
        pairs, lambda c: c % BFS_SEED_MOD == 0, max_hops=BFS_MAX_HOPS
    )
    return unpersist_when_released(out.orderBy("doc_id"), pairs)


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the near-dup pair graph — the transitivity
    diagnostic for dedup clustering (operators/graph.py:triangle_count).
    """
    from sfcrimedatapipeline_spark.operators.graph import triangle_count

    pairs = _dup_pairs(spark, sf_dir)
    return keep_alive_until_released(triangle_count(pairs), pairs)


def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient on the near-dup graph
    (operators/graph.py:clustering_coefficients): the cluster-member vs
    hub triage — 2·T(v)/(d(v)(d(v)−1)) from exact per-node triangle and
    degree counts, hash-gated against the relational triangle
    enumeration in SQL."""
    from sfcrimedatapipeline_spark.operators.graph import (
        clustering_coefficients,
    )

    pairs = _dup_pairs(spark, sf_dir)
    base = clustering_coefficients(pairs)
    # hold the wrapper so its edge-cache finalizer can't fire pre-action
    return keep_alive_until_released(base.orderBy("doc_id"), base, pairs)


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bare read, NOT _docs: the sample is a pure per-row filter and its
    # plan-quality contract is "zero Exchange anywhere" — a fan-out
    # repartition would be the only shuffle in the plan
    docs = read_table(spark, sf_dir, "documents")
    return corpus.stratified_sample(
        docs, "lang", SAMPLE_RATES, SAMPLE_DEFAULT_RATE, "doc_id"
    ).select("doc_id", "lang", "source")


def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type robust outliers by median absolute deviation
    (operators/profile.py:robust_outliers_mad): lower medians at
    integer rank (n+1) div 2 over cents, MAD the same over |v − med|,
    flag = dev > 5·mad — all BIGINT comparisons, so the flagged set
    hash-gates exactly (a mean/stddev z-score would be IEEE-order
    noise at the boundary AND statistically wrong: the outlier
    inflates the stddev meant to expose it)."""
    from sfcrimedatapipeline_spark.operators.profile import robust_outliers_mad

    ev = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return robust_outliers_mad(ev, "event_type", cents, ["event_id"], c=5)


def sample_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS weighted sample (operators/corpus.py:
    sample_pps_systematic): exactly 500 picks over documents weighted
    by n_chars — all-integer midpoint-grid selection over a two-phase
    hash-ordered prefix sum, so the picked set is identical in any
    engine and under any partitioning (the float weighted-sampling
    classics are neither). Oracle replays the same BIGINT arithmetic
    over a window prefix sum."""
    docs = read_table(spark, sf_dir, "documents")
    return corpus.sample_pps_systematic(docs, "n_chars", k=500).select(
        "doc_id", "lang", F.col("n_chars").alias("weight"), "n_copies"
    )


def mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source training-mixture sampling to a weighted token budget
    (operators/corpus.py:mix_to_token_budget) — rates, clamping, the
    deterministic coin filter, and the yield report under one hash."""
    docs = read_table(spark, sf_dir, "documents")
    return corpus.mix_to_token_budget(docs, MIX_WEIGHTS, MIX_BUDGET)


#: end-to-end pipeline packing knobs (small cap → multiple bins at sf0.01)
PIPE_CAP, PIPE_SHARDS = 512, 8


def corpus_e2e_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-data pipeline — curate → mixture-sample →
    split → pack — composed end-to-end and hash-gated as one query
    (operators/corpus.py:llm_training_pipeline). The oracle replays the
    entire dataflow: curation CTEs, kept-token mixture rates, salted
    split coins, and the per-shard packing window."""
    docs = _docs(spark, sf_dir)
    return corpus.llm_training_pipeline(
        docs, MIX_WEIGHTS, MIX_BUDGET, cap=PIPE_CAP, n_shards=PIPE_SHARDS
    )


def docs_accrete_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE streaming execution of the corpus-accretion dedup loop
    (streaming/events.py:run_corpus_accretion_stream): documents arrive
    in id-ordered micro-batches, each batch anti-joins the persistent
    fingerprint state and appends only new fingerprints. The emitted
    set equals batch dedup_exact's keepers, so the whole cross-batch
    loop sits under the value-hash oracle."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from sfcrimedatapipeline_spark.streaming.events import (
        cached_stream_fixture,
        run_corpus_accretion_stream,
    )

    stream_dir = cached_stream_fixture(spark, sf_dir, table="documents")
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    state_dir = exit_temp_dir("sfcdp_accrete_")
    return run_corpus_accretion_stream(spark, stream_dir, state_dir, schema)


def quality_topk_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-documents-per-language: the quality score (textstats) ranked
    within the table's own lang column, top 5 per stratum."""
    docs = _docs(spark, sf_dir)
    scored = textstats.with_quality(docs)
    return corpus.top_k_per_group(
        scored,
        ["lang"],
        [F.desc("quality_score"), F.asc("doc_id")],
        TOPK_PER_LANG,
    ).select("lang", "doc_id", "quality_score", "rank")


def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return corpus.tfidf_top_terms(docs, k=TFIDF_K)


PACK_CAP, PACK_SHARDS = 512, 8
PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass numeric profile of the biggest table — the
    data-quality preflight (operators/profile.py)."""
    from sfcrimedatapipeline_spark.operators.profile import profile_columns

    return profile_columns(read_table(spark, sf_dir, "lineitem"), PROFILE_COLS)


QUANTILE_PROBS = [0.0, 0.25, 0.5, 0.75, 0.9, 1.0]
FREQ_COLS = ["l_returnflag", "l_linestatus", "l_linenumber"]
FREQ_K = 5
HIST_LO, HIST_HI, HIST_BINS = 0.0, 110000.0, 10
#: table_diff fixture: drop every 97th key, mutate every 31st row's
#: status, add negated every-211th keys — safe string/int hash columns
#: only (double→string formatting differs across engines)
DIFF_HASH_COLS = ["o_custkey", "o_orderstatus", "o_orderpriority"]


def quantiles_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed quantiles (sort-based, explicit interpolation —
    see operators/profile.py:exact_quantiles for why the built-ins
    can't be oracle-gated)."""
    from sfcrimedatapipeline_spark.operators.profile import exact_quantiles

    return exact_quantiles(
        read_table(spark, sf_dir, "lineitem"), "l_extendedprice", QUANTILE_PROBS
    )


def quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROXIMATE quantile tier (operators/profile.py:approx_quantiles)
    — one mergeable-sketch aggregation, no sort. Rows-only by design:
    any two engines' quantile sketches return different values inside
    the shared ±ε rank band, so a cross-engine value hash is the wrong
    check; the ε-contract against the exact tier is pinned in
    tests/test_sql_surface.py."""
    from sfcrimedatapipeline_spark.operators.profile import approx_quantiles

    return approx_quantiles(
        read_table(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        QUANTILE_PROBS,
        relative_error=0.001,
    )


def freq_items_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-column heavy hitters over the categorical lineitem
    columns (operators/profile.py:frequent_items)."""
    from sfcrimedatapipeline_spark.operators.profile import frequent_items

    return frequent_items(
        read_table(spark, sf_dir, "lineitem"), FREQ_COLS, FREQ_K
    )


def freq_items_lineitem_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-tier heavy hitters (operators/profile.py:
    frequent_items_mg): per-partition Misra-Gries candidates + exact
    broadcast-confirmed recount. On these small-domain columns the MG
    bound holds trivially, so the output — and the oracle — are
    IDENTICAL to ``freq_items_lineitem``; what differs is the plan:
    the shuffle is capacity-bounded, not distinct-bounded."""
    from sfcrimedatapipeline_spark.operators.profile import frequent_items_mg

    return frequent_items_mg(
        read_table(spark, sf_dir, "lineitem"), FREQ_COLS, FREQ_K
    )


def hist_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of l_extendedprice with clamped edge bins
    (operators/profile.py:histogram)."""
    from sfcrimedatapipeline_spark.operators.profile import histogram

    return histogram(
        read_table(spark, sf_dir, "lineitem"), "l_extendedprice",
        HIST_LO, HIST_HI, HIST_BINS,
    )


DRIFT_LO, DRIFT_HI, DRIFT_BINS = 0.0, 500.0, 20


def events_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two event populations (click vs
    purchase values): total variation distance over a shared
    fixed-width histogram (operators/profile.py:drift_tvd)."""
    from sfcrimedatapipeline_spark.operators.profile import drift_tvd

    ev = read_table(spark, sf_dir, "events")
    return drift_tvd(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        "value",
        DRIFT_LO,
        DRIFT_HI,
        DRIFT_BINS,
    )


def diff_orders_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-checksum reconciliation between orders and a deterministically
    mutated twin — match/differs/left_only/right_only counts
    (operators/profile.py:table_diff)."""
    from sfcrimedatapipeline_spark.operators.profile import table_diff

    orders = read_table(spark, sf_dir, "orders")
    kept = orders.filter(F.col("o_orderkey") % 97 != 0)
    mutated = kept.withColumn(
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 31 == 0, F.concat(F.col("o_orderstatus"), F.lit("X"))
        ).otherwise(F.col("o_orderstatus")),
    )
    extra = orders.filter(F.col("o_orderkey") % 211 == 0).withColumn(
        "o_orderkey", -F.col("o_orderkey")
    )
    right = mutated.unionByName(extra)
    return table_diff(orders, right, ["o_orderkey"], DIFF_HASH_COLS)


GROUP_QUANTILE_PROBS = [0.25, 0.5, 0.75]


def quantiles_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact quantiles of l_extendedprice by return flag
    (operators/profile.py:exact_quantiles_by)."""
    from sfcrimedatapipeline_spark.operators.profile import exact_quantiles_by

    return exact_quantiles_by(
        read_table(spark, sf_dir, "lineitem"),
        "l_returnflag", "l_extendedprice", GROUP_QUANTILE_PROBS,
    )


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return corpus.pack_sequences(docs, cap=PACK_CAP, n_shards=PACK_SHARDS)


def docs_pack_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed trainable shards (operators/corpus.py:pack_token_ids):
    per (shard, bin) the CONCATENATED BPE token-id array of member
    docs — the actual training-sample payload, hash-gated with the
    tokenizer SQL composed into the packing oracle. The id array
    serializes to a space-joined string at this driver-facing
    boundary (functions/text.py:ids_to_str — the driver's harness
    cannot sort list cells, VERDICT r10 #1); pack_token_ids keeps the
    array form as the internal API."""
    from sfcrimedatapipeline_spark.plans.llmops import TOKENIZE_MERGES

    docs = _docs(spark, sf_dir)
    return corpus.pack_token_ids(
        docs, TOKENIZE_MERGES, cap=PACK_CAP, n_shards=PACK_SHARDS
    ).withColumn("input_ids", ids_to_str(F.col("input_ids")))


def text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return textstats.with_pii_scrubbed(docs).select(
        "doc_id", "n_urls", "n_emails", "n_phones", "scrubbed"
    )


RESERVOIR_K = 3
CHUNK_SIZE, CHUNK_STRIDE = 200, 150
#: benchmark stand-in for the contamination check: three sources play
#: the eval set, the rest are the training corpus
EVAL_SOURCES = ("src0", "src1", "src2")
CONTAM_MIN_CONTAINMENT = 0.5
CONTAM_MAX_DF = 50


def sample_reservoir_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size deterministic per-language sample (k rows per lang,
    md5-coin order) — the fixed-budget companion to the rate-based
    stratified sample."""
    docs = _docs(spark, sf_dir)
    return corpus.reservoir_sample_per_key(
        docs, ["lang"], RESERVOIR_K, "doc_id"
    ).select("doc_id", "lang")


def docs_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping character-window chunking of every document."""
    docs = _docs(spark, sf_dir)
    return corpus.chunk_documents(
        docs, size=CHUNK_SIZE, stride=CHUNK_STRIDE
    )


def contamination_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination over the winnowing fingerprints:
    (train doc, eval doc, shared-fingerprint count) pairs."""
    docs = _docs(spark, sf_dir)
    train = docs.filter(~F.col("source").isin(*EVAL_SOURCES))
    eval_df = docs.filter(F.col("source").isin(*EVAL_SOURCES))
    return corpus.cross_corpus_contamination(
        train, eval_df,
        min_containment=CONTAM_MIN_CONTAINMENT,
        max_df=CONTAM_MAX_DF,
    )


SPLITS = (("train", 0.90), ("val", 0.05), ("test", 0.05))


def docs_assign_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test assignment per document
    (operators/corpus.py:assign_splits). Bare read: pure per-row
    projection, same zero-shuffle contract as sample_stratified."""
    return corpus.assign_splits(
        read_table(spark, sf_dir, "documents"), "doc_id", SPLITS
    ).select(
        "doc_id", "split"
    )


def docs_assign_splits_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-leakage-free split assignment: the same hash-bucket
    discipline keyed on the SOURCE/domain instead of the document id,
    so every document of a domain lands in the same split — near-dups
    within a domain can never straddle train/test (the leakage the
    per-doc split permits by construction). One extra contract, zero
    extra machinery: assign_splits is key-generic."""
    return corpus.assign_splits(
        read_table(spark, sf_dir, "documents"), "source", SPLITS
    ).select("doc_id", "source", "split")


def dedup_exact_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup driven end-to-end and hash-gated: the
    documents table streamed in doc_id-sliced files through streaming
    dropDuplicates. Sound for the full hash gate because the output is
    the SET of distinct fingerprints — order- and batching-independent
    — so it must equal the batch DISTINCT the oracle computes."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from sfcrimedatapipeline_spark.streaming.events import (
        cached_stream_fixture,
        run_stream_to_memory,
    )

    stream_dir = cached_stream_fixture(spark, sf_dir, table="documents")
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    return run_stream_to_memory(
        spark,
        stream_dir,
        dd.dedup_exact_stream,
        query_name="dedup_exact_stream",
        output_mode="append",
        schema=schema,
    )


def dedup_exact_stream_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-BOUNDED streaming dedup (dropDuplicatesWithinWatermark)
    driven end-to-end and hash-gated: documents get a synthetic event
    time (epoch + doc_id seconds, deterministic), stream through the
    watermarked dedup with a delay that covers the whole corpus span —
    under which no duplicate can outlive its state entry, so the
    emitted fingerprint SET must equal the batch DISTINCT exactly (the
    same soundness argument as dedup_exact_stream). The small-delay
    EVICTION semantics — duplicate beyond the horizon re-emits — are
    pinned by tests/test_streaming.py, which SQL cannot express."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from sfcrimedatapipeline_spark.streaming.events import (
        cached_stream_fixture,
        run_stream_to_memory,
    )

    stream_dir = cached_stream_fixture(spark, sf_dir, table="documents")
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    # the event-time span is doc_id seconds, so "covers the whole
    # corpus span" must be COMPUTED, not a fixed constant: a fixed 30
    # days only holds below ~2.6M documents, beyond which early state
    # evicts, duplicates re-emit, and the DISTINCT oracle hash breaks
    # (round-5 review). One max() over the id column — index metadata.
    span_s = (
        read_table(spark, sf_dir, "documents")
        .agg(F.max("doc_id"))
        .collect()[0][0]
        or 0
    )

    def transform(stream: DataFrame) -> DataFrame:
        with_ts = stream.withColumn(
            "ts", F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id"))
        )
        return dd.dedup_exact_stream_watermarked(
            with_ts, delay=f"{int(span_s) + 60} seconds"
        )

    return run_stream_to_memory(
        spark,
        stream_dir,
        transform,
        query_name="dedup_exact_stream_wm",
        output_mode="append",
        schema=schema,
    )


def _winnow_fps_sql(pred: str) -> str:
    """(doc_id, fingerprint) winnow subquery over ``documents WHERE
    pred`` — the same formula as llmops._winnow_sql, parameterized by a
    corpus-split predicate."""
    k, w = textstats.WINNOW_K, textstats.WINNOW_W
    h = sql_hash64(f"substr(t, CAST(i AS INTEGER), {k})", "0")
    return f"""
        SELECT doc_id, unnest(fps) AS fingerprint FROM (
            SELECT doc_id,
                   CASE WHEN len(hs) >= {w}
                        THEN list_distinct([
                            list_min(hs[j:j + {w - 1}])
                            FOR j IN generate_series(1, len(hs) - {w - 1})
                        ])
                        ELSE [] END AS fps
            FROM (
                SELECT doc_id,
                       CASE WHEN len(t) >= {k}
                            THEN [{h} FOR i IN generate_series(1, len(t) - {k - 1})]
                            ELSE [] END AS hs
                FROM (SELECT doc_id, {SQL_NORMALIZED} AS t
                      FROM documents WHERE {pred}) n
            ) g
        ) wnd
    """


def _cc_oracle_sql() -> str:
    """Transitive closure by recursive CTE over the same MinHash pair
    SQL as the dedup_minhash_lsh oracle; canonical = min reachable.
    Shared verbatim by dedup_clusters (label propagation) and
    dedup_clusters_2phase (large-star/small-star) — both algorithms
    must produce the identical map."""
    return f"""
            WITH RECURSIVE pairs AS (
                SELECT doc_a, doc_b FROM ({_minhash_sql()}) p
            ),
            edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL
                SELECT doc_b, doc_a FROM pairs
            ),
            nodes AS (SELECT DISTINCT src AS id FROM edges),
            reach(id, r) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
            )
            SELECT CAST(id AS BIGINT) AS doc_id,
                   CAST(min(r) AS BIGINT) AS canonical_id
            FROM reach GROUP BY id
        """


def _pagerank_oracle_sql() -> str:
    """Unrolled fx power rounds over the MinHash pair SQL — the twin of
    pagerank(deterministic=True). Every round's CTE is MATERIALIZED
    (the chain references each predecessor once, but the pair SQL would
    otherwise re-inline per round). The base/damping literals are
    interpolated from the same Python constants the Spark side embeds,
    so the scalar arithmetic is textually identical."""
    from sfcrimedatapipeline_spark.functions.fixedpoint import sql_fx, sql_unfx

    one_minus_d = repr(1.0 - PAGERANK_DAMPING)
    d = repr(PAGERANK_DAMPING)
    steps = []
    for i in range(1, PAGERANK_ITERS + 1):
        prev = f"r{i - 1}"
        steps.append(f"""
            r{i} AS MATERIALIZED (
                SELECT e.dst AS id,
                       CAST({one_minus_d} AS DOUBLE)
                           / CAST((SELECT n FROM ncte) AS DOUBLE)
                       + CAST({d} AS DOUBLE)
                         * (({sql_unfx(f"sum({sql_fx('prev.rank / CAST(e.deg AS DOUBLE)')})")}) + 0.0)
                           AS rank
                FROM edges e JOIN {prev} prev ON e.src = prev.id
                GROUP BY e.dst
            )""")
    return f"""
            WITH pairs AS (
                SELECT doc_a, doc_b FROM ({_minhash_sql()}) p
            ),
            mirrored AS MATERIALIZED (
                SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL
                SELECT doc_b, doc_a FROM pairs
            ),
            deg AS (
                SELECT src, CAST(count(*) AS BIGINT) AS deg
                FROM mirrored GROUP BY 1
            ),
            edges AS MATERIALIZED (
                SELECT m.src, m.dst, d.deg
                FROM mirrored m JOIN deg d ON d.src = m.src
            ),
            nodes AS (SELECT DISTINCT src AS id FROM mirrored),
            ncte AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
            r0 AS MATERIALIZED (
                SELECT id, 1.0 / CAST((SELECT n FROM ncte) AS DOUBLE) AS rank
                FROM nodes
            ),{",".join(steps)}
            SELECT CAST(id AS BIGINT) AS doc_id, rank
            FROM r{PAGERANK_ITERS}
        """


def _kcore_oracle_sql() -> str:
    """Unrolled fixed-round peel over the MinHash pair SQL — the twin
    of ``k_core(k=KCORE_K, max_iters=KCORE_ROUNDS)``. Round i keeps
    nodes whose degree over round-(i-1) surviving edges is ≥ k, then
    keeps edges with BOTH endpoints surviving; every CTE is
    MATERIALIZED (each is referenced twice: by the next core and the
    next edge filter). Pure BIGINT arithmetic end to end — no fx
    quantization needed. Equivalence to run-to-convergence: the peel
    is idempotent past its fixed point, so c_ROUNDS equals the
    converged core whenever ROUNDS ≥ peel depth (pinned by the
    convergence test in tests/test_graph.py)."""
    k, rounds = KCORE_K, KCORE_ROUNDS
    steps = []
    for i in range(1, rounds + 1):
        prev_e = f"e{i - 1}"
        steps.append(f"""
            c{i} AS MATERIALIZED (
                SELECT src, CAST(count(*) AS BIGINT) AS degree
                FROM {prev_e} GROUP BY src HAVING count(*) >= {k}
            )""")
        if i < rounds:
            steps.append(f"""
            e{i} AS MATERIALIZED (
                SELECT e.src, e.dst FROM {prev_e} e
                JOIN c{i} a ON e.src = a.src
                JOIN c{i} b ON e.dst = b.src
            )""")
    return f"""
            WITH pairs AS (
                SELECT doc_a, doc_b FROM ({_minhash_sql()}) p
            ),
            e0 AS MATERIALIZED (
                SELECT DISTINCT src, dst FROM (
                    SELECT doc_a AS src, doc_b AS dst FROM pairs
                    WHERE doc_a <> doc_b
                    UNION ALL
                    SELECT doc_b, doc_a FROM pairs WHERE doc_a <> doc_b
                ) m
            ),{",".join(steps)}
            SELECT CAST(src AS BIGINT) AS doc_id, degree
            FROM c{rounds}
        """


def _hits_oracle_sql() -> str:
    """Unrolled HITS rounds over the MinHash pair SQL — the twin of
    ``hits(iters=HITS_ITERS, deterministic=True)``. Per round: an fx
    contribution aggregate (a ← Eᵀh, then h ← Ea) and an L1
    normalization whose total is the fx sum over the SAME raw frame
    (one scalar subquery — DuckDB evaluates it once), every CTE
    MATERIALIZED. Arithmetic is textually shared with the Spark side
    via functions/fixedpoint.py, so each round's doubles are
    bit-identical."""
    from sfcrimedatapipeline_spark.functions.fixedpoint import sql_fx, sql_unfx

    fx_sum_v = sql_unfx("sum(" + sql_fx("hp.v") + ")") + " + 0.0"
    fx_sum_av = sql_unfx("sum(" + sql_fx("ap.v") + ")") + " + 0.0"
    fx_sum_raw = sql_unfx("sum(" + sql_fx("raw") + ")") + " + 0.0"
    steps = []
    for i in range(1, HITS_ITERS + 1):
        steps.append(f"""
            ar{i} AS MATERIALIZED (
                SELECT e.dst AS id, {fx_sum_v} AS raw
                FROM edges e JOIN h{i - 1} hp ON e.src = hp.id
                GROUP BY e.dst
            ),
            a{i} AS MATERIALIZED (
                SELECT n.id,
                       coalesce(r.raw, 0.0)
                           / (SELECT {fx_sum_raw} FROM ar{i}) AS v
                FROM nodes n LEFT JOIN ar{i} r ON n.id = r.id
            ),
            hr{i} AS MATERIALIZED (
                SELECT e.src AS id, {fx_sum_av} AS raw
                FROM edges e JOIN a{i} ap ON e.dst = ap.id
                GROUP BY e.src
            ),
            h{i} AS MATERIALIZED (
                SELECT n.id,
                       coalesce(r.raw, 0.0)
                           / (SELECT {fx_sum_raw} FROM hr{i}) AS v
                FROM nodes n LEFT JOIN hr{i} r ON n.id = r.id
            )""")
    return f"""
            WITH pairs AS (
                SELECT doc_a, doc_b FROM ({_minhash_sql()}) p
            ),
            edges AS MATERIALIZED (
                SELECT DISTINCT greatest(doc_a, doc_b) AS src,
                                least(doc_a, doc_b) AS dst
                FROM pairs WHERE doc_a <> doc_b
            ),
            nodes AS MATERIALIZED (
                SELECT DISTINCT id FROM (
                    SELECT src AS id FROM edges
                    UNION ALL SELECT dst FROM edges
                ) u
            ),
            h0 AS MATERIALIZED (SELECT id, 1.0 AS v FROM nodes),{",".join(steps)}
            SELECT CAST(n.id AS BIGINT) AS doc_id,
                   h.v AS hub, a.v AS authority
            FROM nodes n
            JOIN h{HITS_ITERS} h ON n.id = h.id
            JOIN a{HITS_ITERS} a ON n.id = a.id
        """


def build_oracle_sql() -> dict[str, str]:
    rate_case = "CASE " + " ".join(
        f"WHEN lang = '{k}' THEN {v}" for k, v in sorted(SAMPLE_RATES.items())
    ) + f" ELSE {SAMPLE_DEFAULT_RATE} END"
    uniform = (
        "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
        " / 4294967296.0"
    )
    return {
        "dedup_clusters": _cc_oracle_sql(),
        "dedup_clusters_2phase": _cc_oracle_sql(),
        "pagerank_dup_graph": _pagerank_oracle_sql(),
        "graph_kcore_dup": _kcore_oracle_sql(),
        "graph_hits_dup": _hits_oracle_sql(),
        "graph_bfs_distances": f"""
            WITH RECURSIVE pairs AS (
                SELECT doc_a, doc_b FROM ({_minhash_sql()}) p
            ),
            edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM pairs
                WHERE doc_a <> doc_b
                UNION
                SELECT doc_b, doc_a FROM pairs WHERE doc_a <> doc_b
            ),
            nodes AS (SELECT DISTINCT src AS id FROM edges),
            walk(id, d) AS (
                SELECT id, 0 FROM nodes WHERE id % {BFS_SEED_MOD} = 0
                UNION ALL
                SELECT e.dst, walk.d + 1
                FROM walk JOIN edges e ON walk.id = e.src
                WHERE walk.d < {BFS_MAX_HOPS}
            )
            SELECT CAST(id AS BIGINT) AS doc_id,
                   CAST(min(d) AS INTEGER) AS distance
            FROM walk GROUP BY id
        """,
        "graph_triangle_count": f"""
            WITH p AS (SELECT doc_a, doc_b FROM ({_minhash_sql()}) mh),
            e AS (
                SELECT DISTINCT least(doc_a, doc_b) AS lo,
                                greatest(doc_a, doc_b) AS hi
                FROM p WHERE doc_a <> doc_b
            )
            SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM e ab JOIN e bc ON ab.hi = bc.lo
                      JOIN e ac ON ac.lo = ab.lo AND ac.hi = bc.hi
        """,
        "graph_clustering_coeff": f"""
            WITH p AS (SELECT doc_a, doc_b FROM ({_minhash_sql()}) mh),
            e AS (
                SELECT DISTINCT least(doc_a, doc_b) AS lo,
                                greatest(doc_a, doc_b) AS hi
                FROM p WHERE doc_a <> doc_b
            ),
            deg AS (
                SELECT id, CAST(count(*) AS BIGINT) AS degree
                FROM (SELECT lo AS id FROM e UNION ALL SELECT hi FROM e)
                GROUP BY id
            ),
            tri AS (
                SELECT unnest([ab.lo, ab.hi, bc.hi]) AS id
                FROM e ab JOIN e bc ON ab.hi = bc.lo
                          JOIN e ac ON ac.lo = ab.lo AND ac.hi = bc.hi
            ),
            tn AS (SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
                   FROM tri GROUP BY id)
            SELECT CAST(deg.id AS BIGINT) AS doc_id, deg.degree,
                   coalesce(tn.n_triangles, CAST(0 AS BIGINT)) AS n_triangles,
                   CASE WHEN deg.degree >= 2
                        THEN 2.0 * CAST(coalesce(tn.n_triangles, 0) AS DOUBLE)
                             / (CAST(deg.degree AS DOUBLE)
                                * (CAST(deg.degree AS DOUBLE) - 1.0))
                        ELSE 0.0 END AS clustering_coeff
            FROM deg LEFT JOIN tn ON deg.id = tn.id
            ORDER BY doc_id
        """,
        # target literals are the SAME python floats the Spark side
        # lits, written in E-notation: DuckDB types a bare decimal
        # literal as DECIMAL and its CASE-unified decimal→double
        # conversion landed 1 ulp off repr round-tripping; `…e0` forces
        # a DOUBLE literal parsed correctly-rounded from the string.
        # rate division and least() are single correctly-rounded ops
        "mix_report": f"""
            WITH tok AS (
                SELECT doc_id, source, CAST(len({SQL_TOKENS}) AS BIGINT) AS n
                FROM documents
            ),
            tot AS (
                SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(n) AS BIGINT) AS source_tokens
                FROM tok GROUP BY source
            ),
            r AS (
                SELECT source, n_docs, source_tokens,
                       {{target_case}} AS target_tokens,
                       CASE WHEN source_tokens > 0
                            THEN least(1.0, {{target_case}} / source_tokens)
                            ELSE 0.0 END AS rate
                FROM tot
            ),
            s AS (
                SELECT t.source, CAST(count(*) AS BIGINT) AS n_sampled,
                       CAST(sum(t.n) AS BIGINT) AS sampled_tokens
                FROM tok t JOIN r ON t.source = r.source
                WHERE {uniform} < r.rate
                GROUP BY t.source
            )
            SELECT r.source, r.n_docs, r.source_tokens, r.target_tokens, r.rate,
                   coalesce(s.n_sampled, CAST(0 AS BIGINT)) AS n_sampled,
                   coalesce(s.sampled_tokens, CAST(0 AS BIGINT)) AS sampled_tokens
            FROM r LEFT JOIN s ON r.source = s.source
        """.format(
            target_case="CASE "
            + " ".join(
                f"WHEN source = '{k}' THEN {float(MIX_BUDGET * w)!r}e0"
                for k, w in sorted(MIX_WEIGHTS.items())
            )
            + " ELSE 0.0 END"
        ),
        # the whole pipeline replayed: curation CTEs → kept-token
        # mixture rates (E-notation double targets) → salted split
        # coin (independent of the mix coin by construction) → per-
        # shard packing window; every stage exact, one hash
        "corpus_e2e_pipeline": """
            WITH tok AS (SELECT doc_id, source, text, {toks} AS t FROM documents),
            uw AS (SELECT doc_id, unnest(t) AS g FROM tok),
            uni AS (
                SELECT doc_id, CAST(sum(c) AS BIGINT) AS total,
                       CAST(count(*) AS BIGINT) AS types
                FROM (SELECT doc_id, g, count(*) AS c FROM uw GROUP BY doc_id, g)
                GROUP BY doc_id
            ),
            m AS (
                SELECT tok.doc_id, tok.source,
                       coalesce(uni.total, 0) AS n_tokens,
                       CASE WHEN uni.total > 0
                            THEN CAST(uni.total - uni.types AS DOUBLE) / uni.total
                            ELSE 0.0 END AS dupf,
                       CAST((len(t) BETWEEN {minq_t} AND {maxq_t}) AS INTEGER)
                       + CAST(((CASE WHEN len(t) > 0
                                     THEN CAST(CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT) AS DOUBLE) / len(t)
                                     ELSE 0.0 END)
                               BETWEEN {minml} AND {maxml}) AS INTEGER)
                       + CAST((CASE WHEN len(t) > 0
                                    THEN CAST({hits} AS DOUBLE) / len(t)
                                    ELSE 0.0 END) >= {minsw} AS INTEGER) AS quality_score,
                       md5({norm}) AS fingerprint
                FROM tok LEFT JOIN uni ON tok.doc_id = uni.doc_id
            ),
            keep AS (
                SELECT fingerprint, min(doc_id) AS keep_id
                FROM m WHERE quality_score >= {cminq} AND dupf <= {cmaxd}
                GROUP BY fingerprint
            ),
            kept AS (
                SELECT m.doc_id, m.source, m.n_tokens
                FROM m JOIN keep
                  ON m.fingerprint = keep.fingerprint AND m.doc_id = keep.keep_id
            ),
            tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS st
                    FROM kept GROUP BY source),
            r AS (
                SELECT source,
                       CASE WHEN st > 0 THEN least(1.0, {target_case} / st)
                            ELSE 0.0 END AS rate
                FROM tot
            ),
            samp AS (
                SELECT k.doc_id, k.n_tokens
                FROM kept k JOIN r ON k.source = r.source
                WHERE {coin} < r.rate
            ),
            sp AS (
                SELECT doc_id, n_tokens,
                       CASE WHEN {scoin} < {b1!r} THEN 'train'
                            WHEN {scoin} < {b2!r} THEN 'val'
                            ELSE 'test' END AS split
                FROM samp
            ),
            packed AS (
                SELECT CAST(doc_id % {shards} AS INTEGER) AS shard,
                       CAST(coalesce(sum(n_tokens) OVER (
                           PARTITION BY doc_id % {shards} ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) // {cap} AS BIGINT) AS bin
                FROM sp WHERE split = 'train'
            ),
            nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bins
                   FROM (SELECT DISTINCT shard, bin FROM packed))
            SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                   CASE WHEN split = 'train' THEN (SELECT n_bins FROM nb)
                        ELSE CAST(0 AS BIGINT) END AS n_bins
            FROM sp GROUP BY split
        """.format(
            toks=SQL_TOKENS,
            norm=SQL_NORMALIZED,
            hits=sql_stopword_hits("t", "en"),
            minq_t=textstats.QUALITY_MIN_TOKENS,
            maxq_t=textstats.QUALITY_MAX_TOKENS,
            minml=textstats.QUALITY_MIN_MEAN_LEN,
            maxml=textstats.QUALITY_MAX_MEAN_LEN,
            minsw=textstats.QUALITY_MIN_STOPWORD_RATIO,
            cminq=corpus.CURATE_MIN_QUALITY,
            cmaxd=corpus.CURATE_MAX_DUP_TOKEN_FRAC,
            target_case="CASE "
            + " ".join(
                f"WHEN source = '{k}' THEN {float(MIX_BUDGET * w)!r}e0"
                for k, w in sorted(MIX_WEIGHTS.items())
            )
            + " ELSE 0.0e0 END",
            coin="CAST(('0x' || substring(md5(CAST(k.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0",
            scoin="CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0",
            b1=corpus.split_boundaries(SPLITS)[0][1],
            b2=corpus.split_boundaries(SPLITS)[1][1],
            shards=PIPE_SHARDS,
            cap=PIPE_CAP,
        ),
        # streaming accretion twin: the emitted set is batch dedup's
        # keepers (min id per distinct non-null fingerprint)
        "docs_accrete_stream": f"""
            SELECT min(doc_id) AS doc_id,
                   md5({SQL_NORMALIZED}) AS fingerprint
            FROM documents
            WHERE md5({SQL_NORMALIZED}) IS NOT NULL
            GROUP BY 2
        """,
        "sample_stratified": f"""
            SELECT doc_id, lang, source
            FROM documents
            WHERE {uniform} < {rate_case}
        """,
        # CC closure (same pair SQL as dedup_clusters) + the
        # quality_topk quality CTE + top-1-per-cluster keeper
        "dedup_keep_best": f"""
            WITH RECURSIVE pairs AS (
                SELECT doc_a, doc_b FROM ({_minhash_sql()}) p
            ),
            edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL
                SELECT doc_b, doc_a FROM pairs
            ),
            nodes AS (SELECT DISTINCT src AS id FROM edges),
            reach(id, r) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
            ),
            cc AS (
                SELECT CAST(id AS BIGINT) AS doc_id,
                       CAST(min(r) AS BIGINT) AS canonical_id
                FROM reach GROUP BY id
            ),
            tok AS (SELECT doc_id, {SQL_TOKENS} AS t FROM documents),
            m AS (
                SELECT doc_id, len(t) AS n,
                       {sql_stopword_hits('t', 'en')} AS hits,
                       CASE WHEN len(t) > 0
                            THEN CAST(CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT) AS DOUBLE) / len(t)
                            ELSE 0.0 END AS mean_len
                FROM tok
            ),
            q AS (
                SELECT doc_id,
                       CAST((n BETWEEN {textstats.QUALITY_MIN_TOKENS} AND {textstats.QUALITY_MAX_TOKENS}) AS INTEGER)
                       + CAST((mean_len BETWEEN {textstats.QUALITY_MIN_MEAN_LEN} AND {textstats.QUALITY_MAX_MEAN_LEN}) AS INTEGER)
                       + CAST((CASE WHEN n > 0 THEN CAST(hits AS DOUBLE) / n ELSE 0.0 END)
                              >= {textstats.QUALITY_MIN_STOPWORD_RATIO} AS INTEGER) AS quality_score
                FROM m
            ),
            ranked AS (
                SELECT cc.doc_id, cc.canonical_id, q.quality_score,
                       ROW_NUMBER() OVER (
                           PARTITION BY cc.canonical_id
                           ORDER BY q.quality_score DESC, cc.doc_id ASC
                       ) AS rk
                FROM cc JOIN q ON cc.doc_id = q.doc_id
            ),
            best AS (
                SELECT canonical_id AS cid, doc_id AS keeper_id,
                       quality_score AS keeper_quality
                FROM ranked WHERE rk = 1
            )
            SELECT cc.doc_id, cc.canonical_id AS cluster_id,
                   b.keeper_id, b.keeper_quality
            FROM cc JOIN best b ON cc.canonical_id = b.cid
        """,
        "quality_topk_per_lang": f"""
            WITH tok AS (SELECT doc_id, lang, {SQL_TOKENS} AS t FROM documents),
            m AS (
                SELECT doc_id, lang, len(t) AS n,
                       {sql_stopword_hits('t', 'en')} AS hits,
                       CASE WHEN len(t) > 0
                            THEN CAST(CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT) AS DOUBLE) / len(t)
                            ELSE 0.0 END AS mean_len
                FROM tok
            ),
            q AS (
                SELECT doc_id, lang,
                       CAST((n BETWEEN {textstats.QUALITY_MIN_TOKENS} AND {textstats.QUALITY_MAX_TOKENS}) AS INTEGER)
                       + CAST((mean_len BETWEEN {textstats.QUALITY_MIN_MEAN_LEN} AND {textstats.QUALITY_MAX_MEAN_LEN}) AS INTEGER)
                       + CAST((CASE WHEN n > 0 THEN CAST(hits AS DOUBLE) / n ELSE 0.0 END)
                              >= {textstats.QUALITY_MIN_STOPWORD_RATIO} AS INTEGER) AS quality_score
                FROM m
            )
            SELECT lang, doc_id, quality_score, rank FROM (
                SELECT *, CAST(ROW_NUMBER() OVER (
                    PARTITION BY lang ORDER BY quality_score DESC, doc_id ASC
                ) AS INTEGER) AS rank
                FROM q
            ) r WHERE rank <= {TOPK_PER_LANG}
        """,
        "text_tfidf_topterms": f"""
            WITH tok AS (
                SELECT doc_id, unnest({SQL_TOKENS}) AS term FROM documents
            ),
            tf AS (
                SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
            ),
            dfx AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY 1),
            n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf)
            SELECT doc_id, term, tf, df_docs, score, rank FROM (
                SELECT tf.doc_id, tf.term, tf.tf, dfx.df_docs,
                       tf.tf * n.n_docs / dfx.df_docs AS score,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY tf.doc_id
                           ORDER BY tf.tf * n.n_docs / dfx.df_docs DESC, tf.term ASC
                       ) AS INTEGER) AS rank
                FROM tf JOIN dfx USING (term), n
            ) r WHERE rank <= {TFIDF_K}
        """,
        "pack_sequences": f"""
            WITH sized AS (
                SELECT doc_id,
                       CAST(doc_id % {PACK_SHARDS} AS INTEGER) AS shard,
                       CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tokens
                FROM documents
            )
            SELECT doc_id, shard, n_tokens,
                   CAST(coalesce(sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) // {PACK_CAP} AS BIGINT) AS bin_id
            FROM sized
        """,
        "text_scrub_pii": f"""
            WITH s1 AS (
                SELECT doc_id, text AS t0,
                       regexp_replace(text, '{textstats.PII_URL_RE}', '<URL>', 'g') AS t1
                FROM documents
            ),
            s2 AS (
                SELECT *, regexp_replace(t1, '{textstats.PII_EMAIL_RE}', '<EMAIL>', 'g') AS t2
                FROM s1
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t0, '{textstats.PII_URL_RE}')) AS INTEGER) AS n_urls,
                   CAST(len(regexp_extract_all(t1, '{textstats.PII_EMAIL_RE}')) AS INTEGER) AS n_emails,
                   CAST(len(regexp_extract_all(t2, '{textstats.PII_PHONE_RE}')) AS INTEGER) AS n_phones,
                   regexp_replace(t2, '{textstats.PII_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
            FROM s2
        """,
        # the streaming dedup's emitted set must equal the batch DISTINCT
        "dedup_exact_stream": f"""
            SELECT DISTINCT md5({SQL_NORMALIZED}) AS fingerprint FROM documents
        """,
        # watermarked variant: delay covers the corpus span, so no state
        # entry evicts before its last duplicate → same batch DISTINCT
        "dedup_exact_stream_wm": f"""
            SELECT DISTINCT md5({SQL_NORMALIZED}) AS fingerprint FROM documents
        """,
        # identical explicit interpolation formula on both sides —
        # vlo + (vhi - vlo)·frac with h = p·(n-1) — because the
        # built-ins round differently (percentile vs quantile_cont)
        "quantiles_extendedprice": f"""
            WITH ranked AS (
                SELECT CAST(l_extendedprice AS DOUBLE) AS v,
                       ROW_NUMBER() OVER (ORDER BY CAST(l_extendedprice AS DOUBLE)) - 1 AS r
                FROM lineitem
            ),
            n AS (SELECT count(*) AS cnt FROM lineitem),
            -- CAST: DuckDB types 0.9 as DECIMAL, whose exact arithmetic
            -- diverges from Spark's binary double at near-integer h
            -- (caught live by events_time_to_convert at p=0.9)
            probs AS (SELECT CAST(unnest([{", ".join(repr(p) for p in QUANTILE_PROBS)}]) AS DOUBLE) AS p)
            SELECT p AS prob,
                   lo.v + (hi.v - lo.v) * (p * (cnt - 1) - floor(p * (cnt - 1))) AS value
            FROM probs, n
            JOIN ranked lo ON lo.r = CAST(floor(p * (cnt - 1)) AS BIGINT)
            JOIN ranked hi ON hi.r = least(CAST(floor(p * (cnt - 1)) AS BIGINT) + 1, cnt - 1)
        """,
        # boundary literals are the exact Python-accumulated floats
        # assign_splits compares against (note the 0.9500000000000001)
        "docs_assign_splits": """
            SELECT doc_id,
                   CASE WHEN {u} < {b1!r} THEN 'train'
                        WHEN {u} < {b2!r} THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """.format(
            u=uniform,
            b1=corpus.split_boundaries(SPLITS)[0][1],
            b2=corpus.split_boundaries(SPLITS)[1][1],
        ),
        "docs_assign_splits_grouped": """
            SELECT doc_id, source,
                   CASE WHEN {u} < {b1!r} THEN 'train'
                        WHEN {u} < {b2!r} THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """.format(
            u=uniform.replace("doc_id", "source"),
            b1=corpus.split_boundaries(SPLITS)[0][1],
            b2=corpus.split_boundaries(SPLITS)[1][1],
        ),
        "sample_reservoir_per_lang": f"""
            SELECT doc_id, lang FROM (
                SELECT doc_id, lang,
                       ROW_NUMBER() OVER (
                           PARTITION BY lang
                           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
                       ) AS r
                FROM documents
            ) t WHERE r <= {RESERVOIR_K}
        """,
        # chunk grid: starts 1, 1+stride, ... while start <= len(text);
        # md5 of the substring is the gated chunk identity
        "docs_chunk_overlap": f"""
            SELECT doc_id,
                   CAST((s - 1) // {CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
                   CAST(s AS INTEGER) AS chunk_start,
                   CAST(len(substr(text, CAST(s AS INTEGER), {CHUNK_SIZE})) AS INTEGER) AS chunk_len,
                   md5(substr(text, CAST(s AS INTEGER), {CHUNK_SIZE})) AS chunk_md5
            FROM documents,
                 LATERAL (SELECT unnest(generate_series(1, len(text), {CHUNK_STRIDE})) AS s) g
        """,
        "contamination_winnow": f"""
            WITH tf0 AS ({_winnow_fps_sql("source NOT IN " + repr(EVAL_SOURCES))}),
            ef0 AS ({_winnow_fps_sql("source IN " + repr(EVAL_SOURCES))}),
            hot AS (SELECT fingerprint FROM tf0 GROUP BY 1
                    HAVING count(*) > {CONTAM_MAX_DF}),
            tf AS (SELECT * FROM tf0 WHERE fingerprint NOT IN (SELECT fingerprint FROM hot)),
            ef AS (SELECT * FROM ef0 WHERE fingerprint NOT IN (SELECT fingerprint FROM hot)),
            et AS (SELECT doc_id AS eval_id, count(*) AS n_eval_fps
                   FROM ef GROUP BY 1),
            shared AS (
                SELECT tf.doc_id AS train_id, ef.doc_id AS eval_id,
                       count(*) AS n_shared
                FROM tf JOIN ef USING (fingerprint)
                GROUP BY 1, 2
            )
            SELECT train_id, eval_id, n_shared,
                   n_eval_fps,
                   round(CAST(n_shared AS DOUBLE) / n_eval_fps, 6) AS containment
            FROM shared JOIN et USING (eval_id)
            WHERE round(CAST(n_shared AS DOUBLE) / n_eval_fps, 6) >= {CONTAM_MIN_CONTAINMENT}
        """,
        "freq_items_lineitem": " UNION ALL ".join(
            f"""
            SELECT col_name, value, n, rank FROM (
                SELECT '{col}' AS col_name,
                       coalesce(CAST({col} AS VARCHAR), 'NULL') AS value,
                       count(*) AS n,
                       CAST(ROW_NUMBER() OVER (
                           ORDER BY count(*) DESC,
                                    coalesce(CAST({col} AS VARCHAR), 'NULL') ASC
                       ) AS INTEGER) AS rank
                FROM lineitem GROUP BY 2
            ) t WHERE rank <= {FREQ_K}
            """
            for col in FREQ_COLS
        ),
        # per-bin terms unrolled in bin order so the + chain matches the
        # Spark fold over the sorted bin array; every share is one
        # BIGINT/BIGINT division
        "events_drift_tvd": (
            lambda w=(DRIFT_HI - DRIFT_LO) / DRIFT_BINS: f"""
            WITH a AS (
                SELECT least(greatest(CAST(floor((CAST(value AS DOUBLE) - {DRIFT_LO!r})
                                      / {w!r}) AS BIGINT), 0), {DRIFT_BINS - 1}) AS bin
                FROM events WHERE event_type = 'click' AND value IS NOT NULL
            ),
            b AS (
                SELECT least(greatest(CAST(floor((CAST(value AS DOUBLE) - {DRIFT_LO!r})
                                      / {w!r}) AS BIGINT), 0), {DRIFT_BINS - 1}) AS bin
                FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
            ),
            ga AS (SELECT bin, count(*) AS n FROM a GROUP BY bin),
            gb AS (SELECT bin, count(*) AS n FROM b GROUP BY bin)
            SELECT CAST({DRIFT_BINS} AS INTEGER) AS n_bins,
                   (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
                   (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b,
                   CASE WHEN (SELECT count(*) FROM a) > 0 AND (SELECT count(*) FROM b) > 0
                        THEN 0.5e0 * ({" + ".join(
                            f"abs(coalesce((SELECT n FROM ga WHERE bin = {k}), 0)"
                            f" / (SELECT count(*) FROM a)"
                            f" - coalesce((SELECT n FROM gb WHERE bin = {k}), 0)"
                            f" / (SELECT count(*) FROM b))"
                            for k in range(DRIFT_BINS)
                        )})
                        ELSE NULL END AS tvd
        """
        )(),
        "hist_extendedprice": f"""
            WITH b AS (
                SELECT least(greatest(CAST(floor((CAST(l_extendedprice AS DOUBLE) - {HIST_LO!r})
                                      / {(HIST_HI - HIST_LO) / HIST_BINS!r}) AS BIGINT), 0),
                             {HIST_BINS - 1}) AS bin
                FROM lineitem
            ),
            spine AS (SELECT unnest(generate_series(0, {HIST_BINS - 1})) AS bin)
            SELECT CAST(spine.bin AS INTEGER) AS bin,
                   {HIST_LO!r} + spine.bin * {(HIST_HI - HIST_LO) / HIST_BINS!r} AS bin_lo,
                   {HIST_LO!r} + (spine.bin + 1) * {(HIST_HI - HIST_LO) / HIST_BINS!r} AS bin_hi,
                   CAST(coalesce(n, 0) AS BIGINT) AS n
            FROM spine LEFT JOIN (SELECT bin, count(*) AS n FROM b GROUP BY 1) c
              ON spine.bin = c.bin
        """,
        "diff_orders_tables": f"""
            WITH ck AS (
                SELECT o_orderkey AS k,
                       md5(concat_ws(chr(31),
                           coalesce('v' || CAST(o_custkey AS VARCHAR), 'NULL'),
                           coalesce('v' || CAST(o_orderstatus AS VARCHAR), 'NULL'),
                           coalesce('v' || CAST(o_orderpriority AS VARCHAR), 'NULL'))) AS ck
                FROM orders
            ),
            rck AS (
                SELECT o_orderkey AS k,
                       md5(concat_ws(chr(31),
                           coalesce('v' || CAST(o_custkey AS VARCHAR), 'NULL'),
                           coalesce('v' || CAST(CASE WHEN o_orderkey % 31 = 0
                                        THEN o_orderstatus || 'X'
                                        ELSE o_orderstatus END AS VARCHAR), 'NULL'),
                           coalesce('v' || CAST(o_orderpriority AS VARCHAR), 'NULL'))) AS ck
                FROM orders WHERE o_orderkey % 97 != 0
                UNION ALL
                SELECT -o_orderkey AS k,
                       md5(concat_ws(chr(31),
                           coalesce('v' || CAST(o_custkey AS VARCHAR), 'NULL'),
                           coalesce('v' || CAST(o_orderstatus AS VARCHAR), 'NULL'),
                           coalesce('v' || CAST(o_orderpriority AS VARCHAR), 'NULL'))) AS ck
                FROM orders WHERE o_orderkey % 211 = 0
            )
            SELECT status, count(*) AS n_rows FROM (
                SELECT CASE WHEN ck.ck IS NULL THEN 'right_only'
                            WHEN rck.ck IS NULL THEN 'left_only'
                            WHEN ck.ck = rck.ck THEN 'match'
                            ELSE 'differs' END AS status
                FROM ck FULL OUTER JOIN rck ON ck.k = rck.k
            ) s GROUP BY 1
        """,
        "quantiles_by_returnflag": f"""
            WITH ranked AS (
                SELECT l_returnflag AS g,
                       CAST(l_extendedprice AS DOUBLE) AS v,
                       ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                          ORDER BY CAST(l_extendedprice AS DOUBLE)) - 1 AS r,
                       count(*) OVER (PARTITION BY l_returnflag) AS n
                FROM lineitem
            ),
            spine AS (
                SELECT g, n, CAST(unnest([{", ".join(repr(p) for p in GROUP_QUANTILE_PROBS)}]) AS DOUBLE) AS prob
                FROM (SELECT DISTINCT g, n FROM ranked) t
            ),
            pos AS (
                SELECT g, prob, prob * (n - 1) AS h,
                       CAST(floor(prob * (n - 1)) AS BIGINT) AS lo,
                       least(CAST(floor(prob * (n - 1)) AS BIGINT) + 1, n - 1) AS hi
                FROM spine
            )
            SELECT pos.g AS l_returnflag, pos.prob,
                   vlo.v + (vhi.v - vlo.v) * (pos.h - floor(pos.h)) AS value
            FROM pos
            JOIN ranked vlo ON vlo.g = pos.g AND vlo.r = pos.lo
            JOIN ranked vhi ON vhi.g = pos.g AND vhi.r = pos.hi
        """,
        # DuckDB may scan per column; ONE-pass is the Spark-side claim
        "profile_lineitem": " UNION ALL ".join(
            f"""
            SELECT '{c}' AS col_name,
                   count(*) AS n_rows,
                   count(*) - count({c}) AS n_nulls,
                   count(DISTINCT {c}) AS n_distinct,
                   CAST(min({c}) AS DOUBLE) AS min_value,
                   CAST(max({c}) AS DOUBLE) AS max_value
            FROM lineitem
            """
            for c in PROFILE_COLS
        ),
    }


QUERIES = {
    "dedup_clusters": dedup_clusters,
    # same oracle, diameter-independent star algorithm
    "dedup_clusters_2phase": dedup_clusters_2phase,
    "dedup_keep_best": dedup_keep_best,
    # rows-only: non-monotone peel fixed point (see docstring)
    "graph_kcore_dup": graph_kcore_dup,
    # rows-only: rank low bits are aggregation-order-dependent (see docstring)
    "pagerank_dup_graph": pagerank_dup_graph,
    "graph_hits_dup": graph_hits_dup,
    "sample_stratified": sample_stratified,
    "sample_pps": sample_pps,
    "events_mad_outliers": events_mad_outliers,
    "mix_report": mix_report,
    "corpus_e2e_pipeline": corpus_e2e_pipeline,
    # genuine streaming execution; ordered fixture ⇒ batch-equal keepers
    "docs_accrete_stream": docs_accrete_stream,
    "quality_topk_per_lang": quality_topk_per_lang,
    "text_tfidf_topterms": text_tfidf_topterms,
    "pack_sequences": pack_sequences,
    "text_scrub_pii": text_scrub_pii,
    "sample_reservoir_per_lang": sample_reservoir_per_lang,
    "docs_assign_splits": docs_assign_splits,
    "docs_assign_splits_grouped": docs_assign_splits_grouped,
    "freq_items_lineitem": freq_items_lineitem,
    "freq_items_lineitem_mg": freq_items_lineitem_mg,
    "graph_triangle_count": graph_triangle_count,
    "graph_clustering_coeff": graph_clustering_coeff,
    "graph_bfs_distances": graph_bfs_distances,
    "quantiles_by_returnflag": quantiles_by_returnflag,
    "hist_extendedprice": hist_extendedprice,
    "events_drift_tvd": events_drift_tvd,
    "diff_orders_tables": diff_orders_tables,
    "docs_chunk_overlap": docs_chunk_overlap,
    "contamination_winnow": contamination_winnow,
    # streaming executions, gated by the batch-DISTINCT oracle
    "dedup_exact_stream": dedup_exact_stream,
    "dedup_exact_stream_wm": dedup_exact_stream_wm,
    "profile_lineitem": profile_lineitem,
    "quantiles_extendedprice": quantiles_extendedprice,
    # rows-only: sketch values differ across engines inside the ε band
    "quantiles_approx": quantiles_approx,
}

ORACLE_SQL = build_oracle_sql()

# MAD outliers: same lower-median rank arithmetic, windows partitioned
# by the group in both engines; NULL values filtered before ranking so
# the NULLS FIRST/LAST default divergence never matters
ORACLE_SQL["events_mad_outliers"] = """
    WITH base AS (
        SELECT event_type AS g,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
               event_id
        FROM events WHERE value IS NOT NULL
    ),
    r1 AS (
        SELECT *,
               row_number() OVER (PARTITION BY g ORDER BY v, event_id) AS rk,
               count(*) OVER (PARTITION BY g) AS n
        FROM base
    ),
    med AS (SELECT g, v AS med FROM r1 WHERE rk = (n + 1) // 2),
    dev AS (
        SELECT r1.g, r1.v, r1.event_id, r1.n, med.med,
               abs(r1.v - med.med) AS dv
        FROM r1 JOIN med ON r1.g = med.g
    ),
    rnk2 AS (
        SELECT *,
               row_number() OVER (PARTITION BY g ORDER BY dv, event_id) AS rk2
        FROM dev
    ),
    mad AS (SELECT g, dv AS mad FROM rnk2 WHERE rk2 = (n + 1) // 2)
    SELECT d.g AS event_type, d.event_id, d.v AS value_cents,
           d.med AS median_cents, m.mad AS mad_cents
    FROM dev d JOIN mad m ON d.g = m.g
    WHERE d.dv > 5 * m.mad
"""

# systematic PPS: same BIGINT midpoint-grid arithmetic over a window
# prefix sum; DuckDB's // is floor division (operands positive, so it
# matches Spark's DIV truncation)
ORACLE_SQL["sample_pps"] = """
    WITH s AS (
        SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS w,
               md5(CAST(doc_id AS VARCHAR)) AS ord
        FROM documents WHERE n_chars > 0
    ),
    c AS (
        SELECT *,
               sum(w) OVER (ORDER BY ord, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS run,
               (SELECT sum(w) FROM s) AS tot
        FROM s
    ),
    x AS (
        SELECT doc_id, lang, w,
               CASE WHEN 1000 * run <= 0 THEN 0
                    ELSE ((1000 * run - 1) // tot + 1) // 2 END
             - CASE WHEN 1000 * (run - w) <= 0 THEN 0
                    ELSE ((1000 * (run - w) - 1) // tot + 1) // 2 END
                   AS n_copies
        FROM c
    )
    SELECT doc_id, lang, w AS weight, CAST(n_copies AS INT) AS n_copies
    FROM x WHERE n_copies > 0
"""
# the MG sketch tier exact-recounts its candidates, and on these
# small-domain columns candidates = all values — one oracle gates both
ORACLE_SQL["freq_items_lineitem_mg"] = ORACLE_SQL["freq_items_lineitem"]


def graph_modularity_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman MODULARITY decomposition of the near-dup graph under its
    connected-component communities: per community, nodes, internal
    edges e_in, total degree d_c, and the modularity term
    e_in/m − (d_c/2m)² — the quality score community detection
    maximizes; Σterm is Q. CC communities have NO cross-community
    edges by construction, so Q = Σ e_in/m − Σ(d_c/2m)² measures how
    much the cluster-size distribution beats random wiring.

    Exactness: e_in, d_c, m are exact integers; each term is one
    fixed per-row IEEE sequence (two divides, one multiply) — no
    cross-row float accumulation, so the table hash-gates. Scale:
    degrees and e_in are map-side-combined groupBys on the pair list;
    m is a 1-row broadcast."""
    # read five times: the CC rounds, m, both degree sides and e_in
    raw = _dup_pairs(spark, sf_dir).persist()
    pairs = raw.select("doc_a", "doc_b")
    cc = corpus.connected_components(raw)
    m_row = pairs.agg(F.count("*").cast("long").alias("m"))
    # per-node degree from the mirrored edge list
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    node = cc.join(deg, "doc_id")
    comm = node.groupBy(F.col("canonical_id").alias("community")).agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum("deg").cast("long").alias("d_c"),
    )
    # internal edges: both endpoints' communities (equal for CC labels)
    ea = cc.select(F.col("doc_id").alias("doc_a"), F.col("canonical_id").alias("community"))
    e_in = (
        pairs.join(ea, "doc_a")
        .groupBy("community")
        .agg(F.count("*").cast("long").alias("e_in"))
    )
    j = comm.join(e_in, "community").crossJoin(F.broadcast(m_row))
    half = F.col("d_c").cast("double") / (F.lit(2).cast("long") * F.col("m")).cast("double")
    term = F.col("e_in").cast("double") / F.col("m").cast("double") - half * half
    out = j.select(
        "community", "n_nodes", "e_in", "d_c", "m", term.alias("modularity_term")
    )
    return unpersist_when_released(out, raw)


QUERIES["graph_modularity_dup"] = graph_modularity_dup

ORACLE_SQL["graph_modularity_dup"] = f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({_minhash_sql()}) p
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ),
    cc AS (SELECT id AS doc_id, min(r) AS community FROM reach GROUP BY id),
    mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
    deg AS (SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS deg
            FROM edges GROUP BY 1),
    comm AS (
        SELECT community, CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(deg) AS BIGINT) AS d_c
        FROM cc JOIN deg USING (doc_id) GROUP BY 1
    ),
    ein AS (
        SELECT cc.community, CAST(count(*) AS BIGINT) AS e_in
        FROM pairs JOIN cc ON pairs.doc_a = cc.doc_id
        GROUP BY 1
    )
    SELECT CAST(comm.community AS BIGINT) AS community, n_nodes, e_in, d_c, m,
           CAST(e_in AS DOUBLE) / CAST(m AS DOUBLE)
           - (CAST(d_c AS DOUBLE) / CAST(2 * m AS DOUBLE))
             * (CAST(d_c AS DOUBLE) / CAST(2 * m AS DOUBLE)) AS modularity_term
    FROM comm JOIN ein ON comm.community = ein.community
    CROSS JOIN mm
"""


CMS_WIDTH, CMS_DEPTH, CMS_SEED, CMS_CAND_MAX = 128, 4, "cms", 20


def events_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch frequency estimates (operators/profile.py:
    cms_sketch/cms_estimate): build a 4×128 Count-Min sketch over
    events.user_id, then point-query it for the public candidate set
    user_id < 20, reporting estimate vs exact and the (always ≥ 0)
    overcount. The sketch shuffle is capacity-bounded (≤ depth·width
    rows), never distinct-bounded — the per-key-count shape that still
    works when user_id has 10^9 distinct values; shard sketches merge
    by counter addition. The oracle rebuilds the identical sketch from
    the same md5 buckets in SQL."""
    from sfcrimedatapipeline_spark.operators.profile import (
        cms_estimate,
        cms_sketch,
    )

    ev = read_table(spark, sf_dir, "events")
    sketch = cms_sketch(ev, "user_id", CMS_WIDTH, CMS_DEPTH, CMS_SEED)
    cand = (
        ev.filter(F.col("user_id") < CMS_CAND_MAX)
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("exact_n"))
    )
    est = cms_estimate(
        sketch, cand.select("user_id"), "user_id", CMS_WIDTH, CMS_DEPTH, CMS_SEED
    )
    return est.join(cand, "user_id").select(
        "user_id",
        "cms_estimate",
        "exact_n",
        (F.col("cms_estimate") - F.col("exact_n")).cast("long").alias("overcount"),
    )


QUERIES["events_cms_user_counts"] = events_cms_user_counts

_CMS_BUCKET = (
    "CAST(('0x' || substring(md5('cms:' || CAST(t.i AS VARCHAR) || ':' "
    "|| CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT) % 128"
)

ORACLE_SQL["events_cms_user_counts"] = f"""
    WITH sketch AS (
        SELECT t.i, {_CMS_BUCKET.format(key="e.user_id")} AS bucket,
               CAST(count(*) AS BIGINT) AS c
        FROM events e CROSS JOIN generate_series(0, 3) AS t(i)
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
        FROM events WHERE user_id < 20 GROUP BY 1
    ),
    probes AS (
        SELECT c.user_id, c.exact_n, t.i,
               {_CMS_BUCKET.format(key="c.user_id")} AS bucket
        FROM cand c CROSS JOIN generate_series(0, 3) AS t(i)
    )
    SELECT p.user_id,
           CAST(min(coalesce(s.c, 0)) AS BIGINT) AS cms_estimate,
           p.exact_n,
           CAST(min(coalesce(s.c, 0)) - p.exact_n AS BIGINT) AS overcount
    FROM probes p LEFT JOIN sketch s ON s.i = p.i AND s.bucket = p.bucket
    GROUP BY p.user_id, p.exact_n
"""


def mix_temperature_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-TEMPERATURE mixture (operators/corpus.py:
    mix_temperature): shares ∝ source_tokens^0.5 computed from the
    corpus itself (the multilingual head-flattening knob), then the
    same deterministic rate-and-coin sampling as mix_report — shares,
    targets, rates, and yields under one hash. alpha=0.5 keeps every
    op correctly-rounded IEEE (sqrt, no pow), so the oracle replays
    it bit-for-bit; the share denominator folds in sorted source
    order on both engines."""
    docs = read_table(spark, sf_dir, "documents")
    return corpus.mix_temperature(docs, MIX_BUDGET, alpha=0.5)


QUERIES["mix_temperature_report"] = mix_temperature_report

_MT_UNIFORM = (
    "CAST(('0x' || substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    " / 4294967296.0"
)

ORACLE_SQL["mix_temperature_report"] = f"""
    WITH tok AS (
        SELECT doc_id, source, CAST(len({SQL_TOKENS}) AS BIGINT) AS n
        FROM documents
    ),
    tot AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n) AS BIGINT) AS source_tokens
        FROM tok GROUP BY 1
    ),
    w AS (SELECT *, sqrt(CAST(source_tokens AS DOUBLE)) AS wv FROM tot),
    d AS (SELECT list_sum(list(wv ORDER BY source)) AS sumw FROM w),
    r AS (
        SELECT source, n_docs, source_tokens,
               wv / sumw AS target_share,
               wv / sumw * CAST({MIX_BUDGET} AS DOUBLE) AS target_tokens,
               CASE WHEN source_tokens > 0
                    THEN least(1.0, wv / sumw * CAST({MIX_BUDGET} AS DOUBLE)
                               / CAST(source_tokens AS DOUBLE))
                    ELSE 0.0 END AS rate
        FROM w, d
    ),
    s AS (
        SELECT t.source, CAST(count(*) AS BIGINT) AS n_sampled,
               CAST(sum(t.n) AS BIGINT) AS sampled_tokens
        FROM tok t JOIN r ON t.source = r.source
        WHERE {_MT_UNIFORM} < r.rate
        GROUP BY 1
    )
    SELECT r.source, r.n_docs, r.source_tokens, r.target_share,
           r.target_tokens, r.rate,
           coalesce(s.n_sampled, CAST(0 AS BIGINT)) AS n_sampled,
           coalesce(s.sampled_tokens, CAST(0 AS BIGINT)) AS sampled_tokens
    FROM r LEFT JOIN s ON r.source = s.source
"""


LPA_ROUNDS = 3


def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation over the MinHash
    near-dup graph (operators/graph.py:label_propagation): 3 rounds of
    most-frequent-neighbor-label, ties to the smallest label — the
    community detector that costs one shuffle per round and no window.
    Hash-gated: the oracle unrolls the SAME rounds in SQL (classic
    asynchronous LPA could not be — its output depends on visit
    order)."""
    from sfcrimedatapipeline_spark.operators.graph import label_propagation

    pairs = _dup_pairs(spark, sf_dir).persist()
    out = label_propagation(pairs, rounds=LPA_ROUNDS)
    return unpersist_when_released(out, pairs)


QUERIES["graph_lpa_communities"] = graph_lpa_communities


def _lpa_oracle_sql(rounds: int = LPA_ROUNDS) -> str:
    """Unrolls the synchronous rounds as CTE stages — generated from
    the same round count as the Spark loop so the two cannot drift."""
    parts = [
        f"pairs AS (SELECT doc_a, doc_b FROM ({_minhash_sql()}) p)",
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs"
        " UNION ALL SELECT doc_b, doc_a FROM pairs)",
        "l0 AS (SELECT DISTINCT src AS id, src AS label FROM edges)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"c{r} AS (SELECT e.dst AS id, l.label, count(*) AS cnt"
            f" FROM edges e JOIN l{r - 1} l ON e.src = l.id GROUP BY 1, 2)"
        )
        parts.append(
            f"l{r} AS (SELECT id, label FROM ("
            f"SELECT id, label, row_number() OVER (PARTITION BY id"
            f" ORDER BY cnt DESC, label ASC) AS rn FROM c{r}) WHERE rn = 1)"
        )
    return (
        "WITH " + ",\n".join(parts) + f"""
    SELECT CAST(id AS BIGINT) AS doc_id,
           CAST(label AS BIGINT) AS community_id
    FROM l{rounds}"""
    )


ORACLE_SQL["graph_lpa_communities"] = _lpa_oracle_sql()


def graph_lpa_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LPA convergence probe (VERDICT r6 #5,
    operators/graph.py:lpa_convergence): one row per round with the
    count of labels that changed — the measurement that justifies (or
    indicts) the fixed LPA_ROUNDS cut. Hash-gated: the oracle unrolls
    the same rounds and diffs consecutive label CTEs."""
    from sfcrimedatapipeline_spark.operators.graph import lpa_convergence

    pairs = _dup_pairs(spark, sf_dir).persist()
    out = lpa_convergence(pairs, rounds=LPA_ROUNDS)
    return unpersist_when_released(out.orderBy("round_no"), pairs)


QUERIES["graph_lpa_convergence"] = graph_lpa_convergence


def _lpa_convergence_oracle_sql(rounds: int = LPA_ROUNDS) -> str:
    """Same unrolled CTE stages as _lpa_oracle_sql; the final select
    diffs each consecutive label pair instead of returning l{rounds}."""
    parts = [
        f"pairs AS (SELECT doc_a, doc_b FROM ({_minhash_sql()}) p)",
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs"
        " UNION ALL SELECT doc_b, doc_a FROM pairs)",
        "l0 AS (SELECT DISTINCT src AS id, src AS label FROM edges)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"c{r} AS (SELECT e.dst AS id, l.label, count(*) AS cnt"
            f" FROM edges e JOIN l{r - 1} l ON e.src = l.id GROUP BY 1, 2)"
        )
        parts.append(
            f"l{r} AS (SELECT id, label FROM ("
            f"SELECT id, label, row_number() OVER (PARTITION BY id"
            f" ORDER BY cnt DESC, label ASC) AS rn FROM c{r}) WHERE rn = 1)"
        )
    diffs = [
        f"SELECT CAST({r} AS INTEGER) AS round_no,"
        f" CAST(count(*) AS BIGINT) AS n_changed"
        f" FROM l{r} n JOIN l{r - 1} o ON n.id = o.id"
        f" WHERE n.label != o.label"
        for r in range(1, rounds + 1)
    ]
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT * FROM ("
        + " UNION ALL ".join(diffs)
        + ") ORDER BY round_no"
    )


ORACLE_SQL["graph_lpa_convergence"] = _lpa_convergence_oracle_sql()


def _pack_token_ids_oracle_sql() -> str:
    """Composes the tokenizer oracle (llmops._tokenize_bpe_sql — the
    SAME generated replace-chain the gated docs_tokenize_bpe uses) into
    the pack_sequences bin rule, then concatenates member id arrays in
    doc order per bin."""
    from sfcrimedatapipeline_spark.plans.llmops import _tokenize_bpe_sql

    return f"""
        WITH t AS ({_tokenize_bpe_sql()}),
        sized AS (
            SELECT doc_id,
                   CAST(doc_id % {PACK_SHARDS} AS INTEGER) AS shard,
                   token_ids,
                   CAST(len(token_ids) AS BIGINT) AS n
            FROM t
        ),
        binned AS (
            SELECT shard,
                   CAST(coalesce(sum(n) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) // {PACK_CAP} AS BIGINT) AS bin_id,
                   doc_id, token_ids, n
            FROM sized
        )
        SELECT shard, bin_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n) AS BIGINT) AS n_tokens,
               flatten(list(token_ids ORDER BY doc_id)) AS input_ids
        FROM binned GROUP BY shard, bin_id
    """


QUERIES["docs_pack_token_ids"] = docs_pack_token_ids
# the builder keeps the array form (corpus_pack_fill_stats composes
# it); only the driver-facing registration serializes input_ids.
ORACLE_SQL["docs_pack_token_ids"] = f"""
    SELECT shard, bin_id, n_docs, n_tokens,
           {sql_ids_to_str('input_ids')} AS input_ids
    FROM ({_pack_token_ids_oracle_sql()}) p
"""


def corpus_pack_fill_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit (round 8): per shard of the trainable
    token-id shards — bin count, documents, token totals, the largest
    bin, overflow-bin count (first-fit lets one document overflow its
    bin), and the fill rate against capacity. This is the number a
    training-data owner actually watches (wasted pad tokens = wasted
    compute at 100 TB); output is one row per shard, never per bin.
    fill_rate is the only double: one divide of two exact integers, so
    the table hash-gates."""
    from sfcrimedatapipeline_spark.plans.llmops import TOKENIZE_MERGES

    docs = _docs(spark, sf_dir)
    packed = corpus.pack_token_ids(
        docs, TOKENIZE_MERGES, cap=PACK_CAP, n_shards=PACK_SHARDS
    )
    return packed.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_bins"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.max("n_tokens").cast("long").alias("max_bin_tokens"),
        F.sum(F.when(F.col("n_tokens") > PACK_CAP, 1).otherwise(0))
        .cast("long")
        .alias("overflow_bins"),
        (
            F.sum("n_tokens").cast("double")
            / (F.count("*") * PACK_CAP).cast("double")
        ).alias("fill_rate"),
    )


QUERIES["corpus_pack_fill_stats"] = corpus_pack_fill_stats

ORACLE_SQL["corpus_pack_fill_stats"] = f"""
    WITH p AS ({_pack_token_ids_oracle_sql()})
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_bin_tokens,
           CAST(sum(CASE WHEN n_tokens > {PACK_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS overflow_bins,
           CAST(sum(n_tokens) AS DOUBLE)
               / CAST(count(*) * {PACK_CAP} AS DOUBLE) AS fill_rate
    FROM p GROUP BY shard
"""


def corpus_dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ROI in TOKENS, per source: whitespace-token totals before
    vs after MinHash keep-one (canonical keeps itself; docs outside any
    dup cluster keep themselves), with the removed-token count exact
    and the savings ratio the only double. This is the number that
    justifies (or kills) a dedup pass at 100 TB — pairs found is
    vanity, training tokens removed is budget. The dedup_clusters CC
    map; two map-side-combined aggregates over the doc frame."""
    from sfcrimedatapipeline_spark.functions.text import tokens

    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", F.size(tokens(F.col("text"))).cast("long").alias("__t")
    )
    pairs = _dup_pairs(spark, sf_dir).persist()
    cc = corpus.connected_components(pairs)
    j = docs.join(cc, "doc_id", "left")
    kept = F.col("canonical_id").isNull() | (
        F.col("canonical_id") == F.col("doc_id")
    )
    agg = j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("__t").cast("long").alias("tokens_total"),
        F.sum(F.when(kept, F.col("__t")).otherwise(0))
        .cast("long")
        .alias("tokens_kept"),
    )
    out = agg.select(
        "source",
        "n_docs",
        "tokens_total",
        "tokens_kept",
        (F.col("tokens_total") - F.col("tokens_kept")).alias("tokens_removed"),
        F.when(
            F.col("tokens_total") > 0,
            (F.col("tokens_total") - F.col("tokens_kept")).cast("double")
            / F.col("tokens_total").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("savings_ratio"),
    )
    return unpersist_when_released(out, pairs)


QUERIES["corpus_dedup_token_savings"] = corpus_dedup_token_savings

ORACLE_SQL["corpus_dedup_token_savings"] = f"""
    WITH cc AS ({_cc_oracle_sql()}),
    tok AS (
        SELECT doc_id, source, CAST(len({SQL_TOKENS}) AS BIGINT) AS t
        FROM documents
    ),
    j AS (
        SELECT tok.source, tok.t,
               (cc.canonical_id IS NULL OR cc.canonical_id = tok.doc_id)
                   AS kept
        FROM tok LEFT JOIN cc ON cc.doc_id = tok.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(t) AS BIGINT) AS tokens_total,
           CAST(sum(CASE WHEN kept THEN t ELSE 0 END) AS BIGINT)
               AS tokens_kept,
           CAST(sum(t) - sum(CASE WHEN kept THEN t ELSE 0 END) AS BIGINT)
               AS tokens_removed,
           CASE WHEN sum(t) > 0
                THEN CAST(sum(t) - sum(CASE WHEN kept THEN t ELSE 0 END)
                          AS DOUBLE) / CAST(sum(t) AS DOUBLE)
                ELSE 0.0 END AS savings_ratio
    FROM j GROUP BY source
"""


def corpus_quality_dup_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-biserial correlation between document QUALITY and
    DUPLICATION — the hypothesis check behind quality-aware dedup ("do
    duplicates skew low-quality?"): r_pb = (M_dup − M_nondup)/σ_q ·
    sqrt(p·q) over the integer quality score (0-3) and the is-in-a-dup-
    cluster flag from the dedup_clusters CC map. Every sum is an exact
    BIGINT from one global aggregate (1-row output); the final formula
    is a FIXED-ORDER double expression written identically in the
    oracle, so even the correlation hash-gates. A strong negative r on
    a real corpus is the empirical license for dedup_keep_best's
    highest-quality-keeper policy over min-id."""
    docs = _docs(spark, sf_dir)
    q = textstats.with_quality(docs).select(
        "doc_id", F.col("quality_score").cast("long").alias("q")
    )
    pairs = _dup_pairs(spark, sf_dir).persist()
    dup = corpus.connected_components(pairs).select(
        "doc_id", F.lit(1).alias("__dup")
    )
    j = q.join(dup, "doc_id", "left").select(
        "q", F.coalesce("__dup", F.lit(0)).alias("d")
    )
    agg = j.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("d").cast("long").alias("n_dup"),
        F.sum("q").cast("long").alias("sum_q"),
        F.sum(F.col("q") * F.col("d")).cast("long").alias("sum_q_dup"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sum_q_sq"),
    )
    n = F.col("n").cast("double")
    n1 = F.col("n_dup").cast("double")
    n0 = (F.col("n") - F.col("n_dup")).cast("double")
    m1 = F.col("sum_q_dup").cast("double") / n1
    m0 = (F.col("sum_q") - F.col("sum_q_dup")).cast("double") / n0
    var = F.col("sum_q_sq").cast("double") / n - (
        F.col("sum_q").cast("double") / n
    ) * (F.col("sum_q").cast("double") / n)
    r = (m1 - m0) / F.sqrt(var) * F.sqrt((n1 / n) * (n0 / n))
    out = agg.select(
        "n",
        "n_dup",
        F.when((F.col("n_dup") > 0) & (F.col("n_dup") < F.col("n")), m1)
        .otherwise(F.lit(None).cast("double"))
        .alias("mean_q_dup"),
        F.when((F.col("n_dup") > 0) & (F.col("n_dup") < F.col("n")), m0)
        .otherwise(F.lit(None).cast("double"))
        .alias("mean_q_nondup"),
        # r additionally requires var > 0 (ADVICE r8 #5): on a
        # degenerate corpus where every quality score is equal Spark's
        # Divide yields NULL while DuckDB yields ±inf/NaN — guard the
        # zero-variance case to NULL identically on both engines. The
        # predicate evaluates the SAME fixed-order var expression the
        # formula divides by, so the branch choice is bit-identical.
        F.when(
            (F.col("n_dup") > 0)
            & (F.col("n_dup") < F.col("n"))
            & (var > F.lit(0.0)),
            r,
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("r_pointbiserial"),
    )
    return unpersist_when_released(out, pairs)


QUERIES["corpus_quality_dup_correlation"] = corpus_quality_dup_correlation


def _quality_dup_corr_oracle_sql() -> str:
    """Same exact-integer sums and the IDENTICAL fixed-order double
    formula; the quality score replicates llmops' gated quality SQL."""
    from sfcrimedatapipeline_spark.plans.llmops import ORACLE_SQL as LLM_SQL

    return f"""
        WITH q AS (
            SELECT doc_id, CAST(quality_score AS BIGINT) AS q
            FROM ({LLM_SQL["text_quality"]}) tq
        ),
        cc AS ({_cc_oracle_sql()}),
        j AS (
            SELECT q.q,
                   CASE WHEN cc.doc_id IS NULL THEN 0 ELSE 1 END AS d
            FROM q LEFT JOIN cc ON cc.doc_id = q.doc_id
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(d) AS BIGINT) AS n_dup,
                   CAST(sum(q) AS BIGINT) AS sum_q,
                   CAST(sum(q * d) AS BIGINT) AS sum_q_dup,
                   CAST(sum(q * q) AS BIGINT) AS sum_q_sq
            FROM j
        )
        SELECT n, n_dup,
               CASE WHEN n_dup > 0 AND n_dup < n
                    THEN CAST(sum_q_dup AS DOUBLE) / CAST(n_dup AS DOUBLE)
                    ELSE NULL END AS mean_q_dup,
               CASE WHEN n_dup > 0 AND n_dup < n
                    THEN CAST(sum_q - sum_q_dup AS DOUBLE)
                         / CAST(n - n_dup AS DOUBLE)
                    ELSE NULL END AS mean_q_nondup,
               CASE WHEN n_dup > 0 AND n_dup < n
                    AND (CAST(sum_q_sq AS DOUBLE) / CAST(n AS DOUBLE)
                         - (CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE))) > 0
                    THEN (CAST(sum_q_dup AS DOUBLE) / CAST(n_dup AS DOUBLE)
                          - CAST(sum_q - sum_q_dup AS DOUBLE)
                            / CAST(n - n_dup AS DOUBLE))
                         / sqrt(CAST(sum_q_sq AS DOUBLE) / CAST(n AS DOUBLE)
                                - (CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE))
                                  * (CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE)))
                         * sqrt((CAST(n_dup AS DOUBLE) / CAST(n AS DOUBLE))
                                * (CAST(n - n_dup AS DOUBLE)
                                   / CAST(n AS DOUBLE)))
                    ELSE NULL END AS r_pointbiserial
        FROM agg
    """


ORACLE_SQL["corpus_quality_dup_correlation"] = _quality_dup_corr_oracle_sql()


def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate LEAKAGE MATRIX between corpus sources: for every
    unordered source pair, how many MinHash near-dup pairs straddle it
    (diagonal = within-source duplication). The triage view a corpus
    owner reads before choosing dedup scope — heavy off-diagonal mass
    means cross-source syndication and per-source dedup won't cut it.
    Over the _dup_pairs graph; output is bounded by source-pair
    count (≤ S²/2), never data cardinality. Exact integers end to end."""
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    raw = _dup_pairs(spark, sf_dir)
    sa = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("__sa")
    )
    sb = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("__sb")
    )
    out = (
        raw.select("doc_a", "doc_b")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )
    return keep_alive_until_released(out, raw)


QUERIES["dedup_cross_source_matrix"] = dedup_cross_source_matrix

ORACLE_SQL["dedup_cross_source_matrix"] = f"""
    WITH pairs AS (SELECT doc_a, doc_b FROM ({_minhash_sql()}) p)
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs
    JOIN documents da ON da.doc_id = pairs.doc_a
    JOIN documents db ON db.doc_id = pairs.doc_b
    GROUP BY 1, 2
"""


def docs_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption (operators/corpus.py:span_corrupt) over
    the gated BPE tokenization: deterministic hash-coin masking of
    span_len blocks, per-doc sentinels, (input_ids, target_ids) pairs —
    the denoising-objective training payload, hash-gated end to end
    (text → token ids → corrupted pair). Both id arrays serialize to
    space-joined strings at this driver-facing boundary
    (functions/text.py:ids_to_str — the driver's harness crashed on
    this query's raw list cells, VERDICT r10 #1); span_corrupt keeps
    the array form as the internal API."""
    from sfcrimedatapipeline_spark.operators.textstats import bpe_tokenize
    from sfcrimedatapipeline_spark.plans.llmops import TOKENIZE_MERGES

    docs = _docs(spark, sf_dir)
    return (
        corpus.span_corrupt(bpe_tokenize(docs, TOKENIZE_MERGES))
        .withColumn("input_ids", ids_to_str(F.col("input_ids")))
        .withColumn("target_ids", ids_to_str(F.col("target_ids")))
    )


def _span_corruption_oracle_sql() -> str:
    """Composes the tokenizer oracle with the same hash-coin masking,
    block ranking, and keyed-union reassembly as span_corrupt."""
    from sfcrimedatapipeline_spark.operators.corpus import (
        SENTINEL_BASE,
        SPAN_LEN,
        SPAN_MASK_MOD,
    )
    from sfcrimedatapipeline_spark.plans.llmops import _tokenize_bpe_sql

    return f"""
        WITH t AS ({_tokenize_bpe_sql()}),
        pos AS (
            SELECT doc_id,
                   generate_subscripts(token_ids, 1) - 1 AS p,
                   unnest(token_ids) AS tid
            FROM t
        ),
        marked AS (
            SELECT *, p // {SPAN_LEN} AS blk,
                   (CAST(('0x' || substring(md5(doc_id || ':' ||
                        (p // {SPAN_LEN})), 1, 8)) AS BIGINT)
                    % {SPAN_MASK_MOD}) = 0 AS mask
            FROM pos
        ),
        sent AS (
            SELECT doc_id, blk, min(p) AS bstart,
                   CAST({SENTINEL_BASE} + row_number() OVER (
                       PARTITION BY doc_id ORDER BY blk) AS BIGINT) AS sid
            FROM marked WHERE mask GROUP BY doc_id, blk
        ),
        in_entries AS (
            SELECT doc_id, p AS k, tid AS v FROM marked WHERE NOT mask
            UNION ALL
            SELECT doc_id, bstart, sid FROM sent
        ),
        tgt_entries AS (
            SELECT doc_id, bstart * 2 AS k, sid AS v FROM sent
            UNION ALL
            SELECT m.doc_id, m.p * 2 + 1, m.tid FROM marked m WHERE m.mask
        ),
        inp AS (SELECT doc_id, list(v ORDER BY k) AS input_ids
                FROM in_entries GROUP BY doc_id),
        tgt AS (SELECT doc_id, list(v ORDER BY k) AS target_ids
                FROM tgt_entries GROUP BY doc_id)
        SELECT t.doc_id,
               coalesce(inp.input_ids, CAST([] AS BIGINT[])) AS input_ids,
               coalesce(tgt.target_ids, CAST([] AS BIGINT[])) AS target_ids
        FROM t LEFT JOIN inp ON t.doc_id = inp.doc_id
               LEFT JOIN tgt ON t.doc_id = tgt.doc_id
    """


QUERIES["docs_span_corruption"] = docs_span_corruption
# the builder keeps the array form (corpus_denoise_shards composes
# it); only the driver-facing registration serializes the id arrays.
ORACLE_SQL["docs_span_corruption"] = f"""
    SELECT doc_id,
           {sql_ids_to_str('input_ids')} AS input_ids,
           {sql_ids_to_str('target_ids')} AS target_ids
    FROM ({_span_corruption_oracle_sql()}) c
"""


def corpus_denoise_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED tokenize → span-corrupt → pack chain under ONE hash
    (VERDICT r7 #8): raw text → gated BPE token ids → deterministic T5
    span corruption → first-fit packed (input_ids, target_ids) shards
    (operators/corpus.py:denoise_pack) — the complete
    denoising-pretraining data build as a single gated dataflow, so a
    regression anywhere in the three stages breaks exactly one hash.
    The packed id arrays serialize to space-joined strings at this
    driver-facing boundary (functions/text.py:ids_to_str, VERDICT r10
    #1); denoise_pack keeps the array form as the internal API."""
    from sfcrimedatapipeline_spark.operators.textstats import bpe_tokenize
    from sfcrimedatapipeline_spark.plans.llmops import TOKENIZE_MERGES

    docs = _docs(spark, sf_dir)
    corrupted = corpus.span_corrupt(bpe_tokenize(docs, TOKENIZE_MERGES))
    return (
        corpus.denoise_pack(corrupted, cap=PACK_CAP, n_shards=PACK_SHARDS)
        .withColumn("input_ids", ids_to_str(F.col("input_ids")))
        .withColumn("target_ids", ids_to_str(F.col("target_ids")))
    )


QUERIES["corpus_denoise_shards"] = corpus_denoise_shards

ORACLE_SQL["corpus_denoise_shards"] = f"""
    WITH c AS ({_span_corruption_oracle_sql()}),
    sized AS (
        SELECT doc_id,
               CAST(doc_id % {PACK_SHARDS} AS INTEGER) AS shard,
               input_ids, target_ids,
               CAST(len(input_ids) AS BIGINT) AS n
        FROM c
    ),
    binned AS (
        SELECT shard,
               CAST(coalesce(sum(n) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) // {PACK_CAP} AS BIGINT) AS bin_id,
               doc_id, input_ids, target_ids, n
        FROM sized
    )
    SELECT shard, bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS n_input_tokens,
           CAST(sum(len(target_ids)) AS BIGINT) AS n_target_tokens,
           {sql_ids_to_str('flatten(list(input_ids ORDER BY doc_id))')}
               AS input_ids,
           {sql_ids_to_str('flatten(list(target_ids ORDER BY doc_id))')}
               AS target_ids
    FROM binned GROUP BY shard, bin_id
"""


def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster SIZE HISTOGRAM: how many near-dup components
    have 2, 3, ... members — the first diagnostic a dedup pipeline
    owner reads (a fat tail means boilerplate families or a too-loose
    threshold; singletons are excluded since an unclustered doc isn't a
    duplicate). Two map-side-combined aggregates over the CC output —
    the histogram key is the component size, bounded by the largest
    cluster, never data cardinality."""
    pairs = _dup_pairs(spark, sf_dir).persist()
    cc = corpus.connected_components(pairs)
    sizes = cc.groupBy("canonical_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    out = (
        sizes.filter(F.col("cluster_size") >= 2)
        .groupBy("cluster_size")
        .agg(F.count("*").cast("long").alias("n_clusters"))
        .orderBy("cluster_size")
    )
    return unpersist_when_released(out, pairs)


QUERIES["dedup_cluster_sizes"] = dedup_cluster_sizes

ORACLE_SQL["dedup_cluster_sizes"] = f"""
    WITH cc AS ({_cc_oracle_sql()}),
    sizes AS (
        SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size
        FROM cc GROUP BY canonical_id
    )
    SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
    FROM sizes WHERE cluster_size >= 2
    GROUP BY cluster_size ORDER BY cluster_size
"""


def dedup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-LEAKAGE AUDIT: how many near-duplicate pairs straddle the
    per-document train/val/test hash split? The number that justifies
    docs_assign_splits_grouped (group-keyed splits) over the per-doc
    split — every off-diagonal pair here is an eval item whose near-
    twin sits in train, i.e. leaked evaluation signal the per-doc split
    permits BY CONSTRUCTION. Over the MinHash pair graph (_dup_pairs)
    and the exact md5 split assignment; output is
    a ≤6-row (split_lo, split_hi) matrix of exact counts, pair order
    normalized lexicographically so the matrix is symmetric-free."""
    raw = _dup_pairs(spark, sf_dir)
    splits = corpus.assign_splits(
        _docs(spark, sf_dir), "doc_id", SPLITS
    ).select("doc_id", "split")
    sa = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    out = (
        raw.select("doc_a", "doc_b")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
        )
        .groupBy("split_lo", "split_hi")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )
    return keep_alive_until_released(out, raw)


QUERIES["dedup_split_leakage"] = dedup_split_leakage

ORACLE_SQL["dedup_split_leakage"] = f"""
    WITH pairs AS (SELECT doc_a, doc_b FROM ({_minhash_sql()}) mh),
    s AS ({ORACLE_SQL["docs_assign_splits"]})
    SELECT least(sa.split, sb.split) AS split_lo,
           greatest(sa.split, sb.split) AS split_hi,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs
    JOIN s sa ON sa.doc_id = pairs.doc_a
    JOIN s sb ON sb.doc_id = pairs.doc_b
    GROUP BY 1, 2
"""


def graph_dup_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE DISTRIBUTION of the near-dup graph: how many documents
    have exactly d near-duplicates — the one-look summary that
    separates a corpus of scattered twins (mass at d=1-2) from
    boilerplate storms (a heavy tail of hub documents every detector
    must block on). Complements dedup_cluster_sizes (components) with
    the per-node view over the _dup_pairs graph; output bounded
    by max degree. Exact integers throughout."""
    raw = _dup_pairs(spark, sf_dir).persist()  # read by both union sides
    nodes = raw.select(F.col("doc_a").alias("doc_id")).unionAll(
        raw.select(F.col("doc_b").alias("doc_id"))
    )
    deg = nodes.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("degree")
    )
    out = (
        deg.groupBy("degree")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("degree")
    )
    return unpersist_when_released(out, raw)


QUERIES["graph_dup_degree_distribution"] = graph_dup_degree_distribution

ORACLE_SQL["graph_dup_degree_distribution"] = f"""
    WITH pairs AS (SELECT doc_a, doc_b FROM ({_minhash_sql()}) mh),
    nodes AS (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL
        SELECT doc_b FROM pairs
    ),
    deg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS degree
        FROM nodes GROUP BY 1
    )
    SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
    FROM deg GROUP BY 1 ORDER BY degree
"""


# ------------------------------------------------------------- round 12
def docs_collapse_token_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition scrub (operators/textstats.py:
    collapse_token_runs — the Dolma/C4 intra-doc pass): collapse runs
    of consecutive identical tokens and report, per document, the
    before/after token counts plus an md5 digest of the rebuilt text
    (the digest pins the TRANSFORM, not just its arithmetic). One
    codegen'd projection over the documents scan — no shuffle."""
    d = textstats.collapse_token_runs(_docs(spark, sf_dir))
    return d.select(
        "doc_id",
        "n_tokens",
        "n_kept",
        F.md5(F.col("clean_text")).alias("clean_digest"),
    ).orderBy("doc_id")


QUERIES["docs_collapse_token_runs"] = docs_collapse_token_runs

ORACLE_SQL["docs_collapse_token_runs"] = f"""
    WITH tok AS (
        SELECT doc_id, {SQL_TOKENS} AS tk FROM documents
    )
    SELECT doc_id,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(tk, (x, i) -> i = 1 OR tk[i - 1] <> x))
                AS BIGINT) AS n_kept,
           md5(array_to_string(
               list_filter(tk, (x, i) -> i = 1 OR tk[i - 1] <> x), ' '
           )) AS clean_digest
    FROM tok ORDER BY doc_id
"""


#: rank-ensemble selection: how many documents to keep per source
ENSEMBLE_TOP_K = 5
#: integer scale for the ratio signals (exact div on both engines)
ENSEMBLE_SCALE = 1_000_000


def docs_quality_rank_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK-ensemble quality selection (the ensemble-of-weak-signals
    data-selection recipe, integer-exact by construction): within each
    source, rank documents by three signals — token volume, lexical
    diversity (distinct/total tokens, scaled integer div), and mean
    token length (chars-sans-spaces/tokens, scaled) — sum the three
    row_number ranks (ties broken by doc_id, so every rank is
    deterministic), and keep the ENSEMBLE_TOP_K best (lowest rank sum;
    doc_id tiebreak). Rank composition sidesteps the z-score
    float-determinism trap entirely: every number in the pipeline is a
    BIGINT.

    Scale shape: one projection computes all three signals in a single
    pass over the text column; three source-partitioned row_number
    windows + one final top-k window — skew bounded by source
    cardinality, the same envelope as docs_top_fraction_per_source."""
    from pyspark.sql import Window

    from sfcrimedatapipeline_spark.functions.text import tokens

    d = (
        _docs(spark, sf_dir)
        .withColumn("__tk", tokens(F.col("text")))
        .select(
            "doc_id",
            "source",
            F.size("__tk").cast("long").alias("n_tokens"),
            F.size(F.array_distinct("__tk")).cast("long").alias("__nd"),
            F.length(F.regexp_replace(F.col("text"), " ", ""))
            .cast("long")
            .alias("__nc"),
        )
        .filter(F.col("n_tokens") > 0)
        # exact BIGINT floor division on both engines (Spark `div`,
        # DuckDB `//`) — no float division anywhere in the pipeline
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.expr(f"(__nd * {ENSEMBLE_SCALE}L) div n_tokens").alias(
                "diversity"
            ),
            F.expr(f"(__nc * {ENSEMBLE_SCALE}L) div n_tokens").alias(
                "mean_len"
            ),
        )
    )
    ranked = d
    for sig in ("n_tokens", "diversity", "mean_len"):
        w = Window.partitionBy("source").orderBy(
            F.col(sig).desc(), F.col("doc_id").asc()
        )
        ranked = ranked.withColumn(f"__r_{sig}", F.row_number().over(w))
    ranked = ranked.withColumn(
        "rank_sum",
        (
            F.col("__r_n_tokens") + F.col("__r_diversity") + F.col("__r_mean_len")
        ).cast("long"),
    )
    wtop = Window.partitionBy("source").orderBy(
        F.col("rank_sum").asc(), F.col("doc_id").asc()
    )
    return (
        ranked.withColumn("__pick", F.row_number().over(wtop))
        .filter(F.col("__pick") <= ENSEMBLE_TOP_K)
        .select("source", "doc_id", "rank_sum", "n_tokens")
        .orderBy("source", "doc_id")
    )


QUERIES["docs_quality_rank_ensemble"] = docs_quality_rank_ensemble

ORACLE_SQL["docs_quality_rank_ensemble"] = f"""
    WITH sig AS (
        SELECT doc_id, source,
               CAST(len(tk) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(tk)) * {ENSEMBLE_SCALE} // len(tk)
                    AS BIGINT) AS diversity,
               CAST(length(replace(text, ' ', '')) * {ENSEMBLE_SCALE}
                    // len(tk) AS BIGINT) AS mean_len
        FROM (SELECT doc_id, source, text, {SQL_TOKENS} AS tk
              FROM documents) t
        WHERE len(tk) > 0
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY source
                   ORDER BY n_tokens DESC, doc_id) AS r1,
               row_number() OVER (PARTITION BY source
                   ORDER BY diversity DESC, doc_id) AS r2,
               row_number() OVER (PARTITION BY source
                   ORDER BY mean_len DESC, doc_id) AS r3
        FROM sig
    ),
    summed AS (
        SELECT source, doc_id, CAST(r1 + r2 + r3 AS BIGINT) AS rank_sum,
               n_tokens,
               row_number() OVER (PARTITION BY source
                   ORDER BY r1 + r2 + r3, doc_id) AS pick
        FROM ranked
    )
    SELECT source, doc_id, rank_sum, n_tokens
    FROM summed WHERE pick <= {ENSEMBLE_TOP_K}
    ORDER BY source, doc_id
"""
