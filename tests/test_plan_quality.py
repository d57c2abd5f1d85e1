"""Physical-plan assertions: correctness tests prove WHAT the queries
compute; these prove the plans are the ones we'd want at 100 TB —
broadcast joins for dims, filter pushdown into the parquet scan, column
pruning, and no row-at-a-time Python in JVM-expressible hot paths.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def plans(spark):
    from sfcrimedatapipeline_spark.plans import llmops, tpch

    return {
        "j8": _plan(tpch.QUERIES["j8_star_join_monthly"](spark, SF_DIR)),
        "p5": _plan(tpch.QUERIES["p5_in_filter"](spark, SF_DIR)),
        "p1": _plan(tpch.QUERIES["p1_project_alias"](spark, SF_DIR)),
        "tok": _plan(llmops.QUERIES["text_token_stats"](spark, SF_DIR)),
        "simhash": _plan(llmops.QUERIES["dedup_simhash"](spark, SF_DIR)),
        "ann": _plan(llmops.QUERIES["ann_cosine_topk"](spark, SF_DIR)),
    }


def test_star_join_broadcasts_dims(plans):
    # J8: every dim join must be broadcast-hash — a sort-merge join here
    # would shuffle the fact table once per dim at scale.
    assert "BroadcastHashJoin" in plans["j8"]
    assert "SortMergeJoin" not in plans["j8"]


def test_in_filter_pushed_to_scan(plans):
    # P5: the IN-list must reach the parquet reader, not run post-scan only.
    assert "PushedFilters: [" in plans["p5"]
    assert "o_orderpriority" in plans["p5"].split("PushedFilters")[1][:200]


def test_projection_prunes_columns(plans):
    # P1 selects 3 of customer's 8 columns; ReadSchema must not contain
    # unused ones (pruning failed if the scan reads the full row).
    read_schema = plans["p1"].split("ReadSchema:")[1].splitlines()[0]
    assert "c_custkey" in read_schema
    assert "c_acctbal" not in read_schema and "c_address" not in read_schema


@pytest.mark.parametrize("key", ["tok", "simhash", "j8", "p5"])
def test_no_python_row_udfs_in_jvm_paths(plans, key):
    # These are fully JVM-expressible; BatchEvalPython (row-at-a-time
    # pickling) in the plan means a hot path fell off codegen.
    assert "BatchEvalPython" not in plans[key]


def test_plans_use_whole_stage_codegen(spark):
    # AQE's formatted pre-execution plan hides codegen stages; execute and
    # read the final plan's `*(n)` whole-stage markers instead.
    from sfcrimedatapipeline_spark.plans import llmops, tpch

    for name, mod in (
        ("j8_star_join_monthly", tpch),
        ("p5_in_filter", tpch),
        ("text_token_stats", llmops),
    ):
        df = mod.QUERIES[name](spark, SF_DIR)
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "*(" in final, f"{name} has no whole-stage-codegen span"


def test_load_order_id_stays_jvm_side(spark):
    # W2's default id path must not route rows through Python (the old
    # rdd.zipWithIndex pickled every staging row) and must not collapse
    # to a single-partition window over the full data.
    from sfcrimedatapipeline_spark.operators.keys import load_order_id
    from sfcrimedatapipeline_spark.sources.tables import read_table

    df = load_order_id(read_table(spark, SF_DIR, "orders"), "id")
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert "ExistingRDD" not in plan  # createDataFrame(rdd) round-trip
    # ids must still be dense 1..N in partition order
    ids = sorted(r["id"] for r in df.select("id").collect())
    assert ids == list(range(1, len(ids) + 1))


def test_ann_broadcasts_query_vectors(plans):
    # Brute-force cosine top-k must broadcast the tiny query side and
    # scan the corpus once — never shuffle the corpus.
    assert "BroadcastNestedLoopJoin" in plans["ann"] or "BroadcastHashJoin" in plans["ann"]
    assert "SortMergeJoin" not in plans["ann"]


def test_fact_build_broadcasts_all_dims(spark):
    # The 7-join fact build must broadcast every dimension side — a
    # sort-merge join would shuffle the fact rows once per dim at scale.
    from sfcrimedatapipeline_spark.plans import fact_queries

    plan = _plan(fact_queries.QUERIES["fact_crime_build"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_serve_query_broadcasts_and_stays_jvm(spark):
    from sfcrimedatapipeline_spark.plans import fact_queries

    plan = _plan(fact_queries.QUERIES["serve_initial_reports"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_stratified_sample_filter_reaches_scan_stage(spark):
    # The md5-coin sample is a pure per-row filter: no shuffle anywhere
    # in the plan (Exchange only appears if something aggregates/joins).
    from sfcrimedatapipeline_spark.plans import corpus_queries

    plan = _plan(corpus_queries.QUERIES["sample_stratified"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_tfidf_broadcasts_corpus_size(spark):
    # N (1-row) must broadcast; the tf/df join may shuffle, but nothing
    # routes through Python.
    from sfcrimedatapipeline_spark.plans import corpus_queries

    plan = _plan(corpus_queries.QUERIES["text_tfidf_topterms"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_bucketed_join_has_no_exchange(spark):
    # The whole point of bucketing: both sides pre-shuffled at write
    # time, so the sort-merge join runs with NO Exchange and NO Sort.
    from sfcrimedatapipeline_spark.plans import tpch

    df = tpch.QUERIES["j10_bucketed_join"](spark, SF_DIR)
    plan = _plan(df)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, "bucketing failed to co-locate the join"


def test_topn_avoids_global_sort_shuffle(spark):
    # S9: ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-
    # partition top-N merged on the driver), never a full-sort Exchange.
    from sfcrimedatapipeline_spark.plans import tpch

    plan = _plan(tpch.QUERIES["s9_topn"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_range_window_single_user_shuffle(spark):
    # W4: one hashpartitioning exchange on user_id feeds the RANGE
    # window; no second shuffle, nothing Python-side.
    from sfcrimedatapipeline_spark.plans import tpch

    plan = _plan(tpch.QUERIES["w4_range_window"](spark, SF_DIR))
    tree = plan.split("\n\n")[0]  # the indented operator tree, not the details
    assert tree.count("Exchange") == 1
    assert "BatchEvalPython" not in plan


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    # S4's partitionBy must yield partition PRUNING on a filtered read:
    # the event_type predicate becomes a PartitionFilter (directory
    # skip), not a data filter over every file.
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.sources.tables import read_table, write_table

    out = str(tmp_path / "ev_by_type")
    write_table(read_table(spark, SF_DIR, "events"), out, partition_by=["event_type"])
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = _plan(back)
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "event_type" in pf


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark):
    """The 100 TB shape for a selective fact ⋈ filtered-dim SHUFFLE
    join: the optimizer builds a bloom filter from the filtered
    creation side and pushes a might_contain pre-filter into the fact
    scan side, cutting shuffle volume by ~the dim selectivity. Local
    demo needs two conf changes: broadcast disabled (the dim would
    broadcast at this scale, which already avoids the fact shuffle) and
    the application-side scan-size threshold lowered (its 10 GB default
    means 'only bother for big scans' — correct on a cluster, never
    true at sf0.1)."""
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.sources.tables import read_table

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        li = read_table(spark, SF_DIR, "lineitem")
        orders = read_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in optimized
        assert "might_contain" in optimized
        # and the filter sits on the fact (application) side scan key
        assert "might_contain" in optimized.split("Join")[1]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_oov_rate_broadcasts_vocabulary(spark):
    # The vocabulary is top-k-bounded → must broadcast into the token
    # join; no Python in the plan anywhere.
    from sfcrimedatapipeline_spark.operators import textstats
    from sfcrimedatapipeline_spark.sources.tables import read_table

    docs = read_table(spark, SF_DIR, "documents")
    vocab = textstats.build_vocabulary(docs, 100)
    plan = _plan(textstats.with_oov_rate(docs, vocab))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_chunk_documents_is_shuffle_free(spark):
    # Chunking is pure per-row array expressions: posexplode over a
    # computed start grid, zero Exchange in the whole plan.
    from sfcrimedatapipeline_spark.operators import corpus
    from sfcrimedatapipeline_spark.sources.tables import read_table

    plan = _plan(corpus.chunk_documents(read_table(spark, SF_DIR, "documents")))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the posexplode


def test_contamination_hot_set_joins_broadcast(spark):
    # The df-capped hot-fingerprint set is small by construction and
    # must reach both anti-joins as a broadcast.
    from sfcrimedatapipeline_spark.plans import corpus_queries

    plan = _plan(corpus_queries.QUERIES["contamination_winnow"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """DPP: joining a partitioned fact to a FILTERED dim on the
    partition column must inject a dynamicpruning subquery into the
    fact scan — only matching partition directories are read. The
    runtime sibling of static partition pruning, and the reason the
    100 TB fact table is partitioned by its hottest join column."""
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.sources.tables import read_table, write_table

    out = str(tmp_path / "ev_part")
    write_table(read_table(spark, SF_DIR, "events"), out, partition_by=["event_type"])
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("click", 1), ("view", 2), ("purchase", 3)], "event_type string, w int"
    ).filter(F.col("w") == 1)
    saved = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled")
    try:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        j = fact.join(dim, "event_type").groupBy("event_type").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower()
    finally:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", saved)


def test_pq_encode_is_shuffle_free(spark):
    """PQ encoding must be one corpus scan: pure per-row expressions
    over broadcast-literal codebooks, no Exchange anywhere."""
    from sfcrimedatapipeline_spark.operators import similarity
    from sfcrimedatapipeline_spark.sources.tables import read_table

    emb = read_table(spark, SF_DIR, "embeddings")
    cb = similarity.default_pq_codebooks(emb)
    plan = _plan(similarity.pq_encode(emb, cb))
    assert "Exchange" not in plan


def test_pq_topk_broadcasts_query_tables(spark):
    """The ADC query tables ride a broadcast; the corpus side must not
    shuffle before scoring (the only Exchange is the final top-k
    window's hash partitioning on query_id)."""
    from sfcrimedatapipeline_spark.operators import similarity
    from sfcrimedatapipeline_spark.sources.tables import read_table

    emb = read_table(spark, SF_DIR, "embeddings")
    plan = _plan(similarity.pq_topk(emb, emb.filter("vec_id < 3")))
    assert "BroadcastExchange" in plan
    import re

    shuffles = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert all("query_id" in s for s in shuffles), shuffles


def test_mix_report_broadcasts_rates_and_never_shuffles_corpus(spark):
    """The rate table joins back by broadcast; the only hash exchanges
    carry the per-source aggregates (source key), never full rows."""
    from sfcrimedatapipeline_spark.operators.corpus import mix_to_token_budget
    from sfcrimedatapipeline_spark.sources.tables import read_table

    docs = read_table(spark, SF_DIR, "documents")
    plan = _plan(mix_to_token_budget(docs, {"src0": 0.5, "src1": 0.5}, 1000))
    assert "BroadcastExchange" in plan
    import re

    shuffles = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert all("source" in s for s in shuffles), shuffles


def test_ivfpq_index_probe_is_partition_pruned(spark, tmp_path):
    """The persisted IVF+PQ index stores one partition directory per
    inverted list; a search must (a) return exactly the inline
    ivfpq_topk results and (b) reach the code scan with a PartitionFilters
    predicate on list_id, so un-probed lists are never opened."""
    import os

    from sfcrimedatapipeline_spark.operators import similarity
    from sfcrimedatapipeline_spark.sources.tables import read_table

    emb = read_table(spark, SF_DIR, "embeddings")
    idx_dir = str(tmp_path / "ivfpq")
    similarity.ivfpq_index_write(emb, idx_dir, n_centroids=8)
    # one directory per inverted list on disk
    dirs = [d for d in os.listdir(os.path.join(idx_dir, "codes")) if d.startswith("list_id=")]
    assert len(dirs) == 8

    queries = emb.filter("vec_id < 3")
    searched = similarity.ivfpq_index_search(spark, idx_dir, queries, k=5, n_probe=2)
    inline = similarity.ivfpq_topk(emb, queries, k=5, n_centroids=8, n_probe=2)
    key = lambda r: (r.query_id, r.rank, r.neighbor_id, r.approx_dist)
    assert sorted(map(key, searched.collect())) == sorted(map(key, inline.collect()))

    plan = _plan(searched)
    assert "PartitionFilters" in plan and "list_id" in plan
    # the literal isin covers at most |queries| * n_probe of the 8 lists
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "list_id" in m.group(1), plan[:2000]


def test_ivfpq_index_append_matches_full_build(spark, tmp_path):
    """Incremental index growth: build from half the corpus, append the
    other half with the FROZEN quantizers — search results must be
    byte-identical to a single full build (same centroids/codebooks
    pinned at write time), and the appended files must land inside the
    existing list_id partition directories."""
    import os

    from sfcrimedatapipeline_spark.operators import similarity
    from sfcrimedatapipeline_spark.sources.tables import read_table

    emb = read_table(spark, SF_DIR, "embeddings")
    half_a = emb.filter("vec_id % 2 = 0")
    half_b = emb.filter("vec_id % 2 = 1")

    full_dir, incr_dir = str(tmp_path / "full"), str(tmp_path / "incr")
    meta_full = similarity.ivfpq_index_write(emb, full_dir, n_centroids=8)
    # pin the full build's quantizers so the half build doesn't derive
    # different seed centroids from its own first rows
    similarity.ivfpq_index_write(
        half_a, incr_dir, n_centroids=8,
        centroids=meta_full["centroids"], codebooks=meta_full["codebooks"],
    )
    meta_after = similarity.ivfpq_index_append(incr_dir, half_b)
    assert meta_after["centroids"] == meta_full["centroids"]

    queries = emb.filter("vec_id < 3")
    key = lambda r: (r.query_id, r.rank, r.neighbor_id, r.approx_dist)
    got = similarity.ivfpq_index_search(spark, incr_dir, queries, k=5, n_probe=2)
    want = similarity.ivfpq_index_search(spark, full_dir, queries, k=5, n_probe=2)
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))
    # append added files, not directories: same list_id partitions
    dirs = lambda d: sorted(
        p for p in os.listdir(os.path.join(d, "codes")) if p.startswith("list_id=")
    )
    assert dirs(incr_dir) == dirs(full_dir)


def test_tpch_suite_plan_shapes(spark):
    """The decorrelation suite compiles to the joins its docstrings
    promise: q4's EXISTS is a semi join (no count inflation), q5's
    region→nation→supplier chain broadcasts, q17's scalar-avg
    comparison is a broadcast join back (lineitem shuffles at most
    once), q22's NOT EXISTS is an anti join."""
    from sfcrimedatapipeline_spark.plans import tpch_suite

    q4 = _plan(tpch_suite.QUERIES["q4_order_priority"](spark, SF_DIR))
    assert "LeftSemi" in q4 or "SemiJoin" in q4

    q5 = _plan(tpch_suite.QUERIES["q5_local_supplier_volume"](spark, SF_DIR))
    assert "BroadcastHashJoin" in q5

    q17 = _plan(tpch_suite.QUERIES["q17_small_quantity_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in q17 and "SortMergeJoin" not in q17
    import re

    # 4 scan nodes total: lineitem + part on the filter side, and the
    # same two again under the per-part aggregate — never a fifth
    scans = len(re.findall(r"\(\d+\) Scan parquet", q17))
    assert scans == 4, q17[:1500]

    q22 = _plan(tpch_suite.QUERIES["q22_dormant_rich_customers"](spark, SF_DIR))
    assert "LeftAnti" in q22 or "AntiJoin" in q22


def test_tpch_suite_completion_plan_shapes(spark):
    """The 14 completion shapes keep their promised physical plans:
    q6's predicates reach the parquet scan, q16's flagged-supplier
    exclusion is a broadcast anti join, q19's disjunction stays on a
    single broadcast join, q21's double correlation is one semi + one
    anti (never a window or fan-out join), and q15/q11's scalar
    thresholds ride broadcast nested-loop one-row sides rather than
    shuffling the aggregate."""
    import re

    from sfcrimedatapipeline_spark.plans import tpch_suite

    q6 = _plan(tpch_suite.QUERIES["q6_forecast_revenue"](spark, SF_DIR))
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", q6), q6[:1500]
    assert "Join" not in q6  # pure scan-filter-aggregate

    q16 = _plan(tpch_suite.QUERIES["q16_supplier_part_counts"](spark, SF_DIR))
    assert "LeftAnti" in q16 and "BroadcastHashJoin" in q16
    assert "SortMergeJoin" not in q16

    q19 = _plan(tpch_suite.QUERIES["q19_discounted_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in q19 and "SortMergeJoin" not in q19
    assert len(re.findall(r"\(\d+\) Scan parquet", q19)) == 2  # li + part once

    q21 = _plan(tpch_suite.QUERIES["q21_waiting_suppliers"](spark, SF_DIR))
    assert ("LeftSemi" in q21 or "SemiJoin" in q21)
    assert ("LeftAnti" in q21 or "AntiJoin" in q21)
    assert "Window" not in q21

    q15 = _plan(tpch_suite.QUERIES["q15_top_supplier"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in q15 or "BroadcastHashJoin" in q15

    q11 = _plan(tpch_suite.QUERIES["q11_important_stock"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in q11


def test_q3_broadcasts_customer_and_takes_ordered(spark):
    # the classic Q3 shape: small filtered dim broadcast, top-10 as
    # TakeOrderedAndProject (never a global sort Exchange)
    from sfcrimedatapipeline_spark.plans import sql_surface

    plan = _plan(sql_surface.QUERIES["q3_shipping_priority"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_classifier_weights_join_is_broadcast(spark):
    # the model-as-broadcast-table contract: the dim-row weight table
    # must ride a BroadcastExchange, never shuffle the token stream
    from sfcrimedatapipeline_spark.plans import llmops_ext

    plan = _plan(llmops_ext.QUERIES["text_classifier_score"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_decontaminate_eval_set_is_broadcast(spark):
    from sfcrimedatapipeline_spark.plans import llmops_ext

    plan = _plan(llmops_ext.QUERIES["docs_decontaminate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_bm25_index_read_prunes_term_buckets(spark, tmp_path):
    # the materialized inverted index must answer a search by reading
    # ONLY the buckets the query terms hash to: PartitionFilters on
    # term_bucket in the postings scan
    from sfcrimedatapipeline_spark.operators.textstats import (
        bm25_scores,
        inverted_index_search,
        inverted_index_write,
    )
    from sfcrimedatapipeline_spark.sources.tables import read_table

    docs = read_table(spark, SF_DIR, "documents")
    idx = str(tmp_path / "idx")
    inverted_index_write(docs, idx)
    out = inverted_index_search(spark, idx, ["join", "dup"])
    plan = _plan(out)
    assert "PartitionFilters: [" in plan
    assert "term_bucket" in plan.split("PartitionFilters")[1][:200]
    # and the scores equal the corpus-scan path bit for bit
    direct = {
        r.doc_id: (r.n_terms_matched, r.bm25)
        for r in bm25_scores(docs, ["join", "dup"]).collect()
    }
    via_index = {
        r.doc_id: (r.n_terms_matched, r.bm25) for r in out.collect()
    }
    assert via_index == direct


def test_q9_all_dims_broadcast_no_sortmerge(spark):
    from sfcrimedatapipeline_spark.plans import sql_surface

    plan = _plan(sql_surface.QUERIES["q9_product_profit"](spark, SF_DIR))
    # formatted explain lists each node in the tree AND the detail
    # section — count the tree section only
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_scd2_temporal_join_is_single_key_shuffle(spark):
    # the as-of composition must plan as ONE hash partitioning on the
    # customer key (union-merge window), never a nested-loop join
    from sfcrimedatapipeline_spark.plans import sql_surface

    plan = _plan(sql_surface.QUERIES["j16_scd2_temporal_join"](spark, SF_DIR))
    assert "NestedLoop" not in plan
    assert "Window" in plan
    assert plan.count("hashpartitioning(customer_id") >= 1


def test_rollup_cascade_never_rereads_events(spark):
    # three aggregation levels, ONE parquet scan: the cascade derives
    # coarse grains from fine grains instead of re-scanning raw data
    from sfcrimedatapipeline_spark.plans import sql_surface

    plan = _plan(sql_surface.QUERIES["events_rollup_cascade"](spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1


def _window_nodes(df) -> list[str]:
    """Every Window node line in the EXECUTED plan tree."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        ln.strip() for ln in plan.splitlines() if "Window [" in ln
    ]


def _is_partitioned(window_line: str) -> bool:
    # `Window [funcs], [partSpec], [orderSpec]` — a partition-less
    # window prints only two bracket groups (funcs, orderSpec)
    return window_line.count("], [") >= 2


def test_exact_quantiles_has_no_global_window(spark):
    # the r5 verdict's #1: the old form funneled the whole column
    # through ONE task via row_number().over(Window.orderBy(...)).
    # The two-phase rank's only windows partition by the partition tag.
    from sfcrimedatapipeline_spark.operators.profile import exact_quantiles

    df = spark.range(1000).selectExpr("cast(id as double) as v")
    for ln in _window_nodes(exact_quantiles(df, "v", [0.25, 0.5, 0.99])):
        assert _is_partitioned(ln), f"partition-less window: {ln}"


def test_rfm_has_no_global_ntile_window(spark):
    from sfcrimedatapipeline_spark.plans import timeseries

    q = timeseries.QUERIES["events_rfm_segmentation"](spark, SF_DIR)
    for ln in _window_nodes(q):
        assert _is_partitioned(ln), f"partition-less window: {ln}"
        assert "ntile" not in ln


def test_dense_ids_and_load_order_have_no_global_window(spark):
    from sfcrimedatapipeline_spark.operators.keys import dense_ids, load_order_id

    df = spark.range(500).selectExpr("id", "cast(id % 7 as int) as k")
    for op in (dense_ids(df, ["k", "id"], "rk"), load_order_id(df)):
        for ln in _window_nodes(op):
            assert _is_partitioned(ln), f"partition-less window: {ln}"


def test_pareto_gini_pps_equidepth_have_no_global_window(spark):
    # every remaining global ranking/cumulation over a frame whose
    # cardinality SCALES with SF rides the two-phase recipe — the only
    # windows left partition by the partition tag (or the group key)
    from sfcrimedatapipeline_spark.plans import corpus_queries, sql_surface

    for name, mod in (
        ("a13_pareto_abc", sql_surface),
        ("customer_revenue_gini", sql_surface),
        ("hist_equidepth_prices", sql_surface),
        ("sample_pps", corpus_queries),
    ):
        q = mod.QUERIES[name](spark, SF_DIR)
        for ln in _window_nodes(q):
            assert _is_partitioned(ln), f"{name}: partition-less window: {ln}"


def test_chunk_dedup_has_no_window_and_partial_aggregates(spark):
    # skew-safety (r5 verdict #3): first-occurrence must be a map-side
    # combinable min-struct aggregate, never a fingerprint-partitioned
    # window whose partition size tracks duplicate multiplicity
    from sfcrimedatapipeline_spark.operators.dedup import chunk_dedup_corpus

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b x y")], "doc_id long, text string"
    )
    out = chunk_dedup_corpus(docs, chunk_tokens=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # both groupBys plan as partial+final HashAggregate pairs
    assert "partial_min" in plan or "partial" in plan.lower()


def test_chunk_dedup_survives_hot_chunk_skew(spark):
    # one boilerplate chunk duplicated 100k x: the old window put all
    # 100k rows in ONE sorted partition; the min-struct aggregate
    # collapses them map-side. Assert correctness at volume (the plan
    # shape is pinned above).
    from pyspark.sql import functions as F
    from sfcrimedatapipeline_spark.operators.dedup import chunk_dedup_corpus

    n = 100_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("the same boiler plate "), F.lit("uniq"), F.col("id")).alias(
            "text"
        ),
    )
    out = chunk_dedup_corpus(docs, chunk_tokens=4)
    agg = out.agg(
        F.sum("n_dropped").alias("dropped"), F.sum("n_chunks").alias("chunks")
    ).collect()[0]
    # every doc has 2 chunks ("the same boiler plate", "uniqN");
    # the boilerplate chunk survives exactly once
    assert agg.chunks == 2 * n
    assert agg.dropped == n - 1
    keeper = out.filter(F.col("doc_id") == 0).collect()[0]
    assert keeper.clean_text == "the same boiler plate uniq0"


def test_remove_boilerplate_no_window_and_survives_skew(spark):
    # same skew contract as chunk dedup: doc frequency is two map-side
    # combinable aggregates and removal a broadcast ANTI join — never a
    # window or a shuffle keyed on the hot fingerprint. A chunk in all
    # 100k docs is dropped from every one of them.
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.operators.dedup import remove_boilerplate_chunks

    n = 100_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("the same boiler plate "), F.lit("uniq"), F.col("id")).alias(
            "text"
        ),
    )
    out = remove_boilerplate_chunks(docs, chunk_tokens=4, min_docs=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    agg = out.agg(
        F.sum("n_dropped").alias("dropped"), F.sum("n_chunks").alias("chunks")
    ).collect()[0]
    # the boilerplate chunk is dropped from EVERY doc (no keep-first)
    assert agg.chunks == 2 * n and agg.dropped == n
    keeper = out.filter(F.col("doc_id") == 0).collect()[0]
    assert keeper.clean_text == "uniq0" and keeper.n_dropped == 1


def test_ivfpq_index_append_never_rewrites_base_files(spark, tmp_path):
    """The delta append must be pure file ADDITION inside the existing
    list_id partition directories: every pre-append data file survives
    byte-identical (name, size, mtime), so at 100 TB a daily increment
    costs only the new codes' write, never a base rewrite."""
    import os

    from sfcrimedatapipeline_spark.operators import similarity
    from sfcrimedatapipeline_spark.sources.tables import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter("vec_id % 10 != 0")
    delta = emb.filter("vec_id % 10 = 0")
    d = str(tmp_path / "idx")
    similarity.ivfpq_index_write(base, d, n_centroids=8)

    def snapshot():
        out = {}
        codes = os.path.join(d, "codes")
        for dirpath, _dirs, files in os.walk(codes):
            for name in files:
                if name.startswith("part-"):
                    p = os.path.join(dirpath, name)
                    st = os.stat(p)
                    out[os.path.relpath(p, codes)] = (st.st_size, st.st_mtime_ns)
        return out

    before = snapshot()
    assert before  # base build produced data files
    similarity.ivfpq_index_append(d, delta)
    after = snapshot()
    # strict superset: every base file untouched, new files added
    assert set(before) < set(after)
    for rel, sig in before.items():
        assert after[rel] == sig, f"base file rewritten: {rel}"


def test_ivfpq_delta_query_search_is_partition_pruned(spark):
    """The gated incremental-index query's scan must carry a
    PartitionFilters predicate on list_id (probed lists only)."""
    from sfcrimedatapipeline_spark.plans import llmops

    df = llmops.ann_ivfpq_index_delta(spark, "/root/testdata/sf0.001")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "list_id" in plan
