"""sf1 scale probe (VERDICT r5 #8; uniqueness mode VERDICT r6 #2).

The per-round bench runs at sf0.1, where iterative/banded operators are
dominated by per-round scheduling overhead; the claim "this shrinks
relative to data at scale" needs a MEASUREMENT. This probe materializes
a 10x scale-up of sf0.1 (~sf1) under .scale_probe/sf1/, runs the
heaviest query families once warm at both scales, and prints a JSON
map {query: {"sf0.1": s, "sf1": s, "ratio": x}}. A dataflow whose cost
is data-proportional shows ratio ≈ 10 (or the family's documented
complexity); per-round overhead shows ratio « 10.

Two scale-up modes (the ``mode`` field in the artifact names which ran):

- ``unique`` (default): every copy's text/vectors are DETERMINISTICALLY
  PERTURBED so copies are not near-duplicates of each other — each
  document's text goes through a per-copy a-z bijection plus a
  per-copy token suffix (which preserves WITHIN-copy token/shingle
  Jaccard exactly, so the organic duplicate structure of sf0.1
  replicates per copy: duplicate-group COUNT grows 10x, group SIZE
  stays constant — realistic corpus growth; and because the bijection
  perturbs every BYTE, the media twins synthesized from text get
  copy-distinct perceptual hashes too — VERDICT r11 #5), and each
  embedding gets per-copy pseudo-random sign flips (cosine across
  copies ~0, within-copy geometry exactly preserved). This separates data growth
  from pair-multiplicity growth — the question the probe exists to
  answer (r6 re-read the 8.3x minhash ratio as quadratic pair blow-up
  inside 10x-multiplied duplicate groups, which the replicate mode
  manufactures and real 100 TB growth does not).
- ``replicate`` (SPARK_GRAFT_PROBE_MODE=replicate): ids remapped, all
  other values byte-identical — 10x duplicate multiplicity as a
  deliberate worst-case stress for the dedup families.

Usage: python tools/scale_probe.py [out.json] [query ...]
(query names after out.json restrict the probe to that subset — the
re-measure path after a scale fix). The scaled data (~170 MB parquet)
is deleted afterwards.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"
DST = os.path.join(REPO, ".scale_probe", "sf1")
#: SPARK_GRAFT_PROBE_COPIES=100 probes the ~sf10 frontier (VERDICT r10
#: #8) — the artifact's "sf1" keys then mean "the scaled copy" and the
#: recorded ``copies`` field names the actual multiplier.
COPIES = int(os.environ.get("SPARK_GRAFT_PROBE_COPIES", "10"))
MODE = os.environ.get("SPARK_GRAFT_PROBE_MODE", "unique")

#: (table, id columns to offset per copy)
TABLES = {
    "region": [],
    "nation": [],
    "customer": [],
    "supplier": [],
    "part": [],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

#: the heavy families called out by the r5 verdict: dedup, ANN,
#: iterative graph, quantiles — plus the windows/streaming-batch twins
#: whose skew behavior matters at scale
PROBE_QUERIES = [
    "graph_lpa_communities",
    "docs_remove_boilerplate",
    "docs_ndcg_eval",
    "docs_curriculum_order",
    "dedup_exact_fingerprint",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "docs_chunk_dedup",
    "emb_near_duplicates_lsh",
    "ann_cosine_topk_ivf",
    "ann_pq_topk",
    "dedup_clusters_2phase",
    "pagerank_dup_graph",
    "graph_triangle_count",
    "quantiles_extendedprice",
    "quantiles_approx",
    "events_rfm_segmentation",
    "events_sessionize",
    "media_dedup_perceptual",
    "media_dedup_perceptual_groups",
    "corpus_e2e_pipeline",
    # round-6b additions with distinct scale shapes: bin-blocked
    # interval joins, two-phase rank stats, band-pruned skyline,
    # survivorship over CC, broadcast-edge ray casting, d2-shuffle
    # Gram, FD mode-map repair
    "j17_interval_join",
    "events_attribution_decay",
    "orders_mwu_priority",
    "skyline_parts",
    "er_golden_record",
    "geo_district_assign",
    "emb_gram_matrix",
    "dq_repair_category",
    # round-7 additions: triangle-corner explode + degree join, the
    # full tokenization emit (linear Arrow pass — the trainable-shard
    # path)
    "graph_clustering_coeff",
    "docs_tokenize_bpe",
    # round-8: the demoted fixed-config LSH (known n²/B — kept probed
    # so the contrast with the auto default stays measured); the new
    # occupancy-scaled dedup-grade default is in emb_near_duplicates_lsh
    # above; the composed tokenize→corrupt→pack chain under one hash
    # (VERDICT r7 #8) is corpus_denoise_shards
    "emb_near_duplicates_lsh_smallcorpus",
    "corpus_denoise_shards",
    # round-9 additions (VERDICT r8 #6): the 37x contribute-and-count
    # explode behind rolling DAU/WAU/MAU; the directed containment
    # detector; the 1-row-scalar-crossJoin collocation family; the
    # memo-riding source-pair matrix; and the new cross-corpus semantic
    # contamination (delta-vs-corpus — the ≤3x-at-10x claim, VERDICT
    # r8 #8)
    "events_active_users_rolling",
    "dedup_containment",
    "text_bigram_collocations",
    "dedup_cross_source_matrix",
    "contamination_semantic",
    # round-9b additions: the detmath/fixedpoint info-theory family
    # (vocab-bounded ln chains + doc-grain fx sums — expect ≈ data-
    # proportional with a sublinear vocab axis) and the KMV sketch
    # (sketch-grain pair math over a distinct-hash build — expect the
    # distinct-build to dominate)
    "docs_perplexity_unigram",
    "docs_source_kl_divergence",
    "docs_trigram_novelty",
    "text_token_entropy",
    "events_kmv_overlap",
    "text_bigram_entropy_rate",
    "docs_kmv_source_overlap",
    # round-9b rows-only retirements: the deterministic trainers cost
    # per-iteration distributed fx aggregates — measure that the cost
    # stays data-proportional
    "ann_cosine_topk_ivf_trained",
    "ann_pq_topk_trained",
    # round-9c additions: the fixed-round kcore peel and the HITS
    # rounds over the dup graph (expect pair-graph-proportional), the
    # Gopher gate / FIM / SFT / RAKE doc-grain curation ops (expect ≈
    # data-proportional — FIM is a zero-shuffle map and should read
    # well below 10x), and the trained-quantizer audits (memoized
    # training + one assignment scan each)
    "graph_kcore_dup",
    "graph_hits_dup",
    "text_gopher_gate",
    "docs_fim_transform",
    "docs_sft_render",
    "text_rake_keywords",
    "ann_ivf_imbalance_audit",
    "emb_cluster_silhouette",
    # round-9c second batch: the composed curation funnel (gate + CC
    # memo), the bootstrap's B x n calendar-bounded grid, and the
    # exact-integer periodogram (expect all ≈ flat-to-linear)
    "corpus_curation_funnel",
    "orders_bootstrap_ci",
    "events_periodogram24",
    # round-10 additions: the URL/domain web-curation layer (codegen
    # projections + one short-key groupBy + salted two-phase cap —
    # expect ≈ data-proportional), the cross-split perceptual
    # contamination (distinct-hash band join, bounded report), and the
    # incremental IVF+PQ index chain (build+append+pruned search)
    "docs_web_curation",
    "dedup_url_exact",
    "docs_domain_cap",
    "media_contamination_perceptual",
    "ann_ivfpq_index_delta",
    # round-12 additions: the intra-doc scrub + bad-word gate (pure
    # projections — expect ≈ linear), URL decontamination (short-key
    # join, eval-bounded output), rank-ensemble selection (source-
    # partitioned windows), and the composed CCNet chain + any-offset
    # substring dedup (the steepest r11 rows, re-probed per VERDICT
    # r11 #6)
    "docs_collapse_token_runs",
    "docs_word_blocklist",
    "docs_url_decontamination",
    "docs_quality_rank_ensemble",
    "docs_substring_dedup",
    "corpus_ccnet_e2e",
]


_ABC = "abcdefghijklmnopqrstuvwxyz"


def _copy_letter_perm(i: int) -> str:
    """Deterministic per-copy permutation of a-z (md5-seeded
    Fisher-Yates — no Python hash()/random, stable across runs)."""
    import hashlib

    letters = list(_ABC)
    seed = hashlib.md5(f"probe-copy-{i}".encode()).digest() * 4
    for j in range(25, 0, -1):
        k = seed[25 - j] % (j + 1)
        letters[j], letters[k] = letters[k], letters[j]
    return "".join(letters)


def build_scaled(spark) -> None:
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.sources.tables import read_table

    os.makedirs(DST, exist_ok=True)
    for table, id_cols in TABLES.items():
        src = read_table(spark, SRC, table)
        if not id_cols:
            # dims: same content (the scale axis is fact/corpus data)
            src.write.mode("overwrite").parquet(f"{DST}/{table}.parquet")
            continue
        offsets = {c: src.agg(F.max(c)).collect()[0][0] + 1 for c in id_cols}
        copies = None
        for i in range(COPIES):
            c = src
            for col, off in offsets.items():
                c = c.withColumn(col, F.col(col) + F.lit(i * off))
            if MODE == "unique" and i > 0:
                if table == "documents":
                    # per-copy letter BIJECTION (md5-seeded permutation
                    # of a-z) + per-copy token suffix. The bijection
                    # perturbs every payload BYTE, so the media twins
                    # synthesized from text (payload = utf8(text)) get
                    # copy-distinct perceptual hashes — the r11 100x
                    # probe showed a constant suffix alone is washed
                    # out by the dHash downsample, leaving 100
                    # hash-identical copies (a replicate-mode stress,
                    # VERDICT r11 #5); measured residual cross-copy
                    # near-collisions ~1% of pairs, realistic density.
                    # Within-copy duplicate structure is EXACTLY
                    # preserved (a bijective char map + uniform suffix
                    # keep token/shingle equality), cross-copy token
                    # Jaccard ~0. Texts are single-space separated
                    # (verified over sf0.1), so split/concat_ws ' '
                    # round-trips whitespace losslessly.
                    perm = _copy_letter_perm(i)
                    c = c.withColumn(
                        "text",
                        F.concat_ws(
                            " ",
                            F.transform(
                                F.split(
                                    F.translate(F.col("text"), _ABC, perm),
                                    " ",
                                ),
                                lambda t: F.concat(t, F.lit(f"q{i}")),
                            ),
                        ),
                    ).withColumn("n_chars", F.length("text"))
                elif table == "embeddings":
                    # per-copy pseudo-random sign flips: within-copy dot
                    # products (and so all distances/cosines) are exactly
                    # preserved — signs cancel — while cross-copy cosine
                    # concentrates near 0
                    c = c.withColumn(
                        "embedding",
                        F.expr(
                            "transform(embedding, (x, j) -> CASE WHEN"
                            f" pmod(hash({i}, j), 2) = 0 THEN x ELSE -x END)"
                        ),
                    )
            copies = c if copies is None else copies.unionByName(c)
        copies.write.mode("overwrite").parquet(f"{DST}/{table}.parquet")


def vocab_axis_probe(spark) -> dict:
    """VERDICT r7 #1 probe row: per-doc BPE replay cost must be FLAT in
    vocabulary size. Times the full bpe_tokenize Spark query over sf0.1
    documents under a 100-merge and a 10,000-merge table whose operands
    can never fire on this corpus (uppercase operands vs the
    lowercased token stream), so the measured delta isolates the
    vocab-scan overhead from legitimate merge work. The naive rank-
    order sweep costs ~100x more at the 100x vocab; the rank-indexed
    encoder's per-pair dict probe is size-independent."""
    from sfcrimedatapipeline_spark.operators.textstats import bpe_tokenize
    from sfcrimedatapipeline_spark.sources.tables import read_table

    docs = read_table(spark, SRC, "documents")
    out = {}
    for label, v in (("v100_nomatch", 100), ("v10k_nomatch", 10_000)):
        merges = [(r + 1, f"Q{r}", "R") for r in range(v)]
        bpe_tokenize(docs, merges).write.mode("overwrite").format("noop").save()
        t = time.time()
        bpe_tokenize(docs, merges).write.mode("overwrite").format("noop").save()
        out[label] = round(time.time() - t, 2)
        spark.catalog.clearCache()
    out["ratio"] = round(out["v10k_nomatch"] / max(out["v100_nomatch"], 1e-9), 2)
    print(f"vocab_axis: {out}", file=sys.stderr)
    return out


def _run_noop(df) -> None:
    # noop sink: materializes every output column executor-side with
    # no driver transfer. collect() was the first cut and it skewed
    # the quadratic-output queries: media_dedup_perceptual's sf1
    # pair list (~100x rows under the 10x exact-copy stress) spent
    # ~7 min in driver Row serialization — measuring the sink, not
    # the operator dataflow under test.
    df.write.mode("overwrite").format("noop").save()


def _child(name: str) -> None:
    """One probe query in a FRESH session (VERDICT r8 #6). In one
    shared session, state a query leaves behind can serve a later one:
    the stream-fixture cache (streaming/events.py:cached_stream_fixture)
    hands every streaming query after the first a prebuilt fixture
    directory, and caches an operator leaves persisted are reused by
    plan matching — so a later query's sf0.1 numerator shrinks to its
    marginal work while the first absorbs the derivation. A fresh
    session per query pays its own full derivation at BOTH scales, so
    the ratio is the query's complete dataflow scaling."""
    import __spark_entry__ as e
    from sfcrimedatapipeline_spark.session import get_spark

    spark = get_spark(app_name=f"scale-probe-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    fn = e.queries()[name]
    _run_noop(fn(spark, "/root/testdata/sf0.001"))  # compile warm-up
    spark.catalog.clearCache()
    row = {}
    for label, sf_dir in (("sf0.1", SRC), ("sf1", DST)):
        t = time.time()
        _run_noop(fn(spark, sf_dir))
        row[label] = round(time.time() - t, 2)
        spark.catalog.clearCache()
    row["ratio"] = round(row["sf1"] / max(row["sf0.1"], 1e-9), 1)
    print("\nSCALE_PROBE_CHILD " + json.dumps({name: row}))


def main() -> None:
    import subprocess

    from sfcrimedatapipeline_spark.session import get_spark

    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    build_scaled(spark)
    print(f"built {DST} in {time.time() - t0:.0f}s", file=sys.stderr)
    vocab = vocab_axis_probe(spark)
    spark.stop()  # children get the machine to themselves

    probe_list = sys.argv[2:] if len(sys.argv) > 2 else PROBE_QUERIES
    results: dict[str, dict] = {}
    me = os.path.abspath(__file__)
    for name in probe_list:
        try:
            proc = subprocess.run(
                [sys.executable, me, "--child", name],
                capture_output=True,
                text=True,
                timeout=1800,
            )
        except subprocess.TimeoutExpired:
            # a ceiling hit IS a probe finding (the r11 100x media
            # contamination run) — record it instead of losing the
            # whole artifact to the exception
            results[name] = {"error": "child timeout: exceeded 1800s"}
            print(f"{name:28s} TIMEOUT (1800s)", file=sys.stderr)
            continue
        row = None
        for line in proc.stdout.splitlines():
            if line.startswith("SCALE_PROBE_CHILD "):
                row = json.loads(line[len("SCALE_PROBE_CHILD "):])[name]
        if proc.returncode != 0 or row is None:
            row = {"error": (proc.stderr or proc.stdout)[-400:]}
        results[name] = row
        if "error" in row:
            print(f"{name:28s} ERROR", file=sys.stderr)
        else:
            print(
                f"{name:28s} sf0.1={row['sf0.1']:7.2f}s sf1={row['sf1']:7.2f}s "
                f"ratio={row['ratio']:5.1f}",
                file=sys.stderr,
            )

    payload = {
        "copies": COPIES,
        "mode": MODE,
        "method": (
            "fresh session per query (isolated children — memoized "
            "prefixes re-derived at both scales), noop sink both sides"
        ),
        "vocab_axis": vocab,
        "uniqueness": (
            "per-copy a-z bijection + token suffix on documents.text "
            "(within-copy Jaccard preserved, cross-copy ~0; media "
            "payloads synthesized from text are byte-perturbed per "
            "copy, so perceptual-hash multiplicity stays realistic — "
            "VERDICT r11 #5) + per-copy sign flips on embeddings "
            "(within-copy geometry preserved, cross-copy cosine ~0)"
            if MODE == "unique"
            else "byte-identical copies — 10x duplicate-multiplicity stress"
        ),
        "queries": results,
    }
    print(json.dumps(payload, indent=1, sort_keys=True))
    if len(sys.argv) > 1:
        # subset re-measures merge into an existing artifact instead of
        # clobbering the queries they didn't run
        if os.path.exists(sys.argv[1]):
            with open(sys.argv[1]) as fh:
                prior = json.load(fh)
            if prior.get("copies") == COPIES and prior.get("mode") == MODE:
                payload["queries"] = {**prior.get("queries", {}), **results}
        with open(sys.argv[1], "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
    shutil.rmtree(os.path.dirname(DST), ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        _child(sys.argv[2])
    else:
        main()
