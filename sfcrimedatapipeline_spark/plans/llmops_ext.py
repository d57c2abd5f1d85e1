"""Round-5 continuation LLM-pipeline queries: chunk-level corpus
dedup, hashed-feature classifier scoring (+ the top-fraction
percentile cut over it), exact n-gram decontamination, BM25 search
(corpus-scan and persisted-inverted-index paths sharing one oracle),
the ANN recall harness, contrastive negative sampling, NFC
normalization, training shard manifests, and per-epoch ordering —
each with a DuckDB oracle generated from the same shared constants
(functions/text.py tokenizer, functions/hashing.py portable 60-bit
hash) as the Spark side, so the two engines cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.functions.caching import (
    truncate_lineage,
    unpersist_when_released,
)
from sfcrimedatapipeline_spark.functions.hashing import sql_hash64
from sfcrimedatapipeline_spark.functions.text import (
    SQL_TOKENS,
    sql_ngrams,
    sql_tokens,
)
from sfcrimedatapipeline_spark.functions.partitioning import ensure_min_partitions
from sfcrimedatapipeline_spark.operators import corpus as corpus_ops
from sfcrimedatapipeline_spark.operators import dedup, textstats
from sfcrimedatapipeline_spark.plans.tpch import QueryFn
from sfcrimedatapipeline_spark.sources.tables import read_table

CHUNK_TOKENS = 8
DECON_NGRAM = 5
#: eval split for the decontamination query: every 10th doc id
DECON_EVAL_MOD = 10


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ensure_min_partitions(read_table(spark, sf_dir, "documents"))


def docs_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide chunk-level dedup (operators/dedup.py:
    chunk_dedup_corpus) — first occurrence of each 8-token chunk wins,
    cleaned text reassembled in order."""
    return dedup.chunk_dedup_corpus(_docs(spark, sf_dir), chunk_tokens=CHUNK_TOKENS)


def docs_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Any-offset exact substring dedup (operators/dedup.py:
    substring_dedup_corpus, VERDICT r10 missing #1) — sliding 8-token
    window fingerprints at every offset, first occurrence corpus-wide
    wins, later occurrences drop the covered tokens; the alignment-free
    companion to docs_chunk_dedup (a duplicated passage straddling the
    fixed chunk boundary escapes that one, not this one)."""
    return dedup.substring_dedup_corpus(
        _docs(spark, sf_dir), window_tokens=CHUNK_TOKENS
    )


DUP_PASSAGE_MIN = 3


def dedup_top_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-passage triage (operators/dedup.py:
    substring_dup_passages): every 8-token passage occurring 3+ times
    corpus-wide with occurrence/document counts and first document —
    the boilerplate-family view read before choosing substring-dedup
    pressure."""
    return dedup.substring_dup_passages(
        _docs(spark, sf_dir),
        window_tokens=CHUNK_TOKENS,
        min_occurrences=DUP_PASSAGE_MIN,
    )


def docs_paragraph_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granularity CCNet-style quality filtering
    (operators/corpus.py:paragraph_quality_filter, VERDICT r10 missing
    #2): per-16-token-paragraph corpus-unigram rarity scores, the
    corpus-level discrete 90th-percentile tail dropped, documents
    reassembled from surviving paragraphs."""
    return corpus_ops.paragraph_quality_filter(_docs(spark, sf_dir))


def docs_paragraph_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail paragraph triage per corpus source
    (operators/corpus.py:paragraph_bucket_report): discrete 1/3 and
    2/3 rarity percentile cuts by rank definition, exact integers,
    one row per source."""
    return corpus_ops.paragraph_bucket_report(_docs(spark, sf_dir))


def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear classifier scoring (operators/textstats.py:
    with_classifier_score) — broadcast weight table, exact BIGINT
    scores."""
    return textstats.with_classifier_score(_docs(spark, sf_dir))


def docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram decontamination of the train split (doc_id % 10 != 0)
    against the eval split (doc_id % 10 == 0)."""
    docs = _docs(spark, sf_dir)
    from pyspark.sql import functions as F

    is_eval = F.pmod(F.col("doc_id"), F.lit(DECON_EVAL_MOD)) == 0
    return corpus_ops.decontaminate_exact_ngrams(
        docs.filter(~is_eval), docs.filter(is_eval), n=DECON_NGRAM
    )


def docs_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination (operators/corpus.py:
    decontaminate_bloom_ngrams) — same exact output as
    ``docs_decontaminate`` (false positives removed by the confirm
    join), probed through a plan-literal bitset instead of a
    broadcast hash table; gated by the SAME oracle SQL."""
    docs = _docs(spark, sf_dir)
    from pyspark.sql import functions as F

    is_eval = F.pmod(F.col("doc_id"), F.lit(DECON_EVAL_MOD)) == 0
    return corpus_ops.decontaminate_bloom_ngrams(
        docs.filter(~is_eval), docs.filter(is_eval), n=DECON_NGRAM
    )


def corpus_ccnet_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed CCNet-style curation chain under ONE hash (the
    corpus_web_e2e discipline): paragraph-granularity quality filter
    (drop the corpus rarity tail) -> any-offset exact substring dedup
    over the CLEANED text -> per-source yield report. One row per
    source with the funnel counters a corpus owner reads (paragraphs
    dropped by quality, tokens removed by dedup, final token yield,
    fully-emptied documents) — a regression anywhere in either stage
    or their composition breaks exactly one hash."""
    docs = _docs(spark, sf_dir)
    # the cleaned frame feeds FOUR consumers (three inside the
    # substring stage + the final join); without a persist the whole
    # paragraph-filter dataflow recomputes per consumer (first bench
    # cut: 15.9 s composed vs 7.7 s for the stages standalone)
    cleaned = corpus_ops.paragraph_quality_filter(docs).persist()
    deduped = dedup.substring_dedup_corpus(
        cleaned.select("doc_id", F.col("clean_text").alias("text")),
        window_tokens=CHUNK_TOKENS,
    )
    return unpersist_when_released(
        docs.select("doc_id", "source")
        .join(
            cleaned.select(
                "doc_id", "n_chunks", F.col("n_dropped").alias("__para_drop")
            ),
            "doc_id",
        )
        .join(
            deduped.select(
                "doc_id",
                F.col("n_tokens").alias("__tok_in"),
                F.col("n_dropped").alias("__dedup_drop"),
                (F.col("clean_text") == "").alias("__empty"),
            ),
            "doc_id",
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chunks").cast("long").alias("n_paragraphs"),
            F.sum("__para_drop").cast("long").alias("paragraphs_dropped"),
            F.sum("__tok_in").cast("long").alias("tokens_after_filter"),
            F.sum("__dedup_drop").cast("long").alias("tokens_deduped"),
            (F.sum("__tok_in") - F.sum("__dedup_drop"))
            .cast("long")
            .alias("tokens_final"),
            F.sum(F.when(F.col("__empty"), 1).otherwise(0))
            .cast("long")
            .alias("n_empty_final"),
        ),
        cleaned,
    )


QUERIES: dict[str, QueryFn] = {
    "docs_chunk_dedup": docs_chunk_dedup,
    "docs_substring_dedup": docs_substring_dedup,
    "dedup_top_passages": dedup_top_passages,
    "corpus_ccnet_e2e": corpus_ccnet_e2e,
    "docs_paragraph_filter": docs_paragraph_filter,
    "docs_paragraph_buckets": docs_paragraph_buckets,
    "text_classifier_score": text_classifier_score,
    "docs_decontaminate": docs_decontaminate,
    "docs_decontaminate_bloom": docs_decontaminate_bloom,
}


def _substr_sql(docs_rel: str = "documents", text_col: str = "text") -> str:
    """DuckDB twin of operators/dedup.py:substring_dedup_corpus,
    parameterized over the source relation + text column so the
    composed CCNet chain can run it over the paragraph filter's
    cleaned output (corpus_ccnet_e2e) while the standalone
    registration runs it over ``documents``."""
    k = CHUNK_TOKENS
    return f"""
        WITH toks AS (SELECT doc_id, {sql_tokens(text_col)} AS tk
                      FROM {docs_rel}),
        tokrows AS (
            SELECT doc_id, tk,
                   generate_subscripts(tk, 1) AS i,
                   unnest(tk) AS tok
            FROM toks
        ),
        wins AS (
            SELECT doc_id, i - 1 AS s,
                   md5(array_to_string(tk[i : i + {k - 1}], ' ')) AS fp
            FROM tokrows
            WHERE i + {k - 1} <= len(tk)
        ),
        ranked AS (
            SELECT doc_id, s,
                   row_number() OVER (PARTITION BY fp
                                      ORDER BY doc_id, s) AS rn
            FROM wins
        ),
        cov AS (
            SELECT DISTINCT doc_id, s + j AS p
            FROM ranked CROSS JOIN generate_series(0, {k - 1}) AS g(j)
            WHERE rn > 1
        ),
        kept AS (
            SELECT tr.doc_id, tr.i - 1 AS p, tr.tok
            FROM tokrows tr LEFT JOIN cov
              ON cov.doc_id = tr.doc_id AND cov.p = tr.i - 1
            WHERE cov.doc_id IS NULL
        ),
        per_doc AS (
            SELECT doc_id,
                   CAST(count(*) AS INTEGER) AS n_kept,
                   string_agg(tok, ' ' ORDER BY p) AS clean_text
            FROM kept GROUP BY doc_id
        ),
        tot AS (SELECT doc_id, CAST(len(tk) AS INTEGER) AS n_tokens
                FROM toks)
        SELECT t.doc_id,
               coalesce(p.clean_text, '') AS clean_text,
               t.n_tokens,
               CAST(t.n_tokens - coalesce(p.n_kept, 0) AS INTEGER)
                   AS n_dropped
        FROM tot t LEFT JOIN per_doc p USING (doc_id)
    """


def _para_common_sql() -> str:
    """Shared CTE prefix for the paragraph-filter family oracles —
    token chunks, per-chunk term counts, corpus LM, exact-integer
    rarity scores ``sc`` and their distinct-score histogram ``dist``.
    Built once from the operator constants so the filter and bucket
    oracles cannot drift from each other or from Spark."""
    pk = corpus_ops.PARA_CHUNK_TOKENS
    pscale = corpus_ops.PARA_SCORE_SCALE
    lm_scale = textstats.LM_SCALE
    return f"""
            toks AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
            tokrows AS (
                SELECT doc_id,
                       CAST(floor((generate_subscripts(tk, 1) - 1) / {pk})
                            AS INT) AS chunk_idx,
                       generate_subscripts(tk, 1) AS ord,
                       unnest(tk) AS tok
                FROM toks
            ),
            tf AS (
                SELECT doc_id, chunk_idx, tok,
                       CAST(count(*) AS BIGINT) AS c
                FROM tokrows GROUP BY 1, 2, 3
            ),
            lm AS (SELECT tok, CAST(sum(c) AS BIGINT) AS ct
                   FROM tf GROUP BY tok),
            sc AS (
                SELECT doc_id, chunk_idx,
                       (CAST(sum(c * ({lm_scale} // ct)) AS BIGINT)
                        * {pscale})
                       // CAST(sum(c) AS BIGINT) AS rq
                FROM tf JOIN lm USING (tok) GROUP BY 1, 2
            ),
            dist AS (SELECT rq, CAST(count(*) AS BIGINT) AS c
                     FROM sc GROUP BY rq)"""


def _para_cut_sql(num: int, den: int) -> str:
    """Scalar subquery: the discrete num/den percentile of the rarity
    scores by its rank definition (requires the ``dist`` CTE)."""
    return f"""(
        SELECT min(rq) FROM (
            SELECT rq, sum(c) OVER (ORDER BY rq) AS cum,
                   (SELECT sum(c) FROM dist) AS tot
            FROM dist) z
        WHERE cum * {den} >= {num} * tot)"""


def _para_filter_sql() -> str:
    """Full docs_paragraph_filter oracle SELECT — also embedded as a
    CTE by the composed corpus_ccnet_e2e oracle."""
    pnum, pden = corpus_ops.PARA_TAIL_NUM, corpus_ops.PARA_TAIL_DEN
    return f"""
        WITH {_para_common_sql()},
        cut AS (SELECT {_para_cut_sql(pnum, pden)} AS cut),
        chunks AS (
            SELECT doc_id, chunk_idx,
                   string_agg(tok, ' ' ORDER BY ord) AS chunk_text
            FROM tokrows GROUP BY doc_id, chunk_idx
        ),
        kept AS (
            SELECT c.doc_id, c.chunk_idx, c.chunk_text
            FROM chunks c
            JOIN sc USING (doc_id, chunk_idx)
            CROSS JOIN cut
            WHERE sc.rq <= cut.cut
        ),
        per_doc AS (
            SELECT c.doc_id,
                   CAST(count(*) AS INTEGER) AS n_chunks,
                   CAST(count(*) - count(k.chunk_text) AS INTEGER)
                       AS n_dropped,
                   coalesce(string_agg(k.chunk_text, ' '
                                       ORDER BY c.chunk_idx), '')
                       AS clean_text
            FROM chunks c
            LEFT JOIN kept k USING (doc_id, chunk_idx)
            GROUP BY c.doc_id
        )
        SELECT d.doc_id,
               coalesce(p.clean_text, '') AS clean_text,
               coalesce(p.n_chunks, 0) AS n_chunks,
               coalesce(p.n_dropped, 0) AS n_dropped
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """


def build_oracle_sql() -> dict[str, str]:
    k = CHUNK_TOKENS
    dim = textstats.CLASSIFIER_DIM
    w_hash = sql_hash64("i", f"'{textstats.CLASSIFIER_WEIGHT_SEED}'")
    f_hash = sql_hash64("tok", f"'{textstats.CLASSIFIER_FEATURE_SEED}'")
    pnum, pden = corpus_ops.PARA_TAIL_NUM, corpus_ops.PARA_TAIL_DEN
    (b1n, b1d), (b2n, b2d) = corpus_ops.PARA_BUCKETS
    return {
        "corpus_ccnet_e2e": f"""
            WITH cleaned AS MATERIALIZED ({_para_filter_sql()}),
            s2 AS MATERIALIZED (
                {_substr_sql("(SELECT doc_id, clean_text AS text "
                             "FROM cleaned) c2", "text")}
            )
            SELECT d.source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(c.n_chunks) AS BIGINT) AS n_paragraphs,
                   CAST(sum(c.n_dropped) AS BIGINT) AS paragraphs_dropped,
                   CAST(sum(s2.n_tokens) AS BIGINT) AS tokens_after_filter,
                   CAST(sum(s2.n_dropped) AS BIGINT) AS tokens_deduped,
                   CAST(sum(s2.n_tokens) - sum(s2.n_dropped) AS BIGINT)
                       AS tokens_final,
                   CAST(sum(CASE WHEN s2.clean_text = '' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_empty_final
            FROM documents d
            JOIN cleaned c USING (doc_id)
            JOIN s2 USING (doc_id)
            GROUP BY d.source
        """,
        "dedup_top_passages": f"""
            WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
            tokrows AS (
                SELECT doc_id, tk, generate_subscripts(tk, 1) AS i
                FROM toks
            ),
            wins AS (
                SELECT doc_id,
                       array_to_string(tk[i : i + {k - 1}], ' ') AS gram
                FROM tokrows
                WHERE i + {k - 1} <= len(tk)
            ),
            per_doc AS (
                SELECT md5(gram) AS fp, doc_id,
                       CAST(count(*) AS BIGINT) AS c,
                       min(gram) AS gram
                FROM wins GROUP BY 1, 2
            )
            SELECT min(gram) AS passage,
                   CAST(sum(c) AS BIGINT) AS n_occurrences,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(min(doc_id) AS BIGINT) AS first_doc_id
            FROM per_doc GROUP BY fp
            HAVING sum(c) >= {DUP_PASSAGE_MIN}
        """,
        "docs_paragraph_filter": _para_filter_sql(),
        "docs_paragraph_buckets": f"""
            WITH {_para_common_sql()},
            cuts AS (SELECT {_para_cut_sql(b1n, b1d)} AS cut1,
                            {_para_cut_sql(b2n, b2d)} AS cut2)
            SELECT d.source,
                   CAST(sum(CASE WHEN sc.rq <= cuts.cut1
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_head,
                   CAST(sum(CASE WHEN sc.rq > cuts.cut1
                                  AND sc.rq <= cuts.cut2
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_middle,
                   CAST(sum(CASE WHEN sc.rq > cuts.cut2
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_tail,
                   CAST(count(*) AS BIGINT) AS n_paragraphs
            FROM sc
            JOIN documents d USING (doc_id)
            CROSS JOIN cuts
            GROUP BY d.source
        """,
        "docs_chunk_dedup": f"""
            WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
            tokrows AS (
                SELECT doc_id,
                       CAST(floor((generate_subscripts(tk, 1) - 1) / {k}) AS INT) AS chunk_idx,
                       generate_subscripts(tk, 1) AS ord,
                       unnest(tk) AS tok
                FROM toks
            ),
            chunks AS (
                SELECT doc_id, chunk_idx,
                       string_agg(tok, ' ' ORDER BY ord) AS chunk_text
                FROM tokrows GROUP BY doc_id, chunk_idx
            ),
            ranked AS (
                SELECT doc_id, chunk_idx, chunk_text,
                       row_number() OVER (PARTITION BY md5(chunk_text)
                                          ORDER BY doc_id, chunk_idx) AS rn
                FROM chunks
            ),
            per_doc AS (
                SELECT doc_id,
                       CAST(count(*) AS INTEGER) AS n_chunks,
                       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS INTEGER) AS n_dropped,
                       coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END,
                                           ' ' ORDER BY chunk_idx), '') AS clean_text
                FROM ranked GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(p.clean_text, '') AS clean_text,
                   coalesce(p.n_chunks, 0) AS n_chunks,
                   coalesce(p.n_dropped, 0) AS n_dropped
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
        """,
        "docs_substring_dedup": _substr_sql(),
        "text_classifier_score": f"""
            WITH weights AS (
                SELECT i AS bucket, {w_hash} % 17 - 8 AS weight
                FROM range(0, {dim}) t(i)
            ),
            tok AS (SELECT doc_id, unnest({SQL_TOKENS}) AS tok FROM documents),
            bucketed AS (
                SELECT doc_id, {f_hash} % {dim} AS bucket, count(*) AS n
                FROM tok GROUP BY 1, 2
            ),
            scored AS (
                SELECT doc_id, CAST(sum(n * weight) AS BIGINT) AS clf_score
                FROM bucketed JOIN weights USING (bucket) GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(s.clf_score, 0) AS clf_score,
                   coalesce(s.clf_score, 0) > 0 AS clf_pass
            FROM documents d LEFT JOIN scored s USING (doc_id)
        """,
        "docs_decontaminate": f"""
            WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
            eval_g AS (
                SELECT DISTINCT md5(g) AS fp
                FROM (SELECT unnest({sql_ngrams('tk', DECON_NGRAM)}) AS g
                      FROM toks WHERE doc_id % {DECON_EVAL_MOD} = 0)
            ),
            train_g AS (
                SELECT DISTINCT doc_id, md5(g) AS fp
                FROM (SELECT doc_id, unnest({sql_ngrams('tk', DECON_NGRAM)}) AS g
                      FROM toks WHERE doc_id % {DECON_EVAL_MOD} <> 0)
            ),
            hits AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_grams
                FROM train_g WHERE fp IN (SELECT fp FROM eval_g)
                GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(h.n_hit_grams, 0) AS n_hit_grams,
                   coalesce(h.n_hit_grams, 0) > 0 AS contaminated
            FROM (SELECT doc_id FROM documents
                  WHERE doc_id % {DECON_EVAL_MOD} <> 0) d
            LEFT JOIN hits h USING (doc_id)
        """,
    }


ORACLE_SQL = build_oracle_sql()
# the bloom tier is output-identical to the exact tier by design
# (false positives die in the confirm join) — one oracle gates both
ORACLE_SQL["docs_decontaminate_bloom"] = ORACLE_SQL["docs_decontaminate"]


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN RECALL harness: per-query recall@k of each approximate tier
    (LSH buckets, IVF probes, PQ codes) against the exact brute-force
    top-k — the measurement that justifies shipping an approximate
    index at all (same role dedup_lsh_recall plays for MinHash).

    All four tiers are the already-gated deterministic paths, so the
    harness itself is fully hash-gated: counts are exact integers and
    each recall is one exact int/int division. One pass per tier plus
    three broadcast-sized semi-joins on (query_id, neighbor_id).

    The exact tier is referenced FOUR times (its own count + one
    semi-join per approximate tier); a lazy ``localCheckpoint`` makes
    the plan compute that |queries|·k-row frame once instead of four
    brute-force corpus passes (OPTIMIZATION r13, guide §5 — measured
    5.8 → 4.7 s at sf0.1; a ``persist()`` was also measured and does
    NOT help here, the r12 InMemoryRelation lesson). The checkpoint
    lives inside one query execution — nothing is reused across
    invocations.
    """
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.plans.llmops import ANN_K, ann_queries
    from sfcrimedatapipeline_spark.operators import similarity

    emb = ensure_min_partitions(read_table(spark, sf_dir, "embeddings"))
    queries = ann_queries(emb)
    exact = truncate_lineage(
        similarity.cosine_topk(emb, queries, k=ANN_K).select(
            "query_id", "neighbor_id"
        )
    )
    tiers = {
        "lsh": similarity.cosine_topk_lsh(emb, queries, k=ANN_K),
        "ivf": similarity.cosine_topk_ivf(emb, queries, k=ANN_K, n_centroids=8, n_probe=2),
        "pq": similarity.pq_topk(emb, queries, k=ANN_K),
    }
    out = exact.groupBy("query_id").agg(F.count("*").cast("int").alias("n_exact"))
    for name, tier in tiers.items():
        common = (
            tier.select("query_id", "neighbor_id")
            .join(exact, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count("*").cast("int").alias(f"n_common_{name}"))
        )
        out = out.join(common, "query_id", "left").withColumn(
            f"n_common_{name}", F.coalesce(f"n_common_{name}", F.lit(0))
        )
    for name in tiers:
        out = out.withColumn(
            f"recall_{name}",
            F.col(f"n_common_{name}").cast("double") / F.col("n_exact").cast("double"),
        )
    return out.select(
        "query_id",
        "n_exact",
        "n_common_lsh",
        "recall_lsh",
        "n_common_ivf",
        "recall_ivf",
        "n_common_pq",
        "recall_pq",
    )


QUERIES["ann_recall_eval"] = ann_recall_eval


def _recall_oracle() -> str:
    from sfcrimedatapipeline_spark.plans import llmops

    exact = llmops.ORACLE_SQL["ann_cosine_topk"]
    lsh = llmops.ORACLE_SQL["ann_cosine_topk_lsh"]
    # the gated IVF query uses the default centroid/probe constants in
    # llmops; this harness pins its own (8, 2) on the Spark side, which
    # must match llmops.ANN_IVF_CENTROIDS/ANN_IVF_PROBE for the reused
    # oracle below to describe the same computation
    ivf = llmops.ORACLE_SQL["ann_cosine_topk_ivf"]
    pq = llmops.ORACLE_SQL["ann_pq_topk"]
    tier_ctes = ",\n".join(
        f"t_{n} AS ({sql})" for n, sql in (("lsh", lsh), ("ivf", ivf), ("pq", pq))
    )
    commons = ",\n".join(
        f"""c_{n} AS (
            SELECT query_id, CAST(count(*) AS INTEGER) AS n_common_{n}
            FROM (SELECT query_id, neighbor_id FROM t_{n})
            JOIN (SELECT query_id, neighbor_id FROM exact) USING (query_id, neighbor_id)
            GROUP BY 1
        )"""
        for n in ("lsh", "ivf", "pq")
    )
    return f"""
        WITH exact AS ({exact}),
        {tier_ctes},
        {commons},
        base AS (
            SELECT query_id, CAST(count(*) AS INTEGER) AS n_exact
            FROM exact GROUP BY 1
        )
        SELECT b.query_id, b.n_exact,
               coalesce(c_lsh.n_common_lsh, 0) AS n_common_lsh,
               CAST(coalesce(c_lsh.n_common_lsh, 0) AS DOUBLE) / b.n_exact AS recall_lsh,
               coalesce(c_ivf.n_common_ivf, 0) AS n_common_ivf,
               CAST(coalesce(c_ivf.n_common_ivf, 0) AS DOUBLE) / b.n_exact AS recall_ivf,
               coalesce(c_pq.n_common_pq, 0) AS n_common_pq,
               CAST(coalesce(c_pq.n_common_pq, 0) AS DOUBLE) / b.n_exact AS recall_pq
        FROM base b
        LEFT JOIN c_lsh USING (query_id)
        LEFT JOIN c_ivf USING (query_id)
        LEFT JOIN c_pq USING (query_id)
    """


ORACLE_SQL["ann_recall_eval"] = _recall_oracle()


BM25_TERMS = ["join", "dup", "stream"]


def docs_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-style lexical search over the corpus for a fixed term set
    (operators/textstats.py:bm25_scores; exact-rational idf — see the
    operator docstring for why the logarithm is omitted)."""
    return textstats.bm25_scores(_docs(spark, sf_dir), BM25_TERMS)


QUERIES["docs_bm25_search"] = docs_bm25_search

_BM25_IN = ", ".join(f"'{t}'" for t in BM25_TERMS)
_S = 1_000_000_000  # textstats.BM25_IDF_SCALE
ORACLE_SQL["docs_bm25_search"] = f"""
    WITH tok AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
    base AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, tk FROM tok),
    corpus AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS BIGINT) AS t_tokens
        FROM base
    ),
    tf AS (
        SELECT doc_id, dl, t, CAST(count(*) AS BIGINT) AS tf FROM (
            SELECT doc_id, dl, unnest(tk) AS t FROM base) u
        WHERE t IN ({_BM25_IN})
        GROUP BY 1, 2, 3
    ),
    dft AS (SELECT t, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY 1),
    contrib AS (
        SELECT doc_id,
               CAST(({_S} * (2 * (n_docs - df_t) + 1)) // (2 * df_t + 1)
                    AS HUGEINT) * 22 * tf * t_tokens
               // CAST(10 * tf * t_tokens + 3 * t_tokens + 9 * dl * n_docs
                       AS HUGEINT) AS c
        FROM tf JOIN dft USING (t) CROSS JOIN corpus
    )
    SELECT doc_id, CAST(count(*) AS INTEGER) AS n_terms_matched,
           CAST(sum(c) AS DOUBLE) / CAST({_S} AS DOUBLE) AS bm25
    FROM contrib GROUP BY 1
"""


def text_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization over the corpus (operators/udx.py:
    nfc_normalize_udf — Arrow scalar pandas UDF; Spark has no built-in
    normalizer). The sf testdata is ASCII, so the gate hashes the
    identity path; real composition cases are pinned by
    tests/test_udx.py's non-ASCII fixtures against DuckDB
    nfc_normalize directly."""
    from sfcrimedatapipeline_spark.operators.udx import with_nfc_normalized

    return with_nfc_normalized(_docs(spark, sf_dir)).select(
        "doc_id", "nfc_text", "nfc_changed"
    )


QUERIES["text_nfc_normalize"] = text_nfc_normalize
ORACLE_SQL["text_nfc_normalize"] = """
    SELECT doc_id, nfc_normalize(text) AS nfc_text,
           nfc_normalize(text) <> text AS nfc_changed
    FROM documents
"""


NEG_K = 3


def docs_sample_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negative sampling, k=3 per anchor,
    same-source partners excluded (operators/corpus.py:
    sample_negatives)."""
    return corpus_ops.sample_negatives(_docs(spark, sf_dir), k=NEG_K)


QUERIES["docs_sample_negatives"] = docs_sample_negatives

_neg_hash = sql_hash64("i.doc_id", "j.j")
ORACLE_SQL["docs_sample_negatives"] = f"""
    WITH indexed AS (
        SELECT doc_id, source,
               row_number() OVER (ORDER BY doc_id ASC) - 1 AS r
        FROM documents
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    cand AS (
        SELECT i.doc_id AS anchor_id, i.source AS anchor_group,
               j.j AS slot,
               (i.r + {_neg_hash} % (nn.n - 1) + 1) % nn.n AS rn
        FROM indexed i
        CROSS JOIN nn
        CROSS JOIN (SELECT unnest([{", ".join(str(j) for j in range(NEG_K))}]) AS j) j
    )
    SELECT c.anchor_id, CAST(c.slot AS INTEGER) AS slot,
           i2.doc_id AS negative_id, i2.source AS negative_group
    FROM cand c JOIN indexed i2 ON c.rn = i2.r
    WHERE c.anchor_group <> i2.source
"""


TOP_FRAC = 0.5


def docs_top_fraction_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-cut curation: keep the top 50% of each source by
    classifier score (operators/corpus.py:top_fraction_per_group over
    operators/textstats.py:with_classifier_score) — the rate-based
    quality gate; the integer cut rule means no boundary row can flip
    on float division."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    scored = docs.select("doc_id", "source").join(
        textstats.with_classifier_score(docs).select("doc_id", "clf_score"), "doc_id"
    )
    return corpus_ops.top_fraction_per_group(
        scored,
        group_col="source",
        order_cols=[F.col("clf_score").desc(), F.col("doc_id").asc()],
        frac=TOP_FRAC,
        keep_cols=["doc_id", "source", "clf_score"],
    )


QUERIES["docs_top_fraction_per_source"] = docs_top_fraction_per_source

ORACLE_SQL["docs_top_fraction_per_source"] = f"""
    WITH scored AS ({ORACLE_SQL["text_classifier_score"]}),
    j AS (
        SELECT d.doc_id, d.source, s.clf_score
        FROM documents d JOIN scored s USING (doc_id)
    ),
    ranked AS (
        SELECT doc_id, source, clf_score,
               row_number() OVER (PARTITION BY source
                                  ORDER BY clf_score DESC, doc_id ASC) AS rk,
               count(*) OVER (PARTITION BY source) AS n
        FROM j
    )
    SELECT doc_id, source, clf_score, CAST(rk AS INTEGER) AS rank_in_group
    FROM ranked
    WHERE (rk - 1) * 10000 <= {int(round(TOP_FRAC * 10000))} * (n - 1)
"""


def docs_bm25_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 search over the MATERIALIZED inverted index
    (operators/textstats.py:inverted_index_write/search): same exact
    scores as docs_bm25_search — shares its oracle verbatim — but the
    read is partition-pruned to the query terms' hash buckets. The
    index is written on every call into an exit-reaped temp dir (the
    search reads it lazily)."""
    from sfcrimedatapipeline_spark.functions.caching import exit_temp_dir

    d = exit_temp_dir("bm25idx_")
    textstats.inverted_index_write(_docs(spark, sf_dir), d)
    return textstats.inverted_index_search(spark, d, BM25_TERMS)


QUERIES["docs_bm25_index_search"] = docs_bm25_index_search
ORACLE_SQL["docs_bm25_index_search"] = ORACLE_SQL["docs_bm25_search"]


N_EPOCHS = 2


def corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data handoff manifest per shard over the gated packing
    (operators/corpus.py:shard_manifest ∘ pack_sequences): samples,
    docs, exact token counts, order-insensitive content checksum."""
    from sfcrimedatapipeline_spark.plans.corpus_queries import PACK_CAP, PACK_SHARDS

    docs = _docs(spark, sf_dir)
    packed = corpus_ops.pack_sequences(docs, cap=PACK_CAP, n_shards=PACK_SHARDS)
    return corpus_ops.shard_manifest(packed, docs)


def corpus_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch global shuffle
    (operators/corpus.py:epoch_order): replayable training-data order,
    independent permutation per epoch."""
    return corpus_ops.epoch_order(_docs(spark, sf_dir), n_epochs=N_EPOCHS)


QUERIES["corpus_shard_manifest"] = corpus_shard_manifest
QUERIES["corpus_epoch_order"] = corpus_epoch_order


def _manifest_oracle() -> str:
    from sfcrimedatapipeline_spark.plans.corpus_queries import PACK_CAP, PACK_SHARDS

    h = sql_hash64("text", "'manifest'")
    return f"""
        WITH sized AS (
            SELECT doc_id,
                   CAST(doc_id % {PACK_SHARDS} AS INTEGER) AS shard,
                   CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tokens,
                   {h} AS h
            FROM documents
        ),
        packed AS (
            SELECT doc_id, shard, n_tokens, h,
                   CAST(coalesce(sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) // {PACK_CAP} AS BIGINT) AS bin_id
            FROM sized
        )
        SELECT shard,
               CAST(count(DISTINCT bin_id) AS BIGINT) AS n_samples,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(CAST(sum(CAST(h AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR)
                   AS content_checksum
        FROM packed GROUP BY 1
    """


ORACLE_SQL["corpus_shard_manifest"] = _manifest_oracle()

_epoch_hash = sql_hash64("d.doc_id", "'epoch:' || CAST(e.epoch AS VARCHAR)")
ORACLE_SQL["corpus_epoch_order"] = f"""
    WITH e AS (SELECT CAST(i AS INTEGER) AS epoch FROM range(0, {N_EPOCHS}) t(i)),
    keyed AS (
        SELECT e.epoch, d.doc_id, {_epoch_hash} AS k
        FROM documents d CROSS JOIN e
    )
    SELECT epoch, doc_id,
           CAST(row_number() OVER (PARTITION BY epoch
                                   ORDER BY k ASC, doc_id ASC) AS BIGINT) AS position
    FROM keyed
"""


def emb_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-scoring of the embedding corpus
    (operators/profile.py:standardize_embeddings), emitted as flat
    (vec_id, d, z) rows — arrays hash through container-type-sensitive
    pandas reprs, flat rows through plain doubles (the MAP-explosion
    stance)."""
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.operators.profile import standardize_embeddings

    emb = ensure_min_partitions(read_table(spark, sf_dir, "embeddings"))
    out = standardize_embeddings(emb)
    return out.select(
        "vec_id", F.posexplode("z_embedding").alias("d", "z")
    ).select("vec_id", F.col("d").cast("int").alias("d"), "z")


QUERIES["emb_standardize"] = emb_standardize

ORACLE_SQL["emb_standardize"] = """
    WITH ex AS (
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS d,
               unnest(embedding) AS x
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, d, x,
               CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS qv
        FROM ex
    ),
    stats AS (
        SELECT d, count(*) AS n,
               sum(CAST(qv AS DECIMAL(38,0))) AS s,
               sum(CAST(qv * qv AS DECIMAL(38,0))) AS ss
        FROM q GROUP BY 1
    ),
    st AS (
        SELECT d,
               (CAST(s AS DOUBLE) / n) / 1000000 AS m,
               sqrt(CAST(ss AS DOUBLE) / n
                    - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) / 1000000 AS sd
        FROM stats
    )
    SELECT q.vec_id, q.d,
           CASE WHEN st.sd > 0.0
                THEN (CAST(q.x AS DOUBLE) - st.m) / st.sd
                ELSE 0.0 END AS z
    FROM q JOIN st USING (d)
"""


SHARDS_BEFORE, SHARDS_AFTER = 8, 9


def docs_shard_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured mod-vs-rendezvous rebalancing cost for an 8→9 shard
    change (operators/corpus.py:shard_rebalance_report)."""
    return corpus_ops.shard_rebalance_report(
        _docs(spark, sf_dir), SHARDS_BEFORE, SHARDS_AFTER
    )


QUERIES["docs_shard_rebalance"] = docs_shard_rebalance


def _rebalance_oracle() -> str:
    h = sql_hash64("d.doc_id", "CAST(s.s AS VARCHAR)")
    def hrw(n: int, alias: str) -> str:
        return f"""
        {alias} AS (
            SELECT d.doc_id, arg_max(s.s, {h}) AS shard
            FROM documents d
            CROSS JOIN (SELECT unnest(range(0, {n})) AS s) s
            GROUP BY 1
        )"""
    return f"""
        WITH {hrw(SHARDS_BEFORE, "a")},
        {hrw(SHARDS_AFTER, "b")},
        modm AS (
            SELECT (doc_id % {SHARDS_BEFORE}) <> (doc_id % {SHARDS_AFTER}) AS m
            FROM documents
        ),
        hrwm AS (
            SELECT a.shard <> b.shard AS m FROM a JOIN b USING (doc_id)
        )
        SELECT 'mod' AS method,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
               CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS moved_frac
        FROM modm
        UNION ALL
        SELECT 'rendezvous', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE)
        FROM hrwm
    """


ORACLE_SQL["docs_shard_rebalance"] = _rebalance_oracle()


def text_tokens_multilingual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-aware tokenization (functions/text.py:tokens_multilingual
    — whitespace words + CJK character bigrams). The sf corpus is
    ASCII, so the gate hashes the Latin path; CJK bigram behavior is
    pinned by tests/test_udx.py's DuckDB-parity fixtures (the NFC
    pattern)."""
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.functions.text import tokens_multilingual

    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.posexplode(tokens_multilingual(F.col("text"))).alias("pos", "token"))
        .select("doc_id", F.col("pos").cast("int").alias("pos"), "token")
    )


QUERIES["text_tokens_multilingual"] = text_tokens_multilingual

from sfcrimedatapipeline_spark.functions.text import CJK_CLASS as _CJK  # noqa: E402

ORACLE_SQL["text_tokens_multilingual"] = f"""
    WITH toked AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(
                   lower(regexp_replace(text, '([{_CJK}])', ' \\1 ', 'g')),
                   '\\s+'), t -> t <> '') AS tk
        FROM documents
    ),
    built AS (
        SELECT doc_id,
               flatten([
                   CASE
                       WHEN regexp_matches(tk[i], '^[{_CJK}]$')
                            AND coalesce(regexp_matches(tk[i+1], '^[{_CJK}]$'), FALSE)
                       THEN [tk[i] || tk[i+1]]
                       WHEN regexp_matches(tk[i], '^[{_CJK}]$')
                            AND NOT coalesce(
                                CASE WHEN i > 1
                                     THEN regexp_matches(tk[i-1], '^[{_CJK}]$')
                                END, FALSE)
                       THEN [tk[i]]
                       WHEN NOT regexp_matches(tk[i], '^[{_CJK}]$')
                       THEN [tk[i]]
                       ELSE []
                   END
                   for i in generate_series(1, len(tk))
               ]) AS toks
        FROM toked
    )
    SELECT doc_id,
           CAST(generate_subscripts(toks, 1) - 1 AS INTEGER) AS pos,
           unnest(toks) AS token
    FROM built
"""


KWIC_TERM = "dup"
KWIC_CTX = 3


def docs_search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYWORD-IN-CONTEXT snippets — the search-result UX layer over
    BM25: every occurrence of the query term with ±3 tokens of
    context, reassembled per hit. Pure array expressions: tokenize
    once, posexplode only MATCHING positions, slice the token array
    around each hit — context extraction never re-scans text."""
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.functions.text import tokens

    docs = _docs(spark, sf_dir)
    toked = docs.select("doc_id", tokens(F.col("text")).alias("tk"))
    hits = toked.select(
        "doc_id", "tk", F.posexplode("tk").alias("pos", "tok")
    ).filter(F.col("tok") == KWIC_TERM)
    lo = F.greatest(F.col("pos") + 1 - KWIC_CTX, F.lit(1))
    length = F.least(F.col("pos") + 1 + KWIC_CTX, F.size("tk")) - lo + 1
    return hits.select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.array_join(F.slice(F.col("tk"), lo, length), " ").alias("snippet"),
    )


QUERIES["docs_search_snippets"] = docs_search_snippets

ORACLE_SQL["docs_search_snippets"] = f"""
    WITH toked AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
    hits AS (
        SELECT doc_id, tk,
               CAST(generate_subscripts(tk, 1) - 1 AS INTEGER) AS pos,
               unnest(tk) AS tok
        FROM toked
    )
    SELECT doc_id, pos,
           array_to_string(
               tk[greatest(pos + 1 - {KWIC_CTX}, 1) :
                  least(pos + 1 + {KWIC_CTX}, len(tk))], ' ') AS snippet
    FROM hits
    WHERE tok = '{KWIC_TERM}'
"""


COMPACT_TARGET_BYTES = 4000
COMPACT_FILES_PER_SOURCE = 10


def docs_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-maintenance: small-file COMPACTION plan
    (operators/layout.py:compaction_plan) — derive a file manifest
    from documents (file = source × doc_id%10, bytes = Σ n_chars),
    assign contiguous path-ordered bins near a byte target with the
    two-phase running total (no global window), and roll up per bin.
    The 100 TB companion to corpus_shard_manifest: that one checksums
    a handoff, this one plans the rewrite that keeps the lake's file
    count sane."""
    from sfcrimedatapipeline_spark.operators.layout import (
        compaction_plan,
        compaction_summary,
    )

    docs = _docs(spark, sf_dir)
    files = docs.groupBy(
        F.concat_ws(
            ":",
            F.col("source"),
            (F.col("doc_id") % COMPACT_FILES_PER_SOURCE).cast("string"),
        ).alias("path")
    ).agg(F.sum("n_chars").cast("long").alias("bytes"))
    plan = compaction_plan(files, "path", "bytes", COMPACT_TARGET_BYTES)
    return compaction_summary(plan, "path", "bytes")


QUERIES["docs_compaction_plan"] = docs_compaction_plan

ORACLE_SQL["docs_compaction_plan"] = f"""
    WITH files AS (
        SELECT source || ':' || CAST(doc_id % {COMPACT_FILES_PER_SOURCE} AS VARCHAR) AS path,
               CAST(sum(n_chars) AS BIGINT) AS bytes
        FROM documents GROUP BY 1
    ),
    cum AS (
        SELECT path, bytes,
               sum(bytes) OVER (ORDER BY path
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM files
    ),
    plan AS (
        SELECT path, bytes,
               CAST(floor((c - bytes) / CAST({COMPACT_TARGET_BYTES} AS DOUBLE)) AS BIGINT) AS bin_id
        FROM cum
    )
    SELECT bin_id,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS bin_bytes,
           min(path) AS first_file,
           max(path) AS last_file
    FROM plan GROUP BY 1
"""


#: boilerplate threshold: a chunk in >= this many DISTINCT docs is
#: template text (measured: ~20 shared-chunk fingerprints at sf0.001,
#: ~17 at sf0.01 — a real but partial cut at every test scale)
BOILERPLATE_MIN_DOCS = 3


def docs_remove_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate removal (operators/dedup.py:
    remove_boilerplate_chunks — the CCNet/RefinedWeb recipe): chunks in
    >= BOILERPLATE_MIN_DOCS distinct docs are dropped from EVERY doc,
    first copy included; map-side-combined doc-frequency + broadcast
    anti join, never a shuffle keyed on the skewed chunk fingerprint."""
    return dedup.remove_boilerplate_chunks(
        _docs(spark, sf_dir),
        chunk_tokens=CHUNK_TOKENS,
        min_docs=BOILERPLATE_MIN_DOCS,
    )


QUERIES["docs_remove_boilerplate"] = docs_remove_boilerplate

ORACLE_SQL["docs_remove_boilerplate"] = f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
    tokrows AS (
        SELECT doc_id,
               CAST(floor((generate_subscripts(tk, 1) - 1) / {CHUNK_TOKENS}) AS INT) AS chunk_idx,
               generate_subscripts(tk, 1) AS ord,
               unnest(tk) AS tok
        FROM toks
    ),
    chunks AS (
        SELECT doc_id, chunk_idx,
               string_agg(tok, ' ' ORDER BY ord) AS chunk_text
        FROM tokrows GROUP BY doc_id, chunk_idx
    ),
    freq AS (
        SELECT md5(chunk_text) AS fp, count(DISTINCT doc_id) AS nd
        FROM chunks GROUP BY 1
    ),
    marked AS (
        SELECT c.doc_id, c.chunk_idx, c.chunk_text,
               (f.nd >= {BOILERPLATE_MIN_DOCS}) AS is_bp
        FROM chunks c JOIN freq f ON md5(c.chunk_text) = f.fp
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(count(*) AS INTEGER) AS n_chunks,
               CAST(sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS INTEGER) AS n_dropped,
               coalesce(string_agg(CASE WHEN NOT is_bp THEN chunk_text END,
                                   ' ' ORDER BY chunk_idx), '') AS clean_text
        FROM marked GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(p.clean_text, '') AS clean_text,
           coalesce(p.n_chunks, 0) AS n_chunks,
           coalesce(p.n_dropped, 0) AS n_dropped
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


#: NDCG evaluation panel: four fixed queries over the corpus
#: vocabulary — two broad, one mid, one mixing the rare term 'dup'
#: (idf contrast exercises the ranking, not just the grade)
NDCG_QUERIES = {
    "q_joins": ["hash", "join", "merge"],
    "q_streaming": ["stream", "window", "batch"],
    "q_scan": ["sort", "scan", "filter"],
    "q_rare": ["dup", "vector"],
}
NDCG_K = 10


def docs_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the BM25 ranking for a fixed query panel
    (operators/textstats.py:retrieval_ndcg) — graded relevance =
    distinct query terms present; harmonic discounts scaled by
    lcm(2..11) keep DCG numerators exact BIGINTs (the rational-idf
    discipline), so the metric is bit-gated."""
    return textstats.retrieval_ndcg(
        _docs(spark, sf_dir), NDCG_QUERIES, k=NDCG_K
    )


QUERIES["docs_ndcg_eval"] = docs_ndcg_eval

_NDCG_TERMS = sorted({t for ts in NDCG_QUERIES.values() for t in ts})
_NDCG_IN = ", ".join(f"'{t}'" for t in _NDCG_TERMS)
_NDCG_QMAP = ", ".join(
    f"('{q}', '{t}')"
    for q in sorted(NDCG_QUERIES)
    for t in sorted(set(NDCG_QUERIES[q]))
)
_LCM = 27_720  # textstats.NDCG_DISCOUNT_LCM

ORACLE_SQL["docs_ndcg_eval"] = f"""
    WITH tok AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
    base AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, tk FROM tok),
    corpus AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS BIGINT) AS t_tokens
        FROM base
    ),
    tf AS (
        SELECT doc_id, dl, t, CAST(count(*) AS BIGINT) AS tf FROM (
            SELECT doc_id, dl, unnest(tk) AS t FROM base) u
        WHERE t IN ({_NDCG_IN})
        GROUP BY 1, 2, 3
    ),
    dft AS (SELECT t, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY 1),
    qmap(qid, t) AS (VALUES {_NDCG_QMAP}),
    contrib AS (
        SELECT q.qid, doc_id,
               CAST(({_S} * (2 * (n_docs - df_t) + 1)) // (2 * df_t + 1)
                    AS HUGEINT) * 22 * tf * t_tokens
               // CAST(10 * tf * t_tokens + 3 * t_tokens + 9 * dl * n_docs
                       AS HUGEINT) AS c
        FROM tf JOIN dft USING (t) JOIN qmap q USING (t) CROSS JOIN corpus
    ),
    scored AS (
        SELECT qid, doc_id, CAST(count(*) AS BIGINT) AS rel,
               CAST(sum(c) AS DOUBLE) / CAST({_S} AS DOUBLE) AS bm25
        FROM contrib GROUP BY 1, 2
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY bm25 DESC, doc_id ASC) AS rn,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY rel DESC, doc_id ASC) AS ri
        FROM scored
    ),
    agg AS (
        SELECT qid, CAST(count(*) AS BIGINT) AS n_matched,
               CAST(sum(CASE WHEN rn <= {NDCG_K}
                             THEN rel * ({_LCM} // (rn + 1)) ELSE 0 END)
                    AS BIGINT) AS dcg_num,
               CAST(sum(CASE WHEN ri <= {NDCG_K}
                             THEN rel * ({_LCM} // (ri + 1)) ELSE 0 END)
                    AS BIGINT) AS idcg_num
        FROM ranked GROUP BY qid
    )
    SELECT qid, n_matched, dcg_num, idcg_num,
           CAST(dcg_num AS DOUBLE) / CAST(idcg_num AS DOUBLE) AS ndcg
    FROM agg
"""


#: labeling-function thresholds for the weak-label panel — chosen
#: against the corpus n_chars distribution (48..553, median ~306) so
#: every vote value actually occurs at test scales
WEAK_LEN_KEEP = 300
WEAK_LEN_DROP = 150


def docs_weak_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snorkel-style weak-supervision majority vote
    (operators/corpus.py:weak_label_votes) from three heuristic
    labeling functions: length (long → keep, short → drop, else
    abstain), target language (en → keep, else drop — never abstains),
    and lexical diversity (distinct/total tokens < 1/2 → drop, else
    abstain). Zero-shuffle per-row expressions; exact vote counts,
    one final divide for the confidence."""
    docs = _docs(spark, sf_dir)
    from sfcrimedatapipeline_spark.functions.text import tokens

    tk = tokens(F.col("text"))
    lfs = [
        (
            "length",
            F.when(F.col("n_chars") >= WEAK_LEN_KEEP, 1).when(
                F.col("n_chars") < WEAK_LEN_DROP, 0
            ),
        ),
        ("lang", (F.col("lang") == "en").cast("int")),
        (
            "diversity",
            F.when(F.size(F.array_distinct(tk)) * 2 < F.size(tk), 0),
        ),
    ]
    return corpus_ops.weak_label_votes(docs, lfs)


QUERIES["docs_weak_labels"] = docs_weak_labels

ORACLE_SQL["docs_weak_labels"] = f"""
    WITH v AS (
        SELECT doc_id,
               CASE WHEN n_chars >= {WEAK_LEN_KEEP} THEN 1
                    WHEN n_chars < {WEAK_LEN_DROP} THEN 0 END AS lf_length,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS lf_lang,
               CASE WHEN len(list_distinct({SQL_TOKENS})) * 2
                         < len({SQL_TOKENS}) THEN 0 END AS lf_diversity
        FROM documents
    ),
    agg AS (
        SELECT doc_id,
               (CASE WHEN lf_length = 1 THEN 1 ELSE 0 END
                + CASE WHEN lf_lang = 1 THEN 1 ELSE 0 END
                + CASE WHEN lf_diversity = 1 THEN 1 ELSE 0 END) AS n_keep,
               (CASE WHEN lf_length = 0 THEN 1 ELSE 0 END
                + CASE WHEN lf_lang = 0 THEN 1 ELSE 0 END
                + CASE WHEN lf_diversity = 0 THEN 1 ELSE 0 END) AS n_drop,
               (CASE WHEN lf_length IS NULL THEN 1 ELSE 0 END
                + CASE WHEN lf_lang IS NULL THEN 1 ELSE 0 END
                + CASE WHEN lf_diversity IS NULL THEN 1 ELSE 0 END) AS n_abstain
        FROM v
    )
    SELECT doc_id, n_keep, n_drop, n_abstain,
           CASE WHEN n_keep > n_drop THEN 'keep'
                WHEN n_drop > n_keep THEN 'drop'
                ELSE 'tie' END AS label,
           CASE WHEN n_keep + n_drop > 0
                THEN CAST(greatest(n_keep, n_drop) AS DOUBLE)
                     / CAST(n_keep + n_drop AS DOUBLE) END AS confidence
    FROM agg
"""


def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson lexical diversity per source: the probability two
    randomly drawn tokens differ, ``1 − Σ nᵢ(nᵢ−1) / (N(N−1))`` —
    the size-unbiased diversity index (unlike type-token ratio, it
    does not shrink with corpus growth), computed from EXACT BIGINT
    token counts with one double division. Two map-side-combined
    aggregates: (source, token) counts, then per-source sums — the
    vocabulary grain bounds the shuffle, never raw token rows."""
    docs = _docs(spark, sf_dir)
    from sfcrimedatapipeline_spark.functions.text import tokens

    tok = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("t")
    )
    counts = tok.groupBy("source", "t").agg(
        F.count("*").cast("long").alias("n")
    )
    nd = F.col("n").cast("decimal(38,0)")
    m = counts.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_distinct"),
        F.sum(nd * (nd - 1)).alias("same_pairs2"),
    )
    big_n = F.col("n_tokens").cast("double")
    return m.select(
        "source",
        "n_tokens",
        "n_distinct",
        (
            F.lit(1.0)
            - F.col("same_pairs2").cast("double") / (big_n * (big_n - F.lit(1.0)))
        ).alias("simpson_diversity"),
    )


QUERIES["text_simpson_diversity"] = text_simpson_diversity

ORACLE_SQL["text_simpson_diversity"] = f"""
    WITH tok AS (
        SELECT source, unnest({SQL_TOKENS}) AS t FROM documents
    ),
    counts AS (
        SELECT source, t, CAST(count(*) AS BIGINT) AS n
        FROM tok GROUP BY 1, 2
    ),
    m AS (
        SELECT source,
               CAST(sum(n) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_distinct,
               sum(CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) - 1))
                   AS same_pairs2
        FROM counts GROUP BY 1
    )
    SELECT source, n_tokens, n_distinct,
           1.0 - CAST(same_pairs2 AS DOUBLE)
                 / (CAST(n_tokens AS DOUBLE) * (CAST(n_tokens AS DOUBLE) - 1.0))
               AS simpson_diversity
    FROM m
"""
