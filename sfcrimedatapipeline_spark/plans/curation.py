"""Round-9c curation-gate and training-data-transform queries.

Three operators a pretraining data pipeline applies between "raw
corpus" and "trainable shards", each hash-gated against a DuckDB
oracle generated from the SAME Python constants as the Spark side:

- ``text_gopher_gate`` — the composed Gopher-style PASS/FAIL document
  filter (operators/textstats.py:gopher_gate): five exact-integer
  rules and the keep/drop verdict, where the existing
  ``text_quality``/``text_repetition`` queries expose raw signals.
- ``docs_fim_transform`` — fill-in-the-middle re-rendering
  (operators/corpus.py:fim_transform): hash-pivot PSM splits, the
  infilling objective's example layout.
- ``docs_sft_render`` — chat-template conversation assembly
  (operators/corpus.py:sft_render_conversations): ordered per-group
  string rendering into user/assistant dialogues.

Reference parity note: the reference pipeline
(/root/reference/dags/ELT.py) has no text-curation surface — these
belong to the LLM-training-data extension family the engine adds on
top (SURVEY.md §2.10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.functions.caching import (
    truncate_lineage,
    unpersist_when_released,
)
from sfcrimedatapipeline_spark.functions.hashing import sql_hash64
from sfcrimedatapipeline_spark.functions.partitioning import (
    ensure_min_partitions,
)
from sfcrimedatapipeline_spark.functions.text import (
    SQL_TOKENS,
    STOPWORDS,
    sql_tokens,
)
from sfcrimedatapipeline_spark.operators import corpus as corpus_ops
from sfcrimedatapipeline_spark.operators import textstats
from sfcrimedatapipeline_spark.plans.tpch import QueryFn
from sfcrimedatapipeline_spark.sources.tables import read_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ensure_min_partitions(read_table(spark, sf_dir, "documents"))


def text_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher gate verdict: five exact-integer rules +
    pass_all (operators/textstats.py:gopher_gate). The keep/drop
    decision table a curation pipeline feeds to the shard writer."""
    return textstats.gopher_gate(_docs(spark, sf_dir))


def docs_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIM PSM re-rendering per document with hash-pivot splits
    (operators/corpus.py:fim_transform) — segment lengths + rendered
    digest under the hash gate."""
    return corpus_ops.fim_transform(_docs(spark, sf_dir))


def docs_sft_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template SFT conversations from consecutive docs per
    source (operators/corpus.py:sft_render_conversations)."""
    return corpus_ops.sft_render_conversations(_docs(spark, sf_dir))


QUERIES: dict[str, QueryFn] = {
    "text_gopher_gate": text_gopher_gate,
    "docs_fim_transform": docs_fim_transform,
    "docs_sft_render": docs_sft_render,
}


def _gopher_oracle_sql() -> str:
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    dup_n, dup_d = textstats.GOPHER_MAX_DUP_FRAC
    top_n, top_d = textstats.GOPHER_MAX_TOP_FRAC
    return f"""
        WITH tok AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents),
        per AS (SELECT doc_id, unnest(toks) AS t FROM tok),
        grp AS (SELECT doc_id, t, count(*) AS c FROM per GROUP BY 1, 2),
        agg AS (
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS ntypes,
                   CAST(max(c) AS BIGINT) AS topc,
                   CAST(sum(c * length(t)) AS BIGINT) AS chars,
                   CAST(sum(CASE WHEN list_contains([{en}], t)
                            THEN c ELSE 0 END) AS BIGINT) AS stop
            FROM grp GROUP BY 1
        ),
        doc AS (
            SELECT tok.doc_id,
                   coalesce(total, 0) AS total,
                   coalesce(ntypes, 0) AS ntypes,
                   coalesce(topc, 0) AS topc,
                   coalesce(chars, 0) AS chars,
                   coalesce(stop, 0) AS stop
            FROM tok LEFT JOIN agg ON tok.doc_id = agg.doc_id
        )
        SELECT doc_id,
               (total BETWEEN {textstats.GOPHER_MIN_TOKENS}
                          AND {textstats.GOPHER_MAX_TOKENS}) AS r_tokens,
               (total > 0
                AND chars >= {textstats.GOPHER_MIN_MEAN_LEN} * total
                AND chars <= {textstats.GOPHER_MAX_MEAN_LEN} * total)
                   AS r_wordlen,
               (total > 0
                AND (total - ntypes) * {dup_d} <= {dup_n} * total) AS r_dup,
               (total > 0 AND topc * {top_d} <= {top_n} * total) AS r_top,
               (stop >= {textstats.GOPHER_MIN_STOPWORDS}) AS r_stopword,
               ((total BETWEEN {textstats.GOPHER_MIN_TOKENS}
                           AND {textstats.GOPHER_MAX_TOKENS})
                AND (total > 0
                     AND chars >= {textstats.GOPHER_MIN_MEAN_LEN} * total
                     AND chars <= {textstats.GOPHER_MAX_MEAN_LEN} * total)
                AND (total > 0 AND (total - ntypes) * {dup_d}
                                   <= {dup_n} * total)
                AND (total > 0 AND topc * {top_d} <= {top_n} * total)
                AND (stop >= {textstats.GOPHER_MIN_STOPWORDS})) AS pass_all
        FROM doc
    """


def _fim_oracle_sql() -> str:
    h1 = sql_hash64("doc_id", str(corpus_ops.FIM_SEED_P1))
    h2 = sql_hash64("doc_id", str(corpus_ops.FIM_SEED_P2))
    pre = corpus_ops.FIM_PREFIX_TOK
    suf = corpus_ops.FIM_SUFFIX_TOK
    mid = corpus_ops.FIM_MIDDLE_TOK
    return f"""
        WITH tok AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents),
        n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM tok),
        p1cte AS (
            SELECT doc_id, toks, n, ({h1}) % (n + 1) AS p1 FROM n
        ),
        p2cte AS (
            SELECT doc_id, toks, n, p1,
                   p1 + ({h2}) % (n - p1 + 1) AS p2
            FROM p1cte
        )
        SELECT doc_id,
               p1 AS n_prefix,
               p2 - p1 AS n_middle,
               n - p2 AS n_suffix,
               md5('{pre}'
                   || coalesce(array_to_string(
                          toks[1:CAST(p1 AS INTEGER)], ' '), '')
                   || '{suf}'
                   || coalesce(array_to_string(
                          toks[CAST(p2 + 1 AS INTEGER):CAST(n AS INTEGER)],
                          ' '), '')
                   || '{mid}'
                   || coalesce(array_to_string(
                          toks[CAST(p1 + 1 AS INTEGER):CAST(p2 AS INTEGER)],
                          ' '), '')) AS fim_digest
        FROM p2cte
    """


def _sft_oracle_sql() -> str:
    user_m, asst_m = corpus_ops.SFT_ROLE_MARKERS
    t = corpus_ops.SFT_TURNS_PER_CONV
    return f"""
        WITH ranked AS (
            SELECT source, doc_id, text,
                   CAST(row_number() OVER (
                       PARTITION BY source ORDER BY doc_id
                   ) - 1 AS BIGINT) AS rnk,
                   CAST(len({SQL_TOKENS}) AS BIGINT) AS ntok
            FROM documents
        ),
        turns AS (
            SELECT source,
                   rnk // {t} AS conv_seq,
                   rnk,
                   (CASE WHEN rnk % 2 = 0 THEN '{user_m}'
                         ELSE '{asst_m}' END) || text AS turn,
                   ntok
            FROM ranked
        )
        SELECT source, conv_seq,
               CAST(count(*) AS BIGINT) AS n_turns,
               CAST(sum(ntok) AS BIGINT) AS total_tokens,
               md5(string_agg(turn, '' ORDER BY rnk)) AS sft_digest
        FROM turns GROUP BY source, conv_seq
    """


ORACLE_SQL: dict[str, str] = {
    "text_gopher_gate": _gopher_oracle_sql(),
    "docs_fim_transform": _fim_oracle_sql(),
    "docs_sft_render": _sft_oracle_sql(),
}


def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction per document
    (operators/textstats.py:rake_keywords): stopword-delimited
    candidate phrases scored by Σ deg(w)/freq(w), top-3 per doc under
    the hash gate — the unsupervised doc-labeling op beside TF-IDF's
    corpus-relative terms (RAKE is document-local: no corpus pass)."""
    return textstats.rake_keywords(_docs(spark, sf_dir))


QUERIES["text_rake_keywords"] = text_rake_keywords


def _rake_oracle_sql() -> str:
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    k = textstats.RAKE_TOP_K
    return f"""
        WITH tok AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents),
        pos AS (
            SELECT doc_id,
                   unnest([{{'p': i, 'w': toks[i]}}
                           FOR i IN generate_series(1, len(toks))],
                          recursive := true)
            FROM tok
        ),
        marked AS (
            SELECT doc_id, p, w,
                   list_contains([{en}], w) AS stop,
                   sum(CASE WHEN list_contains([{en}], w) THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY p) AS ph
            FROM pos
        ),
        members AS (
            SELECT doc_id, ph, p, w FROM marked WHERE NOT stop
        ),
        phrases AS (
            SELECT doc_id, ph,
                   CAST(count(*) AS BIGINT) AS plen,
                   string_agg(w, ' ' ORDER BY p) AS phrase
            FROM members GROUP BY doc_id, ph
        ),
        wordstats AS (
            SELECT m.doc_id, m.w,
                   CAST(count(*) AS BIGINT) AS freq,
                   CAST(sum(ph2.plen) AS BIGINT) AS deg
            FROM members m
            JOIN phrases ph2 ON m.doc_id = ph2.doc_id AND m.ph = ph2.ph
            GROUP BY m.doc_id, m.w
        ),
        scored AS (
            SELECT m.doc_id, m.ph,
                   list_sum(list(CAST(ws.deg AS DOUBLE)
                                 / CAST(ws.freq AS DOUBLE)
                            ORDER BY m.p)) AS score
            FROM members m
            JOIN wordstats ws ON m.doc_id = ws.doc_id AND m.w = ws.w
            GROUP BY m.doc_id, m.ph
        )
        SELECT doc_id, CAST(rank AS INTEGER) AS rank, phrase, score
        FROM (
            SELECT s.doc_id, s.score, p.phrase,
                   ROW_NUMBER() OVER (PARTITION BY s.doc_id
                       ORDER BY s.score DESC, p.phrase ASC) AS rank
            FROM scored s
            JOIN phrases p ON s.doc_id = p.doc_id AND s.ph = p.ph
        ) r WHERE rank <= {k}
    """


ORACLE_SQL["text_rake_keywords"] = _rake_oracle_sql()


def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation funnel under ONE hash: raw corpus →
    Gopher gate (quality keep/drop) → near-dup collapse among the
    SURVIVORS (MinHash pair graph + CC map; keeper = lowest
    surviving doc id per component, docs outside any dup component are
    unique and kept) — the composed filter-then-dedup pass every
    pretraining pipeline runs, with per-source retention accounting
    at each stage (doc counts + exact char volumes).

    Gate-sharing: the quality stage IS text_gopher_gate's operator and
    the dedup stage is the default connected components over
    plans/corpus_queries._dup_pairs (dedup_clusters' map); the oracle
    composes the same two oracle builders textually.

    Note the stage order matters and is pinned by the oracle: dedup
    runs AMONG GATE SURVIVORS, so a cluster whose best doc failed the
    gate elects a new surviving keeper rather than dropping the whole
    cluster."""
    from sfcrimedatapipeline_spark.plans.corpus_queries import _dup_pairs

    docs = _docs(spark, sf_dir)
    gate = textstats.gopher_gate(docs).select("doc_id", "pass_all")
    base = docs.select("doc_id", "source", "n_chars").join(gate, "doc_id")
    survivors = base.filter(F.col("pass_all"))
    pairs = _dup_pairs(spark, sf_dir).persist()
    cc = corpus_ops.connected_components(pairs)
    with_cc = survivors.join(cc, "doc_id", "left")
    keeper_min = (
        with_cc.filter(F.col("canonical_id").isNotNull())
        .groupBy("canonical_id")
        .agg(F.min("doc_id").alias("__keep_id"))
    )
    kept = with_cc.join(
        keeper_min, "canonical_id", "left"
    ).withColumn(
        "__kept",
        F.col("canonical_id").isNull()
        | (F.col("doc_id") == F.col("__keep_id")),
    )
    zero = F.lit(0).cast("long")
    out = (
        base.select("doc_id", "source", "n_chars", "pass_all")
        .join(kept.select("doc_id", "__kept"), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_raw"),
            F.sum(F.when(F.col("pass_all"), 1).otherwise(0))
            .cast("long")
            .alias("n_gopher_pass"),
            F.coalesce(
                F.sum(F.when(F.col("__kept"), 1).otherwise(0)).cast("long"),
                zero,
            ).alias("n_unique_kept"),
            F.sum("n_chars").cast("long").alias("chars_raw"),
            F.coalesce(
                F.sum(F.when(F.col("__kept"), F.col("n_chars")).otherwise(0))
                .cast("long"),
                zero,
            ).alias("chars_kept"),
        )
    )
    return unpersist_when_released(out, pairs)


QUERIES["corpus_curation_funnel"] = corpus_curation_funnel


def _funnel_oracle_sql() -> str:
    from sfcrimedatapipeline_spark.plans.corpus_queries import _cc_oracle_sql

    return f"""
        WITH gate AS ({_gopher_oracle_sql()}),
        cc AS ({_cc_oracle_sql()}),
        base AS (
            SELECT d.doc_id, d.source, d.n_chars, g.pass_all
            FROM documents d JOIN gate g ON d.doc_id = g.doc_id
        ),
        survivors AS (SELECT * FROM base WHERE pass_all),
        with_cc AS (
            SELECT s.*, cc.canonical_id
            FROM survivors s LEFT JOIN cc ON s.doc_id = cc.doc_id
        ),
        keeper_min AS (
            SELECT canonical_id, min(doc_id) AS keep_id
            FROM with_cc WHERE canonical_id IS NOT NULL
            GROUP BY canonical_id
        ),
        kept AS (
            SELECT w.doc_id,
                   (w.canonical_id IS NULL OR w.doc_id = k.keep_id) AS kept
            FROM with_cc w
            LEFT JOIN keeper_min k ON w.canonical_id = k.canonical_id
        )
        SELECT b.source,
               CAST(count(*) AS BIGINT) AS n_raw,
               CAST(sum(CASE WHEN b.pass_all THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_gopher_pass,
               CAST(coalesce(sum(CASE WHEN k.kept THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_unique_kept,
               CAST(sum(b.n_chars) AS BIGINT) AS chars_raw,
               CAST(coalesce(sum(CASE WHEN k.kept THEN b.n_chars ELSE 0 END),
                             0) AS BIGINT) AS chars_kept
        FROM base b LEFT JOIN kept k ON b.doc_id = k.doc_id
        GROUP BY b.source
    """


ORACLE_SQL["corpus_curation_funnel"] = _funnel_oracle_sql()


#: SFT pack budget: ~4 conversations per training context
SFT_PACK_CAP = 1024


def corpus_sft_packs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed SFT shard chain under ONE hash: chat-template
    rendering (docs_sft_render) → first-fit token-budget packing into
    ~SFT_PACK_CAP-token training contexts (the pack_sequences
    semantics: a conversation opens a new bin when the tokens BEFORE
    it fill the cap, packing per SOURCE — the natural shard key, so no
    global running sum ever forms) → per-pack assembly digest (md5 of
    member digests in conversation order). The corpus_denoise_shards
    precedent applied to the SFT path: what a fine-tuning data build
    actually ships.

    Scale shape: one per-source window over the CONVERSATION grain
    (already ~4× smaller than docs), one groupBy(source, bin) whose
    order-pinned digest rides array_sort(collect_list(struct)) —
    cumulative-sum division by a power of two is exact, so bin
    boundaries are engine-identical."""
    from pyspark.sql import Window

    convs = corpus_ops.sft_render_conversations(_docs(spark, sf_dir))
    w = (
        Window.partitionBy("source")
        .orderBy("conv_seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(
        F.sum("total_tokens").over(w), F.lit(0).cast("long")
    )
    binned = convs.withColumn(
        "bin_id", F.floor(cum_before / F.lit(SFT_PACK_CAP)).cast("long")
    )
    return (
        binned.groupBy("source", "bin_id")
        .agg(
            F.count("*").cast("long").alias("n_convs"),
            F.sum("total_tokens").cast("long").alias("pack_tokens"),
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("conv_seq", "sft_digest"))
                        ),
                        lambda s: s["sft_digest"],
                    ),
                )
            ).alias("pack_digest"),
        )
        .select("source", "bin_id", "n_convs", "pack_tokens", "pack_digest")
    )


QUERIES["corpus_sft_packs"] = corpus_sft_packs

ORACLE_SQL["corpus_sft_packs"] = f"""
    WITH convs AS ({_sft_oracle_sql()}),
    binned AS (
        SELECT source, conv_seq, total_tokens, sft_digest,
               CAST(floor(coalesce(sum(total_tokens) OVER (
                       PARTITION BY source ORDER BY conv_seq
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) / {SFT_PACK_CAP}) AS BIGINT) AS bin_id
        FROM convs
    )
    SELECT source, bin_id,
           CAST(count(*) AS BIGINT) AS n_convs,
           CAST(sum(total_tokens) AS BIGINT) AS pack_tokens,
           md5(string_agg(sft_digest, '' ORDER BY conv_seq)) AS pack_digest
    FROM binned GROUP BY source, bin_id
"""


# --------------------------------------------------------------- round 10
# URL / domain curation (VERDICT r9 #4). The documents fixture carries
# no URL column, so one is PLANTED deterministically from doc_id — the
# planted-twin precedent (plans/llmops.py:_planted_emb_sql): both
# engines derive bit-identical URLs from the same md5 formula
# (functions/hashing.py), so the canonicalize/dedup/cap/blocklist
# layer is value-hash gated end-to-end. Every URL_GROUP consecutive
# docs share one canonical target URL; per-doc cosmetic noise (scheme
# case, www variants, default ports, tracking params, fragments,
# trailing slashes) exercises every canonicalization rule.

from sfcrimedatapipeline_spark.functions.hashing import portable_hash64
from sfcrimedatapipeline_spark.operators import urls as url_ops

URL_GROUP = 3
URL_SEED_GROUP = 101  # group-level hash → domain/scheme/path
URL_SEED_NOISE = 102  # doc-level hash → cosmetic noise variants
#: 5 keeps every stage of the funnel ACTIVE at the sf0.01 gate (after
#: the blocklist removes the heaviest domains, the biggest surviving
#: domain holds 7 eligible docs there)
DOMAIN_CAP_K = 5
#: the heaviest planted domains (quadratic skew: dom 0 absorbs ~10% of
#: groups, dom 1 ~5%) across all three TLD variants
URL_BLOCKLIST = ["site0.com", "site0.org", "site0.net", "site1.com"]

_SUBS = ["", "www.", "WWW.", "Www."]
_TLDS = ["com", "org", "net"]
_QSFX = ["", "?utm_source=rss", "?q=7&utm_campaign=z"]


def _with_url(docs: DataFrame) -> DataFrame:
    """documents + planted ``url`` (module note). All integer/string
    Catalyst expressions; the skewed domain id is (t*t) div 100 over
    t = h mod 100, so low domain ids absorb quadratically more mass —
    the per-domain cap has real work at every SF."""
    d = docs.withColumn("__ukey", F.expr(f"doc_id div {URL_GROUP}"))
    d = d.withColumn("__h", portable_hash64(F.col("__ukey"), URL_SEED_GROUP))
    d = d.withColumn("__hd", portable_hash64(F.col("doc_id"), URL_SEED_NOISE))
    d = d.withColumn("__t", F.expr("pmod(__h, 100)"))
    scheme = F.when(F.expr("pmod(__h div 300, 4)") == 0, F.lit("https")).otherwise(
        F.lit("http")
    )
    host = F.concat(
        F.lit("site"),
        F.expr("(__t * __t) div 100").cast("string"),
        F.lit("."),
        F.element_at(
            F.array(*[F.lit(t) for t in _TLDS]),
            (F.expr("pmod(__h div 100, 3)") + 1).cast("int"),
        ),
    )
    sub = F.element_at(
        F.array(*[F.lit(s) for s in _SUBS]),
        (F.expr("pmod(__hd, 4)") + 1).cast("int"),
    )
    scheme_var = F.when(
        F.expr("pmod(__hd div 5, 3)") == 0, F.upper(scheme)
    ).otherwise(scheme)
    port = F.when(
        F.expr("pmod(__hd div 7, 3)") == 0,
        F.when(scheme == "https", F.lit(":443")).otherwise(F.lit(":80")),
    ).otherwise(F.lit(""))
    qsfx = F.element_at(
        F.array(*[F.lit(q) for q in _QSFX]),
        (F.expr("pmod(__hd div 11, 3)") + 1).cast("int"),
    )
    frag = F.when(F.expr("pmod(__hd div 13, 2)") == 1, F.lit("#sec")).otherwise(
        F.lit("")
    )
    tslash = F.when(F.expr("pmod(__hd div 17, 2)") == 1, F.lit("/")).otherwise(
        F.lit("")
    )
    url = F.concat(
        scheme_var,
        F.lit("://"),
        sub,
        host,
        port,
        F.lit("/doc/"),
        F.col("__ukey").cast("string"),
        tslash,
        qsfx,
        frag,
    )
    # a deterministic ~3% slice gets a NON-hierarchical URL (urn:
    # scheme, no '://' host) keyed on the GROUP id, so the
    # NULL-domain path — raw-string passthrough, never blocked,
    # never domain-capped, dedup on the raw form — is exercised by
    # the gate instead of staying latent (ADVICE r11)
    url = F.when(
        F.expr("pmod(__hd div 19, 29)") == 0,
        F.concat(F.lit("urn:doc:"), F.col("__ukey").cast("string")),
    ).otherwise(url)
    return d.withColumn("url", url).drop("__ukey", "__h", "__hd", "__t")


def _url_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + planted ``url``, MATERIALIZED behind a
    ``localCheckpoint`` barrier (LogicalRDD).

    The barrier is load-bearing, not a cache nicety (VERDICT r11 #1 /
    "What's wrong" #3): when the planted-url EXPRESSION flows into the
    canonicalizer unmaterialized, the optimizer inlines the whole
    ~40-node concat/CASE tree into EVERY ``regexp_extract`` reference
    — ``web_dispositions``' composed filter repeats it dozens of
    times, the generated whole-stage method passes 64 KB of bytecode,
    Janino refuses to compile (``Code grows beyond 64 KB``), and Spark
    silently falls back to INTERPRETED execution (the Janino stack in
    the r11 driver bench tail — identified by tools/codegen_audit.py).
    Materializing the url column reproduces the DEPLOYMENT shape
    exactly — a real crawl reads ``url`` as a physical parquet column
    — and every downstream stage compiles. ``localCheckpoint`` persists
    at the RDD layer, which ``spark.catalog.clearCache()`` (the gate
    runs it between queries) does not clear, so the barrier cannot
    silently vanish mid-query."""
    return truncate_lineage(_with_url(_docs(spark, sf_dir)))


def docs_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw planted URL → canonical URL + domain per document
    (operators/urls.py:canonical_url — every rule exercised by the
    planted noise variants)."""
    d = _url_docs(spark, sf_dir)
    return d.select(
        "doc_id",
        "url",
        url_ops.canonical_url(F.col("url")).alias("canonical_url"),
        url_ops.url_domain(F.col("url")).alias("domain"),
    ).orderBy("doc_id")


def dedup_url_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL exact dedup report (operators/urls.py:
    url_exact_dedup): canonical URLs with ≥2 docs, kept id, copies."""
    d = _url_docs(spark, sf_dir)
    return url_ops.url_exact_dedup(d).orderBy("canonical_url")


def docs_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain C4-style cap report: the salted two-phase top-K
    (operators/urls.py:domain_cap) keeps the DOMAIN_CAP_K lowest doc
    ids per domain; the report carries the kept-id checksum so the
    gate pins the kept SET, not just its size."""
    d = _url_docs(spark, sf_dir).withColumn(
        "domain", url_ops.url_domain(F.col("url"))
    )
    totals = d.groupBy("domain").agg(F.count("*").cast("long").alias("n_docs"))
    # NULL-domain docs (non-hierarchical URLs) are NEVER capped — they
    # have no domain key (web_dispositions semantics, ADVICE r11) — so
    # they are all kept; the cap ranks only the domain-keyed docs
    kept = url_ops.domain_cap(
        d.filter(F.col("domain").isNotNull()).select("doc_id", "domain"),
        cap=DOMAIN_CAP_K,
    ).unionByName(
        d.filter(F.col("domain").isNull()).select("doc_id", "domain")
    )
    kstats = kept.groupBy("domain").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("kept_id_sum"),
        F.max("doc_id").cast("long").alias("max_kept_id"),
    )
    return (
        totals.join(
            kstats.withColumnRenamed("domain", "__kdom"),
            totals["domain"].eqNullSafe(F.col("__kdom")),
            "left",
        )
        .select(
            "domain",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("kept_id_sum", F.lit(0)).cast("long").alias("kept_id_sum"),
            F.coalesce("max_kept_id", F.lit(-1)).cast("long").alias("max_kept_id"),
        )
        .orderBy("domain")
    )


def docs_web_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed web-curation funnel under ONE hash
    (operators/urls.py:web_dispositions): blocklist → URL dedup →
    domain cap → kept, one disposition per document (the
    curate_corpus report contract, so sum(n_docs) == corpus size)."""
    d = _url_docs(spark, sf_dir)
    flagged = url_ops.web_dispositions(
        d, blocklist=URL_BLOCKLIST, cap=DOMAIN_CAP_K
    )
    return (
        flagged.groupBy(F.col("__disp").alias("disposition"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
        .orderBy("disposition")
    )


QUERIES["docs_url_canonicalize"] = docs_url_canonicalize
QUERIES["dedup_url_exact"] = dedup_url_exact
QUERIES["docs_domain_cap"] = docs_domain_cap
QUERIES["docs_web_curation"] = docs_web_curation


def _url_sql() -> str:
    """DuckDB twin of _with_url — same md5 formula, same literals."""
    h = sql_hash64(f"(doc_id // {URL_GROUP})", str(URL_SEED_GROUP))
    hd = sql_hash64("doc_id", str(URL_SEED_NOISE))
    subs = "[" + ", ".join(f"'{s}'" for s in _SUBS) + "]"
    tlds = "[" + ", ".join(f"'{t}'" for t in _TLDS) + "]"
    qsfx = "[" + ", ".join(f"'{q}'" for q in _QSFX) + "]"
    return f"""
        SELECT doc_id,
               CASE WHEN (hd // 19) % 29 = 0
                    THEN 'urn:doc:' || CAST(doc_id // {URL_GROUP} AS VARCHAR)
                    ELSE
               (CASE WHEN (hd // 5) % 3 = 0 THEN upper(scheme) ELSE scheme END)
               || '://'
               || {subs}[CAST(hd % 4 AS INTEGER) + 1]
               || 'site' || CAST((t * t) // 100 AS VARCHAR)
               || '.' || {tlds}[CAST((h // 100) % 3 AS INTEGER) + 1]
               || (CASE WHEN (hd // 7) % 3 = 0
                        THEN (CASE WHEN scheme = 'https'
                                   THEN ':443' ELSE ':80' END)
                        ELSE '' END)
               || '/doc/' || CAST(doc_id // {URL_GROUP} AS VARCHAR)
               || (CASE WHEN (hd // 17) % 2 = 1 THEN '/' ELSE '' END)
               || {qsfx}[CAST((hd // 11) % 3 AS INTEGER) + 1]
               || (CASE WHEN (hd // 13) % 2 = 1 THEN '#sec' ELSE '' END)
               END AS url
        FROM (
            SELECT doc_id, h, hd, h % 100 AS t,
                   CASE WHEN (h // 300) % 4 = 0 THEN 'https' ELSE 'http' END
                   AS scheme
            FROM (SELECT doc_id, {h} AS h, {hd} AS hd FROM documents) hh
        ) parts
    """


def _canon_sql() -> str:
    """DuckDB twin of operators/urls.py:canonical_url/url_domain over
    the planted-url CTE ``u`` — same regexes (module constants),
    including the non-hierarchical guard (hostport '' → raw URL
    passthrough + NULL domain) and the fragment-anchored query
    capture (ADVICE r10)."""
    track = url_ops.TRACKING_PARAM_RE
    qcap = url_ops.QUERY_CAPTURE_RE
    scheme = "lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1))"
    hostport = (
        "lower(regexp_extract(url,"
        " '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]+)', 1))"
    )
    return f"""
        SELECT doc_id, url,
               CASE WHEN hostport <> ''
                    THEN scheme || '://' || host || path
                         || (CASE WHEN q <> '' THEN '?' || q ELSE '' END)
                    ELSE url END
               AS canonical_url,
               CASE WHEN hostport <> '' THEN host END AS domain
        FROM (
            SELECT doc_id, url, scheme, hostport,
                   regexp_replace(
                       CASE WHEN scheme = 'http'
                            THEN regexp_replace(hostport, ':80$', '')
                            WHEN scheme = 'https'
                            THEN regexp_replace(hostport, ':443$', '')
                            ELSE hostport END,
                       '^www\\.', '') AS host,
                   regexp_replace(
                       regexp_extract(url,
                           '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]+([^?#]*)', 1),
                       '/+$', '') AS path,
                   array_to_string(
                       list_filter(string_split(
                           regexp_extract(url, '{qcap}', 1), '&'),
                           x -> NOT regexp_matches(x, '{track}')
                                AND x <> ''),
                       '&') AS q
            FROM (
                SELECT doc_id, url, {scheme} AS scheme, {hostport} AS hostport
                FROM u
            ) split
        ) canon
    """


ORACLE_SQL["docs_url_canonicalize"] = f"""
    WITH u AS MATERIALIZED ({_url_sql()})
    SELECT doc_id, url, canonical_url, domain
    FROM ({_canon_sql()}) c
    ORDER BY doc_id
"""

ORACLE_SQL["dedup_url_exact"] = f"""
    WITH u AS MATERIALIZED ({_url_sql()})
    SELECT canonical_url,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM ({_canon_sql()}) c
    GROUP BY canonical_url
    HAVING count(*) >= 2
    ORDER BY canonical_url
"""

ORACLE_SQL["docs_domain_cap"] = f"""
    WITH u AS MATERIALIZED ({_url_sql()}),
    c AS MATERIALIZED (SELECT doc_id, domain FROM ({_canon_sql()}) cc),
    ranked AS (
        SELECT doc_id, domain,
               row_number() OVER (PARTITION BY domain ORDER BY doc_id)
               AS rn
        FROM c WHERE domain IS NOT NULL
    )
    SELECT c.domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN r.rn <= {DOMAIN_CAP_K} OR c.domain IS NULL
                         THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN r.rn <= {DOMAIN_CAP_K} OR c.domain IS NULL
                         THEN c.doc_id
                         ELSE 0 END) AS BIGINT) AS kept_id_sum,
           CAST(max(CASE WHEN r.rn <= {DOMAIN_CAP_K} OR c.domain IS NULL
                         THEN c.doc_id
                         ELSE -1 END) AS BIGINT) AS max_kept_id
    FROM c LEFT JOIN ranked r ON c.doc_id = r.doc_id
    GROUP BY c.domain
    ORDER BY c.domain
"""

_BLOCK_IN = ", ".join(f"'{b}'" for b in URL_BLOCKLIST)


def _web_disp_sql() -> str:
    """Reusable CTE CHAIN (to splice after a ``u`` planted-url CTE):
    ends in ``wdisp AS (... doc_id, domain, disposition ...)`` — the
    oracle twin of operators/urls.py:web_dispositions, shared verbatim
    by docs_web_curation and the composed corpus_web_e2e (the funnel
    textual-composition precedent)."""
    return f"""wcanon AS MATERIALIZED (
        SELECT doc_id, canonical_url, domain,
               coalesce(domain IN ({_BLOCK_IN}), FALSE) AS blocked
        FROM ({_canon_sql()}) cc0
    ),
    wkeepers AS (
        SELECT canonical_url, min(doc_id) AS keep_id
        FROM wcanon WHERE NOT blocked GROUP BY canonical_url
    ),
    wflagged AS (
        SELECT c.doc_id, c.domain, c.blocked,
               (NOT c.blocked AND c.doc_id <> k.keep_id) AS is_dup
        FROM wcanon c LEFT JOIN wkeepers k
          ON c.canonical_url = k.canonical_url
    ),
    wranked AS (
        SELECT doc_id,
               row_number() OVER (PARTITION BY domain ORDER BY doc_id)
               AS rn
        FROM wflagged
        WHERE NOT blocked AND NOT is_dup AND domain IS NOT NULL
    ),
    wdisp AS (
        SELECT f.doc_id, f.domain,
               CASE WHEN f.blocked THEN 'blocked_domain'
                    WHEN f.is_dup THEN 'url_duplicate'
                    WHEN (r.rn IS NULL OR r.rn > {DOMAIN_CAP_K})
                         AND f.domain IS NOT NULL
                         THEN 'domain_capped'
                    ELSE 'kept' END AS disposition
        FROM wflagged f LEFT JOIN wranked r ON f.doc_id = r.doc_id
    )"""


ORACLE_SQL["docs_web_curation"] = f"""
    WITH u AS MATERIALIZED ({_url_sql()}),
    {_web_disp_sql()}
    SELECT disposition,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM wdisp GROUP BY disposition ORDER BY disposition
"""


#: greedy per-domain token budget: the heaviest unblocked domain holds
#: ~600 tokens at the sf0.01 gate, so 300 forces real drops there
DOMAIN_TOKEN_BUDGET = 300


def docs_domain_token_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cap by TOKEN budget instead of document count: within
    each domain, keep documents (in doc_id order — crawl order in a
    real pipeline) while the RUNNING token total stays ≤
    DOMAIN_TOKEN_BUDGET. The report pins the kept set exactly: per
    domain, doc/kept counts plus exact kept/total token sums.

    Scale shape: one codegen'd projection for domain + token count,
    then ONE window partitioned by domain (a running sum — unlike the
    top-K cap, a greedy prefix fold is order-dependent across the
    whole domain, so it cannot salt-split; the skew bound is the
    domain's own cardinality, and a deployment that caps by tokens on
    a billion-doc domain should apply docs_domain_cap's count cap
    first — the composition bounds this window's partition to
    DOMAIN_CAP_K rows), and a map-side-combined rollup."""
    from pyspark.sql import Window

    from sfcrimedatapipeline_spark.functions.text import tokens

    d = (
        _url_docs(spark, sf_dir)
        .withColumn("domain", url_ops.url_domain(F.col("url")))
        .withColumn("n_tokens", F.size(tokens(F.col("text"))).cast("long"))
    )
    w = (
        Window.partitionBy("domain")
        .orderBy(F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = d.withColumn(
        "__kept", F.sum("n_tokens").over(w) <= DOMAIN_TOKEN_BUDGET
    )
    return (
        flagged.groupBy("domain")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("__kept").cast("long")).cast("long").alias("n_kept"),
            F.sum(F.when(F.col("__kept"), F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("domain")
    )


def docs_domain_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain web-corpus health report — the 'which domains are
    worth crawling' table: doc count, distinct canonical URLs (their
    gap = the domain's duplication mass), distinct languages, exact
    token volume. One groupBy on the domain key; countDistinct
    expands map-side like every profile query."""
    from sfcrimedatapipeline_spark.functions.text import tokens

    d = (
        _url_docs(spark, sf_dir)
        .withColumn("domain", url_ops.url_domain(F.col("url")))
        .withColumn("canonical_url", url_ops.canonical_url(F.col("url")))
        .withColumn("n_tokens", F.size(tokens(F.col("text"))).cast("long"))
    )
    return (
        d.groupBy("domain")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("canonical_url").cast("long").alias("n_urls"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("domain")
    )


QUERIES["docs_domain_token_cap"] = docs_domain_token_cap
QUERIES["docs_domain_profile"] = docs_domain_profile

# token count over the aliased documents side — built from the SHARED
# parameterized tokenizer builder so the Spark tokens() and every
# oracle move together (ADVICE r10: the earlier
# SQL_TOKENS.replace('text', 'd.text') substring surgery would
# silently corrupt if the fragment ever gained another 'text')
_TOKN = f"CAST(len({sql_tokens('d.text')}) AS BIGINT)"

ORACLE_SQL["docs_domain_token_cap"] = f"""
    WITH u AS MATERIALIZED ({_url_sql()}),
    c AS (
        SELECT cc.doc_id, cc.domain, {_TOKN} AS n_tokens
        FROM ({_canon_sql()}) cc JOIN documents d ON cc.doc_id = d.doc_id
    ),
    runsum AS (
        SELECT doc_id, domain, n_tokens,
               sum(n_tokens) OVER (PARTITION BY domain ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING)
                   <= {DOMAIN_TOKEN_BUDGET} AS kept
        FROM c
    )
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT)
               AS kept_tokens,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM runsum GROUP BY domain ORDER BY domain
"""

ORACLE_SQL["docs_domain_profile"] = f"""
    WITH u AS MATERIALIZED ({_url_sql()})
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
           CAST(sum({_TOKN}) AS BIGINT)
               AS total_tokens
    FROM ({_canon_sql()}) cc JOIN documents d ON cc.doc_id = d.doc_id
    GROUP BY domain ORDER BY domain
"""


def corpus_web_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE web-corpus pipeline under ONE hash — every stage a
    real pretraining crawl-to-corpus pass runs, in order: URL
    blocklist → canonical-URL dedup → per-domain cap
    (operators/urls.py:web_dispositions) → Gopher quality gate among
    the web-kept (operators/textstats.py:gopher_gate) → MinHash
    near-dup collapse among the gate survivors (the full-corpus
    CC map, keeper = lowest SURVIVING member — the
    corpus_curation_funnel election semantics) → per-DOMAIN yield
    accounting with exact char volumes.

    Composition contract: each stage is the already-gated operator
    (zero re-implementation), and the oracle splices the same four
    oracle builders textually (_web_disp_sql, _gopher_oracle_sql,
    _cc_oracle_sql, the planted-url CTE) — so this query failing while
    its stages pass isolates a composition bug, the funnel precedent.
    """
    from sfcrimedatapipeline_spark.plans.corpus_queries import _dup_pairs

    docs = _docs(spark, sf_dir)
    webbed = url_ops.web_dispositions(
        _url_docs(spark, sf_dir), blocklist=URL_BLOCKLIST, cap=DOMAIN_CAP_K
    ).select(
        "doc_id",
        "domain",
        "n_chars",
        (F.col("__disp") == "kept").alias("web_kept"),
    )
    gate = textstats.gopher_gate(docs).select("doc_id", "pass_all")
    # read twice: the survivors' dedup branch and the final rollup
    base = webbed.join(gate, "doc_id").persist()
    survivors = base.filter(F.col("web_kept") & F.col("pass_all"))
    pairs = _dup_pairs(spark, sf_dir).persist()
    cc = corpus_ops.connected_components(pairs)
    with_cc = survivors.join(cc, "doc_id", "left")
    keeper_min = (
        with_cc.filter(F.col("canonical_id").isNotNull())
        .groupBy("canonical_id")
        .agg(F.min("doc_id").alias("__keep_id"))
    )
    kept = with_cc.join(keeper_min, "canonical_id", "left").withColumn(
        "__kept",
        F.col("canonical_id").isNull()
        | (F.col("doc_id") == F.col("__keep_id")),
    )
    zero = F.lit(0).cast("long")
    out = (
        base.join(kept.select("doc_id", "__kept"), "doc_id", "left")
        .groupBy("domain")
        .agg(
            F.count("*").cast("long").alias("n_raw"),
            F.sum(F.when(F.col("web_kept"), 1).otherwise(0))
            .cast("long")
            .alias("n_web_kept"),
            F.sum(F.when(F.col("web_kept") & F.col("pass_all"), 1).otherwise(0))
            .cast("long")
            .alias("n_gopher_pass"),
            F.coalesce(
                F.sum(F.when(F.col("__kept"), 1).otherwise(0)).cast("long"),
                zero,
            ).alias("n_unique_kept"),
            F.sum("n_chars").cast("long").alias("chars_raw"),
            F.coalesce(
                F.sum(F.when(F.col("__kept"), F.col("n_chars")).otherwise(0))
                .cast("long"),
                zero,
            ).alias("chars_kept"),
        )
        .orderBy("domain")
    )
    return unpersist_when_released(out, base, pairs)


QUERIES["corpus_web_e2e"] = corpus_web_e2e


def _web_e2e_oracle_sql() -> str:
    from sfcrimedatapipeline_spark.plans.corpus_queries import _cc_oracle_sql

    return f"""
        WITH u AS MATERIALIZED ({_url_sql()}),
        {_web_disp_sql()},
        gate AS ({_gopher_oracle_sql()}),
        ccm AS ({_cc_oracle_sql()}),
        base AS (
            SELECT d.doc_id, w.domain, d.n_chars,
                   (w.disposition = 'kept') AS web_kept, g.pass_all
            FROM documents d
            JOIN wdisp w ON d.doc_id = w.doc_id
            JOIN gate g ON d.doc_id = g.doc_id
        ),
        survivors AS (SELECT * FROM base WHERE web_kept AND pass_all),
        with_cc AS (
            SELECT s.*, ccm.canonical_id
            FROM survivors s LEFT JOIN ccm ON s.doc_id = ccm.doc_id
        ),
        keeper_min AS (
            SELECT canonical_id, min(doc_id) AS keep_id
            FROM with_cc WHERE canonical_id IS NOT NULL
            GROUP BY canonical_id
        ),
        kept AS (
            SELECT w.doc_id,
                   (w.canonical_id IS NULL OR w.doc_id = k.keep_id) AS kept
            FROM with_cc w
            LEFT JOIN keeper_min k ON w.canonical_id = k.canonical_id
        )
        SELECT b.domain,
               CAST(count(*) AS BIGINT) AS n_raw,
               CAST(sum(CASE WHEN b.web_kept THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_web_kept,
               CAST(sum(CASE WHEN b.web_kept AND b.pass_all
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_pass,
               CAST(coalesce(sum(CASE WHEN k.kept THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_unique_kept,
               CAST(sum(b.n_chars) AS BIGINT) AS chars_raw,
               CAST(coalesce(sum(CASE WHEN k.kept THEN b.n_chars ELSE 0 END),
                             0) AS BIGINT) AS chars_kept
        FROM base b LEFT JOIN kept k ON b.doc_id = k.doc_id
        GROUP BY b.domain ORDER BY b.domain
    """


ORACLE_SQL["corpus_web_e2e"] = _web_e2e_oracle_sql()


# ------------------------------------------------------------- round 12
#: the C4-style "bad word" document gate's list — a neutral stand-in
#: for the public LDNOOBW list (this synthetic corpus carries no
#: actual profanity); shared verbatim with the oracle
WORD_BLOCKLIST = ["slow", "vector"]


def docs_word_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 bad-word rule as a per-source triage report: a document
    containing ANY listed token (exact, lowercased) drops. Report =
    per source, total docs, blocked count, blocked-id checksum (pins
    the blocked SET), and kept count — the partition contract of the
    other curation gates.

    Scale shape: ``arrays_overlap`` against a literal array inside one
    codegen'd projection (operators/textstats.py:has_blocked_word) —
    the 100 TB cost is the text scan it shares with every other gate;
    the aggregate is a map-side-combined groupBy on the source key."""
    from sfcrimedatapipeline_spark.functions.text import tokens

    d = _docs(spark, sf_dir).withColumn(
        "__blocked",
        textstats.has_blocked_word(tokens(F.col("text")), WORD_BLOCKLIST),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("__blocked").cast("long")).cast("long").alias(
                "n_blocked"
            ),
            F.sum(
                F.when(F.col("__blocked"), F.col("doc_id")).otherwise(0)
            ).cast("long").alias("blocked_id_sum"),
        )
        .withColumn("n_kept", (F.col("n_docs") - F.col("n_blocked")).cast("long"))
        .orderBy("source")
    )


QUERIES["docs_word_blocklist"] = docs_word_blocklist

_BLOCK_WORDS_SQL = ", ".join(f"'{w}'" for w in WORD_BLOCKLIST)

ORACLE_SQL["docs_word_blocklist"] = f"""
    WITH t AS (
        SELECT doc_id, source,
               list_has_any({SQL_TOKENS}, [{_BLOCK_WORDS_SQL}]) AS blocked
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT)
               AS n_blocked,
           CAST(sum(CASE WHEN blocked THEN doc_id ELSE 0 END) AS BIGINT)
               AS blocked_id_sum,
           CAST(sum(CASE WHEN blocked THEN 0 ELSE 1 END) AS BIGINT)
               AS n_kept
    FROM t GROUP BY source ORDER BY source
"""


#: eval split for URL-level decontamination: doc_id ≡ 7 (mod 10)
URL_EVAL_MOD, URL_EVAL_REM = 10, 7


def docs_url_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level decontamination — the cheapest member of the
    decontamination family (beside the n-gram/semantic/Bloom passes):
    an eval document is contaminated when its CANONICAL URL also
    appears in the training split, i.e. the same page was crawled into
    both sides under cosmetic URL variants. One row per contaminated
    eval doc: train copy count + the earliest train twin.

    Scale shape: the train side collapses to one row per canonical
    URL (map-side-combined groupBy on the short key) before the join;
    a deployment's eval set is tiny relative to the corpus, so the
    join broadcasts the EVAL side — at this fixture's scale Spark
    picks the strategy, the key stays the bounded canonical string
    either way."""
    d = _url_docs(spark, sf_dir).withColumn(
        "curl", url_ops.canonical_url(F.col("url"))
    )
    is_eval = F.pmod(F.col("doc_id"), F.lit(URL_EVAL_MOD)) == URL_EVAL_REM
    ev = d.filter(is_eval).select(
        F.col("doc_id").alias("eval_id"), "curl"
    )
    tr = (
        d.filter(~is_eval)
        .groupBy("curl")
        .agg(
            F.count("*").cast("long").alias("n_train_copies"),
            F.min("doc_id").cast("long").alias("min_train_id"),
        )
    )
    return (
        ev.join(tr, "curl")
        .select("eval_id", "n_train_copies", "min_train_id")
        .orderBy("eval_id")
    )


QUERIES["docs_url_decontamination"] = docs_url_decontamination

ORACLE_SQL["docs_url_decontamination"] = f"""
    WITH u AS MATERIALIZED ({_url_sql()}),
    c AS MATERIALIZED (
        SELECT doc_id, canonical_url FROM ({_canon_sql()}) cc
    ),
    ev AS (
        SELECT doc_id AS eval_id, canonical_url
        FROM c WHERE doc_id % {URL_EVAL_MOD} = {URL_EVAL_REM}
    ),
    tr AS (
        SELECT canonical_url,
               CAST(count(*) AS BIGINT) AS n_train_copies,
               CAST(min(doc_id) AS BIGINT) AS min_train_id
        FROM c WHERE doc_id % {URL_EVAL_MOD} <> {URL_EVAL_REM}
        GROUP BY canonical_url
    )
    SELECT eval_id, n_train_copies, min_train_id
    FROM ev JOIN tr USING (canonical_url)
    ORDER BY eval_id
"""
