"""LLM-data-pipeline queries over the ``documents`` / ``embeddings``
test tables, each with a DuckDB oracle GENERATED from the same Python
constants as the Spark implementation (functions/text.py,
functions/hashing.py) — stopword lists, hash formula, seeds, band
layout and thresholds literally cannot drift between the two sides.

Oracle-checkable here (full value-hash gate): token stats, quality,
lang-id, script mix, repetition filters, unigram-LM rarity, fingerprint
dedup, MinHash+LSH near-dup, n-gram Jaccard, SimHash fingerprints, the
curation composition, embedding validation, exact/LSH/IVF/PQ/IVF+PQ
ANN top-k and their RRF fusion, embedding near-dup and SemDeDup.
(Every "approximate" oracle replicates the same deterministic planes /
centroids / codebooks, so the approximation itself is exactly
reproducible; only the float TRAINERS and iterative argmax rounds are
rows-only, each pinned by a parity test.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.functions.caching import keep_alive_until_released
from sfcrimedatapipeline_spark.functions.hashing import sql_hash64
from sfcrimedatapipeline_spark.functions.text import (
    SQL_BPE_TOKENS,
    SQL_NORMALIZED,
    SQL_TOKENS,
    STOPWORDS,
    sql_ids_to_str,
    sql_ngrams,
    sql_stopword_hits,
    tokens,
)
from sfcrimedatapipeline_spark.functions.partitioning import ensure_min_partitions
from sfcrimedatapipeline_spark.operators import dedup, similarity, textstats
from sfcrimedatapipeline_spark.operators import corpus as corpus_ops
from sfcrimedatapipeline_spark.sources.tables import read_table


def _read_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a test table, fanning a single-split local file out across
    cores (no-op on multi-split cluster-scale inputs)."""
    return ensure_min_partitions(read_table(spark, sf_dir, name))

JACCARD_THRESHOLD = 0.5
EMB_NEAR_DUP_THRESHOLD = 0.4
EMB_LSH_BANDS = 2
EMB_LSH_PLANES_PER_BAND = 3
#: shingle document-frequency cap for the driver's n-gram Jaccard query
#: (bounds the k² self-join blow-up of ubiquitous shingles; VERDICT r1 #9)
NGRAM_MAX_DF = 20
ANN_K = 5
ANN_N_QUERIES = 10


def ann_queries(emb: DataFrame) -> DataFrame:
    """The fixed ANN query set: vec_ids 0..ANN_N_QUERIES-1.

    The trailing ``limit`` is deliberately redundant with the filter
    (the filter already yields exactly ANN_N_QUERIES rows): it puts a
    GlobalLimit node in the plan so the broadcast build side of every
    ANN scorer is bounded BY CONSTRUCTION — the structural property
    tools/plan_audit.py re-verifies each sweep (VERDICT r6 #4) instead
    of trusting a whitelist comment. Cost: a 10-row single-partition
    exchange on the query frame, nothing on the corpus side.
    """
    return emb.filter(F.col("vec_id") < ANN_N_QUERIES).limit(ANN_N_QUERIES)
NUM_HASHES = dedup.DEFAULT_NUM_HASHES
NUM_BANDS = dedup.DEFAULT_BANDS
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS


# --- Spark queries ---------------------------------------------------------

def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read_parallel(spark, sf_dir, "documents")
    return textstats.with_token_stats(docs).select(
        "doc_id", "n_tokens", "mean_token_len", "non_alnum_ratio"
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read_parallel(spark, sf_dir, "documents")
    return textstats.with_quality(docs).select(
        "doc_id", "stopword_ratio", "quality_score"
    )


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read_parallel(spark, sf_dir, "documents")
    return textstats.with_lang_id(docs).select("doc_id", "lang", "lang_pred")


def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read_parallel(spark, sf_dir, "documents")
    return textstats.with_bpe_token_count(docs).select(
        "doc_id", "n_word_tokens", "n_bpe_tokens", "bpe_per_word"
    )


def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal per document (operators/textstats.py:
    bigram_lm_score): mean inverse conditional transition probability
    against the corpus's own bigram LM — the context-aware curation
    score a unigram LM can't provide, exact to the final divides."""
    docs = _read_parallel(spark, sf_dir, "documents")
    return textstats.bigram_lm_score(docs)


def text_ttr_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio + hapax-legomena share per document
    (operators/textstats.py:ttr_hapax_stats) — the vocabulary-richness
    pair next to Simpson diversity, exact integers to two divides."""
    docs = _read_parallel(spark, sf_dir, "documents")
    return textstats.ttr_hapax_stats(docs)


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read_parallel(spark, sf_dir, "documents")
    return textstats.repetition_stats(docs)


def text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read_parallel(spark, sf_dir, "documents")
    return textstats.unigram_lm_score(docs)


def text_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writing-system composition per document (operators/textstats.py:
    with_script_mix): per-script character counts + dominant script,
    pure regexp arithmetic under the hash gate."""
    docs = _read_parallel(spark, sf_dir, "documents")
    cols = ["doc_id"] + [f"n_{n}" for n in sorted(textstats.SCRIPT_RANGES)]
    return textstats.with_script_mix(docs).select(*cols, "dominant_script")


#: Fixed production-style merge table for the GATED tokenization query:
#: a tokenizer is trained once and shipped as a constant artifact, so
#: the gate exercises segmentation + id assignment with the table
#: inlined in BOTH engines (the trained-merge path is covered rows-only
#: by text_bpe_merges* plus the pytest parity suite — a learned table
#: cannot be inlined into a static oracle string). Ranks replay in
#: order; later merges may consume earlier outputs (th+e, in+g).
TOKENIZE_MERGES: list[tuple[int, str, str]] = [
    (1, "t", "h"),
    (2, "th", "e"),
    (3, "i", "n"),
    (4, "a", "n"),
    (5, "an", "d"),
    (6, "e", "r"),
    (7, "o", "n"),
    (8, "r", "e"),
    (9, "o", "u"),
    (10, "t", "o"),
    (11, "e", "n"),
    (12, "o", "f"),
    (13, "s", "t"),
    (14, "in", "g"),
    (15, "a", "t"),
    (16, "e", "s"),
]


def docs_tokenize_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenization emit (operators/textstats.py:bpe_tokenize,
    VERDICT r6 #8): every document → its token-id array under the hash
    gate — the actual trainable-shard payload. Ids are vocab-file-free
    (codepoint for single chars, MERGED_ID_BASE+rank for merges); the
    oracle replays the same fixed merge table as delimiter-guarded
    replace() chains (tokens never contain whitespace, so a two-space
    separator makes greedy left-to-right replace ≡ the BPE scan).
    The id array serializes to a space-joined string at this
    driver-facing boundary (functions/text.py:ids_to_str — the
    driver's harness cannot sort list cells, VERDICT r10 #1); the
    array form stays the internal operator API."""
    from sfcrimedatapipeline_spark.functions.text import ids_to_str

    docs = _read_parallel(spark, sf_dir, "documents")
    return textstats.bpe_tokenize(docs, TOKENIZE_MERGES).select(
        "doc_id", ids_to_str(F.col("token_ids")).alias("token_ids")
    )


def docs_tokenize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer QA (round 8): decode the gated BPE token-id stream
    back to characters and verify the roundtrip invariant — the id
    stream preserves the character stream modulo case and whitespace
    (word boundaries are not encoded; single-char ids are codepoints,
    merged ids map back through the merge table). Output one
    ``(doc_id, n_tokens, lossless)`` row per document — the bounded
    audit a 100 TB tokenization job ships with (a FALSE row means id
    corruption: rank collision, codepoint truncation, surface drift).

    The whitespace squash runs JVM-side (Java regex) and in the oracle
    RE2-side — the engines' \\s parity on this corpus is already
    load-bearing for the tokenizer itself; Python only decodes ids and
    compares bytes. One Arrow pass over the id stream after a doc-id
    equi-join, no extra shuffle shape beyond the join."""
    from collections.abc import Iterator

    import pandas as pd

    from sfcrimedatapipeline_spark.operators.textstats import MERGED_ID_BASE

    surface = {MERGED_ID_BASE + r: a + b for r, a, b in TOKENIZE_MERGES}
    docs = _read_parallel(spark, sf_dir, "documents")
    ids = textstats.bpe_tokenize(docs, TOKENIZE_MERGES)
    squashed = docs.select(
        "doc_id",
        F.coalesce(
            F.regexp_replace(F.lower(F.col("text")), r"\s+", ""), F.lit("")
        ).alias("__sq"),
    )
    joined = ids.join(squashed, "doc_id").select("doc_id", "token_ids", "__sq")

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            n_tok, lossless = [], []
            for row_ids, sq in zip(pdf["token_ids"], pdf["__sq"]):
                toks = list(row_ids)
                n_tok.append(len(toks))
                try:
                    dec = "".join(
                        surface[i] if i >= MERGED_ID_BASE else chr(i)
                        for i in toks
                    )
                except (KeyError, ValueError, OverflowError):
                    dec = None  # unknown id = corruption, never a crash
                lossless.append(dec == (sq or ""))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": n_tok,
                    "lossless": lossless,
                }
            )

    return joined.mapInPandas(
        check, "doc_id long, n_tokens long, lossless boolean"
    )


def _tokenize_roundtrip_sql() -> str:
    """Decodes the tokenizer oracle's id stream with chr()/a CASE over
    the merge table and compares against the RE2 whitespace squash."""
    from sfcrimedatapipeline_spark.operators.textstats import MERGED_ID_BASE

    surf_case = " ".join(
        f"WHEN tid = {MERGED_ID_BASE + r} THEN '{a}{b}'"
        for r, a, b in TOKENIZE_MERGES
    )
    return f"""
        WITH t AS ({_tokenize_bpe_sql()}),
        dec AS (
            SELECT doc_id,
                   string_agg(
                       CASE {surf_case}
                            WHEN tid >= {MERGED_ID_BASE} THEN NULL
                            ELSE chr(CAST(tid AS INTEGER)) END,
                       '' ORDER BY p) AS decoded
            FROM (SELECT doc_id,
                         generate_subscripts(token_ids, 1) AS p,
                         unnest(token_ids) AS tid
                  FROM t) u
            GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(len(t.token_ids) AS BIGINT) AS n_tokens,
               coalesce(dec.decoded, '') =
                   coalesce(regexp_replace(lower(d.text), '\\s+', '', 'g'), '')
                   AS lossless
        FROM documents d
        JOIN t ON t.doc_id = d.doc_id
        LEFT JOIN dec ON dec.doc_id = d.doc_id
    """


def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LANGUAGE tokenizer fertility under the gated trained-merge
    BPE: subwords emitted per whitespace word — THE multilingual
    tokenizer-quality metric (fertility ≫ 1 for a language means the
    merge table underserves it: every content word costs several ids,
    inflating training cost and effectively shrinking that language's
    context window). The per-doc regex-BPE ratio exists
    (text_token_count_bpe); this is the TRAINED-tokenizer, per-corpus-
    slice view a tokenizer owner compares across vocab candidates.
    Exact integer sums, one final divide per language."""
    from sfcrimedatapipeline_spark.functions.text import tokens

    docs = _read_parallel(spark, sf_dir, "documents")
    subs = textstats.bpe_tokenize(docs, TOKENIZE_MERGES).select(
        "doc_id", F.size("token_ids").cast("long").alias("__sub")
    )
    words = docs.select(
        "doc_id", "lang", F.size(tokens(F.col("text"))).cast("long").alias("__w")
    )
    agg = (
        words.join(subs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("__w").cast("long").alias("n_words"),
            F.sum("__sub").cast("long").alias("n_subwords"),
        )
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_words",
        "n_subwords",
        F.when(
            F.col("n_words") > 0,
            F.col("n_subwords").cast("double") / F.col("n_words").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("fertility"),
    )


COLLOC_MIN_SUPPORT = 5
COLLOC_TOP_K = 15


def text_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by LIFT — the PMI-family measure kept
    rational so it hash-gates: lift(a b) = P(ab) / (P(a)·P(b)) =
    n_ab·N_tok² / (N_big·n_a·n_b), computed as one fixed-order double
    expression over exact integer counts (PMI's log changes ranking not
    at all — log is monotone — and libm cross-engine parity is exactly
    what this repo bans). High-lift bigrams are multiword units
    ("machine learning"-style); frequency-only top n-grams surface
    boilerplate instead. Min support COLLOC_MIN_SUPPORT, top
    COLLOC_TOP_K by (lift desc, bigram asc); the rank window runs
    after orderBy().limit() (TakeOrdered-bounded input). Corpus totals
    ride two broadcast 1-row scalars — the structurally whitelisted
    BNLJ class."""
    from pyspark.sql import Window

    from sfcrimedatapipeline_spark.functions.text import ngrams, tokens

    docs = _read_parallel(spark, sf_dir, "documents")
    toks = docs.select(tokens(F.col("text")).alias("toks"))
    uni = (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("n_w"))
    )
    big = (
        toks.select(F.explode(ngrams(F.col("toks"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").cast("long").alias("n_ab"))
    )
    n_tok = uni.agg(F.sum("n_w").cast("long").alias("n_tok"))
    n_big = big.agg(F.sum("n_ab").cast("long").alias("n_big"))
    parts = big.filter(F.col("n_ab") >= COLLOC_MIN_SUPPORT).select(
        "bigram",
        "n_ab",
        F.split(F.col("bigram"), " ").getItem(0).alias("__w1"),
        F.split(F.col("bigram"), " ").getItem(1).alias("__w2"),
    )
    ua = uni.select(F.col("w").alias("__w1"), F.col("n_w").alias("n_a"))
    ub = uni.select(F.col("w").alias("__w2"), F.col("n_w").alias("n_b"))
    j = (
        parts.join(ua, "__w1")
        .join(ub, "__w2")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_big))
    )
    lift = (
        F.col("n_ab").cast("double")
        * F.col("n_tok").cast("double")
        * F.col("n_tok").cast("double")
        / (
            F.col("n_big").cast("double")
            * F.col("n_a").cast("double")
            * F.col("n_b").cast("double")
        )
    )
    scored = j.select("bigram", "n_ab", "n_a", "n_b", lift.alias("lift"))
    top = scored.orderBy(F.desc("lift"), F.asc("bigram")).limit(COLLOC_TOP_K)
    wr = Window.orderBy(F.desc("lift"), F.asc("bigram"))
    return top.withColumn("rank", F.row_number().over(wr).cast("int")).select(
        "rank", "bigram", "n_ab", "n_a", "n_b", "lift"
    )


NORM_BUCKET_SCALE = 4  # quarter-unit histogram buckets


def emb_norm_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm histogram of the embedding corpus (quarter-unit
    buckets) — the one-glance ingest diagnostic that catches the
    failure modes validate_embeddings flags row-by-row at corpus
    level: a mass at 0 = dead encoder outputs, a long right tail =
    un-normalized mixtures, bimodality = two checkpoint versions in one
    table. Norms use the same unrolled sequential-sum discipline as
    every gated cosine (functions/vectors.py:norm_fixed ↔ list_sum),
    bucket = floor(norm · 4) is one multiply + floor on identical
    doubles, counts exact — the histogram hash-gates. One scan, one
    map-side-combined aggregate over ≤ a few dozen buckets."""
    from sfcrimedatapipeline_spark.functions.vectors import norm_fixed

    emb = _read_parallel(spark, sf_dir, "embeddings")
    bucket = F.floor(norm_fixed("embedding", 64) * NORM_BUCKET_SCALE).cast("long")
    return (
        emb.select(bucket.alias("norm_bucket"))
        .groupBy("norm_bucket")
        .agg(F.count("*").cast("long").alias("n_vectors"))
    )


TOP_NGRAMS_K = 5


def text_top_ngrams_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k most frequent word bigrams per language — the corpus-
    characterization table every LM data report opens with (boilerplate
    families and templated spam surface as over-represented n-grams).
    Exact integer counts with (count desc, ngram asc) tie-break, so the
    ranked table hash-gates. Scale: explode → one map-side-combined
    count per (lang, ngram) → top-k via one window over the COUNT table
    (vocabulary-bounded, never corpus-bounded)."""
    from pyspark.sql import Window

    from sfcrimedatapipeline_spark.functions.text import ngrams, tokens

    docs = _read_parallel(spark, sf_dir, "documents")
    grams = docs.select(
        "lang", F.explode(ngrams(tokens(F.col("text")), 2)).alias("ngram")
    )
    counts = grams.groupBy("lang", "ngram").agg(
        F.count("*").cast("long").alias("n")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("ngram"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_NGRAMS_K)
        .select("lang", "rank", "ngram", "n")
    )


def _tokenize_bpe_sql() -> str:
    """Generated from TOKENIZE_MERGES so the two engines cannot drift.

    Word → '  c1  c2  ...  cN ' (two-space separators; single spaces
    inside each merge pattern share one space with each neighbor, so
    consecutive pairs stay matchable after a replacement — the '||'
    trick with a character no token can contain). DuckDB's replace()
    is non-overlapping left-to-right, exactly the BPE greedy scan.
    """
    from sfcrimedatapipeline_spark.operators.textstats import MERGED_ID_BASE

    expr = "'  ' || regexp_replace(w, '(.)', '\\1  ', 'g')"
    for rank, a, b in TOKENIZE_MERGES:
        expr = f"replace({expr}, ' {a}  {b} ', ' {a}{b} ')"
    case = " ".join(
        f"WHEN t = '{a}{b}' THEN CAST({MERGED_ID_BASE + rank} AS BIGINT)"
        for rank, a, b in TOKENIZE_MERGES
    )
    return f"""
        SELECT doc_id,
               flatten(list_transform(
                   list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'),
                               x -> x <> ''),
                   w -> list_transform(
                            list_filter(string_split({expr}, ' '), t -> t <> ''),
                            t -> CASE {case}
                                 ELSE CAST(unicode(t) AS BIGINT) END)
               )) AS token_ids
        FROM documents
    """


def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge training over the corpus word-frequency
    table (operators/textstats.py:train_bpe). VALUE-HASH GATED since
    round 9c — the old rows-only rationale ("~10 iterative argmax
    rounds are not one-SQL-expressible") fell to the unrolled-round
    recipe: _bpe_merges_oracle_sql re-runs each round as exact pair
    counts + a 1-row argmax CTE + the delimiter-guarded replace()
    rewrite (the _tokenize_bpe_sql scheme), with the trainer's early
    stop reproduced by the freeze argument (sub-2 best ⇒ state frozen
    ⇒ filtered — tests/test_corpus.py pins it on a drying corpus).
    The pure-Python parity test remains."""
    docs = _read_parallel(spark, sf_dir, "documents")
    m = textstats.train_bpe(docs, n_merges=10)
    return spark.createDataFrame(
        m, "rank int, left string, right string, merged string, pair_count long"
    )


def text_bpe_merges_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-cadence BPE training (operators/textstats.py:
    train_bpe_local): ONE distributed word-frequency aggregation, then
    the merge loop driver-local over the vocabulary-bounded table —
    no per-merge shuffle, so 30 merges here cost the same Spark work
    as 10,000 would. VALUE-HASH GATED since round 9c (the same
    unrolled oracle as text_bpe_merges at 30 rounds); output equality
    with the distributed trainer and the pure-Python reference is
    pinned in tests/test_corpus.py."""
    docs = _read_parallel(spark, sf_dir, "documents")
    m = textstats.train_bpe_local(docs, n_merges=30)
    return spark.createDataFrame(
        m, "rank int, left string, right string, merged string, pair_count long"
    )


def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read_parallel(spark, sf_dir, "documents")
    return textstats.winnow_fingerprints(docs)


def dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read_parallel(spark, sf_dir, "documents")
    return dedup.dedup_exact(docs)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gated MinHash+LSH pair list itself: the ``_dup_pairs`` graph
    every dup-graph query derives (byte-identical default config,
    VERDICT r8 #1; lazy import — corpus_queries imports from here)."""
    from sfcrimedatapipeline_spark.plans.corpus_queries import _dup_pairs

    pairs = _dup_pairs(spark, sf_dir)
    return keep_alive_until_released(
        pairs.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")), pairs
    )


def dedup_delta_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest near-dup (operators/dedup.py:
    minhash_cross_corpus): docs with doc_id % 10 = 7 play the incoming
    delta batch, the rest the standing corpus; only delta×corpus band
    buckets ever join. Oracle: the full self-join pair SQL filtered to
    pairs with exactly one endpoint in the delta — the band-collision
    property is pairwise, so per-side banding finds exactly the cross
    subset of the self-join's candidates."""
    docs = _read_parallel(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    pairs = dedup.minhash_cross_corpus(
        delta, corpus, threshold=JACCARD_THRESHOLD
    )
    out = pairs.select("delta_id", "corpus_id", F.round("jaccard", 6).alias("jaccard"))
    return keep_alive_until_released(out, pairs)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read_parallel(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, threshold=JACCARD_THRESHOLD, max_df=NGRAM_MAX_DF
    )
    return pairs.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


FUZZY_MAX_DIST, FUZZY_BAND, FUZZY_PREFIX = 8, 16, 64


def dedup_fuzzy_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy-dup pairs, blocked by (lang, length band),
    verified by prefix levenshtein (operators/dedup.py:fuzzy_dup_pairs).
    """
    docs = _read_parallel(spark, sf_dir, "documents")
    return dedup.fuzzy_dup_pairs(
        docs,
        block_cols=("lang",),
        max_dist=FUZZY_MAX_DIST,
        band_width=FUZZY_BAND,
        prefix_len=FUZZY_PREFIX,
    )


def dedup_shingle_df_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle document-frequency HISTOGRAM: how many distinct 3-gram
    shingles appear in exactly 1, 2, 3 … documents — the calibration
    view behind the max_df skew cap every shared-shingle detector uses
    (a shingle in k docs contributes k² candidate pairs; this table
    shows exactly where the quadratic tail starts and what signal a
    given cap discards). Two map-side-combined aggregates; histogram
    key bounded by the max DF, never corpus cardinality. Exact
    integers, hash-gated."""
    from sfcrimedatapipeline_spark.operators.dedup import shingle_sets

    docs = _read_parallel(spark, sf_dir, "documents")
    ex = (
        shingle_sets(docs, "doc_id", "text", 3)
        .select(F.explode_outer("shingles").alias("sh"))
        .filter(F.col("sh").isNotNull())
    )
    df_per_shingle = ex.groupBy("sh").agg(
        F.count("*").cast("long").alias("df")
    )
    return (
        df_per_shingle.groupBy("df")
        .agg(F.count("*").cast("long").alias("n_shingles"))
        .select(F.col("df").alias("doc_frequency"), "n_shingles")
    )


CONTAIN_THRESHOLD = 0.8


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment (operators/dedup.py:
    containment_pairs, Broder '97): DIRECTED (contained, container)
    rows where ≥80% of the smaller side's discriminative shingles
    appear in the other document — the quote/syndication/wrapper
    detector symmetric Jaccard is blind to. Same max_df skew cap as
    the gated Jaccard query; one exact-integer divide per direction,
    rounded like every gated ratio."""
    docs = _read_parallel(spark, sf_dir, "documents")
    pairs = dedup.containment_pairs(
        docs, threshold=CONTAIN_THRESHOLD, max_df=NGRAM_MAX_DF
    )
    return pairs.select(
        "doc_contained",
        "doc_container",
        F.round("containment", 6).alias("containment"),
    )


def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-agreement Venn over the three gated pair detectors —
    MinHash+LSH, n-gram Jaccard, length-banded edit distance — at their
    gated configs: one row per membership combination with its pair
    count. The calibration table a dedup owner reads before trusting
    one method alone (minhash-only mass = LSH noise or Jaccard's DF cap
    biting; fuzzy-only mass = typo-dups token methods miss). Full outer
    joins of three already-bounded pair sets (each banded/blocked
    upstream, never all-pairs); output ≤ 7 rows. Exact booleans and
    counts — hash-gated by composing the three pair oracles.

    The MinHash arm is ``_dup_pairs`` (plans/corpus_queries.py — the
    gated default config is byte-identical to
    ``minhash_near_duplicates(docs, threshold=0.5)``, VERDICT r8 #1),
    the same pair graph every dup-graph query derives. Lazy import —
    corpus_queries imports from this module at top level.
    """
    from sfcrimedatapipeline_spark.plans.corpus_queries import _dup_pairs

    docs = _read_parallel(spark, sf_dir, "documents")
    raw = _dup_pairs(spark, sf_dir)
    mh = raw.select("doc_a", "doc_b").withColumn("__mh", F.lit(True))
    ng = (
        dedup.ngram_jaccard_pairs(
            docs, threshold=JACCARD_THRESHOLD, max_df=NGRAM_MAX_DF
        )
        .select("doc_a", "doc_b")
        .withColumn("__ng", F.lit(True))
    )
    fz = (
        dedup.fuzzy_dup_pairs(
            docs,
            block_cols=("lang",),
            max_dist=FUZZY_MAX_DIST,
            band_width=FUZZY_BAND,
            prefix_len=FUZZY_PREFIX,
        )
        .select("doc_a", "doc_b")
        .withColumn("__fz", F.lit(True))
    )
    j = mh.join(ng, ["doc_a", "doc_b"], "full").join(
        fz, ["doc_a", "doc_b"], "full"
    )
    out = (
        j.select(
            F.coalesce("__mh", F.lit(False)).alias("in_minhash"),
            F.coalesce("__ng", F.lit(False)).alias("in_ngram"),
            F.coalesce("__fz", F.lit(False)).alias("in_fuzzy"),
        )
        .groupBy("in_minhash", "in_ngram", "in_fuzzy")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )
    return keep_alive_until_released(out, raw)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokenless docs are dropped by the operator's explode, matching the
    # oracle's unnest semantics
    docs = _read_parallel(spark, sf_dir, "documents")
    return dedup.simhash_fingerprints(docs)


VOCAB_SIZE = 200


def text_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked top-200 vocabulary with dense token ids
    (operators/textstats.py:build_vocabulary)."""
    docs = _read_parallel(spark, sf_dir, "documents")
    return textstats.build_vocabulary(docs, VOCAB_SIZE)


def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against the top-200
    vocabulary (operators/textstats.py:with_oov_rate)."""
    docs = _read_parallel(spark, sf_dir, "documents")
    vocab = textstats.build_vocabulary(docs, VOCAB_SIZE)
    return textstats.with_oov_rate(docs, vocab)


def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality harness for the dedup tiers: how much of the exact
    (df-capped) n-gram Jaccard pair set does the MinHash+LSH path
    recover? One row: n_exact, n_lsh, n_common — the recall/precision
    numerators a corpus team watches when tuning bands and thresholds.

    The LSH arm is ``_dup_pairs`` (plans/corpus_queries.py,
    byte-identical config — VERDICT r8 #1); lazy import to avoid the
    top-level import cycle.
    """
    from sfcrimedatapipeline_spark.plans.corpus_queries import _dup_pairs

    docs = _read_parallel(spark, sf_dir, "documents")
    # ONE full-outer pass computes all three numerators, so each pair
    # pipeline is evaluated exactly once — separate count/intersect
    # aggregates re-derived both pipelines per aggregate (13 s → 5 s
    # at sf0.1)
    exact = dedup.ngram_jaccard_pairs(
        docs, threshold=JACCARD_THRESHOLD, max_df=NGRAM_MAX_DF
    ).select("doc_a", "doc_b", F.lit(1).alias("__e"))
    raw = _dup_pairs(spark, sf_dir)
    lsh = raw.select("doc_a", "doc_b", F.lit(1).alias("__l"))
    merged = exact.join(lsh, ["doc_a", "doc_b"], "full_outer")
    out = merged.agg(
        F.count("__e").cast("long").alias("n_exact"),
        F.count("__l").cast("long").alias("n_lsh"),
        F.count(F.when(F.col("__e").isNotNull() & F.col("__l").isNotNull(), 1))
        .cast("long")
        .alias("n_common"),
    )
    return keep_alive_until_released(out, raw)


def dedup_delta_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run dedup: the last fifth of documents (by id) plays the
    incoming crawl batch, the first four fifths the accumulated corpus
    (operators/dedup.py:dedup_against_corpus)."""
    docs = _read_parallel(spark, sf_dir, "documents")
    cut = F.col("doc_id") % 5 == 4
    return dedup.dedup_against_corpus(docs.filter(cut), docs.filter(~cut))


def corpus_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation operators composed end-to-end (quality gate →
    repetition gate → exact dedup → per-source retention report,
    operators/corpus.py:curate_corpus) under one hash gate — the
    dataflow a training-data pipeline actually runs."""
    from sfcrimedatapipeline_spark.operators.corpus import curate_corpus

    docs = _read_parallel(spark, sf_dir, "documents")
    return curate_corpus(docs)


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read_parallel(spark, sf_dir, "embeddings")
    queries = ann_queries(emb)
    return similarity.cosine_topk(emb, queries, k=ANN_K)


def ann_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read_parallel(spark, sf_dir, "embeddings")
    queries = ann_queries(emb)
    return similarity.cosine_topk_lsh(emb, queries, k=ANN_K)


ANN_IVF_CENTROIDS, ANN_IVF_PROBE = 8, 2


def ann_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read_parallel(spark, sf_dir, "embeddings")
    queries = ann_queries(emb)
    return similarity.cosine_topk_ivf(
        emb,
        queries,
        k=ANN_K,
        n_centroids=ANN_IVF_CENTROIDS,
        n_probe=ANN_IVF_PROBE,
    )


def _trained_ivf_centroids(spark: SparkSession, sf_dir: str) -> list:
    """spherical_kmeans_det centroids — the shared training prefix of
    every trained-quantizer query. Trains on EVERY call (OPTIMIZATION
    r13): the r9 ``_KMEANS_MEMO`` (sf_dir-keyed trained centroids)
    made the IVF-trained bench lines skip training on reps 2-3 while
    ``ann_pq_topk_trained`` retrained every rep — an asymmetric timing
    contract the r12 verdict flagged as a bench-honesty soft spot, and
    exactly the module-level result-memo class the optimization brief
    rules out. Both trained-ANN families now pay training inside the
    timed region every invocation; the trainer itself was made cheap
    instead (operators/mltrain.py — one shuffle-free Arrow pass per
    iteration)."""
    from sfcrimedatapipeline_spark.operators.mltrain import spherical_kmeans_det

    emb = _read_parallel(spark, sf_dir, "embeddings")
    return spherical_kmeans_det(
        emb, k=ANN_IVF_CENTROIDS, iters=ANN_IVF_TRAIN_ITERS
    )


def ann_cosine_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete IVF story, value-hash gated end to end:
    deterministic spherical k-means
    (operators/mltrain.py:spherical_kmeans_det) trains the centroids,
    then the fixed-centroid assignment/probe/score path searches with
    them. The oracle re-trains inside its own CTE chain
    (_ivf_trained_cent_sql) and searches with the same SQL as the
    untrained twin. Training runs per invocation
    (_trained_ivf_centroids) — the same timing contract as
    ann_pq_topk_trained."""
    emb = _read_parallel(spark, sf_dir, "embeddings")
    queries = ann_queries(emb)
    trained = _trained_ivf_centroids(spark, sf_dir)
    return similarity.cosine_topk_ivf(
        emb,
        queries,
        k=ANN_K,
        n_probe=ANN_IVF_PROBE,
        centroids=trained,
    )


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance ANN (operators/similarity.py:pq_topk):
    corpus compressed to 8 one-byte codes per vector against fixed
    16-entry per-subspace codebooks, queries scored via broadcast m×k
    lookup tables. Fully hash-gated — assignment and the ADC sum are
    exact arithmetic against FIXED codebooks (the lowest-16 corpus
    vectors), the same determinism discipline as ann_cosine_topk_ivf."""
    emb = _read_parallel(spark, sf_dir, "embeddings")
    queries = ann_queries(emb)
    return similarity.pq_topk(emb, queries, k=ANN_K)


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed (operators/similarity.py:ivfpq_topk): coarse
    inverted lists probed per query, PQ codes ADC-scored within them —
    the billion-scale ANN shape, fully hash-gated against fixed coarse
    centroids + codebooks."""
    emb = _read_parallel(spark, sf_dir, "embeddings")
    queries = ann_queries(emb)
    return similarity.ivfpq_topk(
        emb, queries, k=ANN_K, n_centroids=8, n_probe=2
    )


def ann_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: reciprocal-rank fusion of three ANN tiers (exact
    brute force, LSH buckets, PQ codes) per query
    (operators/similarity.py:rrf_fuse). Fused scores are sums of exact
    divisions folded in input-set order, so the whole fusion is
    hash-gated on top of the three already-gated tiers."""
    emb = _read_parallel(spark, sf_dir, "embeddings")
    queries = ann_queries(emb)
    return similarity.rrf_fuse(
        [
            similarity.cosine_topk(emb, queries, k=ANN_K),
            similarity.cosine_topk_lsh(emb, queries, k=ANN_K),
            similarity.pq_topk(emb, queries, k=ANN_K),
        ],
        k=ANN_K,
    )


def ann_pq_topk_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete PQ story, value-hash gated end to end:
    deterministic per-subspace k-means
    (operators/mltrain.py:pq_kmeans_det) trains the codebooks, then the
    fixed-codebook encode/ADC path scores with them. The oracle
    re-trains in its own CTE chain (_pq_trained_cb_sql) and scores with
    the same search SQL as ann_pq_topk."""
    from sfcrimedatapipeline_spark.operators.mltrain import pq_kmeans_det

    emb = _read_parallel(spark, sf_dir, "embeddings")
    queries = ann_queries(emb)
    cb = pq_kmeans_det(
        emb,
        m=similarity.PQ_SUBSPACES,
        n_codes=similarity.PQ_CODEBOOK_SIZE,
        iters=PQ_TRAIN_ITERS,
    )
    return similarity.pq_topk(emb, queries, k=ANN_K, codebooks=cb)


def emb_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector ingest validation (operators/profile.py:
    validate_embeddings): NULL / wrong-dim / NaN-Inf / zero-norm
    diagnostics as exact predicates under the hash gate."""
    from sfcrimedatapipeline_spark.operators.profile import validate_embeddings

    emb = _read_parallel(spark, sf_dir, "embeddings")
    return validate_embeddings(emb)


def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup composition (operators/dedup.py:semantic_dedup): fixed
    coarse clusters bound the near-dup search, exact cosine verify
    within clusters, connected-components keep-one — per-vector
    disposition fully hash-gated (assignment, verify, and transitive
    closure all exact)."""
    emb = _read_parallel(spark, sf_dir, "embeddings")
    return dedup.semantic_dedup(emb, threshold=EMB_NEAR_DUP_THRESHOLD)


def emb_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs near-dup via the grid-blocked BLAS tiles
    (operators/dedup.py:embedding_near_duplicates_blas) — no driver
    collect, no O(n²) nested-loop join; bit-parity with the JVM
    expression form (kept as the library verify primitive
    ``dedup.embedding_near_duplicates``, pytest-parity-tested)."""
    emb = _read_parallel(spark, sf_dir, "embeddings")
    return dedup.embedding_near_duplicates_blas(emb, threshold=EMB_NEAR_DUP_THRESHOLD)


#: dedup-grade gating corpus (round 8): the synthetic embeddings hold
#: NO dedup-grade pairs (max organic cosine 0.60 at sf0.1), so a
#: θ ≥ 0.95 near-dup contract would be vacuous on the raw table. The
#: default LSH query therefore PLANTS deterministic near-duplicate
#: twins — every PLANT_MOD-th vector re-emitted under id+OFFSET with
#: exactly ONE dimension's sign flipped (d = vec_id % 64). A sign flip
#: is float-EXACT in both engines, and cosine(v, twin) =
#: 1 − 2·v_d²/‖v‖² ≈ 1 − 2/64 ≈ 0.97 for these roughly-isotropic
#: vectors, so the planted pairs land right in the dedup band and the
#: hash gate checks that the LSH actually FINDS them. The oracle
#: plants the identical rows.
PLANT_MOD = 5
PLANT_ID_OFFSET = 10_000_000
EMB_DEDUP_THRESHOLD = 0.95
EMB_DEDUP_RECALL = 0.95
EMB_DEDUP_TARGET_BUCKET = 512
EMB_DEDUP_MAX_BANDS = 32
_AUTO_MAX_PLANES = 48  # 2^48 buckets ≈ 1.4e14 target rows — any corpus


def _planted_twins(emb: DataFrame) -> DataFrame:
    """Just the deterministic sign-flip twins (see PLANT_MOD note
    above) — the near-dup plant the LSH gate must find, and the
    stand-in 'paraphrased eval set' for the semantic-contamination
    gate. Pure per-row map — linear, no shuffle, no Python."""
    return emb.filter(F.col("vec_id") % PLANT_MOD == 0).select(
        (F.col("vec_id") + PLANT_ID_OFFSET).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, j: F.when(
                j.cast("long") == F.col("vec_id") % 64, -x
            ).otherwise(x),
        ).alias("embedding"),
    )


def _with_planted_near_dups(emb: DataFrame) -> DataFrame:
    """Union the corpus with its deterministic sign-flip twins (see
    PLANT_MOD note above)."""
    return emb.select("vec_id", "embedding").unionByName(_planted_twins(emb))


def emb_near_duplicates_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE embedding near-dup scale default (VERDICT r7 #2): occupancy-
    scaled banded hyperplane LSH (operators/dedup.py:
    embedding_near_duplicates_lsh_auto — planes = smallest p with
    2^p ≥ ceil(n/512) holds bucket occupancy constant as n grows, bands
    re-derived to hold ≥0.95 recall at the threshold) at the
    dedup-grade θ = 0.95 over the planted-twin corpus, FULLY hash-gated:
    the oracle recomputes the same config from count(*) (exact-integer
    planes ladder + a Python-computed planes→bands table), regenerates
    the identical md5 hyperplanes, and scores candidates with the same
    rounded cosine — see _emb_lsh_auto_sql. The round-7 rows-only auto
    variant and the fixed-config default are superseded by this query;
    the fixed config survives as emb_near_duplicates_lsh_smallcorpus."""
    emb = _read_parallel(spark, sf_dir, "embeddings")
    return dedup.embedding_near_duplicates_lsh_auto(
        _with_planted_near_dups(emb),
        threshold=EMB_DEDUP_THRESHOLD,
        recall_target=EMB_DEDUP_RECALL,
        target_bucket_rows=EMB_DEDUP_TARGET_BUCKET,
    )


def emb_near_duplicates_lsh_smallcorpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixed-config LSH bucketing (2 bands × 3 planes, θ = 0.4),
    demoted from the family default to the small-corpus / weak-
    threshold option (VERDICT r7 #2: constant 2^planes buckets make
    within-bucket verify n²/B — quadratic at scale; and at θ ≤ ~0.5
    hyperplane LSH cannot hold high recall with a bounded band count
    anyway, so weak-threshold range search is inherently a small-corpus
    operation). Hash-gated against the static plane-literal oracle."""
    emb = _read_parallel(spark, sf_dir, "embeddings")
    return dedup.embedding_near_duplicates_lsh(
        emb,
        threshold=EMB_NEAR_DUP_THRESHOLD,
        n_bands=EMB_LSH_BANDS,
        planes_per_band=EMB_LSH_PLANES_PER_BAND,
    )


def contamination_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC train/eval contamination (VERDICT r8 #8): which eval
    items have a paraphrase-grade (cosine ≥ 0.95) near-duplicate in the
    training corpus? The embedding-level closer of the contamination
    family — contamination_winnow and corpus_eval_decontaminate are
    LEXICAL (shared character windows / exact n-grams) and a
    paraphrased eval item escapes both; an embedding twin doesn't.

    The eval set is the planted sign-flip twins (the gated planted-
    near-dup precedent: organic max cosine is ~0.6, so a θ=0.95
    contract on raw splits would be vacuous — the twins ARE the
    'paraphrased eval items', cosine ≈ 1−2/64 ≈ 0.97 to their train
    source). Delta-vs-corpus shape end to end
    (operators/dedup.py:embedding_contamination_lsh): eval only ever
    meets train inside shared LSH buckets — never a corpus×corpus
    pass. Fully hash-gated: the oracle is the auto-LSH self-join SQL
    over the tagged union restricted to cross pairs (band collision is
    pairwise, so the sets coincide exactly)."""
    emb = _read_parallel(spark, sf_dir, "embeddings")
    train = emb.select("vec_id", "embedding")
    pairs = dedup.embedding_contamination_lsh(
        _planted_twins(emb),
        train,
        threshold=EMB_DEDUP_THRESHOLD,
        recall_target=EMB_DEDUP_RECALL,
        target_bucket_rows=EMB_DEDUP_TARGET_BUCKET,
    )
    # id_a < id_b and every eval id is offset above the train range,
    # so id_a IS the train endpoint
    out = pairs.select(
        F.col("id_b").alias("eval_id"),
        F.col("id_a").alias("train_id"),
        "cosine",
    )
    return keep_alive_until_released(out, pairs)


# --- oracle SQL builders ---------------------------------------------------

def _sql_cosine_raw(av: str, bv: str, dim: int = 64) -> str:
    dot = f"list_sum([{av}[i] * {bv}[i] for i in generate_series(1, {dim})])"
    na = f"sqrt(list_sum([{av}[i] * {av}[i] for i in generate_series(1, {dim})]))"
    nb = f"sqrt(list_sum([{bv}[i] * {bv}[i] for i in generate_series(1, {dim})]))"
    return f"({dot} / ({na} * {nb}))"


def _sql_cosine(av: str, bv: str, dim: int = 64) -> str:
    return f"round({_sql_cosine_raw(av, bv, dim)}, 6)"


def _lang_case() -> str:
    langs = sorted(STOPWORDS)
    scores = ", ".join(f"{sql_stopword_hits('t', lang)} AS s_{lang}" for lang in langs)
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    whens = " ".join(f"WHEN s_{lang} = __best THEN '{lang}'" for lang in langs)
    return f"""
        WITH tok AS (SELECT doc_id, lang, {SQL_TOKENS} AS t FROM documents),
        scored AS (SELECT doc_id, lang, {scores} FROM tok),
        best AS (SELECT *, {best} AS __best FROM scored)
        SELECT doc_id, lang,
               CASE WHEN __best = 0 THEN 'und' {whens} ELSE 'und' END AS lang_pred
        FROM best
    """


def _minhash_sql() -> str:
    h = sql_hash64("sh", seed="seed")
    return f"""
        WITH tok AS (SELECT doc_id, {SQL_TOKENS} AS t FROM documents),
        shingled AS (SELECT doc_id, list_distinct({sql_ngrams('t')}) AS shingles FROM tok),
        nonempty AS (SELECT * FROM shingled WHERE len(shingles) > 0),
        hashes AS (
            SELECT doc_id, seed, min({h}) AS mh
            FROM (SELECT doc_id, unnest(shingles) AS sh FROM nonempty),
                 (SELECT unnest(generate_series(0, {NUM_HASHES - 1})) AS seed)
            GROUP BY doc_id, seed
        ),
        bands AS (
            SELECT doc_id, seed // {ROWS_PER_BAND} AS band_idx,
                   string_agg(CAST(mh AS VARCHAR), '_' ORDER BY seed) AS band_key
            FROM hashes GROUP BY doc_id, seed // {ROWS_PER_BAND}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        ),
        verified AS (
            SELECT doc_a, doc_b,
                   len(list_intersect(sa.shingles, sb.shingles)) AS ni,
                   len(sa.shingles) AS na, len(sb.shingles) AS nb
            FROM cand
            JOIN nonempty sa ON sa.doc_id = doc_a
            JOIN nonempty sb ON sb.doc_id = doc_b
        )
        SELECT doc_a, doc_b,
               round(CAST(ni AS DOUBLE) / (na + nb - ni), 6) AS jaccard
        FROM verified
        WHERE CAST(ni AS DOUBLE) / (na + nb - ni) >= {JACCARD_THRESHOLD}
    """


def _simhash_sql() -> str:
    h = sql_hash64("t", seed="0")
    chunks = []
    for chunk_start in (48, 32, 16, 0):  # high→low, matching the Spark concat
        chunks.append(
            f"lpad(hex(sum(CASE WHEN vote > 0 THEN 1 ELSE 0 END "
            f"* CASE WHEN b >= {chunk_start} AND b < {chunk_start + 16} "
            f"THEN 1 << (b - {chunk_start}) ELSE 0 END)), 4, '0')"
        )
    hex_expr = " || ".join(chunks)
    return f"""
        WITH tok AS (SELECT doc_id, unnest({SQL_TOKENS}) AS t FROM documents),
        th AS (SELECT doc_id, {h} AS hv FROM tok),
        votes AS (
            SELECT doc_id, b, sum(((hv >> b) & 1) * 2 - 1) AS vote
            FROM th, (SELECT unnest(generate_series(0, 63)) AS b)
            GROUP BY doc_id, b
        )
        SELECT doc_id, {hex_expr} AS simhash
        FROM votes GROUP BY doc_id
    """


def _ann_sql(lsh: bool, k: int = ANN_K) -> str:
    if lsh:
        planes = [similarity._hyperplane(64, p) for p in range(6)]
        bucket_terms = []
        for p_idx, plane in enumerate(planes):
            lit = "[" + ", ".join(repr(x) for x in plane) + "]"
            proj = f"list_sum([__v[i] * ({lit}::DOUBLE[])[i] for i in generate_series(1, 64)])"
            bucket_terms.append(
                f"(CASE WHEN {proj} >= 0 THEN 1 ELSE 0 END * {2 ** p_idx})"
            )
        bucket = " + ".join(bucket_terms)
        vecs = f"""
        v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS __v FROM embeddings),
        vb AS (SELECT vec_id, __v, {bucket} AS bucket FROM v),
        q AS (SELECT vec_id AS query_id, __v AS qv, bucket FROM vb WHERE vec_id < {ANN_N_QUERIES}),
        c AS (SELECT vec_id AS neighbor_id, __v AS cv, bucket FROM vb),
        scored AS (
            SELECT query_id, neighbor_id, {_sql_cosine("qv", "cv")} AS cosine
            FROM c JOIN q USING (bucket) WHERE neighbor_id <> query_id
        )"""
    else:
        vecs = f"""
        v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS __v FROM embeddings),
        q AS (SELECT vec_id AS query_id, __v AS qv FROM v WHERE vec_id < {ANN_N_QUERIES}),
        c AS (SELECT vec_id AS neighbor_id, __v AS cv FROM v),
        scored AS (
            SELECT query_id, neighbor_id, {_sql_cosine("qv", "cv")} AS cosine
            FROM c, q WHERE neighbor_id <> query_id
        )"""
    return f"""
        WITH {vecs}
        SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
            ) AS rank
            FROM scored
        ) r
        WHERE rank <= {k}
    """


def _emb_lsh_sql() -> str:
    """Replicates embedding_near_duplicates_lsh's banded hyperplane
    buckets with the identical plane constants, then scores candidate
    pairs with the same rounded cosine — exact oracle for the
    'approximate' path."""
    total = EMB_LSH_BANDS * EMB_LSH_PLANES_PER_BAND
    planes = [similarity._hyperplane(64, p) for p in range(total)]

    def bucket_expr(band: int) -> str:
        terms = []
        for p_idx in range(EMB_LSH_PLANES_PER_BAND):
            plane = planes[band * EMB_LSH_PLANES_PER_BAND + p_idx]
            lit = "[" + ", ".join(repr(x) for x in plane) + "]"
            proj = (
                f"list_sum([__v[i] * ({lit}::DOUBLE[])[i] "
                f"for i in generate_series(1, 64)])"
            )
            terms.append(f"(CASE WHEN {proj} >= 0 THEN 1 ELSE 0 END * {2 ** p_idx})")
        return " + ".join(terms)

    band_buckets = ", ".join(
        f"({bucket_expr(b)}) AS bucket{b}" for b in range(EMB_LSH_BANDS)
    )
    # UNION (not ALL) = the cross-band distinct on candidate pairs
    cand = " UNION ".join(
        f"SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM vb a JOIN vb b "
        f"ON a.bucket{b} = b.bucket{b} AND a.vec_id < b.vec_id"
        for b in range(EMB_LSH_BANDS)
    )
    return f"""
        WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS __v FROM embeddings),
        vb AS (SELECT vec_id, __v, {band_buckets} FROM v),
        cand AS ({cand}),
        scored AS (
            SELECT id_a, id_b, {_sql_cosine("a.__v", "b.__v")} AS cosine
            FROM cand
            JOIN v a ON a.vec_id = id_a
            JOIN v b ON b.vec_id = id_b
        )
        SELECT id_a, id_b, cosine FROM scored
        WHERE cosine >= {EMB_NEAR_DUP_THRESHOLD}
    """


def _planted_emb_sql() -> str:
    """The planted-twin corpus (see PLANT_MOD note): every PLANT_MOD-th
    vector re-emitted under id+OFFSET with dimension (vec_id % 64)
    sign-flipped — sign flips are float-exact, so both engines hold
    bit-identical augmented corpora."""
    return f"""
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + {PLANT_ID_OFFSET} AS vec_id,
               [CASE WHEN d - 1 = vec_id % 64
                     THEN -embedding[d] ELSE embedding[d] END
                for d in generate_series(1, 64)] AS embedding
        FROM embeddings WHERE vec_id % {PLANT_MOD} = 0
    """


def _emb_lsh_auto_sql(final_select: str | None = None) -> str:
    """Exact oracle for the OCCUPANCY-SCALED LSH default — the round-7
    'rows-only by construction' verdict is retired by making the
    data-dependent config SQL-computable with zero cross-engine float
    risk:

    - ``planes`` = smallest p with 2^p ≥ ceil(n/512): an exact-INTEGER
      CASE ladder over ``m = (n + 511) // 512`` — no libm log2/ceil
      whose last ulp could disagree with Python at a power-of-two
      boundary (auto_lsh_config uses bit_length, same semantics).
    - ``bands``: a planes→bands CASE table whose values PYTHON computed
      (operators/dedup.py:bands_for_planes — the same function the
      Spark side calls), so DuckDB never evaluates acos/ln at all.
    - hyperplanes: similarity._hyperplane is md5-hex / 0x7FFFFFFF − 1;
      DuckDB's md5 + hex-parse CAST reproduces every plane bit-for-bit
      (verified), so the plane COUNT can be data-dependent without
      inlining literals.

    Candidate generation joins the banded bucket table on
    (band, bucket) with DISTINCT pair dedup — the fixed-band UNION of
    the static oracle can't express a data-dependent band count.
    """
    import warnings

    from sfcrimedatapipeline_spark.operators.dedup import bands_for_planes

    with warnings.catch_warnings():
        # the table legitimately contains clamped entries at huge plane
        # counts (θ=0.95 needs >32 bands beyond ~2^40 rows); the
        # runtime warning belongs to the Spark-side call, not here
        warnings.simplefilter("ignore")
        bands_of = {
            p: bands_for_planes(
                p, EMB_DEDUP_THRESHOLD, EMB_DEDUP_RECALL, EMB_DEDUP_MAX_BANDS
            )
            for p in range(1, _AUTO_MAX_PLANES + 1)
        }
    planes_case = " ".join(
        f"WHEN m <= {2 ** p} THEN {p}" for p in range(1, _AUTO_MAX_PLANES)
    )
    bands_case = " ".join(
        f"WHEN planes = {p} THEN {b}" for p, b in bands_of.items()
    )
    plane_val = (
        "CAST(('0x' || substring(md5(CAST(pidx AS VARCHAR) || ':' || "
        "CAST(d - 1 AS VARCHAR)), 1, 8)) AS BIGINT)"
        " / 2147483647.0 - 1.0"
    )
    proj = (
        "list_sum([CAST(v.embedding[i] AS DOUBLE) * p.plane[i] "
        "for i in generate_series(1, 64)])"
    )
    return f"""
        WITH emb_aug AS ({_planted_emb_sql()}),
        cfg AS (
            SELECT planes,
                   CASE {bands_case} ELSE {bands_of[_AUTO_MAX_PLANES]} END AS bands
            FROM (
                SELECT CASE {planes_case} ELSE {_AUTO_MAX_PLANES} END AS planes
                FROM (
                    SELECT greatest(1, (count(*) + {EMB_DEDUP_TARGET_BUCKET - 1})
                                       // {EMB_DEDUP_TARGET_BUCKET}) AS m
                    FROM emb_aug
                ) mm
            ) pp
        ),
        bands_t AS (SELECT unnest(generate_series(0, bands - 1)) AS band FROM cfg),
        pp_t AS (SELECT unnest(generate_series(0, planes - 1)) AS pp FROM cfg),
        plane_vecs AS (
            SELECT band, pp,
                   [{plane_val} for d in generate_series(1, 64)] AS plane
            FROM (SELECT band, pp, band * cfg.planes + pp AS pidx
                  FROM bands_t, pp_t, cfg) idx
        ),
        v AS (SELECT vec_id, embedding FROM emb_aug),
        bits AS (
            SELECT v.vec_id, p.band,
                   CASE WHEN {proj} >= 0
                        THEN (CAST(1 AS BIGINT) << p.pp)
                        ELSE CAST(0 AS BIGINT) END AS bit
            FROM v, plane_vecs p
        ),
        vb AS (
            SELECT vec_id, band, CAST(sum(bit) AS BIGINT) AS bucket
            FROM bits GROUP BY vec_id, band
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM vb a JOIN vb b
              ON a.band = b.band AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id
        ),
        vd AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS __v
               FROM emb_aug),
        scored AS (
            SELECT id_a, id_b, {_sql_cosine("a.__v", "b.__v")} AS cosine
            FROM cand
            JOIN vd a ON a.vec_id = id_a
            JOIN vd b ON b.vec_id = id_b
        )
        {final_select or f"SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {EMB_DEDUP_THRESHOLD}"}
    """


def _winnow_sql() -> str:
    k, w = textstats.WINNOW_K, textstats.WINNOW_W
    h = sql_hash64(f"substr(t, CAST(i AS INTEGER), {k})", "0")
    return f"""
        WITH n AS (SELECT doc_id, {SQL_NORMALIZED} AS t FROM documents),
        g AS (
            SELECT doc_id,
                   CASE WHEN len(t) >= {k}
                        THEN [{h} for i in generate_series(1, len(t) - {k - 1})]
                        ELSE [] END AS hs
            FROM n
        ),
        wnd AS (
            SELECT doc_id,
                   CASE WHEN len(hs) >= {w}
                        THEN list_distinct([
                            list_min(hs[j:j + {w - 1}])
                            for j in generate_series(1, len(hs) - {w - 1})
                        ])
                        ELSE [] END AS fps
            FROM g
        )
        SELECT doc_id, unnest(fps) AS fingerprint FROM wnd
    """


def _sqd_sql(av: str, bv: str, lo: int, n: int) -> str:
    """Unrolled squared-L2 distance over ``av[lo+1..lo+n]`` — left-
    associative + chain == the Spark zip_with/aggregate fold order."""
    return " + ".join(
        f"(CAST({av}[{lo + i}] AS DOUBLE) - CAST({bv}[{lo + i}] AS DOUBLE))"
        f" * (CAST({av}[{lo + i}] AS DOUBLE) - CAST({bv}[{lo + i}] AS DOUBLE))"
        for i in range(1, n + 1)
    )


def _pq_sql(m: int = 8, sub: int = 8, n_codes: int = 16, cb_sql: str | None = None) -> str:
    """PQ twin: per-subspace squared-L2 terms unrolled left-associative
    (the Spark fold order); encoding argmin via lexicographic list-min
    over (d, cid) — the struct-min twin; ADC as an 8-way self-join on
    the query table so the + chain fixes the summation order.

    ``cb_sql`` overrides the seed codebook CTE body with a trained
    chain producing ``cb(cid, cv)`` with FULL-vector cv (per-subspace
    codebooks concatenated — the per-subspace distance slices make the
    full layout equivalent); default is the lowest-id seed text."""

    def dist(av: str, bv: str, s: int) -> str:
        return _sqd_sql(av, bv, s * sub, sub)

    enc_cols = ", ".join(
        f"CAST(min([d{s}, CAST(cid AS DOUBLE)])[2] AS INT) AS c{s}"
        for s in range(m)
    )
    pair_d = ", ".join(f"{dist('e.embedding', 'cb.cv', s)} AS d{s}" for s in range(m))
    qt_d = ", ".join(f"{dist('q.embedding', 'cb.cv', s)} AS t{s}" for s in range(m))
    joins = "\n            ".join(
        f"JOIN qtab qt{s} ON qt{s}.cid = en.c{s}"
        + ("" if s == 0 else f" AND qt{s}.query_id = qt0.query_id")
        for s in range(m)
    )
    adc = " + ".join(f"qt{s}.t{s}" for s in range(m))
    if cb_sql is None:
        cb_sql = f"""cb AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
            FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_codes})
        )"""
    return f"""
        WITH RECURSIVE {cb_sql},
        pairs AS (
            SELECT e.vec_id, cb.cid, {pair_d}
            FROM embeddings e CROSS JOIN cb
        ),
        enc AS (
            SELECT vec_id, {enc_cols} FROM pairs GROUP BY vec_id
        ),
        qtab AS (
            SELECT q.vec_id AS query_id, cb.cid, {qt_d}
            FROM embeddings q CROSS JOIN cb
            WHERE q.vec_id < {ANN_N_QUERIES}
        ),
        scored AS (
            SELECT qt0.query_id, en.vec_id AS neighbor_id,
                   round({adc}, 6) AS approx_dist
            FROM enc en
            {joins}
            WHERE en.vec_id <> qt0.query_id
        )
        SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, approx_dist
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY approx_dist ASC, neighbor_id ASC) AS rank
            FROM scored
        )
        WHERE rank <= {ANN_K}
    """


def _ivfpq_sql(
    m: int = 8,
    sub: int = 8,
    n_codes: int = 16,
    n_centroids: int = 8,
    n_probe: int = 2,
    dim: int = 64,
) -> str:
    """IVF+PQ twin: the _pq_sql machinery plus a coarse full-dim L2
    quantizer — corpus rows carry a list id (lexicographic list-min,
    the struct-min twin), queries probe their n_probe nearest lists
    (row_number ORDER BY d, cid — the array_sort twin), and only
    list-matched candidates are ADC-scored."""
    enc_cols = ", ".join(
        f"CAST(min([d{s}, CAST(cid AS DOUBLE)])[2] AS INT) AS c{s}"
        for s in range(m)
    )
    pair_d = ", ".join(
        f"{_sqd_sql('e.embedding', 'cb.cv', s * sub, sub)} AS d{s}"
        for s in range(m)
    )
    qt_d = ", ".join(
        f"{_sqd_sql('q.embedding', 'cb.cv', s * sub, sub)} AS t{s}"
        for s in range(m)
    )
    joins = "\n            ".join(
        f"JOIN qtab qt{s} ON qt{s}.cid = en.c{s} AND qt{s}.query_id = qp.query_id"
        for s in range(m)
    )
    adc = " + ".join(f"qt{s}.t{s}" for s in range(m))
    coarse_e = _sqd_sql("e.embedding", "cc.cv", 0, dim)
    return f"""
        WITH cb AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
            FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_codes})
        ),
        cc AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
            FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_centroids})
        ),
        assign AS (
            SELECT vec_id, CAST(min([df, CAST(cid AS DOUBLE)])[2] AS INT) AS list_id
            FROM (
                SELECT e.vec_id, cc.cid, {coarse_e} AS df
                FROM embeddings e CROSS JOIN cc
            ) GROUP BY vec_id
        ),
        pairs AS (
            SELECT e.vec_id, cb.cid, {pair_d}
            FROM embeddings e CROSS JOIN cb
        ),
        enc AS (
            SELECT p.vec_id, a.list_id, {enc_cols}
            FROM pairs p JOIN assign a ON p.vec_id = a.vec_id
            GROUP BY p.vec_id, a.list_id
        ),
        qprobe AS (
            SELECT vec_id AS query_id, cid AS list_id FROM (
                SELECT e.vec_id, cc.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {coarse_e} ASC, cc.cid ASC) AS pr
                FROM embeddings e CROSS JOIN cc
                WHERE e.vec_id < {ANN_N_QUERIES}
            ) WHERE pr <= {n_probe}
        ),
        qtab AS (
            SELECT q.vec_id AS query_id, cb.cid, {qt_d}
            FROM embeddings q CROSS JOIN cb
            WHERE q.vec_id < {ANN_N_QUERIES}
        ),
        scored AS (
            SELECT qp.query_id, en.vec_id AS neighbor_id,
                   round({adc}, 6) AS approx_dist
            FROM enc en
            JOIN qprobe qp ON qp.list_id = en.list_id
            {joins}
            WHERE en.vec_id <> qp.query_id
        )
        SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, approx_dist
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY approx_dist ASC, neighbor_id ASC) AS rank
            FROM scored
        )
        WHERE rank <= {ANN_K}
    """


def _ivf_search_sql(cent_sql: str) -> str:
    """IVF assignment/probe/score oracle, parameterized by the CTE that
    defines ``cent(centroid_id, cvv)`` — the seed-centroid text for the
    untrained query, the deterministic spherical-kmeans chain for the
    trained one. Assignment/probe use the RAW cosine (both engines
    produce identical doubles — rounding first could merge near-ties
    the Spark side distinguishes); only the output cosine is rounded."""
    return f"""
            WITH RECURSIVE v AS (
                SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS __v
                FROM embeddings
            ),
            {cent_sql},
            ca AS (
                SELECT vec_id AS neighbor_id, __v AS cv, centroid_id FROM (
                    SELECT v.vec_id, v.__v, cent.centroid_id,
                           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                               ORDER BY {_sql_cosine_raw("v.__v", "cent.cvv")} DESC,
                                        cent.centroid_id ASC) AS r
                    FROM v, cent
                ) t WHERE r = 1
            ),
            qp AS (
                SELECT vec_id AS query_id, __v AS qv, centroid_id FROM (
                    SELECT v.vec_id, v.__v, cent.centroid_id,
                           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                               ORDER BY {_sql_cosine_raw("v.__v", "cent.cvv")} DESC,
                                        cent.centroid_id ASC) AS r
                    FROM v, cent WHERE v.vec_id < {ANN_N_QUERIES}
                ) t WHERE r <= {ANN_IVF_PROBE}
            ),
            scored AS (
                SELECT query_id, neighbor_id, {_sql_cosine("qv", "cv")} AS cosine
                FROM ca JOIN qp USING (centroid_id)
                WHERE neighbor_id <> query_id
            )
            SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
                ) AS rank
                FROM scored
            ) r
            WHERE rank <= {ANN_K}
        """


#: trained-IVF spherical k-means rounds (must match the Spark call in
#: ann_cosine_topk_ivf_trained)
ANN_IVF_TRAIN_ITERS = 3


def _ivf_trained_cent_sql() -> str:
    """Deterministic spherical-kmeans chain producing
    ``cent(centroid_id, cvv)`` — the oracle twin of
    operators/mltrain.py:spherical_kmeans_det (fx norms, fx dot argmax
    with lowest-cid ties, fx means, empty clusters keep their previous
    centroid). Per-round CTEs are MATERIALIZED (each is referenced
    twice; naive inlining grows exponentially — the
    events_markov_stationary lesson)."""
    from sfcrimedatapipeline_spark.functions.fixedpoint import sql_fx, sql_unfx

    norm_fx = sql_unfx(f"sum({sql_fx('val * val')})")
    steps = []
    for i in range(1, ANN_IVF_TRAIN_ITERS + 1):
        prev = f"cent{i - 1}"
        steps.append(f"""
            cn{i} AS (
                SELECT cid, sqrt({sql_unfx(f"sum({sql_fx('cval * cval')})")}) AS nc
                FROM {prev} GROUP BY 1
            ),
            ch{i} AS MATERIALIZED (
                SELECT c.cid, c.dim,
                       c.cval / (CASE WHEN n.nc = 0.0 THEN 1.0 ELSE n.nc END)
                           AS cvalh
                FROM {prev} c JOIN cn{i} n USING (cid)
            ),
            dt{i} AS (
                SELECT ph.vec_id, ch.cid,
                       sum({sql_fx('ph.valh * ch.cvalh')}) AS dot_fx
                FROM ph JOIN ch{i} ch USING (dim)
                GROUP BY 1, 2
            ),
            asn{i} AS MATERIALIZED (
                SELECT vec_id, cid FROM (
                    SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id
                               ORDER BY dot_fx DESC, cid ASC) AS rn
                    FROM dt{i}
                ) WHERE rn = 1
            ),
            mn{i} AS (
                SELECT a.cid, p.dim,
                       {sql_unfx(f"sum({sql_fx('p.val')})")}
                           / CAST(count(*) AS DOUBLE) AS mval
                FROM asn{i} a JOIN pts p USING (vec_id)
                GROUP BY 1, 2
            ),
            cent{i} AS MATERIALIZED (
                SELECT c.cid, c.dim, COALESCE(m.mval, c.cval) AS cval
                FROM {prev} c
                LEFT JOIN mn{i} m ON m.cid = c.cid AND m.dim = c.dim
            )""")
    return f"""pts AS MATERIALIZED (
                SELECT vec_id, r.range AS dim,
                       CAST(embedding[r.range] AS DOUBLE) AS val
                FROM embeddings CROSS JOIN range(1, 65) r
            ),
            nvn AS (
                SELECT vec_id, sqrt({norm_fx}) AS nv FROM pts GROUP BY 1
            ),
            ph AS MATERIALIZED (
                SELECT p.vec_id, p.dim, p.val,
                       p.val / (CASE WHEN n.nv = 0.0 THEN 1.0 ELSE n.nv END)
                           AS valh
                FROM pts p JOIN nvn n USING (vec_id)
            ),
            sd AS (
                SELECT vec_id,
                       CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                           AS cid
                FROM (SELECT vec_id FROM embeddings ORDER BY vec_id
                      LIMIT {ANN_IVF_CENTROIDS})
            ),
            cent0 AS MATERIALIZED (
                SELECT sd.cid, p.dim, p.val AS cval
                FROM pts p JOIN sd USING (vec_id)
            ),{",".join(steps)},
            cent AS (
                SELECT cid AS centroid_id,
                       list(cval ORDER BY dim) AS cvv
                FROM cent{ANN_IVF_TRAIN_ITERS} GROUP BY 1
            )"""


#: trained-PQ k-means rounds (must match the Spark call in
#: ann_pq_topk_trained)
PQ_TRAIN_ITERS = 3


def _pq_trained_cb_sql(m: int = 8, sub: int = 8, n_codes: int = 16) -> str:
    """Deterministic per-subspace k-means chain producing ``cb(cid,
    cv)`` with full-vector cv — the oracle twin of
    operators/mltrain.py:pq_kmeans_det (fx subspace distances, argmin
    ties → lowest code id, fx means, empty codes keep their previous
    centroid). MATERIALIZED per round (the exponential-inlining
    lesson)."""
    from sfcrimedatapipeline_spark.functions.fixedpoint import sql_fx, sql_unfx

    steps = []
    for i in range(1, PQ_TRAIN_ITERS + 1):
        prev = f"cb{i - 1}"
        steps.append(f"""
        dt{i} AS (
            SELECT p.vec_id, p.s, c.cid,
                   sum({sql_fx('(p.val - c.cval) * (p.val - c.cval)')})
                       AS dist_fx
            FROM pq_pts p JOIN {prev} c USING (dim)
            GROUP BY 1, 2, 3
        ),
        asn{i} AS MATERIALIZED (
            SELECT vec_id, s, cid FROM (
                SELECT vec_id, s, cid,
                       row_number() OVER (PARTITION BY vec_id, s
                           ORDER BY dist_fx ASC, cid ASC) AS rn
                FROM dt{i}
            ) WHERE rn = 1
        ),
        mn{i} AS (
            SELECT a.cid, p.dim,
                   {sql_unfx(f"sum({sql_fx('p.val')})")}
                       / CAST(count(*) AS DOUBLE) AS mval
            FROM asn{i} a JOIN pq_pts p ON p.vec_id = a.vec_id AND p.s = a.s
            GROUP BY 1, 2
        ),
        cb{i} AS MATERIALIZED (
            SELECT c.cid, c.dim, COALESCE(m.mval, c.cval) AS cval
            FROM {prev} c
            LEFT JOIN mn{i} m ON m.cid = c.cid AND m.dim = c.dim
        )""")
    return f"""pq_pts AS MATERIALIZED (
            SELECT vec_id, r.range AS dim,
                   CAST((r.range - 1) // {sub} AS INTEGER) AS s,
                   CAST(embedding[r.range] AS DOUBLE) AS val
            FROM embeddings CROSS JOIN range(1, {m * sub + 1}) r
        ),
        pq_sd AS (
            SELECT vec_id,
                   CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                       AS cid
            FROM (SELECT vec_id FROM embeddings ORDER BY vec_id
                  LIMIT {n_codes})
        ),
        cb0 AS MATERIALIZED (
            SELECT sd.cid, p.dim, p.val AS cval
            FROM pq_pts p JOIN pq_sd sd USING (vec_id)
        ),{",".join(steps)},
        cb AS (
            SELECT cid, list(cval ORDER BY dim) AS cv
            FROM cb{PQ_TRAIN_ITERS} GROUP BY 1
        )"""


def build_oracle_sql() -> dict[str, str]:
    q = textstats
    return {
        "text_token_stats": f"""
            WITH tok AS (SELECT doc_id, text, {SQL_TOKENS} AS t FROM documents)
            SELECT doc_id,
                   CAST(len(t) AS INTEGER) AS n_tokens,
                   CASE WHEN len(t) > 0
                        THEN CAST(CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT) AS DOUBLE) / len(t)
                        ELSE 0.0 END AS mean_token_len,
                   CASE WHEN len(text) > 0
                        THEN CAST(len(text) - len(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')) AS DOUBLE) / len(text)
                        ELSE 0.0 END AS non_alnum_ratio
            FROM tok
        """,
        # every fraction is one division of exact integer counts; the
        # bigram list is built 1-indexed to mirror ngrams(toks, 2)
        "text_repetition": f"""
            WITH tok AS (SELECT doc_id, {SQL_TOKENS} AS t FROM documents),
            uw AS (SELECT doc_id, unnest(t) AS g FROM tok),
            bw AS (
                SELECT doc_id, unnest(
                    CASE WHEN len(t) >= 2
                         THEN [t[i] || ' ' || t[i+1] for i in generate_series(1, len(t)-1)]
                         ELSE [] END) AS g
                FROM tok
            ),
            uni AS (
                SELECT doc_id, CAST(sum(c) AS BIGINT) AS total,
                       CAST(count(*) AS BIGINT) AS types,
                       CAST(max(c) AS BIGINT) AS top
                FROM (SELECT doc_id, g, count(*) AS c FROM uw GROUP BY doc_id, g)
                GROUP BY doc_id
            ),
            bi AS (
                SELECT doc_id, CAST(sum(c) AS BIGINT) AS total,
                       CAST(count(*) AS BIGINT) AS types,
                       CAST(max(c) AS BIGINT) AS top
                FROM (SELECT doc_id, g, count(*) AS c FROM bw GROUP BY doc_id, g)
                GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(uni.total, 0) AS n_tokens,
                   coalesce(uni.types, 0) AS n_types,
                   CASE WHEN uni.total > 0
                        THEN CAST(uni.total - uni.types AS DOUBLE) / uni.total
                        ELSE 0.0 END AS dup_token_frac,
                   CASE WHEN uni.total > 0
                        THEN CAST(uni.top AS DOUBLE) / uni.total
                        ELSE 0.0 END AS top_unigram_frac,
                   coalesce(bi.total, 0) AS n_bigrams,
                   CASE WHEN bi.total > 0
                        THEN CAST(bi.total - bi.types AS DOUBLE) / bi.total
                        ELSE 0.0 END AS dup_bigram_frac,
                   CASE WHEN bi.total > 0
                        THEN CAST(bi.top AS DOUBLE) / bi.total
                        ELSE 0.0 END AS top_bigram_frac
            FROM documents d
            LEFT JOIN uni ON d.doc_id = uni.doc_id
            LEFT JOIN bi ON d.doc_id = bi.doc_id
        """,
        # literal char-class ranges shared with the Spark side (Java
        # regex and RE2 disagree on escape syntax, not on literal
        # ranges); dominant = argmax, alphabetical tie-break
        "text_script_mix": (
            lambda names=sorted(textstats.SCRIPT_RANGES): f"""
            WITH c AS (
                SELECT doc_id,
                       {", ".join(
                           "CAST(length(text) - length(regexp_replace(text, '["
                           + textstats.SCRIPT_RANGES[n]
                           + "]', '', 'g')) AS BIGINT) AS n_" + n
                           for n in names
                       )}
                FROM documents
            )
            SELECT doc_id, {", ".join("n_" + n for n in names)},
                   CASE WHEN {" + ".join("n_" + n for n in names)} = 0
                             OR greatest({", ".join("n_" + n for n in names)}) = 0
                        THEN 'none'
                        {" ".join(
                            "WHEN n_" + n + " = greatest("
                            + ", ".join("n_" + m for m in names)
                            + ") THEN '" + n + "'"
                            for n in names
                        )}
                        ELSE 'none' END AS dominant_script
            FROM c
        """
        )(),
        # q_t = LM_SCALE div c_t keeps every intermediate an exact
        # BIGINT; the final multiply/divide sequence is identical on
        # both engines (see textstats.unigram_lm_score)
        "text_unigram_lm": f"""
            WITH tok AS (SELECT doc_id, {SQL_TOKENS} AS t FROM documents),
            w AS (SELECT doc_id, unnest(t) AS tk FROM tok),
            tf AS (SELECT doc_id, tk, count(*) AS c FROM w GROUP BY doc_id, tk),
            lm AS (SELECT tk, CAST(sum(c) AS BIGINT) AS ct FROM tf GROUP BY tk),
            n AS (SELECT CAST(sum(ct) AS BIGINT) AS N FROM lm),
            sc AS (
                SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                       CAST(sum(c * ({q.LM_SCALE} // ct)) AS BIGINT) AS sq
                FROM tf JOIN lm USING (tk) GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(sc.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
                   coalesce(CAST(n.N AS DOUBLE) * CAST(sc.sq AS DOUBLE)
                            / {float(q.LM_SCALE)} / sc.n_tokens,
                            0.0) AS rarity
            FROM documents d
            LEFT JOIN sc ON d.doc_id = sc.doc_id
            CROSS JOIN n
        """,
        "text_quality": f"""
            WITH tok AS (SELECT doc_id, {SQL_TOKENS} AS t FROM documents),
            m AS (
                SELECT doc_id, len(t) AS n,
                       {sql_stopword_hits('t', 'en')} AS hits,
                       CASE WHEN len(t) > 0
                            THEN CAST(CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT) AS DOUBLE) / len(t)
                            ELSE 0.0 END AS mean_len
                FROM tok
            )
            SELECT doc_id,
                   CASE WHEN n > 0 THEN CAST(hits AS DOUBLE) / n ELSE 0.0 END AS stopword_ratio,
                   CAST((n BETWEEN {q.QUALITY_MIN_TOKENS} AND {q.QUALITY_MAX_TOKENS}) AS INTEGER)
                   + CAST((mean_len BETWEEN {q.QUALITY_MIN_MEAN_LEN} AND {q.QUALITY_MAX_MEAN_LEN}) AS INTEGER)
                   + CAST((CASE WHEN n > 0 THEN CAST(hits AS DOUBLE) / n ELSE 0.0 END)
                          >= {q.QUALITY_MIN_STOPWORD_RATIO} AS INTEGER) AS quality_score
            FROM m
        """,
        "text_lang_id": _lang_case(),
        "text_token_count_bpe": f"""
            WITH tok AS (
                SELECT doc_id, {SQL_TOKENS} AS t, {SQL_BPE_TOKENS} AS bpe
                FROM documents
            )
            SELECT doc_id,
                   CAST(len(t) AS INTEGER) AS n_word_tokens,
                   CAST(len(bpe) AS INTEGER) AS n_bpe_tokens,
                   CASE WHEN len(t) > 0
                        THEN CAST(len(bpe) AS DOUBLE) / len(t)
                        ELSE 0.0 END AS bpe_per_word
            FROM tok
        """,
        "text_winnow_fingerprints": _winnow_sql(),
        # array payload serialized at the driver-facing boundary
        # (functions/text.py:sql_ids_to_str) — the builder keeps the
        # array form for composing oracles (pack / span-corrupt).
        "docs_tokenize_bpe": f"""
            SELECT doc_id, {sql_ids_to_str('token_ids')} AS token_ids
            FROM ({_tokenize_bpe_sql()}) t
        """,
        "text_bigram_lm": f"""
            WITH tok AS (SELECT doc_id, {SQL_TOKENS} AS t FROM documents),
            bgx AS (SELECT doc_id, unnest({sql_ngrams('t', 2)}) AS b FROM tok),
            tf AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
                   FROM bgx GROUP BY doc_id, b),
            lm AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM tf GROUP BY b),
            pref AS (SELECT string_split(b, ' ')[1] AS a,
                            CAST(sum(cb) AS BIGINT) AS ca
                     FROM lm GROUP BY 1),
            q AS (SELECT lm.b,
                         CAST((pref.ca * {textstats.BIGRAM_LM_SCALE}) // lm.cb
                              AS BIGINT) AS q
                  FROM lm JOIN pref ON string_split(lm.b, ' ')[1] = pref.a),
            sc AS (SELECT tf.doc_id,
                          CAST(sum(tf.c) AS BIGINT) AS n_bigrams,
                          CAST(sum(tf.c * q.q) AS BIGINT) AS sq
                   FROM tf JOIN q ON tf.b = q.b GROUP BY tf.doc_id)
            SELECT d.doc_id,
                   coalesce(sc.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
                   CASE WHEN sc.n_bigrams IS NOT NULL
                        THEN CAST(sc.sq AS DOUBLE)
                             / {float(textstats.BIGRAM_LM_SCALE)}
                             / CAST(sc.n_bigrams AS DOUBLE)
                        ELSE 0.0 END AS surprisal
            FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        """,
        "text_ttr_hapax": f"""
            WITH tok AS (SELECT doc_id, unnest({SQL_TOKENS}) AS t FROM documents),
            tc AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c
                   FROM tok GROUP BY doc_id, t),
            st AS (
                SELECT doc_id,
                       CAST(sum(c) AS BIGINT) AS n_tokens,
                       CAST(count(*) AS BIGINT) AS n_types,
                       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_hapax
                FROM tc GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(st.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
                   coalesce(st.n_types, CAST(0 AS BIGINT)) AS n_types,
                   CASE WHEN coalesce(st.n_tokens, 0) > 0
                        THEN CAST(st.n_types AS DOUBLE)
                             / CAST(st.n_tokens AS DOUBLE)
                        ELSE 0.0 END AS ttr,
                   coalesce(st.n_hapax, CAST(0 AS BIGINT)) AS n_hapax,
                   CASE WHEN coalesce(st.n_tokens, 0) > 0
                        THEN CAST(st.n_hapax AS DOUBLE)
                             / CAST(st.n_tokens AS DOUBLE)
                        ELSE 0.0 END AS hapax_ratio
            FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
        """,
        # curate_corpus composed: quality + repetition CTEs feed one
        # disposition CASE in the operator's priority order; dedup is
        # min(doc_id) per fingerprint among eligible docs only
        "corpus_curation_report": f"""
            WITH tok AS (SELECT doc_id, source, text, {SQL_TOKENS} AS t FROM documents),
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
                       CAST((len(t) BETWEEN {q.QUALITY_MIN_TOKENS} AND {q.QUALITY_MAX_TOKENS}) AS INTEGER)
                       + CAST(((CASE WHEN len(t) > 0
                                     THEN CAST(CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT) AS DOUBLE) / len(t)
                                     ELSE 0.0 END)
                               BETWEEN {q.QUALITY_MIN_MEAN_LEN} AND {q.QUALITY_MAX_MEAN_LEN}) AS INTEGER)
                       + CAST((CASE WHEN len(t) > 0
                                    THEN CAST({sql_stopword_hits('t', 'en')} AS DOUBLE) / len(t)
                                    ELSE 0.0 END)
                              >= {q.QUALITY_MIN_STOPWORD_RATIO} AS INTEGER) AS quality_score,
                       md5({SQL_NORMALIZED}) AS fingerprint
                FROM tok LEFT JOIN uni ON tok.doc_id = uni.doc_id
            ),
            keep AS (
                SELECT fingerprint, min(doc_id) AS keep_id
                FROM m
                WHERE quality_score >= {corpus_ops.CURATE_MIN_QUALITY}
                  AND dupf <= {corpus_ops.CURATE_MAX_DUP_TOKEN_FRAC}
                GROUP BY fingerprint
            ),
            d AS (
                SELECT m.source, m.n_tokens,
                       CASE WHEN m.quality_score < {corpus_ops.CURATE_MIN_QUALITY} THEN 'low_quality'
                            WHEN m.dupf > {corpus_ops.CURATE_MAX_DUP_TOKEN_FRAC} THEN 'repetitive'
                            WHEN m.doc_id = keep.keep_id THEN 'kept'
                            ELSE 'duplicate' END AS disp
                FROM m LEFT JOIN keep ON m.fingerprint = keep.fingerprint
            )
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN disp = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   CAST(sum(CASE WHEN disp = 'low_quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
                   CAST(sum(CASE WHEN disp = 'repetitive' THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
                   CAST(sum(CASE WHEN disp = 'duplicate' THEN 1 ELSE 0 END) AS BIGINT) AS n_duplicate,
                   CAST(sum(CASE WHEN disp = 'kept' THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
            FROM d GROUP BY source
        """,
        "dedup_exact_fingerprint": f"""
            SELECT md5({SQL_NORMALIZED}) AS fingerprint,
                   min(doc_id) AS kept_doc_id,
                   count(*) AS n_copies
            FROM documents
            GROUP BY 1
        """,
        "dedup_minhash_lsh": _minhash_sql(),
        # cross subset of the self-join pairs: exactly one endpoint in
        # the delta (doc_id % 10 = 7), oriented delta -> corpus
        "dedup_delta_minhash": f"""
            SELECT CASE WHEN doc_a % 10 = 7 THEN doc_a ELSE doc_b END AS delta_id,
                   CASE WHEN doc_a % 10 = 7 THEN doc_b ELSE doc_a END AS corpus_id,
                   jaccard
            FROM ({_minhash_sql()}) p
            WHERE (doc_a % 10 = 7) <> (doc_b % 10 = 7)
        """,
        "dedup_ngram_jaccard": f"""
            WITH tok AS (SELECT doc_id, {SQL_TOKENS} AS t FROM documents),
            sh AS (SELECT doc_id, list_distinct({sql_ngrams('t')}) AS shingles FROM tok),
            ex0 AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
            keep AS (SELECT g FROM ex0 GROUP BY g HAVING count(*) <= {NGRAM_MAX_DF}),
            ex AS (SELECT doc_id, g FROM ex0 JOIN keep USING (g)),
            sz AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id),
            p AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
                FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   round(CAST(ni AS DOUBLE) / (sa.n_sh + sb.n_sh - ni), 6) AS jaccard
            FROM p
            JOIN sz sa ON sa.doc_id = p.doc_a
            JOIN sz sb ON sb.doc_id = p.doc_b
            WHERE CAST(ni AS DOUBLE) / (sa.n_sh + sb.n_sh - ni) >= {JACCARD_THRESHOLD}
        """,
        "dedup_simhash": _simhash_sql(),
        "dedup_delta_vs_corpus": f"""
            WITH d AS (
                SELECT doc_id, md5({SQL_NORMALIZED}) AS fingerprint
                FROM documents WHERE doc_id % 5 = 4
            ),
            c AS (
                SELECT md5({SQL_NORMALIZED}) AS fingerprint
                FROM documents WHERE doc_id % 5 != 4
            )
            SELECT min(doc_id) AS doc_id, fingerprint
            FROM d
            WHERE fingerprint IS NOT NULL
              AND fingerprint NOT IN (SELECT fingerprint FROM c)
            GROUP BY fingerprint
        """,
        "text_vocabulary": f"""
            WITH tok AS (SELECT unnest({SQL_TOKENS}) AS token FROM documents),
            c AS (SELECT token, count(*) AS freq FROM tok GROUP BY 1),
            r AS (
                SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) - 1 AS INTEGER) AS token_id,
                       token, CAST(freq AS BIGINT) AS freq
                FROM c
            )
            SELECT token_id, token, freq FROM r WHERE token_id < {VOCAB_SIZE}
        """,
        "text_oov_rate": f"""
            WITH tok AS (SELECT doc_id, unnest({SQL_TOKENS}) AS token FROM documents),
            c AS (SELECT token, count(*) AS freq FROM tok GROUP BY 1),
            vocab AS (
                SELECT token FROM (
                    SELECT token, ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) - 1 AS tid
                    FROM c
                ) v WHERE tid < {VOCAB_SIZE}
            ),
            agg AS (
                SELECT t.doc_id, count(*) AS n_tokens,
                       sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS n_oov
                FROM tok t LEFT JOIN vocab v ON t.token = v.token
                GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(coalesce(n_oov, 0) AS BIGINT) AS n_oov,
                   CASE WHEN coalesce(n_tokens, 0) > 0
                        THEN round(CAST(n_oov AS DOUBLE) / n_tokens, 6)
                        ELSE 0.0 END AS oov_rate
            FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        """,
        # parity requires the ASCII projection: DuckDB levenshtein
        # counts BYTE edits, Spark counts CHARACTER edits
        "dedup_fuzzy_editdist": f"""
            WITH base AS (
                SELECT doc_id, lang,
                       substring(regexp_replace(text, '[^ -~]', '', 'g'), 1, {FUZZY_PREFIX}) AS prefix,
                       len(regexp_replace(text, '[^ -~]', '', 'g')) AS l
                FROM documents
            ),
            banded AS (
                SELECT *, unnest([l // {FUZZY_BAND}, l // {FUZZY_BAND} + 1]) AS band
                FROM base
            ),
            pairs AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                                a.prefix AS pa, b.prefix AS pb
                FROM banded a JOIN banded b
                  ON a.lang = b.lang AND a.band = b.band
                 AND a.doc_id < b.doc_id
                 AND abs(a.l - b.l) <= {FUZZY_MAX_DIST}
            )
            SELECT doc_a, doc_b,
                   CAST(levenshtein(pa, pb) AS INTEGER) AS prefix_dist
            FROM pairs WHERE levenshtein(pa, pb) <= {FUZZY_MAX_DIST}
        """,
        "ann_cosine_topk": _ann_sql(lsh=False),
        "ann_cosine_topk_lsh": _ann_sql(lsh=True),
        "ann_pq_topk": _pq_sql(),
        "ann_ivfpq_topk": _ivfpq_sql(),
        # RRF twin: the three tier oracles as CTEs; per-slot reciprocal
        # terms summed in input-set order (the Spark array fold)
        "ann_hybrid_rrf": f"""
            WITH s0 AS ({_ann_sql(lsh=False)}),
            s1 AS ({_ann_sql(lsh=True)}),
            s2 AS ({_pq_sql()}),
            u AS (
                SELECT query_id, neighbor_id, 0 AS st, rank FROM s0
                UNION ALL
                SELECT query_id, neighbor_id, 1 AS st, rank FROM s1
                UNION ALL
                SELECT query_id, neighbor_id, 2 AS st, rank FROM s2
            ),
            g AS (
                SELECT query_id, neighbor_id,
                       max(CASE WHEN st = 0 THEN rank END) AS r0,
                       max(CASE WHEN st = 1 THEN rank END) AS r1,
                       max(CASE WHEN st = 2 THEN rank END) AS r2
                FROM u GROUP BY query_id, neighbor_id
            ),
            f AS (
                SELECT query_id, neighbor_id,
                       coalesce(1.0e0 / (60 + r0), 0.0e0)
                       + coalesce(1.0e0 / (60 + r1), 0.0e0)
                       + coalesce(1.0e0 / (60 + r2), 0.0e0) AS rrf_score
                FROM g
            )
            SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, rrf_score
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY rrf_score DESC, neighbor_id ASC) AS rank
                FROM f
            )
            WHERE rank <= {ANN_K}
        """,
        "emb_validate": """
            WITH m AS (
                SELECT vec_id,
                       embedding IS NULL AS is_null,
                       CAST(coalesce(len(embedding), -1) AS INTEGER) AS n_dims,
                       coalesce(len(list_filter(embedding,
                                    x -> isnan(x) OR isinf(x))) > 0,
                                FALSE) AS has_nan,
                       coalesce(len(list_filter(embedding, x -> x IS NULL)) > 0,
                                FALSE) AS has_null_elem,
                       coalesce(len(list_filter(embedding,
                                    x -> x IS NULL OR x <> 0.0)) = 0
                                AND embedding IS NOT NULL,
                                FALSE) AS is_zero
                FROM embeddings
            )
            SELECT vec_id, is_null, n_dims, has_nan, has_null_elem, is_zero,
                   NOT is_null AND n_dims = 64 AND NOT has_nan
                   AND NOT has_null_elem AND NOT is_zero AS valid
            FROM m
        """,
        # SemDeDup twin: the _ivfpq_sql coarse-assignment fragment, the
        # exact rounded-cosine pair verify, and the dedup_clusters
        # recursive-CTE closure composed; threshold in E-notation (see
        # corpus_queries mix_report note on DuckDB decimal literals)
        "emb_semantic_dedup": f"""
            WITH RECURSIVE cents AS (
                SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
                FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
            ),
            assign AS (
                SELECT vec_id, CAST(min([df, CAST(cid AS DOUBLE)])[2] AS INT) AS cluster_id
                FROM (
                    SELECT e.vec_id, cents.cid,
                           {_sqd_sql("e.embedding", "cents.cv", 0, 64)} AS df
                    FROM embeddings e CROSS JOIN cents
                ) GROUP BY vec_id
            ),
            v AS (
                SELECT a.vec_id, a.cluster_id, e.embedding
                FROM assign a JOIN embeddings e ON a.vec_id = e.vec_id
            ),
            p AS (
                SELECT x.vec_id AS doc_a, y.vec_id AS doc_b
                FROM v x JOIN v y
                  ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
                WHERE {_sql_cosine("x.embedding", "y.embedding")} >= {EMB_NEAR_DUP_THRESHOLD!r}e0
            ),
            edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM p
                UNION ALL
                SELECT doc_b, doc_a FROM p
            ),
            nodes AS (SELECT DISTINCT src AS id FROM edges),
            reach(id, r) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
            ),
            mp AS (SELECT id, min(r) AS canon FROM reach GROUP BY id)
            SELECT a.vec_id, a.cluster_id,
                   CAST(coalesce(m.canon, a.vec_id) AS BIGINT) AS canonical_id,
                   a.vec_id = coalesce(m.canon, a.vec_id) AS kept
            FROM assign a LEFT JOIN mp m ON a.vec_id = m.id
        """,
        # IVF: assignment/probe use the RAW cosine (both engines produce
        # identical doubles — rounding first could merge near-ties the
        # Spark side distinguishes); only the output cosine is rounded
        "ann_cosine_topk_ivf": _ivf_search_sql(
            f"""cent AS (SELECT vec_id AS centroid_id, __v AS cvv FROM v
                     ORDER BY vec_id LIMIT {ANN_IVF_CENTROIDS})"""
        ),
        "ann_cosine_topk_ivf_trained": _ivf_search_sql(_ivf_trained_cent_sql()),
        "ann_pq_topk_trained": _pq_sql(cb_sql=_pq_trained_cb_sql()),

        "emb_near_duplicates_lsh": _emb_lsh_auto_sql(),
        # cross-pair restriction of the SAME self-join oracle: band
        # collision is pairwise, so the cross-corpus operator's pair
        # set is exactly the union self-join's pairs with one endpoint
        # per side of PLANT_ID_OFFSET
        "contamination_semantic": _emb_lsh_auto_sql(
            final_select=f"""
            SELECT id_b AS eval_id, id_a AS train_id, cosine FROM scored
            WHERE cosine >= {EMB_DEDUP_THRESHOLD}
              AND id_b >= {PLANT_ID_OFFSET} AND id_a < {PLANT_ID_OFFSET}
            """
        ),
        "emb_near_duplicates_lsh_smallcorpus": _emb_lsh_sql(),
        "emb_near_duplicates": f"""
            WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS __v FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   {_sql_cosine("a.__v", "b.__v")} AS cosine
            FROM v a, v b
            WHERE a.vec_id < b.vec_id
              AND {_sql_cosine("a.__v", "b.__v")} >= {EMB_NEAR_DUP_THRESHOLD}
        """,
    }


QUERIES = {
    "dedup_fuzzy_editdist": dedup_fuzzy_editdist,
    "dedup_delta_vs_corpus": dedup_delta_vs_corpus,
    "text_token_stats": text_token_stats,
    "text_quality": text_quality,
    "text_lang_id": text_lang_id,
    "text_token_count_bpe": text_token_count_bpe,
    "docs_tokenize_bpe": docs_tokenize_bpe,
    "text_ttr_hapax": text_ttr_hapax,
    "text_bigram_lm": text_bigram_lm,
    "text_repetition": text_repetition,
    "text_unigram_lm": text_unigram_lm,
    "text_script_mix": text_script_mix,
    # rows-only: iterative argmax rounds, exactly-deterministic output
    # pinned by the pure-Python parity test
    "text_bpe_merges": text_bpe_merges,
    # rows-only: same iterative-training rationale; parity-pinned vs
    # the distributed trainer and the pure-Python reference
    "text_bpe_merges_local": text_bpe_merges_local,
    "text_winnow_fingerprints": text_winnow_fingerprints,
    "corpus_curation_report": corpus_curation_report,
    "dedup_exact_fingerprint": dedup_exact_fingerprint,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_delta_minhash": dedup_delta_minhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "text_vocabulary": text_vocabulary,
    "text_oov_rate": text_oov_rate,
    "dedup_lsh_recall": dedup_lsh_recall,
    "dedup_simhash": dedup_simhash,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_cosine_topk_lsh": ann_cosine_topk_lsh,
    "ann_cosine_topk_ivf": ann_cosine_topk_ivf,
    "ann_pq_topk": ann_pq_topk,
    "ann_ivfpq_topk": ann_ivfpq_topk,
    "ann_hybrid_rrf": ann_hybrid_rrf,
    # hash-gated since r9b: the deterministic per-subspace trainer makes
    # the codebooks engine-reproducible (see docstring)
    "ann_pq_topk_trained": ann_pq_topk_trained,
    # hash-gated since r9b: the deterministic spherical trainer makes
    # the centroids engine-reproducible (see docstring)
    "ann_cosine_topk_ivf_trained": ann_cosine_topk_ivf_trained,
    "emb_validate": emb_validate,
    "emb_semantic_dedup": emb_semantic_dedup,
    "emb_near_duplicates": emb_near_duplicates,
    "emb_near_duplicates_lsh": emb_near_duplicates_lsh,
    "contamination_semantic": contamination_semantic,
    "emb_near_duplicates_lsh_smallcorpus": emb_near_duplicates_lsh_smallcorpus,
    "docs_tokenize_roundtrip": docs_tokenize_roundtrip,
    "text_top_ngrams_per_lang": text_top_ngrams_per_lang,
    "emb_norm_histogram": emb_norm_histogram,
    "dedup_method_agreement": dedup_method_agreement,
    "text_bigram_collocations": text_bigram_collocations,
    "text_tokenizer_fertility": text_tokenizer_fertility,
    "dedup_containment": dedup_containment,
    "dedup_shingle_df_profile": dedup_shingle_df_profile,
}

ORACLE_SQL = build_oracle_sql()

ORACLE_SQL["docs_tokenize_roundtrip"] = _tokenize_roundtrip_sql()

# method-agreement Venn: the three pair oracles composed as subqueries
ORACLE_SQL["dedup_method_agreement"] = f"""
    WITH mh AS (SELECT doc_a, doc_b FROM ({_minhash_sql()}) m),
    ng AS (SELECT doc_a, doc_b FROM ({ORACLE_SQL["dedup_ngram_jaccard"]}) n),
    fz AS (SELECT doc_a, doc_b FROM ({ORACLE_SQL["dedup_fuzzy_editdist"]}) f),
    j AS (
        SELECT coalesce(mh.doc_a, ng.doc_a, fz.doc_a) AS doc_a,
               coalesce(mh.doc_b, ng.doc_b, fz.doc_b) AS doc_b,
               mh.doc_a IS NOT NULL AS in_minhash,
               ng.doc_a IS NOT NULL AS in_ngram,
               fz.doc_a IS NOT NULL AS in_fuzzy
        FROM mh
        FULL OUTER JOIN ng ON mh.doc_a = ng.doc_a AND mh.doc_b = ng.doc_b
        FULL OUTER JOIN fz
          ON coalesce(mh.doc_a, ng.doc_a) = fz.doc_a
         AND coalesce(mh.doc_b, ng.doc_b) = fz.doc_b
    )
    SELECT in_minhash, in_ngram, in_fuzzy,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM j GROUP BY 1, 2, 3
"""

ORACLE_SQL["dedup_shingle_df_profile"] = f"""
    WITH tok AS (SELECT doc_id, {SQL_TOKENS} AS t FROM documents),
    sh AS (SELECT doc_id, list_distinct({sql_ngrams('t')}) AS shingles FROM tok),
    ex AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
    dfs AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM ex GROUP BY g)
    SELECT df AS doc_frequency, CAST(count(*) AS BIGINT) AS n_shingles
    FROM dfs GROUP BY df
"""

ORACLE_SQL["dedup_containment"] = f"""
    WITH tok AS (SELECT doc_id, {SQL_TOKENS} AS t FROM documents),
    sh AS (SELECT doc_id, list_distinct({sql_ngrams('t')}) AS shingles FROM tok),
    ex0 AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
    keep AS (SELECT g FROM ex0 GROUP BY g HAVING count(*) <= {NGRAM_MAX_DF}),
    ex AS (SELECT doc_id, g FROM ex0 JOIN keep USING (g)),
    sz AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id),
    p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    dirs AS (
        SELECT doc_a AS doc_contained, doc_b AS doc_container,
               CAST(ni AS DOUBLE) / sa.n_sh AS c
        FROM p JOIN sz sa ON sa.doc_id = p.doc_a
        UNION ALL
        SELECT doc_b, doc_a, CAST(ni AS DOUBLE) / sb.n_sh AS c
        FROM p JOIN sz sb ON sb.doc_id = p.doc_b
    )
    SELECT doc_contained, doc_container, round(c, 6) AS containment
    FROM dirs WHERE c >= {CONTAIN_THRESHOLD}
"""

ORACLE_SQL["text_tokenizer_fertility"] = f"""
    WITH t AS ({_tokenize_bpe_sql()}),
    words AS (SELECT doc_id, lang, CAST(len({SQL_TOKENS}) AS BIGINT) AS w
              FROM documents),
    j AS (
        SELECT words.lang, words.w,
               CAST(len(t.token_ids) AS BIGINT) AS sub
        FROM words JOIN t ON t.doc_id = words.doc_id
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w) AS BIGINT) AS n_words,
           CAST(sum(sub) AS BIGINT) AS n_subwords,
           CASE WHEN sum(w) > 0
                THEN CAST(sum(sub) AS DOUBLE) / CAST(sum(w) AS DOUBLE)
                ELSE 0.0 END AS fertility
    FROM j GROUP BY lang
"""

ORACLE_SQL["text_bigram_collocations"] = f"""
    WITH tok AS (SELECT {SQL_TOKENS} AS toks FROM documents),
    uni AS (
        SELECT w, CAST(count(*) AS BIGINT) AS n_w
        FROM (SELECT unnest(toks) AS w FROM tok) u GROUP BY 1
    ),
    big AS (
        SELECT bigram, CAST(count(*) AS BIGINT) AS n_ab
        FROM (SELECT unnest({sql_ngrams('toks', 2)}) AS bigram FROM tok) g
        GROUP BY 1
    ),
    nt AS (SELECT CAST(sum(n_w) AS BIGINT) AS n_tok FROM uni),
    nb AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_big FROM big),
    scored AS (
        SELECT b.bigram, b.n_ab, ua.n_w AS n_a, ub.n_w AS n_b,
               CAST(b.n_ab AS DOUBLE) * CAST(nt.n_tok AS DOUBLE)
                   * CAST(nt.n_tok AS DOUBLE)
               / (CAST(nb.n_big AS DOUBLE) * CAST(ua.n_w AS DOUBLE)
                  * CAST(ub.n_w AS DOUBLE)) AS lift
        FROM big b
        JOIN uni ua ON ua.w = string_split(b.bigram, ' ')[1]
        JOIN uni ub ON ub.w = string_split(b.bigram, ' ')[2]
        CROSS JOIN nt CROSS JOIN nb
        WHERE b.n_ab >= {COLLOC_MIN_SUPPORT}
    )
    SELECT CAST(row_number() OVER (ORDER BY lift DESC, bigram ASC)
                AS INTEGER) AS rank,
           bigram, n_ab, n_a, n_b, lift
    FROM scored
    QUALIFY rank <= {COLLOC_TOP_K}
"""

ORACLE_SQL["emb_norm_histogram"] = f"""
    SELECT CAST(floor(sqrt(list_sum(
               [CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                for i in generate_series(1, 64)]))
               * {NORM_BUCKET_SCALE}) AS BIGINT) AS norm_bucket,
           CAST(count(*) AS BIGINT) AS n_vectors
    FROM embeddings GROUP BY 1
"""

ORACLE_SQL["text_top_ngrams_per_lang"] = f"""
    WITH tok AS (SELECT lang, {SQL_TOKENS} AS toks FROM documents),
    grams AS (SELECT lang, unnest({sql_ngrams('toks', 2)}) AS ngram FROM tok),
    counts AS (
        SELECT lang, ngram, CAST(count(*) AS BIGINT) AS n
        FROM grams GROUP BY 1, 2
    )
    SELECT lang, CAST(rank AS INTEGER) AS rank, ngram, n FROM (
        SELECT *, row_number() OVER (
            PARTITION BY lang ORDER BY n DESC, ngram ASC) AS rank
        FROM counts) r
    WHERE rank <= {TOP_NGRAMS_K}
"""

# recall harness: the two pair-set oracles composed as nested CTEs
ORACLE_SQL["dedup_lsh_recall"] = f"""
    WITH ex AS ({ORACLE_SQL["dedup_ngram_jaccard"]}),
    mh AS ({_minhash_sql()})
    SELECT (SELECT count(*) FROM ex) AS n_exact,
           (SELECT count(*) FROM mh) AS n_lsh,
           (SELECT count(*) FROM ex JOIN mh
             ON ex.doc_a = mh.doc_a AND ex.doc_b = mh.doc_b) AS n_common
"""


def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID CONFUSION MATRIX: detected language (the stopword
    heuristic, operators/textstats.py:with_lang_id) against the
    declared ``lang`` column — the evaluation every classifier-scored
    pipeline owes its filters. One matrix cell per (declared,
    predicted) pair with its share within the declared language;
    per-declared-lang totals arrive by a broadcast join on the
    lang-cardinality aggregate, not a window."""
    from sfcrimedatapipeline_spark.operators import textstats

    docs = _read_parallel(spark, sf_dir, "documents")
    cells = (
        textstats.with_lang_id(docs)
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").cast("long").alias("n"))
    )
    totals = cells.groupBy("lang").agg(F.sum("n").cast("long").alias("n_lang"))
    return cells.join(F.broadcast(totals), "lang").select(
        "lang",
        "lang_pred",
        "n",
        "n_lang",
        (F.col("n").cast("double") / F.col("n_lang").cast("double")).alias(
            "share"
        ),
        (F.col("lang") == F.col("lang_pred")).alias("is_correct"),
    )


QUERIES["text_langid_confusion"] = text_langid_confusion

ORACLE_SQL["text_langid_confusion"] = f"""
    WITH pred AS ({_lang_case()}),
    cells AS (
        SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
        FROM pred GROUP BY 1, 2
    ),
    tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang FROM cells GROUP BY 1)
    SELECT cells.lang, lang_pred, n, n_lang,
           CAST(n AS DOUBLE) / CAST(n_lang AS DOUBLE) AS share,
           cells.lang = lang_pred AS is_correct
    FROM cells JOIN tot ON cells.lang = tot.lang
"""


def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized similarity tier
    (operators/similarity.py:cosine_topk_sq8): per-dim affine int8
    codes trained from corpus bounds, decoded at scoring time, exact
    cosine over the reconstructions — the 8x-smaller-footprint path
    next to PQ (sub-byte, trained codebooks) and IVF (partition
    pruning). Fixed-order IEEE decode ⇒ the oracle replays the
    identical reconstruction and the tier hash-gates. Same
    (query_id, rank, neighbor_id, score) shape as the other tiers."""
    emb = _read_parallel(spark, sf_dir, "embeddings")
    queries = ann_queries(emb)
    return similarity.cosine_topk_sq8(emb, queries, k=ANN_K)


QUERIES["ann_sq8_topk"] = ann_sq8_topk

_SQL_SQ8_COS = _sql_cosine("qv", "cv")

ORACLE_SQL["ann_sq8_topk"] = f"""
    WITH v AS (
        SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS __v
        FROM embeddings
    ),
    b AS (
        SELECT t.i AS i, min(__v[t.i]) AS mn, max(__v[t.i]) AS mx
        FROM v, generate_series(1, 64) AS t(i) GROUP BY 1
    ),
    r AS (
        SELECT v.vec_id, b.i,
               CASE WHEN b.mx > b.mn
                    THEN b.mn + floor((__v[b.i] - b.mn) * 255.0 / (b.mx - b.mn) + 0.5)
                         * (b.mx - b.mn) / 255.0
                    ELSE b.mn END AS rv
        FROM v, b
    ),
    rl AS (SELECT vec_id, list(rv ORDER BY i) AS __r FROM r GROUP BY 1),
    q AS (SELECT vec_id AS query_id, __r AS qv FROM rl WHERE vec_id < {ANN_N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, __r AS cv FROM rl),
    scored AS (
        SELECT query_id, neighbor_id, {_SQL_SQ8_COS} AS cosine_sq8
        FROM c, q WHERE neighbor_id <> query_id
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine_sq8
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine_sq8 DESC, neighbor_id
        ) AS rank
        FROM scored
    )
    WHERE rank <= {ANN_K}
"""


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document from three INTEGER regex counts
    (words = whitespace tokens, sentences = [.!?]+ runs with a floor of
    1, syllables = [aeiouy]+ vowel groups — the standard heuristic).
    The formula is a fixed IEEE expression over exact integers, so the
    gate holds bit-exactly; the regexes are simple character classes,
    identical under Java regex and RE2. One scan, no shuffle."""
    from sfcrimedatapipeline_spark.functions.text import tokens

    docs = _read_parallel(spark, sf_dir, "documents")
    words = F.size(tokens(F.col("text")))
    sentences = F.greatest(
        F.size(F.expr(r"regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    )
    syllables = F.size(
        F.expr(r"regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    )
    wd = words.cast("double")
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (wd / sentences.cast("double"))
        - F.lit(84.6) * (syllables.cast("double") / wd)
    )
    return docs.select(
        "doc_id",
        words.cast("long").alias("n_words"),
        sentences.cast("long").alias("n_sentences"),
        syllables.cast("long").alias("n_syllables"),
        F.when(words > 0, flesch).otherwise(F.lit(0.0)).alias("flesch"),
    )


QUERIES["text_readability"] = text_readability
ORACLE_SQL["text_readability"] = f"""
            WITH c AS (
                SELECT doc_id,
                       CAST(len({SQL_TOKENS}) AS BIGINT) AS n_words,
                       CAST(greatest(len(regexp_extract_all(text,
                            '[.!?]+')), 1) AS BIGINT) AS n_sentences,
                       CAST(len(regexp_extract_all(lower(text),
                            '[aeiouy]+')) AS BIGINT) AS n_syllables
                FROM documents
            )
            SELECT doc_id, n_words, n_sentences, n_syllables,
                   CASE WHEN n_words > 0
                        THEN 206.835
                             - 1.015 * (CAST(n_words AS DOUBLE)
                                        / CAST(n_sentences AS DOUBLE))
                             - 84.6 * (CAST(n_syllables AS DOUBLE)
                                       / CAST(n_words AS DOUBLE))
                        ELSE 0.0 END AS flesch
            FROM c
        """


# --- round-9 additions -------------------------------------------------------

IMPORTANCE_TARGET_LANG = "en"


def corpus_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-LITE importance weights (Xie et al. '23 re-expressed
    integer-exact): score every document by how target-domain-like its
    tokens are, for importance SAMPLING toward a target distribution —
    the data-selection step between raw crawl and mixture weighting.

    A token is TARGET-DISTINCTIVE when its relative frequency in the
    target slice (lang = 'en') exceeds its corpus-wide relative
    frequency; the cross-multiplied comparison
    ``cnt_target(t) · N_corpus > cnt_corpus(t) · N_target`` stays in
    exact BIGINTs (no ratio, no log-likelihood — the log-ratio score
    would hash-differ cross-engine on libm's last ulp; counts can't).
    importance = distinctive token occurrences / doc tokens, one
    divide, rounded like every gated ratio.

    Scale shape: two map-side-combined token aggregates build the
    distinctive-token table (bounded by corpus VOCABULARY, not corpus
    size), one hash join of the token stream against it, one per-doc
    count. The corpus-total scalars ride a 1-row broadcast crossJoin
    (the collocation scalar-total precedent, whitelisted structurally).
    Tokenless docs drop with the explode — same as the oracle's unnest.
    """
    docs = _read_parallel(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        (F.col("lang") == IMPORTANCE_TARGET_LANG).alias("__t"),
        F.explode(tokens(F.col("text"))).alias("token"),
    )
    stats = tok.groupBy("token").agg(
        F.count("*").cast("long").alias("c_all"),
        F.sum(F.col("__t").cast("long")).cast("long").alias("c_tgt"),
    )
    totals = tok.agg(
        F.count("*").cast("long").alias("n_all"),
        F.sum(F.col("__t").cast("long")).cast("long").alias("n_tgt"),
    )
    distinctive = (
        stats.crossJoin(F.broadcast(totals))
        .filter(F.col("c_tgt") * F.col("n_all") > F.col("c_all") * F.col("n_tgt"))
        .select("token")
    )
    scored = tok.join(
        distinctive.withColumn("__d", F.lit(1)), "token", "left"
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.count("__d").cast("long").alias("distinctive_hits"),
        F.round(
            F.count("__d").cast("double") / F.count("*").cast("double"), 6
        ).alias("importance"),
    )


QUERIES["corpus_importance_weights"] = corpus_importance_weights
ORACLE_SQL["corpus_importance_weights"] = f"""
    WITH tok AS (
        SELECT doc_id,
               CASE WHEN lang = '{IMPORTANCE_TARGET_LANG}' THEN 1 ELSE 0 END AS t,
               unnest({SQL_TOKENS}) AS token
        FROM documents
    ),
    stats AS (
        SELECT token, CAST(count(*) AS BIGINT) AS c_all,
               CAST(sum(t) AS BIGINT) AS c_tgt
        FROM tok GROUP BY 1
    ),
    totals AS (
        SELECT CAST(count(*) AS BIGINT) AS n_all,
               CAST(sum(t) AS BIGINT) AS n_tgt
        FROM tok
    ),
    d AS (
        SELECT token FROM stats, totals
        WHERE c_tgt * n_all > c_all * n_tgt
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(d.token) AS BIGINT) AS distinctive_hits,
           round(CAST(count(d.token) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
               AS importance
    FROM tok LEFT JOIN d ON tok.token = d.token
    GROUP BY doc_id
"""


COVERAGE_KS = (10, 20, 50, 100, 200)


def text_token_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget CURVE: what fraction of all token occurrences
    do the top-k vocabulary entries cover, for k in {10,20,50,100,200}
    — the table a tokenizer owner reads to pick a vocab size before
    training (the knee of this curve IS the budget decision). Rides the
    gated vocabulary builder: conditional sums over the LocalLimit-
    bounded top-200 ranking (rank ties broken (freq DESC, token ASC),
    identical both engines), corpus total via one scalar crossJoin.
    Exact integers, one divide per row."""
    docs = _read_parallel(spark, sf_dir, "documents")
    vocab = textstats.build_vocabulary(docs, VOCAB_SIZE)  # token_id < 200
    covered = vocab.agg(
        *[
            F.sum(F.when(F.col("token_id") < k, F.col("freq")).otherwise(0))
            .cast("long")
            .alias(f"c{k}")
            for k in COVERAGE_KS
        ]
    )
    total = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .agg(F.count("*").cast("long").alias("total_tokens"))
    )
    wide = covered.crossJoin(F.broadcast(total))
    curve = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("int").alias("top_k"),
                        F.col(f"c{k}").alias("tokens_covered"),
                    )
                    for k in COVERAGE_KS
                ]
            )
        ).alias("e"),
        "total_tokens",
    )
    return curve.select(
        F.col("e.top_k").alias("top_k"),
        F.col("e.tokens_covered").alias("tokens_covered"),
        "total_tokens",
        F.round(
            F.col("e.tokens_covered").cast("double")
            / F.col("total_tokens").cast("double"),
            6,
        ).alias("coverage"),
    )


QUERIES["text_token_coverage_curve"] = text_token_coverage_curve
ORACLE_SQL["text_token_coverage_curve"] = f"""
    WITH tok AS (SELECT unnest({SQL_TOKENS}) AS token FROM documents),
    c AS (SELECT token, count(*) AS freq FROM tok GROUP BY 1),
    r AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) - 1
                    AS INTEGER) AS token_id,
               CAST(freq AS BIGINT) AS freq
        FROM c
    ),
    top AS (SELECT * FROM r WHERE token_id < {VOCAB_SIZE}),
    totals AS (SELECT CAST(count(*) AS BIGINT) AS total_tokens FROM tok),
    ks AS (SELECT unnest([{", ".join(str(k) for k in COVERAGE_KS)}]) AS top_k)
    SELECT CAST(ks.top_k AS INTEGER) AS top_k,
           CAST(sum(CASE WHEN top.token_id < ks.top_k THEN top.freq
                         ELSE 0 END) AS BIGINT) AS tokens_covered,
           totals.total_tokens,
           round(CAST(sum(CASE WHEN top.token_id < ks.top_k THEN top.freq
                              ELSE 0 END) AS DOUBLE)
                 / CAST(totals.total_tokens AS DOUBLE), 6) AS coverage
    FROM ks, top, totals
    GROUP BY ks.top_k, totals.total_tokens
"""


ANN_FILTER_LANG = "en"


def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — top-k cosine neighbors restricted to a
    metadata predicate (docs.lang = 'en'), the retrieval shape every
    RAG / vector-store workload runs (filter + similarity). The filter
    joins the embedding table to its document row BEFORE scoring —
    predicate applied at the corpus scan, so the scored candidate set
    shrinks to the filtered slice (never post-filtering a top-k, which
    under-fills k). Reuses the exact brute scorer (broadcast query set,
    codegen dot product); same deterministic (cosine DESC, id ASC)
    ranking as the gated ANN family."""
    emb = _read_parallel(spark, sf_dir, "embeddings")
    docs = _read_parallel(spark, sf_dir, "documents")
    keep = docs.filter(F.col("lang") == ANN_FILTER_LANG).select(
        F.col("doc_id").alias("vec_id")
    )
    corpus_side = emb.join(keep, "vec_id")
    return similarity.cosine_topk(corpus_side, ann_queries(emb), k=ANN_K)


QUERIES["ann_filtered_topk"] = ann_filtered_topk
ORACLE_SQL["ann_filtered_topk"] = f"""
    WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS __v
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, __v AS qv FROM v
          WHERE vec_id < {{ann_n}}),
    c AS (SELECT vec_id AS neighbor_id, __v AS cv FROM v
          JOIN documents d ON d.doc_id = v.vec_id
          WHERE d.lang = '{ANN_FILTER_LANG}'),
    scored AS (
        SELECT query_id, neighbor_id,
               {_sql_cosine("qv", "cv")} AS cosine
        FROM c, q WHERE neighbor_id <> query_id
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
        ) AS rank
        FROM scored
    ) r
    WHERE rank <= {{k}}
"""


MATRYOSHKA_DIM = 16


def ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA retrieval audit: per query, how much of the full
    64-dim exact top-k does the truncated {MATRYOSHKA_DIM}-dim PREFIX
    top-k recover? The measurement behind MRL-style tiered retrieval
    (coarse search on a prefix, re-rank on the full vector): overlap/k
    is the recall the cheap tier delivers. Both rankings are the exact
    brute scorer at different unrolled dims; overlap is an exact-integer
    join count per query."""
    emb = _read_parallel(spark, sf_dir, "embeddings")
    q = ann_queries(emb)
    full = similarity.cosine_topk(emb, q, k=ANN_K).select(
        "query_id", "neighbor_id"
    )
    prefix = similarity.cosine_topk(emb, q, k=ANN_K, dim=MATRYOSHKA_DIM).select(
        "query_id", F.col("neighbor_id").alias("p_neighbor")
    )
    hits = full.join(
        prefix,
        (full.query_id == prefix.query_id)
        & (full.neighbor_id == prefix.p_neighbor),
        "left",
    ).groupBy(full.query_id.alias("query_id"))
    return hits.agg(
        F.count("*").cast("long").alias("k"),
        F.count("p_neighbor").cast("long").alias("n_common"),
        F.round(
            F.count("p_neighbor").cast("double") / F.count("*").cast("double"),
            6,
        ).alias("prefix_recall"),
    )


QUERIES["ann_matryoshka_recall"] = ann_matryoshka_recall
ORACLE_SQL["ann_matryoshka_recall"] = f"""
    WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS __v
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, __v AS qv FROM v
          WHERE vec_id < {{ann_n}}),
    c AS (SELECT vec_id AS neighbor_id, __v AS cv FROM v),
    full_r AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY {_sql_cosine("qv", "cv")} DESC, neighbor_id
            ) AS rank
            FROM c, q WHERE neighbor_id <> query_id
        ) WHERE rank <= {{k}}
    ),
    pref_r AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY {_sql_cosine("qv", "cv", MATRYOSHKA_DIM)} DESC,
                         neighbor_id
            ) AS rank
            FROM c, q WHERE neighbor_id <> query_id
        ) WHERE rank <= {{k}}
    )
    SELECT f.query_id,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(p.neighbor_id) AS BIGINT) AS n_common,
           round(CAST(count(p.neighbor_id) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS prefix_recall
    FROM full_r f
    LEFT JOIN pref_r p
      ON p.query_id = f.query_id AND p.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
"""

# fill the shared ANN constants into the two new oracles (f-string
# escaping kept the cosine builders readable; constants land here)
ORACLE_SQL["ann_filtered_topk"] = ORACLE_SQL["ann_filtered_topk"].format(
    ann_n=ANN_N_QUERIES, k=ANN_K
)
ORACLE_SQL["ann_matryoshka_recall"] = ORACLE_SQL["ann_matryoshka_recall"].format(
    ann_n=ANN_N_QUERIES, k=ANN_K
)


def emb_sq8_reconstruction_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 QUANTIZATION-ERROR audit: per vector, the squared L2 error
    between the embedding and its scalar-quantized reconstruction —
    the number that justifies (or vetoes) the 8x memory saving
    ann_sq8_topk banks on before an index is rebuilt at byte precision.
    Reuses the gated tier's bounds + affine reconstruction
    (operators/similarity.py:sq8_bounds/_sq8_recon_sql) under the same
    1-row broadcast; the error is the unrolled dim-sequential
    (v−r)² chain (the _sqd_sql fold order), so both engines compute
    bit-identical doubles and the per-vector audit hash-gates."""
    from sfcrimedatapipeline_spark.operators.similarity import (
        _sq8_recon_sql,
        sq8_bounds,
    )

    emb = _read_parallel(spark, sf_dir, "embeddings")
    recon = F.expr(_sq8_recon_sql("embedding", 64))
    v = emb.crossJoin(F.broadcast(sq8_bounds(emb))).select(
        "vec_id",
        F.col("embedding").alias("__v"),
        recon.alias("__r"),
    )
    err = " + ".join(
        f"(CAST(element_at(__v, {i}) AS DOUBLE) - element_at(__r, {i}))"
        f" * (CAST(element_at(__v, {i}) AS DOUBLE) - element_at(__r, {i}))"
        for i in range(1, 65)
    )
    return v.select(
        "vec_id", F.round(F.expr(err), 6).alias("l2_err_sq")
    )


QUERIES["emb_sq8_reconstruction_error"] = emb_sq8_reconstruction_error

_SQ8_ERR_CHAIN = " + ".join(
    f"(CAST(__v[{i}] AS DOUBLE) - __r[{i}]) * (CAST(__v[{i}] AS DOUBLE) - __r[{i}])"
    for i in range(1, 65)
)

ORACLE_SQL["emb_sq8_reconstruction_error"] = f"""
    WITH v AS (
        SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS __v
        FROM embeddings
    ),
    b AS (
        SELECT t.i AS i, min(__v[t.i]) AS mn, max(__v[t.i]) AS mx
        FROM v, generate_series(1, 64) AS t(i) GROUP BY 1
    ),
    r AS (
        SELECT v.vec_id, b.i,
               CASE WHEN b.mx > b.mn
                    THEN b.mn + floor((__v[b.i] - b.mn) * 255.0 / (b.mx - b.mn) + 0.5)
                         * (b.mx - b.mn) / 255.0
                    ELSE b.mn END AS rv
        FROM v, b
    ),
    rl AS (SELECT vec_id, list(rv ORDER BY i) AS __r FROM r GROUP BY 1)
    SELECT v.vec_id, round({_SQ8_ERR_CHAIN}, 6) AS l2_err_sq
    FROM v JOIN rl ON rl.vec_id = v.vec_id
"""


RESAMPLE_TOP_N = 200


def corpus_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SELECTION step on top of corpus_importance_weights: keep the
    top-N most target-like documents (DSIR's resample-by-importance,
    deterministic variant — rank by importance with exact tie-breaks
    instead of a random draw, so the kept set replays bit-for-bit).
    ORDER BY (importance DESC, distinctive_hits DESC, doc_id ASC) +
    LIMIT compiles to TakeOrderedAndProject — no global sort shuffle,
    k-bounded by construction."""
    scored = corpus_importance_weights(spark, sf_dir)
    return scored.orderBy(
        F.desc("importance"), F.desc("distinctive_hits"), F.asc("doc_id")
    ).limit(RESAMPLE_TOP_N)


QUERIES["corpus_importance_resample"] = corpus_importance_resample

ORACLE_SQL["corpus_importance_resample"] = f"""
    WITH scored AS ({ORACLE_SQL["corpus_importance_weights"]})
    SELECT * FROM scored
    ORDER BY importance DESC, distinctive_hits DESC, doc_id ASC
    LIMIT {RESAMPLE_TOP_N}
"""


def ann_ivf_imbalance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health audit over the TRAINED coarse quantizer: per
    inverted list its size, its share of the corpus (= the scan
    fraction a query probing this list pays), and how many of the
    standard query set probe it at n_probe — the skew report that
    tells an operator whether nprobe/recall tradeoffs will hold before
    shipping the index (a 10× oversized list means probing it scans
    10× the expected candidates; an unprobed list is wasted training
    capacity).

    Rides the SAME deterministic trained centroids
    (operators/mltrain.py:spherical_kmeans_det) and the SAME shared
    assignment expression (operators/similarity.py:ivf_assign) as
    ann_cosine_topk_ivf_trained, so the audit can never drift from
    the index it audits; the oracle re-trains in its CTE chain and
    re-derives both assignments. Exact integers + one double division
    per row."""
    from sfcrimedatapipeline_spark.operators import similarity

    emb = _read_parallel(spark, sf_dir, "embeddings")
    trained = _trained_ivf_centroids(spark, sf_dir)
    sizes = (
        similarity.ivf_assign(emb, trained, "nid", 1)
        .groupBy("centroid_id")
        .agg(F.count("*").cast("long").alias("list_size"))
    )
    probes = (
        similarity.ivf_assign(
            ann_queries(emb), trained, "query_id", ANN_IVF_PROBE
        )
        .groupBy("centroid_id")
        .agg(F.count("*").cast("long").alias("n_probing_queries"))
    )
    spine = spark.createDataFrame(
        [(int(cid),) for cid, _ in trained], "centroid_id long"
    )
    total = sizes.agg(F.sum("list_size").cast("long").alias("__tot"))
    ls = F.coalesce(F.col("list_size"), F.lit(0).cast("long"))
    return (
        spine.join(sizes, "centroid_id", "left")
        .join(probes, "centroid_id", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "centroid_id",
            ls.alias("list_size"),
            (ls.cast("double") / F.col("__tot").cast("double")).alias(
                "scan_share"
            ),
            F.coalesce(F.col("n_probing_queries"), F.lit(0).cast("long")).alias(
                "n_probing_queries"
            ),
        )
    )


QUERIES["ann_ivf_imbalance_audit"] = ann_ivf_imbalance_audit

ORACLE_SQL["ann_ivf_imbalance_audit"] = f"""
    WITH RECURSIVE v AS (
        SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS __v
        FROM embeddings
    ),
    {_ivf_trained_cent_sql()},
    ca AS (
        SELECT vec_id, centroid_id FROM (
            SELECT v.vec_id, cent.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {_sql_cosine_raw("v.__v", "cent.cvv")} DESC,
                                cent.centroid_id ASC) AS r
            FROM v, cent
        ) t WHERE r = 1
    ),
    sizes AS (
        SELECT centroid_id, CAST(count(*) AS BIGINT) AS list_size
        FROM ca GROUP BY 1
    ),
    qp AS (
        SELECT vec_id, centroid_id FROM (
            SELECT v.vec_id, cent.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {_sql_cosine_raw("v.__v", "cent.cvv")} DESC,
                                cent.centroid_id ASC) AS r
            FROM v, cent WHERE v.vec_id < {ANN_N_QUERIES}
        ) t WHERE r <= {ANN_IVF_PROBE}
    ),
    probes AS (
        SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_probing_queries
        FROM qp GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(list_size) AS BIGINT) AS n FROM sizes)
    SELECT c.centroid_id,
           CAST(coalesce(s.list_size, 0) AS BIGINT) AS list_size,
           CAST(coalesce(s.list_size, 0) AS DOUBLE)
               / CAST((SELECT n FROM tot) AS DOUBLE) AS scan_share,
           CAST(coalesce(p.n_probing_queries, 0) AS BIGINT)
               AS n_probing_queries
    FROM (SELECT DISTINCT centroid_id FROM cent) c
    LEFT JOIN sizes s USING (centroid_id)
    LEFT JOIN probes p USING (centroid_id)
"""


def emb_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per trained cluster —
    the cluster-quality verdict on the SAME deterministic quantizer
    the IVF index uses: per vector a = 1−cos(own centroid),
    b = 1−cos(second-nearest centroid), s = (b−a)/max(a,b); per
    cluster the fx-exact means of a, b, s. High mean s = compact,
    well-separated list; s near 0 = boundary-straddling list whose
    n_probe=1 recall will be poor. Completes the index-health pair
    with ann_ivf_imbalance_audit (size skew there, geometric
    cohesion here), riding the same spherical_kmeans_det centroids
    and the same shared assignment expression."""
    from sfcrimedatapipeline_spark.functions.fixedpoint import sql_fx, sql_unfx
    from sfcrimedatapipeline_spark.operators import similarity

    emb = _read_parallel(spark, sf_dir, "embeddings")
    trained = _trained_ivf_centroids(spark, sf_dir)
    top2 = similarity.ivf_assign(emb, trained, "vid", 2, keep_cos=True)
    pv = top2.groupBy("vid").agg(
        F.max(F.when(F.col("__r") == 1, F.col("centroid_id"))).alias("own"),
        F.max(F.when(F.col("__r") == 1, F.col("__ccos"))).alias("c1"),
        F.max(F.when(F.col("__r") == 2, F.col("__ccos"))).alias("c2"),
    )
    a = F.lit(1.0) - F.col("c1")
    b = F.lit(1.0) - F.col("c2")
    sv = pv.select(
        "own",
        a.alias("a"),
        b.alias("b"),
        F.when(
            F.greatest(a, b) > 0.0, (b - a) / F.greatest(a, b)
        ).otherwise(F.lit(0.0)).alias("s"),
    )
    n_dbl = F.count("*").cast("double")
    agg = sv.groupBy(F.col("own").alias("centroid_id")).agg(
        F.count("*").cast("long").alias("n"),
        (F.expr(sql_unfx("sum(" + sql_fx("s") + ")")) / n_dbl).alias(
            "silhouette"
        ),
        (F.expr(sql_unfx("sum(" + sql_fx("a") + ")")) / n_dbl).alias(
            "mean_intra"
        ),
        (F.expr(sql_unfx("sum(" + sql_fx("b") + ")")) / n_dbl).alias(
            "mean_nearest"
        ),
    )
    spine = spark.createDataFrame(
        [(int(cid),) for cid, _ in trained], "centroid_id long"
    )
    return spine.join(agg, "centroid_id", "left").select(
        "centroid_id",
        F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n"),
        "silhouette",
        "mean_intra",
        "mean_nearest",
    )


QUERIES["emb_cluster_silhouette"] = emb_cluster_silhouette


def _silhouette_oracle_sql() -> str:
    from sfcrimedatapipeline_spark.functions.fixedpoint import sql_fx, sql_unfx

    cos = _sql_cosine_raw("v.__v", "cent.cvv")
    mean = lambda col: (
        sql_unfx(f"sum({sql_fx(col)})") + " / CAST(count(*) AS DOUBLE)"
    )
    return f"""
        WITH RECURSIVE v AS (
            SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS __v
            FROM embeddings
        ),
        {_ivf_trained_cent_sql()},
        ranked AS (
            SELECT vec_id, centroid_id, c, r FROM (
                SELECT v.vec_id, cent.centroid_id, {cos} AS c,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                           ORDER BY {cos} DESC, cent.centroid_id ASC) AS r
                FROM v, cent
            ) t WHERE r <= 2
        ),
        pv AS (
            SELECT vec_id,
                   max(CASE WHEN r = 1 THEN centroid_id END) AS own,
                   max(CASE WHEN r = 1 THEN c END) AS c1,
                   max(CASE WHEN r = 2 THEN c END) AS c2
            FROM ranked GROUP BY vec_id
        ),
        sv AS (
            SELECT own, (1.0 - c1) AS a, (1.0 - c2) AS b,
                   CASE WHEN greatest(1.0 - c1, 1.0 - c2) > 0.0
                        THEN ((1.0 - c2) - (1.0 - c1))
                             / greatest(1.0 - c1, 1.0 - c2)
                        ELSE 0.0 END AS s
            FROM pv
        ),
        agg AS (
            SELECT own AS centroid_id,
                   CAST(count(*) AS BIGINT) AS n,
                   {mean("s")} AS silhouette,
                   {mean("a")} AS mean_intra,
                   {mean("b")} AS mean_nearest
            FROM sv GROUP BY 1
        )
        SELECT c.centroid_id,
               CAST(coalesce(a.n, 0) AS BIGINT) AS n,
               a.silhouette, a.mean_intra, a.mean_nearest
        FROM (SELECT DISTINCT centroid_id FROM cent) c
        LEFT JOIN agg a USING (centroid_id)
    """


ORACLE_SQL["emb_cluster_silhouette"] = _silhouette_oracle_sql()


def _bpe_merges_oracle_sql(rounds: int) -> str:
    """Unrolled BPE-trainer oracle — the twin of
    operators/textstats.py:train_bpe / train_bpe_local (identical
    output contract). Round r: exact pair counts over the round-(r-1)
    vocab states, argmax with the (count DESC, left ASC, right ASC)
    tie-break as a 1-row CTE, then the delimiter-guarded replace()
    rewrite (the _tokenize_bpe_sql two-space scheme: replace() is
    non-overlapping left-to-right — exactly the BPE greedy scan).

    Early-stop equivalence (the kcore-upgrade argument): the trainer
    stops when the best pair count is < 2; here the state FREEZES
    instead (the CASE guard), and once the max pair count is < 2 it
    can never rise again (merging removes occurrences and creates new
    pairs with count ≤ the merged pair's count), so the frozen rounds
    re-elect the same sub-2 best, the final ``WHERE cnt >= 2`` filter
    drops them, and the unrolled output equals the early-stopped
    trainer whenever ``rounds`` ≥ the trainer's round budget.

    Everything is exact integers and binary-collated string
    comparisons (DuckDB codepoint order == Spark UTF8_BINARY), so the
    merge table hash-gates."""
    steps = []
    for r in range(1, rounds + 1):
        prev = f"v{r - 1}"
        steps.append(f"""
            tk{r} AS (
                SELECT freq,
                       list_filter(string_split(s, ' '), x -> x <> '')
                           AS toks
                FROM {prev}
            ),
            pr{r} AS MATERIALIZED (
                SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
                    SELECT freq,
                           unnest([{{'a': toks[i], 'b': toks[i + 1]}}
                                   FOR i IN generate_series(1, len(toks) - 1)],
                                  recursive := true)
                    FROM tk{r}
                ) p GROUP BY a, b
            ),
            b{r} AS MATERIALIZED (
                SELECT a, b, cnt FROM pr{r}
                ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
            ),
            v{r} AS MATERIALIZED (
                SELECT freq,
                       CASE WHEN (SELECT cnt FROM b{r}) >= 2
                            THEN replace(s,
                                     ' ' || (SELECT a FROM b{r}) || '  '
                                         || (SELECT b FROM b{r}) || ' ',
                                     ' ' || (SELECT a FROM b{r})
                                         || (SELECT b FROM b{r}) || ' ')
                            ELSE s END AS s
                FROM {prev}
            )""")
    unions = "\n            UNION ALL ".join(
        f"""SELECT CAST({r} AS INTEGER) AS rank, a AS "left", b AS "right",
                   a || b AS merged, cnt AS pair_count
            FROM b{r} WHERE cnt >= 2"""
        for r in range(1, rounds + 1)
    )
    return f"""
        WITH wf AS MATERIALIZED (
            SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
                SELECT unnest({SQL_TOKENS}) AS w FROM documents
            ) t GROUP BY w
        ),
        v0 AS MATERIALIZED (
            SELECT freq,
                   '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS s
            FROM wf
        ),{",".join(steps)}
        {unions}
    """


ORACLE_SQL["text_bpe_merges"] = _bpe_merges_oracle_sql(10)
ORACLE_SQL["text_bpe_merges_local"] = _bpe_merges_oracle_sql(30)


# --------------------------------------------------------------- round 10
# Incremental ANN index maintenance (VERDICT r9 #5): assign a delta
# embedding batch into the PERSISTED IVF+PQ index without retraining —
# the embedding twin of dedup_against_corpus. The Spark side builds
# the index from the BASE split only (quantizers frozen at write
# time), appends the delta batch's codes with ivfpq_index_append (the
# frozen meta.json quantizers; parquet append inside the existing
# list_id partition directories — base files never rewritten, pinned
# by tests/test_plan_quality.py), then searches the grown index
# partition-pruned. The oracle derives the SAME quantizers from the
# base split in its CTE chain and encodes base+delta against them, so
# the frozen-quantizer semantics are value-hash gated end-to-end.

#: every 10th vector arrives as the "daily increment"
IVFPQ_DELTA_MOD = 10


def ann_ivfpq_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search the incrementally-grown persisted IVF+PQ index (module
    note): base build + frozen-quantizer delta append + partition-
    pruned search, all under one value hash. The index is built on
    every call into an exit-reaped temp dir (the search reads it
    lazily)."""
    from sfcrimedatapipeline_spark.functions.caching import exit_temp_dir

    emb = _read_parallel(spark, sf_dir, "embeddings")
    d = exit_temp_dir("ivfpq_delta_")
    # quantizers derive from BASE ONLY (lowest-id seeds / default
    # codebooks of the base split), then freeze in meta.json
    similarity.ivfpq_index_write(
        emb.filter(F.col("vec_id") % IVFPQ_DELTA_MOD != 0),
        d,
        n_centroids=ANN_IVF_CENTROIDS,
    )
    similarity.ivfpq_index_append(
        d, emb.filter(F.col("vec_id") % IVFPQ_DELTA_MOD == 0)
    )
    return similarity.ivfpq_index_search(
        spark, d, ann_queries(emb), k=ANN_K, n_probe=ANN_IVF_PROBE
    )


QUERIES["ann_ivfpq_index_delta"] = ann_ivfpq_index_delta


def _ivfpq_delta_sql(
    m: int = 8,
    sub: int = 8,
    n_codes: int = 16,
    n_centroids: int = 8,
    n_probe: int = 2,
    dim: int = 64,
) -> str:
    """_ivfpq_sql with the quantizer CTEs (cb/cc) derived from the
    BASE split only while assignment/encoding cover base+delta — the
    SQL statement of 'the delta is assigned into frozen quantizers,
    never retrained'."""
    enc_cols = ", ".join(
        f"CAST(min([d{s}, CAST(cid AS DOUBLE)])[2] AS INT) AS c{s}"
        for s in range(m)
    )
    pair_d = ", ".join(
        f"{_sqd_sql('e.embedding', 'cb.cv', s * sub, sub)} AS d{s}"
        for s in range(m)
    )
    qt_d = ", ".join(
        f"{_sqd_sql('q.embedding', 'cb.cv', s * sub, sub)} AS t{s}"
        for s in range(m)
    )
    joins = "\n            ".join(
        f"JOIN qtab qt{s} ON qt{s}.cid = en.c{s} AND qt{s}.query_id = qp.query_id"
        for s in range(m)
    )
    adc = " + ".join(f"qt{s}.t{s}" for s in range(m))
    coarse_e = _sqd_sql("e.embedding", "cc.cv", 0, dim)
    return f"""
        WITH base AS MATERIALIZED (
            SELECT vec_id, embedding FROM embeddings
            WHERE vec_id % {IVFPQ_DELTA_MOD} <> 0
        ),
        cb AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
            FROM (SELECT vec_id, embedding FROM base ORDER BY vec_id LIMIT {n_codes})
        ),
        cc AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
            FROM (SELECT vec_id, embedding FROM base ORDER BY vec_id LIMIT {n_centroids})
        ),
        assign AS (
            SELECT vec_id, CAST(min([df, CAST(cid AS DOUBLE)])[2] AS INT) AS list_id
            FROM (
                SELECT e.vec_id, cc.cid, {coarse_e} AS df
                FROM embeddings e CROSS JOIN cc
            ) GROUP BY vec_id
        ),
        pairs AS (
            SELECT e.vec_id, cb.cid, {pair_d}
            FROM embeddings e CROSS JOIN cb
        ),
        enc AS (
            SELECT p.vec_id, a.list_id, {enc_cols}
            FROM pairs p JOIN assign a ON p.vec_id = a.vec_id
            GROUP BY p.vec_id, a.list_id
        ),
        qprobe AS (
            SELECT vec_id AS query_id, cid AS list_id FROM (
                SELECT e.vec_id, cc.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {coarse_e} ASC, cc.cid ASC) AS pr
                FROM embeddings e CROSS JOIN cc
                WHERE e.vec_id < {ANN_N_QUERIES}
            ) WHERE pr <= {n_probe}
        ),
        qtab AS (
            SELECT q.vec_id AS query_id, cb.cid, {qt_d}
            FROM embeddings q CROSS JOIN cb
            WHERE q.vec_id < {ANN_N_QUERIES}
        ),
        scored AS (
            SELECT qp.query_id, en.vec_id AS neighbor_id,
                   round({adc}, 6) AS approx_dist
            FROM enc en
            JOIN qprobe qp ON qp.list_id = en.list_id
            {joins}
            WHERE en.vec_id <> qp.query_id
        )
        SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, approx_dist
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY approx_dist ASC, neighbor_id ASC) AS rank
            FROM scored
        )
        WHERE rank <= {ANN_K}
    """


ORACLE_SQL["ann_ivfpq_index_delta"] = _ivfpq_delta_sql(
    n_centroids=ANN_IVF_CENTROIDS, n_probe=ANN_IVF_PROBE
)
