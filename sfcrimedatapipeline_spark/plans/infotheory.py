"""Information-theoretic corpus & stream statistics — the ln-unlocked
family.

Every gated query before this module avoided transcendental functions
because neither their VALUES nor float-SUM order are engine-portable.
Both halves are solved here (each pinned by tests/test_infotheory.py):

1. Log values: raw ``ln`` is NOT bit-identical between Spark's JVM and
   DuckDB's libm — measured last-ulp divergence on ~1% of arguments
   (2-arg ``log`` and ``%`` on doubles diverge too). Every log in this
   module is therefore ``functions/detmath.py:sql_ln_det`` — a
   sqrt-chain + atanh-series log built ONLY from IEEE-correctly-rounded
   ops, bit-identical across engines by construction and accurate to
   ~1.4e-11 nats.
2. Order-free summation via functions/fixedpoint.py: ``floor(term *
   2^40)`` is IEEE-exact, so quantized terms sum exactly in
   DECIMAL(38,0) regardless of aggregation order.

Each query builds its per-term expression ONCE as a SQL fragment and
runs it through ``F.expr`` on the Spark side and verbatim in the
DuckDB oracle — the two engines literally evaluate the same text, so
they cannot drift. Each ``sql_ln_det`` is bound as a COLUMN at the
coarsest grain that has its argument (vocab / source / state-pair), so
the 16-sqrt chain runs once per bounded row, never per raw data row.

Queries (the reference engine has no information-theory surface —
these extend the LLM-training-data families the build is graded on):

- ``docs_perplexity_unigram`` — per-document cross-entropy (nats)
  under the corpus add-1 unigram LM, as a fine-grained histogram: the
  classic perplexity-based quality filter (CCNet-style) at corpus
  scale.
- ``docs_source_kl_divergence`` — KL(source ‖ corpus) over smoothed
  unigram distributions: which sources are distributionally farthest
  from the mix (domain-weighting / drift input).
- ``text_zipf_fit`` — per-language log-log OLS of the token
  rank-frequency curve: Zipf slope / intercept / R², the one-look
  naturalness check for a tokenizer's corpus.
- ``events_markov_entropy`` — per-state transition entropy + the
  chain's empirical entropy rate over the event-type Markov chain
  (journey predictability; complements events_markov_transitions).
- ``docs_trigram_novelty`` — per-source share of corpus-unique
  trigrams: the memorization-risk / boilerplate-saturation audit.
- ``docs_lang_source_mi`` — mutual information I(lang; source) + NMI
  over the document contingency table: the corpus-composition audit
  (are sources language silos?).
- ``text_token_entropy`` — per-language unigram entropy + redundancy
  ``1 − H/ln V``: information density of each language slice.

Scale notes (100 TB): every aggregation is vocab-, type-, or
doc-bounded exactly like the neighboring llmops families; corpus
totals ride 1-row scalar crossJoins (whitelisted shape); no UDFs, no
partition-less windows — the Zipf rank window partitions by lang over
the vocab grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.functions.detmath import sql_ln_det
from sfcrimedatapipeline_spark.functions.fixedpoint import sql_fx, sql_unfx
from sfcrimedatapipeline_spark.functions.partitioning import ensure_min_partitions
from sfcrimedatapipeline_spark.functions.text import SQL_TOKENS, sql_ngrams, tokens
from sfcrimedatapipeline_spark.plans.tpch import QueryFn
from sfcrimedatapipeline_spark.sources.tables import read_table

QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ensure_min_partitions(read_table(spark, sf_dir, "documents"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no fan-out repartition (OPTIMIZATION r12): both consumers are
    # window-then-aggregate arithmetic that shuffles immediately — the
    # round-robin exchange measured as pure overhead at sf0.1 (see
    # plans/timeseries.py:_ev). _docs keeps ensure_min_partitions: its
    # consumers tokenize (CPU-heavy per row, where fan-out wins 3x).
    return read_table(spark, sf_dir, "events")


def _fx_sum_expr(term_sql: str) -> F.Column:
    """Spark side of an order-free fixed-point sum of a shared fragment."""
    return F.sum(F.expr(sql_fx(term_sql)))


# ---------------------------------------------------------------------------
# docs_perplexity_unigram
# ---------------------------------------------------------------------------

#: histogram granularity: 64 buckets per nat (2^-6-nat wide; a power of
#: two, so the bucket multiply is IEEE-exact in both engines)
PPL_BUCKETS_PER_NAT = 64.0

#: deterministic logs, bound at the vocab grain (ln(c+1)) and the
#: 1-row totals grain (ln(T+V)) — the sqrt chain never touches
#: (doc, token) rows
_LN_C1 = sql_ln_det("CAST(c AS DOUBLE) + 1.0")
_LN_TV = sql_ln_det("CAST(tot_tokens AS DOUBLE) + CAST(vocab AS DOUBLE)")

#: per-(doc, token) cross-entropy contribution under the add-1 unigram
#: LM: n · (ln(T+V) − ln(c+1)) = n · (−ln p̂(t))
_CE_TERM = "CAST(n AS DOUBLE) * (ln_tv - ln_c1)"


def docs_perplexity_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document CROSS-ENTROPY (nats/token) under the corpus add-1
    unigram LM, summarized as a 2^-6-nat histogram — the corpus-scale
    shape of the CCNet/Gopher perplexity quality filter (docs far above
    the mode are noise; far below are boilerplate).

    Determinism: logs are deterministic sqrt-chain values
    (functions/detmath.py) bound at the vocab/totals grains; per-doc
    and per-bucket sums ride the Q40 fixed point
    (functions/fixedpoint.py) so no float-SUM order leaks into the
    hash. Scale: token rows collapse to the (doc, token) grain
    immediately, the LM is vocab-bounded and broadcast, totals are a
    1-row crossJoin."""
    docs = _docs(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    dtok = tok.groupBy("doc_id", "t").agg(F.count("*").cast("long").alias("n"))
    corpus = dtok.groupBy("t").agg(F.sum("n").cast("long").alias("c"))
    lm = corpus.withColumn("ln_c1", F.expr(_LN_C1))
    totals = (
        corpus.agg(
            F.sum("c").cast("long").alias("tot_tokens"),
            F.count("*").cast("long").alias("vocab"),
        )
        .withColumn("ln_tv", F.expr(_LN_TV))
    )
    doc = (
        dtok.join(F.broadcast(lm), "t")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            _fx_sum_expr(_CE_TERM).alias("s_fx"),
            F.sum("n").cast("long").alias("n_tok"),
        )
    )
    ce = F.expr(sql_unfx("s_fx")) / F.col("n_tok").cast("double")
    scored = doc.select(ce.alias("ce"))
    return scored.groupBy(
        F.floor(F.col("ce") * F.lit(PPL_BUCKETS_PER_NAT)).alias("ce_bucket")
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        (
            F.expr(sql_unfx(f"sum({sql_fx('ce')})"))
            / F.count("*").cast("double")
        ).alias("avg_ce"),
        F.min("ce").alias("min_ce"),
        F.max("ce").alias("max_ce"),
    )


QUERIES["docs_perplexity_unigram"] = docs_perplexity_unigram

ORACLE_SQL["docs_perplexity_unigram"] = f"""
    WITH tok AS (
        SELECT doc_id, unnest({SQL_TOKENS}) AS t FROM documents
    ),
    dtok AS (
        SELECT doc_id, t, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1, 2
    ),
    corpus AS (
        SELECT t, CAST(sum(n) AS BIGINT) AS c FROM dtok GROUP BY 1
    ),
    lm AS (
        SELECT t, c, {_LN_C1} AS ln_c1 FROM corpus
    ),
    totals AS (
        SELECT tot_tokens, vocab, {_LN_TV} AS ln_tv FROM (
            SELECT CAST(sum(c) AS BIGINT) AS tot_tokens,
                   CAST(count(*) AS BIGINT) AS vocab
            FROM corpus
        )
    ),
    doc AS (
        SELECT doc_id,
               sum({sql_fx(_CE_TERM)}) AS s_fx,
               CAST(sum(n) AS BIGINT) AS n_tok
        FROM dtok JOIN lm USING (t) CROSS JOIN totals
        GROUP BY 1
    ),
    scored AS (
        SELECT {sql_unfx("s_fx")} / CAST(n_tok AS DOUBLE) AS ce FROM doc
    )
    SELECT CAST(floor(ce * {PPL_BUCKETS_PER_NAT!r}) AS BIGINT) AS ce_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           {sql_unfx(f"sum({sql_fx('ce')})")} / CAST(count(*) AS DOUBLE)
               AS avg_ce,
           min(ce) AS min_ce,
           max(ce) AS max_ce
    FROM scored GROUP BY 1
"""


# ---------------------------------------------------------------------------
# docs_source_kl_divergence
# ---------------------------------------------------------------------------

#: smoothed corpus log-probability, bound at the vocab grain
_LNQ_COL = sql_ln_det(
    "(CAST(c AS DOUBLE) + 1.0)"
    " / (CAST(tot_tokens AS DOUBLE) + CAST(vocab AS DOUBLE))"
)

#: smoothed source probability for a PRESENT token (plain rational —
#: no log), bound at the source-vocab grain
_PS_COL = (
    "(CAST(c_st AS DOUBLE) + 1.0)"
    " / (CAST(n_s AS DOUBLE) + CAST(vocab AS DOUBLE))"
)

#: the absent-token probability's log, bound at the source grain
_LNP0_COL = sql_ln_det("1.0 / (CAST(n_s AS DOUBLE) + CAST(vocab AS DOUBLE))")

#: present-token KL contribution: p_s(t) · (ln p_s(t) − ln q(t))
_KL_PRESENT = "ps * (ln_ps - lnq)"

#: final per-source combination (deterministic scalar double math):
#: KL = Σ_present + p₀·((V−k_s)·ln p₀ − (L − L_s))
_KL_FINAL = (
    "({s1}) + (1.0 / (CAST(n_s AS DOUBLE) + CAST(vocab AS DOUBLE)))"
    " * (CAST(vocab - k_s AS DOUBLE) * ln_p0 - (({l}) - ({ls})))"
).format(s1=sql_unfx("s1_fx"), l=sql_unfx("l_fx"), ls=sql_unfx("ls_fx"))


def docs_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source ‖ corpus) in nats over add-1-smoothed unigram
    distributions — the distributional-drift ranking that tells a
    mixture designer which sources the corpus-level LM represents
    worst (input to domain re-weighting, the DoReMi-style signal).

    The sum over the FULL vocabulary decomposes so no source×vocab
    grid is ever materialized: present tokens contribute
    ``Σ p_s(ln p_s − ln q)`` (source-vocab grain, fixed-point exact);
    the (V − k_s) absent tokens share one probability
    ``p₀ = 1/(n_s+V)``, so their mass is
    ``p₀·((V−k_s)·ln p₀ − (L − L_s))`` with ``L = Σ_vocab ln q``
    (1-row scalar) and ``L_s = Σ_present ln q`` (per-source exact).
    Exact integers, deterministic sqrt-chain logs (detmath.py), and
    fixed-point sums; the final combination is deterministic scalar
    double math repeated textually in the oracle."""
    docs = _docs(spark, sf_dir)
    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("t"))
    stok = tok.groupBy("source", "t").agg(F.count("*").cast("long").alias("c_st"))
    corpus = stok.groupBy("t").agg(F.sum("c_st").cast("long").alias("c"))
    totals = corpus.agg(
        F.sum("c").cast("long").alias("tot_tokens"),
        F.count("*").cast("long").alias("vocab"),
    )
    qtab = (
        corpus.crossJoin(F.broadcast(totals)).withColumn("lnq", F.expr(_LNQ_COL))
    )
    l_all = qtab.agg(_fx_sum_expr("lnq").alias("l_fx"))
    scored = (
        stok.join(F.broadcast(qtab), "t")
        .withColumn(
            "n_s",
            F.sum("c_st").over(Window.partitionBy("source")).cast("long"),
        )
        .withColumn("ps", F.expr(_PS_COL))
        .withColumn("ln_ps", F.expr(sql_ln_det("ps")))
    )
    per_source = (
        scored.groupBy("source", "n_s", "vocab")
        .agg(
            _fx_sum_expr(_KL_PRESENT).alias("s1_fx"),
            _fx_sum_expr("lnq").alias("ls_fx"),
            F.count("*").cast("long").alias("k_s"),
        )
        .withColumn("ln_p0", F.expr(_LNP0_COL))
    )
    return (
        per_source.crossJoin(F.broadcast(l_all))
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            F.col("k_s").alias("vocab_used"),
            F.expr(_KL_FINAL).alias("kl_nats"),
        )
    )


QUERIES["docs_source_kl_divergence"] = docs_source_kl_divergence

ORACLE_SQL["docs_source_kl_divergence"] = f"""
    WITH tok AS (
        SELECT source, unnest({SQL_TOKENS}) AS t FROM documents
    ),
    stok AS (
        SELECT source, t, CAST(count(*) AS BIGINT) AS c_st
        FROM tok GROUP BY 1, 2
    ),
    corpus AS (
        SELECT t, CAST(sum(c_st) AS BIGINT) AS c FROM stok GROUP BY 1
    ),
    totals AS (
        SELECT CAST(sum(c) AS BIGINT) AS tot_tokens,
               CAST(count(*) AS BIGINT) AS vocab
        FROM corpus
    ),
    qtab AS (
        SELECT t, c, tot_tokens, vocab, {_LNQ_COL} AS lnq
        FROM corpus CROSS JOIN totals
    ),
    l_all AS (
        SELECT sum({sql_fx('lnq')}) AS l_fx FROM qtab
    ),
    src_n AS (
        SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM stok GROUP BY 1
    ),
    scored AS (
        SELECT source, n_s, vocab, lnq, ps, {sql_ln_det('ps')} AS ln_ps
        FROM (
            SELECT stok.source, n_s, vocab, lnq, {_PS_COL} AS ps
            FROM stok
            JOIN qtab USING (t)
            JOIN src_n ON src_n.source = stok.source
        )
    ),
    per_source AS (
        SELECT source, n_s, vocab,
               sum({sql_fx(_KL_PRESENT)}) AS s1_fx,
               sum({sql_fx('lnq')}) AS ls_fx,
               CAST(count(*) AS BIGINT) AS k_s,
               {_LNP0_COL} AS ln_p0
        FROM scored
        GROUP BY 1, 2, 3
    )
    SELECT source,
           n_s AS n_tokens,
           k_s AS vocab_used,
           {_KL_FINAL} AS kl_nats
    FROM per_source CROSS JOIN l_all
"""


# ---------------------------------------------------------------------------
# text_zipf_fit
# ---------------------------------------------------------------------------

#: OLS over the top-N rank-frequency points per language
ZIPF_TOP_RANKS = 1000

_LN_R = sql_ln_det("CAST(r AS DOUBLE)")
_LN_N = sql_ln_det("CAST(n AS DOUBLE)")
_ZIPF_SLOPE = "(kd * sxy - sx * sy) / (kd * sxx - sx * sx)"
_ZIPF_R2 = (
    "((kd * sxy - sx * sy) * (kd * sxy - sx * sy))"
    " / ((kd * sxx - sx * sx) * (kd * syy - sy * sy))"
)


def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language ZIPF FIT: OLS of ln(frequency) on ln(rank) over the
    top-1000 token ranks — slope (the Zipf exponent, ≈ −1 for natural
    text), intercept, and R². A corpus whose slope drifts far from −1
    or whose fit degrades is synthetic, boilerplate-heavy, or
    mis-tokenized — the one-look naturalness audit for a training mix.

    Ranks use the deterministic tie-break (count DESC, token ASC —
    identical ASCII/BMP collation in both engines, the
    top_ngrams_per_lang precedent). Logs are deterministic sqrt-chain
    values bound at the (lang, rank) grain; the five OLS sums ride the
    Q40 fixed point; slope/intercept/R² are deterministic scalar double
    math shared textually with the oracle. The rank window partitions
    by lang over the vocab grain — bounded, never data-cardinality."""
    docs = _docs(spark, sf_dir)
    tok = docs.select("lang", F.explode(tokens(F.col("text"))).alias("t"))
    counts = tok.groupBy("lang", "t").agg(F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("t").asc())
    ranked = (
        counts.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= ZIPF_TOP_RANKS)
        .withColumn("lx", F.expr(_LN_R))
        .withColumn("ly", F.expr(_LN_N))
    )
    sums = ranked.groupBy("lang").agg(
        F.count("*").cast("long").alias("k"),
        _fx_sum_expr("lx").alias("sx_fx"),
        _fx_sum_expr("ly").alias("sy_fx"),
        _fx_sum_expr("lx * lx").alias("sxx_fx"),
        _fx_sum_expr("lx * ly").alias("sxy_fx"),
        _fx_sum_expr("ly * ly").alias("syy_fx"),
    )
    m = sums.select(
        "lang",
        "k",
        F.col("k").cast("double").alias("kd"),
        F.expr(sql_unfx("sx_fx")).alias("sx"),
        F.expr(sql_unfx("sy_fx")).alias("sy"),
        F.expr(sql_unfx("sxx_fx")).alias("sxx"),
        F.expr(sql_unfx("sxy_fx")).alias("sxy"),
        F.expr(sql_unfx("syy_fx")).alias("syy"),
    )
    return m.select(
        "lang",
        F.col("k").alias("n_ranks"),
        F.expr(_ZIPF_SLOPE).alias("zipf_slope"),
        F.expr(f"(sy - ({_ZIPF_SLOPE}) * sx) / kd").alias("intercept"),
        F.expr(_ZIPF_R2).alias("r2"),
    )


QUERIES["text_zipf_fit"] = text_zipf_fit

ORACLE_SQL["text_zipf_fit"] = f"""
    WITH tok AS (
        SELECT lang, unnest({SQL_TOKENS}) AS t FROM documents
    ),
    counts AS (
        SELECT lang, t, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1, 2
    ),
    ranked AS (
        SELECT lang, n, r, {_LN_R} AS lx, {_LN_N} AS ly
        FROM (
            SELECT lang, t, n,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY n DESC, t ASC) AS r
            FROM counts
        )
        WHERE r <= {ZIPF_TOP_RANKS}
    ),
    sums AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS k,
               sum({sql_fx('lx')}) AS sx_fx,
               sum({sql_fx('ly')}) AS sy_fx,
               sum({sql_fx('lx * lx')}) AS sxx_fx,
               sum({sql_fx('lx * ly')}) AS sxy_fx,
               sum({sql_fx('ly * ly')}) AS syy_fx
        FROM ranked GROUP BY 1
    ),
    m AS (
        SELECT lang, k, CAST(k AS DOUBLE) AS kd,
               {sql_unfx("sx_fx")} AS sx,
               {sql_unfx("sy_fx")} AS sy,
               {sql_unfx("sxx_fx")} AS sxx,
               {sql_unfx("sxy_fx")} AS sxy,
               {sql_unfx("syy_fx")} AS syy
        FROM sums
    )
    SELECT lang,
           k AS n_ranks,
           {_ZIPF_SLOPE} AS zipf_slope,
           (sy - ({_ZIPF_SLOPE}) * sx) / kd AS intercept,
           {_ZIPF_R2} AS r2
    FROM m
"""


# ---------------------------------------------------------------------------
# events_markov_entropy
# ---------------------------------------------------------------------------

#: deterministic log of the conditional transition probability, bound
#: at the (from, to) state-pair grain
_LN_PIJ = sql_ln_det("CAST(n_ij AS DOUBLE) / CAST(n_i AS DOUBLE)")

#: per-transition entropy term (conditional on the from-state)
_H_TERM = "-(CAST(n_ij AS DOUBLE) / CAST(n_i AS DOUBLE)) * ln_pij"

#: entropy-rate term, weighted by the empirical state frequency
_RATE_TERM = "-(CAST(n_ij AS DOUBLE) / CAST(n AS DOUBLE)) * ln_pij"

#: sentinel from_type for the chain-level entropy-rate row
RATE_ROW = "__RATE__"


def events_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSITION ENTROPY of the event-type Markov chain: per from-state,
    the Shannon entropy (nats) of its next-event distribution, plus one
    ``__RATE__`` row with the chain's empirical entropy rate
    ``Σ_ij (n_ij/n)·(−ln(n_ij/n_i))`` — how predictable user journeys
    are, and from which states (complements events_markov_transitions,
    whose transition derivation — lag over (ts, event_id) per user —
    this reuses verbatim).

    Counts are exact BIGINTs at the (from, to) grain (state-bounded);
    the log is a deterministic sqrt-chain value bound once per state
    pair; entropy terms sum in Q40 fixed point; the rate rides the
    same pair grain with a 1-row total crossJoin (whitelisted scalar
    shape)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    trans = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("long").alias("n_ij"))
    )
    with_ni = trans.withColumn(
        "n_i",
        F.sum("n_ij").over(Window.partitionBy("from_type")).cast("long"),
    ).withColumn("ln_pij", F.expr(_LN_PIJ))
    per_state = with_ni.groupBy("from_type").agg(
        F.sum("n_ij").cast("long").alias("n_transitions"),
        F.expr(sql_unfx(f"sum({sql_fx(_H_TERM)})")).alias("h_nats"),
    )
    total = trans.agg(F.sum("n_ij").cast("long").alias("n"))
    rate = (
        with_ni.crossJoin(F.broadcast(total))
        .agg(
            F.sum("n_ij").cast("long").alias("n_transitions"),
            F.expr(sql_unfx(f"sum({sql_fx(_RATE_TERM)})")).alias("h_nats"),
        )
        .select(
            F.lit(RATE_ROW).alias("from_type"), "n_transitions", "h_nats"
        )
    )
    return per_state.select("from_type", "n_transitions", "h_nats").unionAll(rate)


QUERIES["events_markov_entropy"] = events_markov_entropy

ORACLE_SQL["events_markov_entropy"] = f"""
    WITH trans AS (
        SELECT from_type, event_type AS to_type,
               CAST(count(*) AS BIGINT) AS n_ij
        FROM (
            SELECT event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts ASC, event_id ASC)
                       AS from_type
            FROM events
        )
        WHERE from_type IS NOT NULL
        GROUP BY 1, 2
    ),
    with_ni AS (
        SELECT from_type, to_type, n_ij, n_i, {_LN_PIJ} AS ln_pij
        FROM (
            SELECT from_type, to_type, n_ij,
                   CAST(sum(n_ij) OVER (PARTITION BY from_type) AS BIGINT)
                       AS n_i
            FROM trans
        )
    ),
    per_state AS (
        SELECT from_type,
               CAST(sum(n_ij) AS BIGINT) AS n_transitions,
               {sql_unfx(f"sum({sql_fx(_H_TERM)})")} AS h_nats
        FROM with_ni GROUP BY 1
    ),
    total AS (
        SELECT CAST(sum(n_ij) AS BIGINT) AS n FROM trans
    ),
    rate AS (
        SELECT '{RATE_ROW}' AS from_type,
               CAST(sum(n_ij) AS BIGINT) AS n_transitions,
               {sql_unfx(f"sum({sql_fx(_RATE_TERM)})")} AS h_nats
        FROM with_ni CROSS JOIN total
    )
    SELECT from_type, n_transitions, h_nats FROM per_state
    UNION ALL
    SELECT from_type, n_transitions, h_nats FROM rate
"""


# ---------------------------------------------------------------------------
# docs_trigram_novelty
# ---------------------------------------------------------------------------


def docs_trigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TRIGRAM NOVELTY: the share of each document's distinct
    trigrams that occur in NO other document (document frequency 1) —
    high novelty marks genuinely original text, low novelty marks
    boilerplate saturation / template storms; near-zero corpus novelty
    is the memorization-risk smell for a training mix.

    Exact integers end-to-end: per-doc distinct trigrams, a
    gram-grain document-frequency aggregate joined back (the
    shingle-DF shape — gram-bounded shuffle, never all-pairs), one
    double division per doc, and a Q40 fixed-point per-source average
    so no float-sum order leaks. Docs with < 3 tokens have no
    trigrams and drop from both engines identically."""
    docs = _docs(spark, sf_dir)
    from sfcrimedatapipeline_spark.functions.text import ngrams

    g = (
        docs.select(
            "doc_id",
            "source",
            F.explode(ngrams(tokens(F.col("text")), 3)).alias("gram"),
        )
        .distinct()
    )
    df_counts = g.groupBy("gram").agg(F.count("*").cast("long").alias("df"))
    per_doc = (
        g.join(df_counts, "gram")
        .groupBy("doc_id", "source")
        .agg(
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("novel"),
            F.count("*").cast("long").alias("n_grams"),
        )
        .withColumn(
            "novelty",
            F.col("novel").cast("double") / F.col("n_grams").cast("double"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("novel").cast("long").alias("novel_grams"),
        F.sum("n_grams").cast("long").alias("distinct_grams"),
        (
            F.expr(sql_unfx(f"sum({sql_fx('novelty')})"))
            / F.count("*").cast("double")
        ).alias("avg_novelty"),
        F.sum(F.when(F.col("novelty") == 1.0, 1).otherwise(0))
        .cast("long")
        .alias("n_fully_novel"),
    )


QUERIES["docs_trigram_novelty"] = docs_trigram_novelty

ORACLE_SQL["docs_trigram_novelty"] = f"""
    WITH tok AS (
        SELECT doc_id, source, {SQL_TOKENS} AS toks FROM documents
    ),
    g AS (
        SELECT DISTINCT doc_id, source, gram FROM (
            SELECT doc_id, source, unnest({sql_ngrams("toks", 3)}) AS gram
            FROM tok
        )
    ),
    df_counts AS (
        SELECT gram, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY 1
    ),
    per_doc AS (
        SELECT doc_id, source,
               CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS novel,
               CAST(count(*) AS BIGINT) AS n_grams
        FROM g JOIN df_counts USING (gram)
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT source, novel, n_grams,
               CAST(novel AS DOUBLE) / CAST(n_grams AS DOUBLE) AS novelty
        FROM per_doc
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(novel) AS BIGINT) AS novel_grams,
           CAST(sum(n_grams) AS BIGINT) AS distinct_grams,
           {sql_unfx(f"sum({sql_fx('novelty')})")} / CAST(count(*) AS DOUBLE)
               AS avg_novelty,
           CAST(sum(CASE WHEN novelty = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fully_novel
    FROM scored GROUP BY 1
"""


# ---------------------------------------------------------------------------
# docs_lang_source_mi
# ---------------------------------------------------------------------------

#: pointwise MI log, bound at the (lang, source) cell grain:
#: ln((n_ls·n) / (n_l·n_s))
_LN_PMI = sql_ln_det(
    "(CAST(n_ls AS DOUBLE) * CAST(n AS DOUBLE))"
    " / (CAST(n_l AS DOUBLE) * CAST(n_s AS DOUBLE))"
)

#: MI contribution per cell: (n_ls/n) · ln_pmi
_MI_TERM = "(CAST(n_ls AS DOUBLE) / CAST(n AS DOUBLE)) * ln_pmi"

#: marginal-entropy terms, bound at the lang / source marginal grains
_HL_TERM = (
    "-(CAST(n_l AS DOUBLE) / CAST(n AS DOUBLE))"
    " * ln_l"
)
_HS_TERM = (
    "-(CAST(n_s AS DOUBLE) / CAST(n AS DOUBLE))"
    " * ln_s"
)
_LN_L = sql_ln_det("CAST(n_l AS DOUBLE) / CAST(n AS DOUBLE)")
_LN_S = sql_ln_det("CAST(n_s AS DOUBLE) / CAST(n AS DOUBLE)")

#: final assembly — one deterministic scalar expression, shared textually
_NMI = "(mi_nats / sqrt(h_lang * h_source))"


def docs_lang_source_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL INFORMATION I(lang; source) over the document contingency
    table, with both marginal entropies and the normalized MI — the
    one-number corpus-composition audit: 0 means languages are spread
    evenly across sources; near min(H) means sources are language silos
    (so source-level sampling decisions silently become language
    decisions, and vice versa).

    Cells are exact BIGINT doc counts at the (lang, source) grain
    (enum-bounded — tens of rows); marginals are cell-grain window
    sums; the corpus total is a 1-row scalar crossJoin (whitelisted
    shape). Logs are deterministic sqrt-chain values bound per cell /
    marginal row; the three entropy sums ride the Q40 fixed point; NMI
    is one deterministic sqrt + divide."""
    docs = _docs(spark, sf_dir)
    cells = docs.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n_ls")
    )
    total = cells.agg(F.sum("n_ls").cast("long").alias("n"))
    with_marg = (
        cells.withColumn(
            "n_l", F.sum("n_ls").over(Window.partitionBy("lang")).cast("long")
        )
        .withColumn(
            "n_s", F.sum("n_ls").over(Window.partitionBy("source")).cast("long")
        )
        .crossJoin(F.broadcast(total))
        .withColumn("ln_pmi", F.expr(_LN_PMI))
    )
    mi = with_marg.agg(
        F.sum("n_ls").cast("long").alias("n_docs"),
        F.expr(sql_unfx(f"sum({sql_fx(_MI_TERM)})")).alias("mi_nats"),
    )
    langs = (
        cells.groupBy("lang")
        .agg(F.sum("n_ls").cast("long").alias("n_l"))
        .crossJoin(F.broadcast(total))
        .withColumn("ln_l", F.expr(_LN_L))
        .agg(F.expr(sql_unfx(f"sum({sql_fx(_HL_TERM)})")).alias("h_lang"))
    )
    sources = (
        cells.groupBy("source")
        .agg(F.sum("n_ls").cast("long").alias("n_s"))
        .crossJoin(F.broadcast(total))
        .withColumn("ln_s", F.expr(_LN_S))
        .agg(F.expr(sql_unfx(f"sum({sql_fx(_HS_TERM)})")).alias("h_source"))
    )
    return (
        mi.crossJoin(F.broadcast(langs))
        .crossJoin(F.broadcast(sources))
        .select(
            "n_docs",
            "mi_nats",
            "h_lang",
            "h_source",
            F.expr(_NMI).alias("nmi"),
        )
    )


QUERIES["docs_lang_source_mi"] = docs_lang_source_mi

ORACLE_SQL["docs_lang_source_mi"] = f"""
    WITH cells AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n_ls
        FROM documents GROUP BY 1, 2
    ),
    total AS (
        SELECT CAST(sum(n_ls) AS BIGINT) AS n FROM cells
    ),
    with_marg AS (
        SELECT lang, source, n_ls, n_l, n_s, n, {_LN_PMI} AS ln_pmi
        FROM (
            SELECT lang, source, n_ls,
                   CAST(sum(n_ls) OVER (PARTITION BY lang) AS BIGINT) AS n_l,
                   CAST(sum(n_ls) OVER (PARTITION BY source) AS BIGINT) AS n_s,
                   n
            FROM cells CROSS JOIN total
        )
    ),
    mi AS (
        SELECT CAST(sum(n_ls) AS BIGINT) AS n_docs,
               {sql_unfx(f"sum({sql_fx(_MI_TERM)})")} AS mi_nats
        FROM with_marg
    ),
    langs AS (
        SELECT {sql_unfx(f"sum({sql_fx(_HL_TERM)})")} AS h_lang
        FROM (
            SELECT n_l, n, {_LN_L} AS ln_l FROM (
                SELECT CAST(sum(n_ls) AS BIGINT) AS n_l, n
                FROM cells CROSS JOIN total GROUP BY lang, n
            )
        )
    ),
    sources AS (
        SELECT {sql_unfx(f"sum({sql_fx(_HS_TERM)})")} AS h_source
        FROM (
            SELECT n_s, n, {_LN_S} AS ln_s FROM (
                SELECT CAST(sum(n_ls) AS BIGINT) AS n_s, n
                FROM cells CROSS JOIN total GROUP BY source, n
            )
        )
    )
    SELECT n_docs, mi_nats, h_lang, h_source, {_NMI} AS nmi
    FROM mi CROSS JOIN langs CROSS JOIN sources
"""


# ---------------------------------------------------------------------------
# text_token_entropy
# ---------------------------------------------------------------------------

#: per-token entropy term, bound at the (lang, token) grain
_LN_PT = sql_ln_det("CAST(c AS DOUBLE) / CAST(n_l AS DOUBLE)")
_HT_TERM = "-(CAST(c AS DOUBLE) / CAST(n_l AS DOUBLE)) * ln_pt"

#: redundancy = 1 − H/ln(V) (0 = uniform vocabulary use, →1 = a few
#: tokens dominate)
_REDUNDANCY = "(1.0 - h_nats / ln_v)"
_LN_V = sql_ln_det("CAST(vocab AS DOUBLE)")


def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language UNIGRAM ENTROPY of the token distribution (nats) and
    its REDUNDANCY ``1 − H/ln V`` — the information density of each
    language slice: entropy near ln V means flat, diverse token use;
    high redundancy marks template/boilerplate-dominated slices where
    a few tokens carry most of the mass (the aggregate twin of the
    per-doc perplexity filter).

    Exact BIGINT counts at the (lang, token) grain; per-lang totals as
    lang-partitioned window sums over the vocab grain; deterministic
    sqrt-chain logs bound per vocab row; Q40 fixed-point entropy sums;
    redundancy is one deterministic divide against ln_det(V)."""
    docs = _docs(spark, sf_dir)
    tok = docs.select("lang", F.explode(tokens(F.col("text"))).alias("t"))
    counts = tok.groupBy("lang", "t").agg(F.count("*").cast("long").alias("c"))
    scored = counts.withColumn(
        "n_l", F.sum("c").over(Window.partitionBy("lang")).cast("long")
    ).withColumn("ln_pt", F.expr(_LN_PT))
    per_lang = scored.groupBy("lang").agg(
        F.max("n_l").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
        F.expr(sql_unfx(f"sum({sql_fx(_HT_TERM)})")).alias("h_nats"),
    )
    return per_lang.withColumn("ln_v", F.expr(_LN_V)).select(
        "lang",
        "n_tokens",
        "vocab",
        "h_nats",
        F.expr(_REDUNDANCY).alias("redundancy"),
    )


QUERIES["text_token_entropy"] = text_token_entropy

ORACLE_SQL["text_token_entropy"] = f"""
    WITH tok AS (
        SELECT lang, unnest({SQL_TOKENS}) AS t FROM documents
    ),
    counts AS (
        SELECT lang, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
    ),
    scored AS (
        SELECT lang, c, n_l, {_LN_PT} AS ln_pt
        FROM (
            SELECT lang, c,
                   CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n_l
            FROM counts
        )
    ),
    per_lang AS (
        SELECT lang,
               max(n_l) AS n_tokens,
               CAST(count(*) AS BIGINT) AS vocab,
               {sql_unfx(f"sum({sql_fx(_HT_TERM)})")} AS h_nats
        FROM scored GROUP BY 1
    )
    SELECT lang, n_tokens, vocab, h_nats,
           {_REDUNDANCY.replace("ln_v", _LN_V)} AS redundancy
    FROM per_lang
"""


# ---------------------------------------------------------------------------
# docs_logreg_train — gated in-engine model training
# ---------------------------------------------------------------------------

#: full-batch GD iterations and learning rate (interpolated into BOTH
#: engines — never hardcode one side)
LOGREG_ITERS = 8
LOGREG_LR = 6.0

#: shared feature fragments over the bound base columns
#: (n_chars, ntok, nvocab, hits_en) — identical text both engines
LOGREG_FEATURES: list[str] = [
    "1.0",
    "CAST(n_chars AS DOUBLE) / 1000.0",
    "CAST(ntok AS DOUBLE) / 100.0",
    "CAST(hits_en AS DOUBLE) / (CAST(ntok AS DOUBLE) + 1.0)",
    "CAST(nvocab AS DOUBLE) / (CAST(ntok AS DOUBLE) + 1.0)",
]

#: the DISTILLATION TARGET: a Snorkel-style 2-of-3 heuristic vote
#: (long doc, lexical diversity ≥ 4/9 via exact integer cross-multiply,
#: ≥4 English stopword hits) — the docs_weak_labels pattern. Training a
#: parametric scorer to mimic rule-based labeling functions is the
#: standard quality-classifier bootstrap for LLM curation.
_LOGREG_Y = (
    "CASE WHEN (CASE WHEN n_chars >= 330 THEN 1 ELSE 0 END"
    " + CASE WHEN nvocab * 9 >= ntok * 4 THEN 1 ELSE 0 END"
    " + CASE WHEN hits_en >= 4 THEN 1 ELSE 0 END) >= 2"
    " THEN 1.0 ELSE 0.0 END"
)


def _logreg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sfcrimedatapipeline_spark.functions.text import stopword_hits

    docs = _docs(spark, sf_dir)
    toks = tokens(F.col("text"))
    base = docs.select(
        "n_chars",
        F.size(toks).alias("ntok"),
        F.size(F.array_distinct(toks)).alias("nvocab"),
        stopword_hits(toks, "en").alias("hits_en"),
    )
    return base.select(
        F.expr(_LOGREG_Y).alias("y"),
        *[F.expr(x).alias(f"x{j}") for j, x in enumerate(LOGREG_FEATURES)],
    )


def docs_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-ENGINE MODEL TRAINING, value-hash gated: full-batch logistic
    regression DISTILLING the weak-label heuristic vote (length /
    diversity / stopword rules) into a parametric quality scorer —
    the FastText-style classifier bootstrap for LLM curation, run
    inside the engine. The 8-iteration weight TRACE is
    bit-identical across the Spark trainer (operators/mltrain.py), the
    DuckDB recursive-CTE oracle, and the pure-Python twin — because
    gradients are Q40 fixed-point sums, the sigmoid rides the
    deterministic exp_det squaring chain, and weight updates repeat the
    same IEEE scalar text in all three. The first gated trainer in the
    repo: training inside the engine with a bit-reproducibility
    guarantee, not a tolerance.

    Scale (100 TB): one map-side-combinable aggregate per iteration —
    F+1 fixed-point scalars cross the wire, the feature frame is
    cached once, the driver holds 5 doubles. The returned frame is a
    driver literal (the trace), like the BPE-merge trainer precedent."""
    from sfcrimedatapipeline_spark.operators.mltrain import logreg_train

    feats = _logreg_features(spark, sf_dir)
    trace = logreg_train(
        feats,
        [f"x{j}" for j in range(len(LOGREG_FEATURES))],
        "y",
        iters=LOGREG_ITERS,
        lr=LOGREG_LR,
    )
    schema = "it bigint, " + ", ".join(
        f"w{j} double" for j in range(len(LOGREG_FEATURES))
    )
    return spark.createDataFrame(trace, schema)


QUERIES["docs_logreg_train"] = docs_logreg_train


def _logreg_oracle() -> str:
    """Recursive-CTE twin of the Spark trainer, generated from the SAME
    constants/fragments (features, iters, lr, fx scale, exp_det wrap)
    so the two engines cannot drift. Weight state rides the recursion;
    each recursive step computes the full-batch gradient via one
    correlated struct_pack subquery over the feature CTE, with the
    sigmoid's 16 squaring stages bound as nested SELECT * REPLACE
    levels (detmath.sql_exp_det_wrap)."""
    from sfcrimedatapipeline_spark.functions.detmath import sql_exp_det_wrap
    from sfcrimedatapipeline_spark.functions.text import sql_stopword_hits

    nf = len(LOGREG_FEATURES)
    feat_cols = ", ".join(f"{x} AS x{j}" for j, x in enumerate(LOGREG_FEATURES))
    z = " + ".join(f"st.w{j} * x{j}" for j in range(nf))
    inner = (
        f"SELECT y, {', '.join(f'x{j}' for j in range(nf))}, "
        f"0.0 - ({z}) AS nz FROM feats"
    )
    sig_sel = (
        "SELECT *, 1.0 / (1.0 + enz) AS sig FROM ("
        + sql_exp_det_wrap(inner, "nz", "enz")
        + ")"
    )
    packs = ", ".join(
        f"g{j} := sum({sql_fx(f'x{j} * (y - sig)')})" for j in range(nf)
    )
    from sfcrimedatapipeline_spark.functions.fixedpoint import FX_SCALE

    upd = ",\n             ".join(
        f"u.w{j} + {LOGREG_LR!r} * ((CAST(struct_extract(u.g, 'g{j}') AS DOUBLE)"
        f" / {FX_SCALE!r}) / CAST((SELECT n FROM n_cte) AS DOUBLE)) AS w{j}"
        for j in range(nf)
    )
    seed = ", ".join(f"CAST(0.0 AS DOUBLE) AS w{j}" for j in range(nf))
    wlist = ", ".join(f"w{j}" for j in range(nf))
    stw = ", ".join(f"st.w{j}" for j in range(nf))
    return f"""
    WITH RECURSIVE tokd AS (
        SELECT n_chars, {SQL_TOKENS} AS toks FROM documents
    ),
    base AS (
        SELECT n_chars, len(toks) AS ntok,
               len(list_distinct(toks)) AS nvocab,
               {sql_stopword_hits('toks', 'en')} AS hits_en
        FROM tokd
    ),
    feats AS (
        SELECT {_LOGREG_Y} AS y, {feat_cols} FROM base
    ),
    n_cte AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM feats
    ),
    st(it, {wlist}) AS (
        SELECT 0 AS it, {seed}
        UNION ALL
        SELECT u.it + 1 AS it,
             {upd}
        FROM (
            SELECT st.it, {stw},
                   (SELECT struct_pack({packs}) FROM ({sig_sel})) AS g
            FROM st WHERE st.it < {LOGREG_ITERS}
        ) u
    )
    SELECT CAST(it AS BIGINT) AS it, {wlist} FROM st
"""


ORACLE_SQL["docs_logreg_train"] = _logreg_oracle()


# ---------------------------------------------------------------------------
# docs_logreg_calibration — train → score → reliability table
# ---------------------------------------------------------------------------

#: calibration histogram granularity: 16 score buckets (power of two,
#: exact bucket multiply)
CALIB_BUCKETS = 16.0


def docs_logreg_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION (reliability) TABLE of the gated trainer's final
    model: score every document with the trained weights, bucket the
    sigmoid into 16 bins, and report per-bin count, positive count,
    observed rate, and mean predicted score — the standard
    well-calibrated-classifier audit (observed ≈ predicted per bin),
    here gated end-to-end: the ORACLE RETRAINS the model inside its own
    recursive CTE and scores with the same deterministic sigmoid, so
    the hash covers train + score + calibrate as one artifact.

    Same determinism stack as docs_logreg_train (fx gradient sums,
    exp_det sigmoid, literal-embedded weights on the Spark side vs
    recursion-carried weights in the oracle); mean predicted score per
    bin rides one more fx sum. Scale: scoring is one codegen pass over
    the feature frame; the output is 16 rows."""
    from sfcrimedatapipeline_spark.functions.detmath import with_exp_det
    from sfcrimedatapipeline_spark.operators.mltrain import logreg_train

    feats = _logreg_features(spark, sf_dir)
    trace = logreg_train(
        feats,
        [f"x{j}" for j in range(len(LOGREG_FEATURES))],
        "y",
        iters=LOGREG_ITERS,
        lr=LOGREG_LR,
    )
    w = trace[-1][1:]
    z = " + ".join(
        f"CAST({w[j]!r} AS DOUBLE) * x{j}" for j in range(len(LOGREG_FEATURES))
    )
    d = feats.withColumn("nz", F.expr(f"0.0 - ({z})"))
    d = with_exp_det(d, "nz", "enz")
    d = d.withColumn("sig", F.expr("1.0 / (1.0 + enz)"))
    return d.groupBy(
        F.floor(F.col("sig") * F.lit(CALIB_BUCKETS)).alias("score_bucket")
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("y").cast("long")).cast("long").alias("n_positive"),
        (
            F.sum(F.col("y").cast("long")).cast("double")
            / F.count("*").cast("double")
        ).alias("observed_rate"),
        (
            F.expr(sql_unfx(f"sum({sql_fx('sig')})"))
            / F.count("*").cast("double")
        ).alias("mean_score"),
    )


QUERIES["docs_logreg_calibration"] = docs_logreg_calibration


def _logreg_calibration_oracle() -> str:
    """Oracle: the full trainer recursion (shared builder) → take the
    final-iteration weights → score + bucket with the same fragments."""
    from sfcrimedatapipeline_spark.functions.detmath import sql_exp_det_wrap

    nf = len(LOGREG_FEATURES)
    z = " + ".join(f"fw.w{j} * x{j}" for j in range(nf))
    inner = (
        f"SELECT y, {', '.join(f'x{j}' for j in range(nf))}, "
        f"0.0 - ({z}) AS nz FROM feats CROSS JOIN fw"
    )
    sig_sel = (
        "SELECT *, 1.0 / (1.0 + enz) AS sig FROM ("
        + sql_exp_det_wrap(inner, "nz", "enz")
        + ")"
    )
    wlist = ", ".join(f"w{j}" for j in range(nf))
    train = _logreg_oracle()
    # reuse the trainer CTE text: strip its final SELECT, keep the CTEs
    # (rstrip + comma turns the st CTE's closing paren into a CTE-list
    # separator)
    cte_body = train[: train.rindex("SELECT CAST(it AS BIGINT)")].rstrip()
    return f"""{cte_body},
    fw AS (
        SELECT {wlist} FROM st
        WHERE it = {LOGREG_ITERS}
    ),
    scored AS (
        {sig_sel}
    )
    SELECT CAST(floor(sig * {CALIB_BUCKETS!r}) AS BIGINT) AS score_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS n_positive,
           CAST(sum(CAST(y AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS observed_rate,
           {sql_unfx(f"sum({sql_fx('sig')})")} / CAST(count(*) AS DOUBLE)
               AS mean_score
    FROM scored GROUP BY 1
"""


ORACLE_SQL["docs_logreg_calibration"] = _logreg_calibration_oracle()


# ---------------------------------------------------------------------------
# emb_kmeans_train — gated k-means (the IVF coarse-quantizer trainer)
# ---------------------------------------------------------------------------

#: clusters / Lloyd iterations (interpolated into both engines)
KMEANS_K = 4
KMEANS_ITERS = 3


def emb_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GATED K-MEANS: 3 Lloyd iterations over the embeddings table,
    k = 4, deterministic to the bit — init from the k smallest vec_ids,
    Q40 fixed-point distances (argmin becomes an exact integer compare,
    tie-broken on cluster id) and fixed-point centroid means, so the
    final (cluster, dim, centroid, n_members) table value-hash matches
    a DuckDB oracle that re-runs the SAME three iterations as unrolled
    CTE stages, so the quantizer an ANN index trains is
    gate-verifiable.

    Scale: per iteration one shuffle-free Arrow pass over the vectors
    (operators/mltrain.py:kmeans_train); tasks emit exact per-(cluster,
    dim) fixed-point partial sums and the driver, which holds k·dims
    doubles between iterations, adds them. Empty clusters keep their
    previous centroid (COALESCE in the oracle)."""
    from sfcrimedatapipeline_spark.operators.mltrain import kmeans_train

    emb = ensure_min_partitions(read_table(spark, sf_dir, "embeddings"))
    cent = kmeans_train(emb, k=KMEANS_K, iters=KMEANS_ITERS)
    return spark.createDataFrame(
        cent, "cluster bigint, n_members bigint, dim int, centroid double"
    )


QUERIES["emb_kmeans_train"] = emb_kmeans_train


def _kmeans_oracle() -> str:
    """Unrolled-CTE twin of the Spark k-means: cent0 from the k smallest
    vec_ids, then per iteration a (vec, cluster) fixed-point distance
    aggregate, a row_number argmin, and a fixed-point mean — generated
    from the same constants so the engines cannot drift."""
    # fx scale interpolated, never hardcoded (the assoc-rules lesson)
    from sfcrimedatapipeline_spark.functions.fixedpoint import FX_SCALE

    mean_val = (
        f"(CAST(sum({sql_fx('p.val')}) AS DOUBLE)"
        f" / {FX_SCALE!r}) / CAST(count(*) AS DOUBLE)"
    )
    steps = []
    for i in range(1, KMEANS_ITERS + 1):
        prev = f"cent{i - 1}"
        steps.append(f"""
    d{i} AS (
        SELECT p.vec_id, c.cluster,
               sum({sql_fx("(p.val - c.cval) * (p.val - c.cval)")}) AS dist_fx
        FROM pts p JOIN {prev} c USING (dim)
        GROUP BY 1, 2
    ),
    a{i} AS (
        SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist_fx ASC, cluster ASC) AS rn
            FROM d{i}
        ) WHERE rn = 1
    ),
    m{i} AS (
        SELECT a.cluster, p.dim,
               {mean_val} AS val,
               CAST(count(*) AS BIGINT) AS n
        FROM a{i} a JOIN pts p USING (vec_id)
        GROUP BY 1, 2
    ),
    cent{i} AS (
        SELECT c.cluster, c.dim,
               COALESCE(m.val, c.cval) AS cval,
               CAST(COALESCE(m.n, 0) AS BIGINT) AS n
        FROM {prev} c
        LEFT JOIN m{i} m ON m.cluster = c.cluster AND m.dim = c.dim
    )""")
    return f"""
    WITH pts AS (
        SELECT vec_id, r.range AS dim,
               CAST(embedding[r.range] AS DOUBLE) AS val
        FROM embeddings CROSS JOIN range(1, 65) r
    ),
    init AS (
        SELECT vec_id,
               CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                   AS cluster
        FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {KMEANS_K})
    ),
    cent0 AS (
        SELECT i.cluster, p.dim, p.val AS cval, CAST(0 AS BIGINT) AS n
        FROM pts p JOIN init i USING (vec_id)
    ),{",".join(steps)}
    SELECT cluster, n AS n_members, CAST(dim AS INTEGER) AS dim,
           cval AS centroid
    FROM cent{KMEANS_ITERS}
"""


ORACLE_SQL["emb_kmeans_train"] = _kmeans_oracle()


# ---------------------------------------------------------------------------
# emb_power_iteration — gated top-eigenvector (PCA-1) trainer
# ---------------------------------------------------------------------------

#: power-iteration rounds and embedding dimensionality
POWER_ITERS = 4
POWER_DIMS = 64


def emb_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GATED POWER ITERATION: the top principal direction of the
    embedding Gram matrix XᵀX (uncentered PCA-1), 4 rounds,
    deterministic to the bit — matrix-vector products and the norm are
    Q40 fixed-point sums, the normalize step is IEEE sqrt + divide, so
    the 64 loadings + eigenvalue hash-match a DuckDB oracle that runs
    the same rounds as unrolled CTE stages. Complements the numpy-side
    ``emb_pca_topk``: the dominant direction is computed DISTRIBUTED
    and gate-verified — the ANISOTROPY audit a 100 TB embedding corpus
    runs without collecting X. (On this fixture the Gram spectrum is
    nearly flat — λ1/λ2 ≈ 1.07 — so 4 rounds measure anisotropy, the
    Rayleigh estimate vs the mean eigenvalue, rather than a converged
    top direction; the twin test pins the estimate inside the true
    spectrum.)

    Output: one row per dim (1..64) with the loading, plus a dim=0 row
    carrying the eigenvalue estimate ‖XᵀXv‖. Scale: per round, one
    64-cell broadcast, one vec-grain aggregate, one dim-grain
    aggregate; the driver holds 64 doubles."""
    from sfcrimedatapipeline_spark.operators.mltrain import power_iteration

    emb = ensure_min_partitions(read_table(spark, sf_dir, "embeddings"))
    v, lam = power_iteration(emb, iters=POWER_ITERS, dims=POWER_DIMS)
    rows = [(0, lam)] + [(d + 1, v[d]) for d in range(POWER_DIMS)]
    return spark.createDataFrame(rows, "dim int, loading double")


QUERIES["emb_power_iteration"] = emb_power_iteration


def _power_iteration_oracle() -> str:
    """Unrolled-CTE twin: v0 is the exact uniform unit vector; each
    round is a vec-grain fixed-point matvec, a dim-grain fixed-point
    matvec, a fixed-point norm, and sqrt-divide normalize — same
    constants, same text, same bits."""
    init = 1.0 / 8.0  # 1/sqrt(64), exact power of two
    steps = []
    for i in range(1, POWER_ITERS + 1):
        prev = f"v{i - 1}"
        steps.append(f"""
    u{i} AS (
        SELECT p.vec_id,
               {sql_unfx(f"sum({sql_fx('p.val * v.vval')})")} AS uval
        FROM pts p JOIN {prev} v USING (dim)
        GROUP BY 1
    ),
    w{i} AS (
        SELECT p.dim,
               {sql_unfx(f"sum({sql_fx('p.val * u.uval')})")} AS wval
        FROM pts p JOIN u{i} u USING (vec_id)
        GROUP BY 1
    ),
    n{i} AS (
        SELECT {sql_unfx(f"sum({sql_fx('wval * wval')})")} AS norm2 FROM w{i}
    ),
    v{i} AS (
        SELECT dim, wval / sqrt(norm2) AS vval FROM w{i} CROSS JOIN n{i}
    )""")
    return f"""
    WITH pts AS (
        SELECT vec_id, r.range AS dim,
               CAST(embedding[r.range] AS DOUBLE) AS val
        FROM embeddings CROSS JOIN range(1, {POWER_DIMS + 1}) r
    ),
    v0 AS (
        SELECT CAST(r.range AS INTEGER) AS dim, CAST({init!r} AS DOUBLE) AS vval
        FROM range(1, {POWER_DIMS + 1}) r
    ),{",".join(steps)}
    SELECT CAST(0 AS INTEGER) AS dim, sqrt(norm2) AS loading
    FROM n{POWER_ITERS}
    UNION ALL
    SELECT CAST(dim AS INTEGER) AS dim, vval AS loading FROM v{POWER_ITERS}
"""


ORACLE_SQL["emb_power_iteration"] = _power_iteration_oracle()


# ---------------------------------------------------------------------------
# text_bigram_entropy_rate
# ---------------------------------------------------------------------------

#: conditional-entropy term at the (lang, bigram) grain:
#: −(c_ab/n_a)·ln(c_ab/n_a), weighted to the rate by (c_ab/n_lang)
_LN_PAB = sql_ln_det("CAST(c_ab AS DOUBLE) / CAST(n_a AS DOUBLE)")
_BIGRAM_RATE_TERM = (
    "-(CAST(c_ab AS DOUBLE) / CAST(n_big AS DOUBLE)) * ln_pab"
)


def text_bigram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language BIGRAM ENTROPY RATE: the empirical conditional
    entropy H(next-token | token) in nats — the text twin of
    events_markov_entropy and the number that separates predictable
    boilerplate (low rate) from diverse natural text (rate near the
    unigram entropy). Reported beside the unigram entropy gap is the
    whole point: ``h_unigram − h_rate`` is the mutual information one
    token of context buys, the cheapest LM-ability-to-compress signal
    a curation pipeline can compute.

    Exact BIGINT counts at the (lang, bigram) grain; the first-token
    marginal rides a lang+first-token window sum over the bigram
    grain; deterministic sqrt-chain logs bound per bigram row; Q40
    fixed-point sums. Bigram grain is corpus-bounded exactly like
    text_bigram_lm."""
    from sfcrimedatapipeline_spark.functions.text import ngrams

    docs = _docs(spark, sf_dir)
    big = docs.select(
        "lang",
        F.explode(ngrams(tokens(F.col("text")), 2)).alias("bigram"),
    ).select(
        "lang",
        F.split(F.col("bigram"), " ").getItem(0).alias("a"),
        F.col("bigram").alias("ab"),
    )
    counts = big.groupBy("lang", "a", "ab").agg(
        F.count("*").cast("long").alias("c_ab")
    )
    scored = (
        counts.withColumn(
            "n_a",
            F.sum("c_ab").over(Window.partitionBy("lang", "a")).cast("long"),
        )
        .withColumn(
            "n_big",
            F.sum("c_ab").over(Window.partitionBy("lang")).cast("long"),
        )
        .withColumn("ln_pab", F.expr(_LN_PAB))
    )
    return scored.groupBy("lang").agg(
        F.max("n_big").alias("n_bigrams"),
        F.count("*").cast("long").alias("distinct_bigrams"),
        F.expr(sql_unfx(f"sum({sql_fx(_BIGRAM_RATE_TERM)})")).alias(
            "h_rate_nats"
        ),
    )


QUERIES["text_bigram_entropy_rate"] = text_bigram_entropy_rate

ORACLE_SQL["text_bigram_entropy_rate"] = f"""
    WITH tok AS (
        SELECT lang, {SQL_TOKENS} AS toks FROM documents
    ),
    big AS (
        SELECT lang, ab, string_split(ab, ' ')[1] AS a FROM (
            SELECT lang, unnest({sql_ngrams("toks", 2)}) AS ab FROM tok
        )
    ),
    counts AS (
        SELECT lang, a, ab, CAST(count(*) AS BIGINT) AS c_ab
        FROM big GROUP BY 1, 2, 3
    ),
    scored AS (
        SELECT lang, c_ab, n_a, n_big, {_LN_PAB} AS ln_pab
        FROM (
            SELECT lang, c_ab,
                   CAST(sum(c_ab) OVER (PARTITION BY lang, a) AS BIGINT)
                       AS n_a,
                   CAST(sum(c_ab) OVER (PARTITION BY lang) AS BIGINT)
                       AS n_big
            FROM counts
        )
    )
    SELECT lang,
           max(n_big) AS n_bigrams,
           CAST(count(*) AS BIGINT) AS distinct_bigrams,
           {sql_unfx(f"sum({sql_fx(_BIGRAM_RATE_TERM)})")} AS h_rate_nats
    FROM scored GROUP BY 1
"""


# ---------------------------------------------------------------------------
# events_markov_stationary
# ---------------------------------------------------------------------------

#: power-iteration rounds for the stationary distribution (the chain is
#: a handful of states; 12 rounds converge far past the gate's digits)
STATIONARY_ITERS = 12


def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATIONARY DISTRIBUTION π of the event-type Markov chain (πP = π
    by 12 power-iteration rounds from uniform), plus one ``__RATE__``
    row with the TRUE stationary entropy rate ``Σ_i π_i H_i`` — the
    long-run companion to events_markov_entropy, whose rate weights by
    EMPIRICAL visit frequency; the gap between the two is the
    burn-in/NON-stationarity signal in the event stream.

    The transition matrix is an exact-count distributed aggregate
    (state-bounded, ≤ |types|² rows, collected like the trainer
    precedents); iteration arithmetic is fx-floored per term with
    exact integer sums and one renormalizing divide per round —
    repeated textually by the oracle's unrolled CTE chain, with the
    rate's log as ln_det, so all three implementations (Spark driver,
    DuckDB, the python math here) produce the same bits."""
    import math as _math

    from sfcrimedatapipeline_spark.functions.detmath import ln_det_py
    from sfcrimedatapipeline_spark.functions.fixedpoint import FX_SCALE

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    trans = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("long").alias("n_ij"))
        .collect()
    )
    n_i: dict[str, int] = {}
    for r in trans:
        n_i[r["from_type"]] = n_i.get(r["from_type"], 0) + r["n_ij"]
    p = [
        (r["from_type"], r["to_type"], r["n_ij"] / float(n_i[r["from_type"]]))
        for r in trans
    ]
    states = sorted(n_i)
    s = len(states)
    pi = {st: 1.0 / float(s) for st in states}
    for _ in range(STATIONARY_ITERS):
        q_fx: dict[str, int] = {}
        for frm, to, pij in p:
            if frm in pi:
                q_fx[to] = q_fx.get(to, 0) + _math.floor((pi[frm] * pij) * FX_SCALE)
        q = {st: float(v) / FX_SCALE for st, v in q_fx.items()}
        tot = float(sum(_math.floor(v * FX_SCALE) for v in q.values())) / FX_SCALE
        pi = {st: v / tot for st, v in q.items()}
    rate_fx = 0
    for frm, to, pij in p:
        if frm in pi:
            rate_fx += _math.floor((-(pi[frm] * pij) * ln_det_py(pij)) * FX_SCALE)
    rate = float(rate_fx) / FX_SCALE
    rows = sorted(pi.items()) + [("__RATE__", rate)]
    return spark.createDataFrame(rows, "event_type string, stationary_p double")


QUERIES["events_markov_stationary"] = events_markov_stationary


def _markov_stationary_oracle() -> str:
    """Unrolled power-iteration twin over the transition-probability CTE;
    per-term fx floors, exact sums, one renormalizing divide per round,
    ln_det for the rate — the same bits as the driver math."""
    steps = []
    for i in range(1, STATIONARY_ITERS + 1):
        prev = f"pi{i - 1}"
        steps.append(f"""
    q{i} AS MATERIALIZED (
        SELECT p.to_type AS st,
               {sql_unfx(f"sum({sql_fx('prev.pi * p.pij')})")} AS pi_raw
        FROM {prev} prev JOIN p ON p.from_type = prev.st
        GROUP BY 1
    ),
    t{i} AS (
        SELECT {sql_unfx(f"sum({sql_fx('pi_raw')})")} AS tot FROM q{i}
    ),
    pi{i} AS MATERIALIZED (
        SELECT st, pi_raw / tot AS pi FROM q{i} CROSS JOIN t{i}
    )""")
    last = f"pi{STATIONARY_ITERS}"
    ln_pij = sql_ln_det("pij")
    return f"""
    WITH trans AS (
        SELECT from_type, event_type AS to_type,
               CAST(count(*) AS BIGINT) AS n_ij
        FROM (
            SELECT event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts ASC, event_id ASC)
                       AS from_type
            FROM events
        )
        WHERE from_type IS NOT NULL
        GROUP BY 1, 2
    ),
    p AS MATERIALIZED (
        SELECT from_type, to_type,
               CAST(n_ij AS DOUBLE) / CAST(n_i AS DOUBLE) AS pij
        FROM (
            SELECT from_type, to_type, n_ij,
                   CAST(sum(n_ij) OVER (PARTITION BY from_type) AS BIGINT)
                       AS n_i
            FROM trans
        )
    ),
    states AS (
        SELECT DISTINCT from_type AS st FROM trans
    ),
    pi0 AS (
        SELECT st,
               1.0 / CAST((SELECT count(*) FROM states) AS DOUBLE) AS pi
        FROM states
    ),{",".join(steps)},
    rate AS (
        SELECT {sql_unfx(f"sum({sql_fx(f'-(prev.pi * p.pij) * ({ln_pij})')})")}
                   AS rate
        FROM {last} prev JOIN p ON p.from_type = prev.st
    )
    SELECT st AS event_type, pi AS stationary_p FROM {last}
    UNION ALL
    SELECT '__RATE__' AS event_type, rate AS stationary_p FROM rate
"""


ORACLE_SQL["events_markov_stationary"] = _markov_stationary_oracle()
