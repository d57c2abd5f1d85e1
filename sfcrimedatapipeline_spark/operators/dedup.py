"""Deduplication operators (north-star surface): exact, MinHash+LSH,
n-gram Jaccard, SimHash, embedding-cosine near-dup.

Scale design: nothing here ever builds an all-pairs cross join. Every
near-dup path is *blocked* first (LSH band buckets, shared-ngram
candidates, simhash band equality), so the quadratic step only runs
inside buckets — the standard shuffle-light pattern for 100 TB corpora
(hash-partitioned self-joins on bucket keys; skew handled by AQE). The
embedding paths share one verifier, :func:`_tile_pairs`, which splits
any bucket into bounded sub-block tiles.

Hashes are the portable md5-based ones (functions/hashing.py) so the
whole MinHash pipeline is oracle-checkable against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from sfcrimedatapipeline_spark.functions.caching import (
    keep_alive_until_released,
    unpersist_when_released,
)
from sfcrimedatapipeline_spark.functions.hashing import portable_hash64
from sfcrimedatapipeline_spark.functions.text import ngrams, normalized, tokens
from sfcrimedatapipeline_spark.operators.similarity import (
    _coarse_dist_structs,
    _hyperplane,
    lsh_bucket,
)

DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4  # 16 hashes → 4 bands × 4 rows


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on normalized text: keep the lowest id per group.

    One hash-aggregate shuffle on the md5 fingerprint (never on the full
    text — at 100 TB the shuffle payload is 32 bytes/row, not the doc).
    """
    return (
        df.select(
            F.col(id_col), F.md5(normalized(F.col(text_col))).alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("kept_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def dedup_exact_stream(docs_stream: DataFrame, text_col: str = "text") -> DataFrame:
    """Streaming exact dedup: the same md5-of-normalized-text
    fingerprint as :func:`dedup_exact`, deduplicated INCREMENTALLY with
    streaming ``dropDuplicates`` — append mode emits each distinct
    fingerprint exactly once, on first arrival; state is one 32-hex key
    per distinct document (bounded by distinct count, not stream
    length). Projecting to the fingerprint BEFORE dedup keeps both the
    state rows and the emitted rows order-independent — emitting whole
    first-seen rows would make the output depend on intra-batch
    scheduling. Production note: with an event-time column,
    :func:`dedup_exact_stream_watermarked` bounds state by time
    instead of by corpus cardinality."""
    return docs_stream.select(
        F.md5(normalized(F.col(text_col))).alias("fingerprint")
    ).dropDuplicates(["fingerprint"])


def dedup_exact_stream_watermarked(
    docs_stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    delay: str = "2 hours",
) -> DataFrame:
    """TIME-BOUNDED streaming exact dedup via
    ``dropDuplicatesWithinWatermark`` — the production variant
    :func:`dedup_exact_stream`'s docstring promises: state holds one
    fingerprint per distinct document seen within the watermark
    HORIZON and is evicted once the watermark passes first-seen +
    ``delay``, so memory is bounded by arrival rate × delay, not by
    corpus cardinality — the only viable shape for an unbounded crawl
    stream.

    Eviction semantics (pinned by test): a duplicate arriving within
    ``delay`` of the kept occurrence is dropped; one arriving after the
    state evicted is RE-EMITTED — time-bounded dedup trades exactly-once
    per corpus for bounded state, the standard streaming compromise.
    The output projects to the fingerprint only (the watermark column
    must be present at dedup time but is dropped after), keeping the
    emitted SET independent of intra-batch row order.
    """
    return (
        docs_stream.withWatermark(ts_col, delay)
        .select(
            F.md5(normalized(F.col(text_col))).alias("fingerprint"),
            F.col(ts_col),
        )
        .dropDuplicatesWithinWatermark(["fingerprint"])
        .select("fingerprint")
    )


def shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    drop_empty: bool = False,
) -> DataFrame:
    """(id, distinct word-n-gram array) per document.

    Tokens are bound to a column before the n-gram transform — an
    expression embedded in a higher-order-function lambda re-evaluates
    per array element, so inlining the tokenizer would re-split the
    text once per n-gram position.

    ``drop_empty`` removes docs that produce no shingles using the
    EQUIVALENT cheap predicate ``size(tokens) >= n`` (shingles are
    nonempty iff the doc has ≥ n tokens). Filtering on
    ``size(shingles) > 0`` downstream instead would let predicate
    pushdown sink the filter below any repartition Exchange with the
    whole tokenize+shingle tree inlined — serializing the entire
    shingling cost into the (often single-split) scan stage.
    """
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    if drop_empty:
        toked = toked.filter(F.size("__toks") >= n)
    return toked.select(
        F.col(id_col),
        F.array_distinct(ngrams(F.col("__toks"), n)).alias("shingles"),
    )


def minhash_signatures(
    shingled: DataFrame, num_hashes: int = DEFAULT_NUM_HASHES
) -> DataFrame:
    """MinHash signature per doc: for each seed, min portable hash over
    the shingle set. Pure array expressions — per-row, no shuffle, no UDF."""
    def _seed_hash(seed: int):
        # single-parameter lambda: a two-parameter one (e.g. ``lambda s,
        # i=i``) would be treated by F.transform as (element, index) and
        # the array index would silently override the seed
        return lambda s: portable_hash64(s, seed)

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("shingles"), _seed_hash(i)))
            for i in range(num_hashes)
        ]
    )
    return shingled.withColumn("signature", sig)


def _band_buckets(
    signatures: DataFrame, id_col: str, num_bands: int = DEFAULT_BANDS
) -> DataFrame:
    """(id, band_idx, band_key) bucket rows — one per signature band.
    Shared by the self-join (lsh_candidate_pairs) and the delta×corpus
    join (minhash_cross_corpus)."""
    num_hashes = DEFAULT_NUM_HASHES
    rows = num_hashes // num_bands
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(
                    "_", *[F.element_at("signature", b * rows + r + 1) for r in range(rows)]
                ).alias("band_key"),
            )
            for b in range(num_bands)
        ]
    )
    return signatures.select(F.col(id_col), F.explode(bands).alias("band")).select(
        id_col, "band.band_idx", "band.band_key"
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """LSH banding: split each signature into bands, bucket by band
    hash, emit distinct candidate pairs (a < b) sharing ≥1 bucket.

    The self-join is on (band_idx, band_key) — co-partitioned on both
    sides, bucket sizes are small by construction, and the distinct
    collapses multi-band matches.
    """
    buckets = _band_buckets(signatures, id_col, num_bands)
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def jaccard_pairs(
    candidates: DataFrame, shingled: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard for candidate pairs from their distinct shingle sets.

    |A∩B| via array_intersect on the two (already distinct) arrays;
    |A∪B| = |A|+|B|−|A∩B|. Joins bring only the shingle arrays of the
    candidate rows — never a full cross join.
    """
    return _jaccard(candidates, shingled, shingled, "doc_a", "doc_b", id_col)


def _jaccard(cand, sh_a, sh_b, a: str, b: str, id_col: str) -> DataFrame:
    """``(a, b, jaccard)`` for the ``(a, b)`` candidate pairs, the
    ``a`` ids' shingle sets read from ``sh_a`` and the ``b`` ids' from
    ``sh_b``."""
    sa = sh_a.select(F.col(id_col).alias(a), F.col("shingles").alias("sh_a"))
    sb = sh_b.select(F.col(id_col).alias(b), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jaccard = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return cand.join(sa, a).join(sb, b).select(a, b, jaccard.alias("jaccard"))


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: shingle → sign → band →
    bucket-join → exact-Jaccard verify ≥ threshold."""
    # docs with < n tokens have no shingles and can never pass a
    # positive threshold — dropped inside shingle_sets via the cheap
    # token-count predicate (see its docstring for why NOT a filter on
    # size(shingles): pushdown would serialize shingling into the scan)
    #
    # shingled feeds both the signature pass and the verify join, and
    # sigs feeds both sides of the bucket self-join; without persist
    # Spark re-derives the whole tokenize→shingle→hash subtree once per
    # consumer. Both frames are O(corpus) with small rows (id + shingle
    # array / 16 longs) — MEMORY_AND_DISK spills safely at scale — and
    # are released with the result.
    shingled = shingle_sets(df, id_col, text_col, drop_empty=True).persist()
    sigs = minhash_signatures(shingled).select(id_col, "signature").persist()
    cands = lsh_candidate_pairs(sigs, id_col)
    pairs = jaccard_pairs(cands, shingled, id_col).filter(F.col("jaccard") >= threshold)
    return unpersist_when_released(pairs, shingled, sigs)


def minhash_cross_corpus(
    delta: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dups of an incoming DELTA batch against the standing
    corpus — the incremental-ingest twin of minhash_near_duplicates.
    Emits ``(delta_id, corpus_id, jaccard ≥ threshold)``.

    The band join runs delta-buckets × corpus-buckets ONLY: no
    delta-delta or corpus-corpus pair is ever a candidate, so per
    ingest the work is |delta|·bands probe rows against the corpus
    bucket table instead of re-pairing the whole corpus (the self-join
    re-run would be quadratic in corpus growth across ingests). Same
    shingle→signature→band→verify machinery and constants as the
    self-join path, so a pair flags here iff it would flag there. The
    two shingle caches are released with the result."""
    sh_d = shingle_sets(delta, id_col, text_col, drop_empty=True).persist()
    sh_c = shingle_sets(corpus, id_col, text_col, drop_empty=True).persist()
    bd = _band_buckets(minhash_signatures(sh_d).select(id_col, "signature"), id_col)
    bc = _band_buckets(minhash_signatures(sh_c).select(id_col, "signature"), id_col)
    cand = (
        bd.alias("a")
        .join(
            bc.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .select(
            F.col(f"a.{id_col}").alias("delta_id"),
            F.col(f"b.{id_col}").alias("corpus_id"),
        )
        .distinct()
    )
    pairs = _jaccard(cand, sh_d, sh_c, "delta_id", "corpus_id", id_col)
    return unpersist_when_released(
        pairs.filter(F.col("jaccard") >= threshold), sh_d, sh_c
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.4,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard dedup, relationally: explode distinct
    shingles, self-join on shingle (the block key), count shared
    shingles per pair, derive Jaccard. No minhash approximation — the
    candidate set is every pair sharing ≥1 shingle, which is exactly the
    set that can pass any threshold > 0.

    ``max_df`` bounds the self-join skew: a shingle present in k docs
    contributes k² candidate pairs, so one ubiquitous n-gram produces a
    quadratic blow-up at corpus scale. Shingles with document frequency
    above the cap carry no near-dup signal and are dropped from BOTH
    candidate generation and the Jaccard sets — the semantics become
    "Jaccard over discriminative shingles" (exact and unchanged for any
    pair none of whose shingles exceeds the cap). None = no cap (the
    small-corpus verify mode)."""
    # explode_outer + isNotNull, NOT plain explode: a non-outer Generate
    # makes Catalyst infer `size(shingles) > 0` and push it to the scan
    # with the whole tokenize+shingle tree inlined — serializing all
    # shingling into the (often single-split) scan task. The outer form
    # infers nothing; the post-filter can't sink below the Generate.
    exploded = (
        shingle_sets(df, id_col, text_col, n)
        .select(
            F.col(id_col),
            F.size("shingles").alias("n_sh"),
            F.explode_outer("shingles").alias("sh"),
        )
        .filter(F.col("sh").isNotNull())
        .persist()  # consumed by both sides of the shingle self-join
    )
    if max_df is not None:
        keep = (
            exploded.groupBy("sh")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("sh")
        )
        filtered = exploded.select(id_col, "sh").join(keep, "sh")
        sizes = filtered.groupBy(id_col).agg(F.count("*").alias("n_sh"))
        exploded = filtered.join(sizes, id_col).persist()
    pair_counts = _shingle_pair_counts(exploded, id_col)
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return pair_counts.select(
        "doc_a", "doc_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _shingle_pair_counts(exploded: DataFrame, id_col: str) -> DataFrame:
    """Shared tail of the exact shingle-overlap family: self-join the
    exploded (id, n_sh, sh) frame on the shingle block key →
    (doc_a, doc_b, n_a, n_b, n_inter) per pair sharing ≥1 shingle."""
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT (Broder '97): c(contained →
    container) = |A∩B| / |A| — the inclusion detector symmetric Jaccard
    is BLIND to: a 100-word document pasted verbatim inside a
    10k-word document scores Jaccard ≈ 0.01 but containment 1.0.
    Exactly the quote/syndication/boilerplate-wrapper case a training
    corpus needs flagged separately from near-identical pairs (the
    contained doc adds no new tokens; the container may still be
    mostly novel and worth keeping).

    Emits DIRECTED rows ``(doc_contained, doc_container, containment)``
    — one per direction that clears the threshold, so mutual
    containment (≈ exact dup) yields two rows. Same relational shape,
    skew cap, and max_df semantics as :func:`ngram_jaccard_pairs`
    (containment over discriminative shingles when capped); the ratio
    is one exact-integer divide, so the table hash-gates.
    """
    exploded = (
        shingle_sets(df, id_col, text_col, n)
        .select(
            F.col(id_col),
            F.size("shingles").alias("n_sh"),
            F.explode_outer("shingles").alias("sh"),
        )
        .filter(F.col("sh").isNotNull())
        .persist()
    )
    if max_df is not None:
        keep = (
            exploded.groupBy("sh")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("sh")
        )
        filtered = exploded.select(id_col, "sh").join(keep, "sh")
        sizes = filtered.groupBy(id_col).agg(F.count("*").alias("n_sh"))
        exploded = filtered.join(sizes, id_col).persist()
    pc = _shingle_pair_counts(exploded, id_col)
    fwd = pc.select(
        F.col("doc_a").alias("doc_contained"),
        F.col("doc_b").alias("doc_container"),
        (F.col("n_inter") / F.col("n_a")).alias("containment"),
    )
    rev = pc.select(
        F.col("doc_b").alias("doc_contained"),
        F.col("doc_a").alias("doc_container"),
        (F.col("n_inter") / F.col("n_b")).alias("containment"),
    )
    return fwd.unionAll(rev).filter(F.col("containment") >= threshold)


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per doc from portable token hashes.

    Shape: explode tokens → hash each token ONCE → groupBy(doc) with 64
    integer bit-vote sums. The md5 runs exactly one pass over the token
    stream (an inline per-bit formulation would re-evaluate it per bit),
    and the aggregation gets map-side partial combine — one small
    shuffle of 64 ints per doc regardless of document size. Docs with
    zero tokens have no votes and are dropped (same semantics as the
    oracle's unnest).
    """
    # explode_outer + isNotNull (not plain explode): see
    # ngram_jaccard_pairs — the inferred non-outer Generate filter would
    # re-tokenize every row inside the scan task
    tok_hashes = (
        df.select(F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("__t"))
        .filter(F.col("__t").isNotNull())
        .select(id_col, portable_hash64(F.col("__t"), 0).alias("__hv"))
    )
    # vote_b = Σ_tokens (2*bit_b(h) - 1): positive → simhash bit b is 1.
    # Each per-bit expression is ONE parsed SQL string — composing the
    # 64 vote sums + 64 reconstruction terms from Column operators cost
    # ~2 s of py4j round-trips per plan build (the dot_fixed lesson,
    # functions/vectors.py), with an identical parsed tree.
    votes = tok_hashes.groupBy(id_col).agg(
        *[
            F.expr(f"sum((shiftright(`__hv`, {b}) & 1) * 2 - 1)").alias(f"v{b}")
            for b in range(bits)
        ]
    )
    bit_cols = []
    for chunk_start in range(0, bits, 16):
        terms = " + ".join(
            f"CAST(`v{b}` > 0 AS BIGINT) * {2 ** (b - chunk_start)}"
            for b in range(chunk_start, min(chunk_start + 16, bits))
        )
        bit_cols.append(F.expr(f"lpad(hex({terms}), 4, '0')"))
    # 60-bit portable hashes: bits 60..63 are always 0-voted (vote = -n_tokens → bit 0)
    return votes.select(
        F.col(id_col), F.concat(*reversed(bit_cols)).alias("simhash")
    )


def embedding_near_duplicates(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.98,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ threshold (verify primitive).

    Exact all-pairs via a non-equi self-join — O(n²) pairs, fine for
    small-corpus verification only. The production paths are
    :func:`embedding_near_duplicates_blas` (exact, grid-blocked tiles)
    and :func:`embedding_near_duplicates_lsh` (bucketed, the 100 TB
    default). Norms are computed once per vector per side; the per-pair
    work is one unrolled codegen dot.
    """
    from sfcrimedatapipeline_spark.functions.vectors import cosine_fixed, norm_fixed

    a = emb.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        norm_fixed(vec_col, dim).alias("na"),
    )
    b = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        norm_fixed(vec_col, dim).alias("nb"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    sim = cosine_fixed("va", "vb", dim, "na", "nb")
    return pairs.select(
        "id_a", "id_b", F.round(sim, 6).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


def _seq_sq_norm(m):
    """Vector norms via dim-sequential accumulation (bit-parity with the
    unrolled left-to-right JVM/DuckDB sum — numpy's fused sum uses
    pairwise reduction and would drift in the last bits)."""
    import numpy as np

    acc = m[:, 0] * m[:, 0]
    for d in range(1, m.shape[1]):
        acc = acc + m[:, d] * m[:, d]
    return np.sqrt(acc)


def _tile_cosine(a_mat, b_mat, na, nb, dim: int):
    """Dense cosine tile, accumulated one dimension at a time (exact
    left-to-right sum order, see :func:`_seq_sq_norm`)."""
    import numpy as np

    acc = np.multiply.outer(a_mat[:, 0], b_mat[:, 0])
    for d in range(1, dim):
        acc = acc + np.multiply.outer(a_mat[:, d], b_mat[:, d])
    return acc / np.multiply.outer(na, nb)


def _ids_mat(pdf, id_col: str, vec_col: str):
    import numpy as np

    ids = pdf[id_col].to_numpy(dtype=np.int64)
    mat = np.array(
        [np.asarray(v, dtype=np.float32) for v in pdf[vec_col]], dtype=np.float32
    ).astype(np.float64)  # float32→float64 widening is exact
    return ids, mat


def _keep_rounded(ids_a, ids_b, cos, cand, threshold: float):
    """Round near-threshold candidates exactly like Spark's ``round`` /
    DuckDB's ``round`` (shortest-repr Decimal, HALF_UP) and keep pairs
    ≥ threshold, ids oriented (min, max)."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pandas as pd

    quantum = Decimal(1).scaleb(-6)
    ai, bi = np.nonzero(cand)
    out_a, out_b, out_c = [], [], []
    for i, j in zip(ai, bi):
        rounded = float(
            Decimal(repr(float(cos[i, j]))).quantize(quantum, rounding=ROUND_HALF_UP)
        )
        if rounded >= threshold:
            x, y = int(ids_a[i]), int(ids_b[j])
            out_a.append(min(x, y))
            out_b.append(max(x, y))
            out_c.append(rounded)
    return pd.DataFrame({"id_a": out_a, "id_b": out_b, "cosine": out_c})


def _tagged(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """``(__id long, __v)`` rows, the input shape of :func:`_tile_pairs`."""
    return emb.select(
        F.col(id_col).cast("long").alias("__id"), F.col(vec_col).alias("__v")
    )


def _hyperplane_bands(
    rows: DataFrame, dim: int, n_bands: int, planes_per_band: int
) -> DataFrame:
    """One ``(__id, __v, band_idx, bucket)`` row per band: band ``b``'s
    bucket is the sign pattern of the deterministic md5 hyperplanes
    ``b·planes_per_band … (b+1)·planes_per_band − 1``
    (:func:`similarity._hyperplane`), the planes the oracle regenerates."""
    planes = [_hyperplane(dim, p) for p in range(n_bands * planes_per_band)]
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                lsh_bucket(
                    F.col("__v"),
                    planes[b * planes_per_band : (b + 1) * planes_per_band],
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    return rows.select("__id", "__v", F.explode(bands).alias("band")).select(
        "__id", "__v", "band.band_idx", "band.bucket"
    )


def _tile_pairs(
    a: DataFrame,
    keys: tuple[str, ...],
    threshold: float,
    dim: int,
    *,
    grid: int = 1,
    max_rows: int | None = None,
    b: DataFrame | None = None,
    multi_bucket: bool = False,
) -> DataFrame:
    """Exact ``(id_a, id_b, cosine)`` pairs, ``id_a < id_b`` and cosine
    ≥ ``threshold``, among rows that share every column of ``keys`` —
    the one verifier behind every embedding near-duplicate operator.

    Rows are ``(__id long, __v, *keys)``; other columns are ignored.
    ``b=None`` pairs the rows of ``a`` with each other; otherwise only
    an ``a`` row with a ``b`` row.

    Sub-block split: a key group of ``s`` sub-blocks puts row ``id`` in
    block ``id % s``, and each block pair — (gi ≤ gj) for self pairs,
    (a-block, b-block) for cross pairs — is one ``applyInPandas`` group,
    so a task holds two blocks whatever the skew (AQE cannot split a
    group) and every pair inside a key group is scored exactly once.
    ``s`` is the constant ``grid``, or ``ceil(count / max_rows)`` per
    key group when ``max_rows`` is given: a broadcast count over the
    persisted input, so the vectors still shuffle once. That cache is
    released with the result (:func:`unpersist_when_released`).

    Scores are bit-identical to the Catalyst expression form: exact
    float32→float64 widening, dim-sequential accumulation and HALF_UP
    rounding to 6 dp (the helpers above). ``multi_bucket`` says a pair
    can share more than one key group, as with several LSH bands; one
    ``distinct`` over the small pair output then removes the repeats.
    """
    import pandas as pd

    cross = b is not None
    rows = a
    if cross:
        rows = a.withColumn("__side", F.lit(0)).unionByName(
            b.withColumn("__side", F.lit(1))
        )
    cached = []
    s = F.lit(grid)
    if max_rows is not None:
        rows = rows.persist()
        cached.append(rows)
        # one row per key group: tiny next to the vectors
        counts = rows.groupBy(*keys).agg(
            F.ceil(F.count("*") / max_rows).cast("int").alias("__s")
        )
        rows = rows.join(F.broadcast(counts), list(keys))
        s = F.col("__s")
    g, j = F.col("__g"), F.col("__j")
    rows = rows.withColumn("__g", (F.col("__id") % s).cast("int")).withColumn(
        "__j", F.explode(F.sequence(F.lit(0), s - 1))
    )
    if not cross:
        gi, gj, side = F.least(g, j), F.greatest(g, j), (g > j).cast("int")
    else:
        on_a = F.col("__side") == 0
        gi, gj = F.when(on_a, g).otherwise(j), F.when(on_a, j).otherwise(g)
        side = F.col("__side")
    blocked = rows.select(
        "__id", "__v", *keys, gi.alias("gi"), gj.alias("gj"), side.alias("side")
    )

    def score(key, pdf):
        if not cross and key[-2] == key[-1]:
            ids, mat = _ids_mat(pdf, "__id", "__v")
            norms = _seq_sq_norm(mat)
            cos = _tile_cosine(mat, mat, norms, norms, dim)
            cand = (cos >= threshold - 1e-6) & (ids[:, None] < ids[None, :])
            return _keep_rounded(ids, ids, cos, cand, threshold)
        pa, pb = pdf[pdf["side"] == 0], pdf[pdf["side"] == 1]
        if not len(pa) or not len(pb):
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        ids_a, mat_a = _ids_mat(pa, "__id", "__v")
        ids_b, mat_b = _ids_mat(pb, "__id", "__v")
        cos = _tile_cosine(mat_a, mat_b, _seq_sq_norm(mat_a), _seq_sq_norm(mat_b), dim)
        return _keep_rounded(ids_a, ids_b, cos, cos >= threshold - 1e-6, threshold)

    pairs = blocked.groupBy(*keys, "gi", "gj").applyInPandas(
        score, "id_a long, id_b long, cosine double"
    )
    return unpersist_when_released(pairs.distinct() if multi_bucket else pairs, *cached)


def embedding_near_duplicates_blas(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.98,
    dim: int = 64,
    grid: int = 8,
) -> DataFrame:
    """Same pairs as :func:`embedding_near_duplicates`, computed as
    dense numpy tiles — exact all-pairs with no driver collect and no
    row-at-a-time O(n²) join.

    The whole corpus is one key group of ``grid`` sub-blocks
    (:func:`_tile_pairs`): ``grid·(grid+1)/2`` tiles, each row shuffled
    ``grid`` times, each task holding 2/grid of the corpus.
    """
    return _tile_pairs(_tagged(emb, id_col, vec_col), (), threshold, dim, grid=grid)


def auto_lsh_config(
    n_vectors: int,
    threshold: float = 0.98,
    recall_target: float = 0.95,
    target_bucket_rows: int = 512,
    max_bands: int = 32,
) -> tuple[int, int]:
    """Size hyperplane-LSH for a corpus: returns ``(n_bands,
    planes_per_band)`` such that (a) expected bucket occupancy stays
    ~``target_bucket_rows`` — planes = ceil(log2(n / target)) — and
    (b) the banded recall for pairs AT the cosine threshold meets
    ``recall_target``: per-plane collision c = 1 − acos(θ)/π, per-band
    cᵖ, recall = 1 − (1−cᵖ)ᵇ ⇒ b = ceil(ln(1−R)/ln(1−cᵖ)).

    Constant occupancy keeps within-bucket verify work linear in n (a
    fixed 2^planes bucket count makes it n²/B); the cost moves into
    bands, each a linear scan: total bucket rows = b·n, total verify
    tiles ≈ b·n·target. Deterministic given (n, θ, R, target).

    ``planes`` is integer-exact: the smallest p ≥ 1 with
    2^p ≥ ceil(n / target), so no libm ``log2``/``ceil`` last-ulp can
    disagree with the DuckDB oracle's replication at a power-of-two
    boundary. ``bands`` is a function of the integer ``planes`` only,
    so the oracle inlines a planes→bands table computed by
    :func:`bands_for_planes`.

    When the recall-target band count exceeds ``max_bands`` the clamp
    binds and the config misses ``recall_target``; a ``UserWarning``
    then states the achieved recall. (At θ ≤ ~0.5 the per-plane
    collision rate is near a coin flip and the clamp is expected; at
    dedup-grade θ ≥ 0.95 it stays unclamped to millions of vectors.)
    """
    m = max(1, -(-n_vectors // target_bucket_rows))  # ceil-div, exact
    planes = max(1, (m - 1).bit_length())  # smallest p with 2^p >= m
    bands = bands_for_planes(planes, threshold, recall_target, max_bands)
    return bands, planes


def bands_for_planes(
    planes: int,
    threshold: float = 0.98,
    recall_target: float = 0.95,
    max_bands: int = 32,
) -> int:
    """Band count meeting ``recall_target`` for pairs AT the cosine
    threshold, given a band width: per-plane collision
    c = 1 − acos(θ)/π, per-band cᵖ, recall = 1 − (1−cᵖ)ᵇ ⇒
    b = ceil(ln(1−R)/ln(1−cᵖ)), clamped to ``max_bands`` with a
    UserWarning stating the achieved recall when the clamp binds."""
    import math
    import warnings

    c = 1.0 - math.acos(min(1.0, max(-1.0, threshold))) / math.pi
    band_hit = c**planes
    if band_hit >= 1.0:
        return 1
    bands = max(1, math.ceil(math.log(1.0 - recall_target) / math.log(1.0 - band_hit)))
    if bands > max_bands:
        achieved = 1.0 - (1.0 - band_hit) ** max_bands
        warnings.warn(
            f"auto_lsh_config: recall target {recall_target} at threshold "
            f"{threshold} needs {bands} bands but max_bands={max_bands} "
            f"binds; achieved recall ≈ {achieved:.3f}",
            UserWarning,
            stacklevel=2,
        )
        return max_bands
    return bands


def embedding_near_duplicates_lsh_auto(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.98,
    dim: int = 64,
    recall_target: float = 0.95,
    target_bucket_rows: int = 512,
) -> DataFrame:
    """:func:`embedding_near_duplicates_lsh` with the config derived
    from the corpus size by :func:`auto_lsh_config` — the default
    embedding near-dup entry point. One count() action sizes the
    tables, then the fixed-config operator runs unchanged.

    The oracle computes the same config from ``count(*)``: planes via
    an exact-integer ladder (smallest p with 2^p ≥ ceil(n/target)),
    bands via a planes→bands table computed by :func:`bands_for_planes`,
    and the md5 hyperplanes (:func:`similarity._hyperplane`, hex-parse
    exact in DuckDB) — plans/llmops.py:_emb_lsh_auto_sql."""
    n = emb.count()  # bounded: one scalar
    bands, planes = auto_lsh_config(
        n,
        threshold=threshold,
        recall_target=recall_target,
        target_bucket_rows=target_bucket_rows,
    )
    return embedding_near_duplicates_lsh(
        emb,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        dim=dim,
        n_bands=bands,
        planes_per_band=planes,
        # the config above is sized to this n: no second count
        max_corpus_rows=None,
    )


def embedding_near_duplicates_lsh(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.98,
    dim: int = 64,
    n_bands: int = 2,
    planes_per_band: int = 3,
    max_bucket_rows: int = 4096,
    max_corpus_rows: int | None = 100_000,
) -> DataFrame:
    """Banded hyperplane-LSH near-dup pairs with a caller-fixed config:
    ``n_bands`` bucket tables of ``planes_per_band`` sign bits each
    (:func:`_hyperplane_bands`); a pair is a candidate if it shares a
    bucket in any band (recall 1−(1−cᵖ)ᵇ, per-plane collision
    c = 1 − acos(θ)/π) and every candidate is scored exactly by
    :func:`_tile_pairs`. A bucket above ``max_bucket_rows`` rows is
    split into sub-blocks, so no task holds more than ~2·max_bucket_rows.

    The constant 2^planes bucket count makes within-bucket verify work
    n²/B, so this is the small-corpus option;
    :func:`embedding_near_duplicates_lsh_auto` holds occupancy constant
    as n grows. The operator counts its input and raises ``ValueError``
    above ``max_corpus_rows``; ``None`` skips the count.
    """
    if max_corpus_rows is not None:
        n = emb.count()
        if n > max_corpus_rows:
            raise ValueError(
                f"embedding_near_duplicates_lsh: fixed-config LSH is the "
                f"small-corpus option (within-bucket verify is n²/B with "
                f"a constant bucket count) — corpus has {n} rows > "
                f"max_corpus_rows={max_corpus_rows}. Use "
                f"embedding_near_duplicates_lsh_auto, which sizes the "
                f"bucket table to hold occupancy constant, or pass "
                f"max_corpus_rows=None if this n is intended."
            )
    rows = _hyperplane_bands(_tagged(emb, id_col, vec_col), dim, n_bands, planes_per_band)
    return _tile_pairs(
        rows,
        ("band_idx", "bucket"),
        threshold,
        dim,
        max_rows=max_bucket_rows,
        multi_bucket=n_bands > 1,
    )


def embedding_contamination_lsh(
    eval_emb: DataFrame,
    train_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    recall_target: float = 0.95,
    target_bucket_rows: int = 512,
    max_bucket_rows: int = 4096,
) -> DataFrame:
    """Semantic train/eval contamination: ``(id_a, id_b, cosine)``
    pairs of one train and one eval vector with cosine ≥ threshold — an
    eval item with a paraphrase-grade near-duplicate in the training
    corpus, which the lexical detectors (winnow containment, exact
    n-grams in operators/corpus.py) miss.

    Both sides land in one banded hyperplane bucket table sized by
    :func:`auto_lsh_config` on the combined cardinality, but only
    train × eval pairs inside a bucket are scored (:func:`_tile_pairs`
    with ``b``): verify work is Σ_buckets |eval∩b|·|train∩b|, linear in
    train for a fixed eval set, and never a corpus×corpus pass.

    Band collision is pairwise, so the cross pair set equals the
    self-join pair set of the union restricted to cross pairs — how the
    auto-LSH oracle (plans/llmops.py:_emb_lsh_auto_sql) replays it.
    """
    n = train_emb.count() + eval_emb.count()  # bounded: two scalars
    n_bands, planes_per_band = auto_lsh_config(
        n,
        threshold=threshold,
        recall_target=recall_target,
        target_bucket_rows=target_bucket_rows,
    )

    def bands(df: DataFrame) -> DataFrame:
        return _hyperplane_bands(_tagged(df, id_col, vec_col), dim, n_bands, planes_per_band)

    return _tile_pairs(
        bands(train_emb),
        ("band_idx", "bucket"),
        threshold,
        dim,
        max_rows=max_bucket_rows,
        b=bands(eval_emb),
        multi_bucket=n_bands > 1,
    )


def fuzzy_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = (),
    max_dist: int = 8,
    band_width: int = 16,
    prefix_len: int = 64,
    unicode_mode: bool = False,
) -> DataFrame:
    """Edit-distance fuzzy-duplicate pairs — the typo-tolerant member
    of the dedup family (exact < fuzzy < MinHash < SimHash < embedding).

    Candidate generation is length-band BLOCKING: each doc lands in
    bands ``len//W`` and ``len//W + 1`` of its block columns, and pairs
    join on the band — any two docs within ``W`` length of each other
    share a band, and docs further apart than ``max_dist`` in length
    can't be within ``max_dist`` anyway (each unmatched character costs
    one edit), so with ``W > max_dist`` blocking loses nothing. The
    verify step is JVM ``levenshtein`` over the first ``prefix_len``
    characters: the DP is O(prefix²) per pair instead of O(len²).

    Two text modes:

    - ``unicode_mode=False`` (oracle-gated default): non-ASCII is
      stripped (``[^ -~]``) before banding/verify, forced because
      engines disagree on non-ASCII edit distance — DuckDB counts BYTE
      edits, Spark counts CHARACTER edits (verified: 'héllo' vs
      'hello' = 2 vs 1), so a shared oracle requires the common ASCII
      subset.
    - ``unicode_mode=True`` (multilingual path, pytest-gated): the text
      is used as-is and Spark's codepoint-level ``levenshtein`` —
      still one JVM expression, no Python — gives the semantics a
      multilingual corpus needs ('héllo'→'hello' = 1 edit, one CJK
      swap = 1 edit). Caveat: Unicode canonical equivalence is NOT
      applied (é precomposed vs e+combining-accent counts as 2 edits);
      normalize to NFC upstream if sources mix forms.

    Scale shape: explode ×2 on bands, equi-join on (blocks, band),
    DISTINCT pair dedup, then the bounded-cost verify — never an
    all-pairs product; AQE splits any hot band.
    """
    if unicode_mode:
        ascii_text = F.col(text_col)
    else:
        ascii_text = F.regexp_replace(F.col(text_col), "[^ -~]", "")
    base = df.select(
        F.col(id_col).alias("__id"),
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
        F.substring(ascii_text, 1, prefix_len).alias("__prefix"),
        F.length(ascii_text).alias("__len"),
    )
    banded = base.select(
        "*",
        F.explode(
            F.array(
                (F.col("__len") / band_width).cast("long"),
                (F.col("__len") / band_width).cast("long") + 1,
            )
        ).alias("__band"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cond = [F.col(f"a.__b_{c}") == F.col(f"b.__b_{c}") for c in block_cols]
    cond.append(F.col("a.__band") == F.col("b.__band"))
    cond.append(F.col("a.__id") < F.col("b.__id"))
    pairs = (
        a.join(b, cond)
        .filter(F.abs(F.col("a.__len") - F.col("b.__len")) <= max_dist)
        .select(
            F.col("a.__id").alias("doc_a"),
            F.col("b.__id").alias("doc_b"),
            F.col("a.__prefix").alias("pa"),
            F.col("b.__prefix").alias("pb"),
        )
        .distinct()
    )
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            F.levenshtein("pa", "pb").cast("int").alias("prefix_dist"),
        )
        .filter(F.col("prefix_dist") <= max_dist)
    )


def dedup_against_corpus(
    delta: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-RUN dedup: keep only delta documents whose normalized-text
    fingerprint appears in NEITHER the existing corpus NOR earlier in
    the delta itself (min-id per delta group survives). This is the
    incremental-ingest companion to :func:`dedup_exact` — a daily crawl
    batch checked against the accumulated corpus without ever rereading
    corpus text.

    Scale shape: both sides reduce to 32-byte fingerprints before any
    join; the corpus side would be a pre-materialized fingerprint table
    in production (one column, so the scan prunes to it), and the
    anti-join hash-partitions on the fingerprint. Output:
    ``(doc_id, fingerprint)`` of the surviving delta docs.

    NULL-text delta rows are dropped explicitly: a NULL fingerprint
    never matches in the anti-join (Spark would keep it) but a SQL
    ``NOT IN`` oracle drops it — the contract is pinned to "no
    fingerprint → not a document", identical on both engines.
    """
    d = delta.select(
        F.col(id_col), F.md5(normalized(F.col(text_col))).alias("fingerprint")
    ).filter(F.col("fingerprint").isNotNull())
    c = corpus.select(F.md5(normalized(F.col(text_col))).alias("fingerprint"))
    survivors = (
        d.join(c, "fingerprint", "left_anti")
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col))
    )
    return survivors.select(id_col, "fingerprint")


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    threshold: float = 0.4,
    dim: int = 64,
    centroids: list[list[float]] | None = None,
    max_cluster_rows: int = 4096,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster the embedding space, search near-duplicates only within
    clusters, and keep the lowest id per connected near-dup group —
    semantic duplicates co-locate in embedding clusters, so the
    quadratic verify is bounded per cluster instead of corpus-wide.

    Determinism: coarse centroids default to the ``n_clusters``
    lowest-id vectors and assignment is squared-L2 struct-min (ties →
    lowest centroid id), the shared coarse quantizer
    (:func:`similarity._coarse_dist_structs`) of every IVF-family
    operator, so the whole composition is hash-gated. Trained
    squared-L2 centroids come from
    ``mltrain.pq_kmeans_det(emb, 1, n_clusters, iters)[0]``, which is
    deterministic too. Pairs are verified by :func:`_tile_pairs` with
    the cluster as key (a cluster above ``max_cluster_rows`` rows is
    split into sub-blocks); groups close transitively via
    :func:`corpus.connected_components` over the small pair set.

    Returns ``(id, cluster_id, canonical_id, kept)`` for every vector.
    """
    from sfcrimedatapipeline_spark.operators.corpus import connected_components

    if centroids is None:
        centroids = [
            [float(x) for x in r[1]]
            for r in emb.select(id_col, vec_col)
            .orderBy(id_col)
            .limit(n_clusters)
            .collect()
        ]
    # read by the verifier and the output join: _tile_pairs persists it
    assigned = emb.select(
        F.col(id_col),
        F.col(id_col).cast("long").alias("__id"),
        F.col(vec_col).alias("__v"),
        F.array_min(_coarse_dist_structs(vec_col, centroids))["cid"].alias("cluster_id"),
    )
    pairs = _tile_pairs(
        assigned, ("cluster_id",), threshold, dim, max_rows=max_cluster_rows
    )
    cc = connected_components(
        pairs.select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    )
    canonical = F.coalesce(F.col("canonical_id"), F.col(id_col))
    out = (
        assigned.select(id_col, "cluster_id")
        .join(cc, F.col(id_col) == F.col("doc_id"), "left")
        .select(
            id_col,
            "cluster_id",
            canonical.alias("canonical_id"),
            (F.col(id_col) == canonical).alias("kept"),
        )
    )
    return keep_alive_until_released(out, pairs)


def chunk_dedup_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 16,
) -> DataFrame:
    """Corpus-wide CHUNK-level dedup: substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better")
    approximated at fixed token-chunk granularity — the relational
    stand-in for their suffix-array ExactSubstr, which has no bounded
    distributed formulation.

    Each document is split into consecutive ``chunk_tokens``-token
    chunks; for every distinct chunk fingerprint the FIRST occurrence
    corpus-wide (min ``(doc_id, chunk_idx)`` — a total order) is kept
    and every later copy dropped; surviving chunks are reassembled in
    order into ``clean_text``. Unlike document-level dedup this removes
    boilerplate paragraphs repeated inside otherwise-unique documents.

    Emits one row per input document: ``(id, clean_text, n_chunks,
    n_dropped)`` — a fully-duplicated document survives with
    ``clean_text=''`` (curation decides whether to drop empties).

    Scale shape: chunking is per-row Catalyst array ops (no UDF, no
    explode of tokens — one row per CHUNK, not per token). Two
    shuffles: one hash-partition on the 32-hex fingerprint, one on doc
    id for reassembly. First-occurrence is ``groupBy(fingerprint).agg(
    min(struct(doc_id, chunk_idx, chunk_text)))`` — MAP-SIDE
    COMBINABLE, so the skew worst case (one boilerplate chunk repeated
    10^8 times) collapses to one partial-min row per input partition
    before the shuffle; no window, no join keyed on the fingerprint,
    no partition whose size tracks duplicate multiplicity. Dropped
    counts are derived arithmetically (``n_chunks − n_kept`` per doc)
    instead of marking each duplicate row.
    """
    chunked = _token_chunks(df, id_col, text_col, chunk_tokens)
    # first occurrence per fingerprint: min over (doc_id, chunk_idx,
    # chunk_text) — struct comparison is lexicographic and (doc_id,
    # chunk_idx) is a total order, so chunk_text rides along without
    # influencing the winner. Partial aggregation collapses duplicate
    # copies map-side; the shuffle carries one candidate per (input
    # partition, distinct fingerprint).
    firsts = (
        chunked.groupBy(F.md5(F.col("chunk_text")).alias("__fp"))
        .agg(
            F.min(
                F.struct(F.col(id_col), F.col("chunk_idx"), F.col("chunk_text"))
            ).alias("__first")
        )
        .select("__first.*")
    )
    return _reassemble_chunks(df, id_col, chunked, firsts)


def _token_chunks(
    df: DataFrame, id_col: str, text_col: str, chunk_tokens: int
) -> DataFrame:
    """Consecutive ``chunk_tokens``-token chunks of every document —
    per-row Catalyst array ops (no UDF, one output row per CHUNK, not
    per token). Emits ``(id, chunk_idx, chunk_text)``; empty texts
    produce no chunks."""
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    k = F.lit(chunk_tokens)
    idx = F.when(n_tok >= 1, F.sequence(F.lit(0), ((n_tok - 1) / k).cast("int"))).otherwise(
        F.array().cast("array<int>")
    )
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i * k + 1, chunk_tokens), " "))
        ).alias("chunk_idx", "chunk_text"),
    )


def _reassemble_chunks(
    df: DataFrame, id_col: str, chunked: DataFrame, kept: DataFrame
) -> DataFrame:
    """Rebuild ``(id, clean_text, n_chunks, n_dropped)`` from the full
    chunk set and its surviving subset: per-doc collect + array_sort on
    chunk_idx (bounded by document length), dropped counts derived
    arithmetically (``n_chunks − n_kept``), empty-text documents kept
    with 0 counts."""
    kept_per_doc = kept.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_kept"),
        F.array_sort(
            F.collect_list(F.struct("chunk_idx", "chunk_text"))
        ).alias("kept"),
    )
    totals = chunked.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_chunks")
    )
    per_doc = totals.join(kept_per_doc, id_col, "left").select(
        id_col,
        F.coalesce(
            F.array_join(F.transform("kept", lambda s: s["chunk_text"]), " "),
            F.lit(""),
        ).alias("clean_text"),
        "n_chunks",
        (F.col("n_chunks") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
            "n_dropped"
        ),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
        )
    )


def substring_dedup_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 8,
) -> DataFrame:
    """ANY-OFFSET exact substring dedup (Lee et al. 2022 §4.1,
    ExactSubstr): every ``window_tokens``-token
    window of every document is fingerprinted at EVERY offset; for each
    fingerprint the first occurrence corpus-wide (min ``(doc_id, s)``,
    a total order) is kept and every later occurrence drops the tokens
    it covers; survivors reassemble in order into ``clean_text``.

    This closes :func:`chunk_dedup_corpus`'s alignment gap: a
    duplicated passage straddling a fixed chunk boundary with a
    different offset in each document produces no equal chunks (so
    chunk dedup keeps both copies) but produces equal sliding windows
    at every alignment, so the later copy's tokens are covered and
    dropped here. A duplicated passage of L >= window_tokens tokens is
    removed IN FULL from every non-first occurrence (its L-k+1 windows
    jointly cover all L positions); passages shorter than the window
    are below the dedup resolution by definition, exactly as in the
    suffix-array formulation's minimum match length.

    Emits one row per input document: ``(id, clean_text, n_tokens,
    n_dropped)`` — a fully-duplicated later document survives with
    ``clean_text=''`` (curation decides whether to drop empties).

    Scale shape: one window row per TOKEN position (the honest linear
    cost of any-offset matching — the suffix array it replaces is also
    linear in corpus tokens). First-occurrence is a map-side-combinable
    ``groupBy(fp).agg(min(struct(doc, s)))``; the only fingerprint-keyed
    join tags each window row with its winner, whose output is bounded
    by the window rows themselves (linear), with AQE splitting the
    boilerplate-hot fingerprint partitions. Coverage explodes only the
    NON-FIRST duplicated windows (k rows each, bounded by k x duplicated
    tokens), then one distinct + one anti-join on (doc, position) and a
    per-doc bounded reassembly collect, as in :func:`chunk_dedup_corpus`.
    """
    k = window_tokens
    if k < 2:
        raise ValueError(f"substring_dedup_corpus needs window_tokens >= 2, got {k}")
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("__toks"))
    n = F.size("__toks")
    starts = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
        F.array().cast("array<int>")
    )
    wins = base.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                starts,
                lambda s: F.md5(F.array_join(F.slice("__toks", s + 1, k), " ")),
            )
        ).alias("s", "__fp"),
    )
    firsts = wins.groupBy("__fp").agg(
        F.min(
            F.struct(F.col(id_col).alias("d"), F.col("s").alias("fs"))
        ).alias("__first")
    )
    # ``firsts`` is CORPUS-sized by construction (one row per distinct
    # fingerprint — linear in corpus tokens), so it must NEVER be the
    # broadcast side regardless of what AQE's compressed-size estimate
    # says: at ~sf10 the 22.5M-row aggregate slipped under the 64 MB
    # threshold compressed, and every task then tried to deserialize a
    # 1 GiB UnsafeHashedRelation (SparkOutOfMemoryError, the r12 100×
    # probe). shuffle_hash keeps the join hash-partitioned with a
    # per-partition build — md5 keys are uniform, no skew — and the
    # same holds for ``covered`` (duplicated-token-cardinality) below.
    nonfirst = wins.join(firsts.hint("shuffle_hash"), "__fp").filter(
        (F.col(id_col) != F.col("__first.d")) | (F.col("s") != F.col("__first.fs"))
    )
    covered = nonfirst.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("s"), F.col("s") + F.lit(k - 1))).alias("p"),
    ).distinct()
    tokrows = base.select(F.col(id_col), F.posexplode("__toks").alias("p", "__tok"))
    kept = tokrows.join(covered.hint("shuffle_hash"), [id_col, "p"], "left_anti")
    per_doc = kept.groupBy(id_col).agg(
        F.count("*").cast("int").alias("__n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "__tok"))),
                lambda st: st["__tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    totals = base.select(F.col(id_col), n.cast("int").alias("n_tokens"))
    return totals.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("__n_kept"), F.lit(0)))
        .cast("int")
        .alias("n_dropped"),
    )


def substring_dup_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 8,
    min_occurrences: int = 3,
) -> DataFrame:
    """The TRIAGE VIEW over :func:`substring_dedup_corpus`'s window
    space: every ``window_tokens``-token passage occurring
    ``min_occurrences``+ times corpus-wide, with its occurrence count,
    distinct-document count, and first document — what a corpus owner
    reads to find boilerplate families and license blocks BEFORE
    choosing dedup pressure (the passage-level analogue of
    dedup_cluster_sizes).

    Emits ``(passage, n_occurrences, n_docs, first_doc_id)`` — output
    bounded by the threshold, not corpus size. Two-level map-side
    combinable aggregation: groupBy(fp, doc) collapses within-doc
    repeats before the per-fingerprint rollup, so a passage repeated
    10^6 times in one document crosses the second shuffle as one row.
    The passage text rides the aggregation as a min() payload (all
    rows of a fingerprint carry the same gram), never a join key.
    """
    k = window_tokens
    if k < 2:
        raise ValueError(
            f"substring_dup_passages needs window_tokens >= 2, got {k}"
        )
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("__toks"))
    n = F.size("__toks")
    starts = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
        F.array().cast("array<int>")
    )
    wins = base.select(
        F.col(id_col),
        F.explode(
            F.transform(
                starts, lambda s: F.array_join(F.slice("__toks", s + 1, k), " ")
            )
        ).alias("__gram"),
    )
    per_doc = wins.groupBy(F.md5("__gram").alias("__fp"), F.col(id_col)).agg(
        F.count("*").cast("long").alias("__c"),
        F.min("__gram").alias("__gram"),
    )
    return (
        per_doc.groupBy("__fp")
        .agg(
            F.min("__gram").alias("passage"),
            F.sum("__c").cast("long").alias("n_occurrences"),
            F.count("*").cast("long").alias("n_docs"),
            F.min(id_col).cast("long").alias("first_doc_id"),
        )
        .filter(F.col("n_occurrences") >= min_occurrences)
        .drop("__fp")
    )


def remove_boilerplate_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 16,
    min_docs: int = 3,
) -> DataFrame:
    """Corpus-frequency BOILERPLATE REMOVAL (the CCNet/RefinedWeb
    recipe applied at fixed token-chunk granularity): any chunk whose
    fingerprint appears in ``min_docs`` or more DISTINCT documents is
    boilerplate — headers, footers, license blocks, navigation text —
    and is dropped from EVERY document, including the first occurrence.
    The complement of :func:`chunk_dedup_corpus` (keep-first): dedup
    preserves one copy of repeated content, boilerplate removal
    preserves none, because content repeated across many independent
    documents is template, not signal.

    Emits one row per input document: ``(id, clean_text, n_chunks,
    n_dropped)``; a pure-template document survives with
    ``clean_text=''`` (curation decides whether to drop empties).

    Scale shape: chunking is per-row Catalyst array ops. Document
    frequency is ``distinct(fingerprint, doc)`` then
    ``groupBy(fingerprint).count`` — both MAP-SIDE COMBINABLE, so the
    worst-case chunk (one navbar repeated 10^8 times) collapses to one
    row per input partition before either shuffle. The frequent set is
    ≤ total_chunks / min_docs distinct fingerprints and in practice
    tiny (only chunks shared across documents), so removal is a
    BROADCAST LEFT ANTI join on the fingerprint: the corpus is never
    shuffled by the skewed chunk key and no window partition tracks
    duplicate multiplicity.
    """
    chunked = _token_chunks(df, id_col, text_col, chunk_tokens)
    fp = F.md5(F.col("chunk_text"))
    doc_freq = (
        chunked.select(fp.alias("__fp"), id_col)
        .distinct()
        .groupBy("__fp")
        .agg(F.count("*").alias("__nd"))
    )
    frequent = doc_freq.filter(F.col("__nd") >= min_docs).select("__fp")
    kept = chunked.withColumn("__fp", fp).join(
        F.broadcast(frequent), "__fp", "left_anti"
    )
    return _reassemble_chunks(df, id_col, chunked, kept)
