"""Corpus-curation operators for the training-data pipeline surface:
dup-graph connected components (label propagation + large-star/
small-star), deterministic sampling (stratified, reservoir-per-key,
hash splits, mixture-to-token-budget, contrastive negatives),
selection (top-k and top-fraction per group), tf-idf keywords,
sequence packing + shard manifests, chunking, contamination checks
(winnow containment + exact n-grams), epoch ordering, and the
composed curation/end-to-end pipelines.

All relational compositions (joins/windows/aggregations) — no UDFs
anywhere, so every hot path stays JVM-side; every sampling decision
is an md5-coin, so results are replayable under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


from sfcrimedatapipeline_spark.functions.caching import (
    fixpoint,
    loop_scope,
    truncate_lineage,
)


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iters: int = 50,
    checkpoint_dir: str | None = None,
    algorithm: str = "label_prop",
) -> DataFrame:
    """Connected components over an undirected pair graph → one
    ``(doc_id, canonical_id)`` row per node, canonical = min id in the
    component. The canonical use: collapse near-duplicate clusters
    (MinHash/SimHash pair output) to one representative document each —
    pairwise dedup alone keeps B and C when A~B and A~C but B≁C.

    Two algorithms, same output contract (parity-tested):

    - ``label_prop`` (default): each round every node takes the min of
      its own label and its neighbors'; converges in O(graph diameter)
      rounds. Near-dup clusters are dense and tiny in diameter, so this
      terminates in a handful of rounds at any corpus size, and each
      round is ONE join + ONE map-side-combined min.
    - ``two_phase``: alternating large-star/small-star contractions
      (Kiveris et al., "Connected Components in MapReduce and Beyond",
      SoCC'14), converging in O(log²) rounds INDEPENDENT of diameter —
      the adversarial-long-chain answer (a 10k-node path costs ~10k
      label-prop rounds but ~a dozen star rounds; test pins this).

    Scale shape (label_prop): the mirrored edge list gets a SELF-LOOP
    per node, so each round is a single ``edges ⋈ labels`` (labels
    keyed by dst) + ``groupBy(src).min`` — the self-loop carries the
    node's own label through the min, removing the old second "merge
    with own label" join entirely. Convergence is decided by the label
    SUM (an aggregate scalar, never a row collect): labels only ever
    decrease, so an unchanged sum ⟺ a fixed point; that one agg action
    also materializes the round's lazy checkpoint, so each round costs
    exactly one shuffle round-trip + one scalar. The sum is accumulated
    in DECIMAL(38) — a long sum would overflow once node-count ×
    id-magnitude passes 2^63 at corpus scale. ``checkpoint_dir``
    selects a RELIABLE checkpoint for lineage truncation (cluster
    setting); default is executor-local (functions/caching.py:fixpoint).
    """
    if algorithm == "two_phase":
        return _cc_two_phase(pairs, src_col, dst_col, max_iters, checkpoint_dir)
    if algorithm != "label_prop":
        raise ValueError(f"unknown algorithm: {algorithm!r}")
    with loop_scope(pairs.sparkSession) as size:
        fwd = pairs.select(
            F.col(src_col).cast("long").alias("src"), F.col(dst_col).cast("long").alias("dst")
        )
        # persist the MIRRORED list: everything upstream (often a whole
        # minhash dedup pipeline) must run exactly once — nodes and the
        # self-looped edge list both derive from this cache
        both = fwd.union(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).persist()
        size(both)
        nodes = both.select(F.col("src").alias("id")).distinct().persist()
        edges = (
            both.union(nodes.select(F.col("id").alias("src"), F.col("id").alias("dst")))
            .persist()
        )

        def _round(labels: DataFrame) -> DataFrame:
            return (
                edges.join(labels, edges.dst == labels.id)
                .groupBy("src")
                .agg(F.min("label").alias("label"))
                .withColumnRenamed("src", "id")
            )

        def _label_sum(_, labels: DataFrame):
            return labels.agg(
                F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
            ).first()["s"]

        labels, _ = fixpoint(
            nodes.withColumn("label", F.col("id")),
            _round,
            max_iters,
            _label_sum,
            checkpoint_dir,
        )
        both.unpersist()
        edges.unpersist()
        nodes.unpersist()
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("canonical_id")
    )


def _cc_two_phase(
    pairs: DataFrame,
    src_col: str,
    dst_col: str,
    max_iters: int,
    checkpoint_dir: str | None,
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., SoCC'14 §3): edges are repeatedly rewired toward each
    neighborhood's minimum until the graph is a union of stars rooted
    at component minima. Per round both operations are one
    ``groupBy(u).min`` + re-emit — the same shuffle cost as a
    label-prop round — but the round COUNT is O(log²) in component
    size, independent of diameter.

    large-star(u): every neighbor w > u rewires to m = min(N(u) ∪ {u})
    (each undirected edge is processed exactly once, from its smaller
    endpoint's group); small-star(u, edges held as hi→lo): every
    smaller neighbor, and u itself, rewires to m = min of the smaller
    neighborhood. Both preserve connectivity (paper, Lemmas 1-2) and
    both keep the hi>lo orientation invariant. Fixed point ⟺ the graph
    is a union of stars rooted at component minima.

    Convergence probe: :class:`_EdgeSet` — a cheap signature per
    round, confirmed by an exact anti-join on a match.
    """
    with loop_scope(pairs.sparkSession) as size:
        raw = pairs.select(
            F.col(src_col).cast("long").alias("a"),
            F.col(dst_col).cast("long").alias("b"),
        )
        # node universe from the UNFILTERED pairs: a node that appears only
        # in self-loop rows is its own singleton component and must still
        # get an output row — label_prop emits it, so the "same output
        # contract" parity demands this side does too
        all_nodes = (
            raw.select(F.col("a").alias("id"))
            .union(raw.select(F.col("b").alias("id")))
            .distinct()
        )
        fwd = raw.filter(F.col("a") != F.col("b")).persist()
        size(fwd)
        # canonical undirected representation: (hi, lo) with hi > lo
        edges = fwd.select(
            F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo")
        ).distinct()

        def _round(edges: DataFrame) -> DataFrame:
            # large-star: group the MIRRORED neighborhood of u (u on the
            # "hi" slot, each neighbor w on "lo"); every strictly-larger
            # neighbor points at the neighborhood min. Each undirected edge
            # enters exactly one group with lo > hi, so the union over
            # groups IS the full rewired edge set.
            nbrs = edges.select("hi", "lo").union(
                edges.select(F.col("lo").alias("hi"), F.col("hi").alias("lo"))
            )
            m = nbrs.groupBy("hi").agg(
                F.least(F.min("lo"), F.col("hi")).alias("m")
            )
            edges = (
                nbrs.join(m, "hi")
                .filter(F.col("lo") > F.col("hi"))
                .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
                .filter(F.col("hi") != F.col("lo"))
                .distinct()
            )
            # mid-round lineage cut: the small-star step consumes the
            # large-star output TWICE (the m2 aggregate and the rewire
            # join), so without materialization the whole large-star
            # subtree — two shuffles deep — recomputes per consumer. Lazy:
            # the round's probe materializes it.
            edges = truncate_lineage(edges, checkpoint_dir)

            # small-star: edges already point hi→lo; every smaller neighbor
            # (and u itself) points at the min smaller neighbor
            m2 = edges.groupBy("hi").agg(F.min("lo").alias("m"))
            rewired = (
                edges.join(m2, "hi")
                .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            )
            self_edge = m2.select(F.col("hi"), F.col("m").alias("lo"))
            return (
                rewired.union(self_edge)
                .filter(F.col("hi") != F.col("lo"))
                .distinct()
            )

        edges, _ = fixpoint(
            edges, _round, max_iters, lambda _, e: _EdgeSet(e), checkpoint_dir
        )

        # converged: stars rooted at component minima; isolated-from-pairs
        # nodes cannot occur (every input row is an edge), but nodes whose
        # component collapsed entirely onto the root need a self row
        parents = edges.select(F.col("hi").alias("doc_id"), F.col("lo").alias("canonical_id"))
        roots = all_nodes.join(
            parents, all_nodes.id == parents.doc_id, "left_anti"
        ).select(F.col("id").alias("doc_id"), F.col("id").alias("canonical_id"))
        out = parents.union(roots)
        fwd.unpersist(blocking=False)
    return out


class _EdgeSet:
    """``two_phase``'s round probe: the edge set's (n_edges, Σ hi, Σ lo)
    signature, one 3-scalar aggregate (never a row collect) that also
    materializes the round's lazy cut. Equality compares signatures and
    CONFIRMS a match with an exact anti-join count (same count + no new
    edge ⟺ identical sets), so a signature collision can never stop
    the loop early."""

    def __init__(self, edges: DataFrame):
        row = edges.agg(
            F.count("*").alias("n"),
            F.sum(F.col("hi").cast("decimal(38,0)")).alias("sh"),
            F.sum(F.col("lo").cast("decimal(38,0)")).alias("sl"),
        ).first()
        self.edges, self.sig = edges, (row["n"], row["sh"], row["sl"])

    def __eq__(self, other: _EdgeSet) -> bool:
        return (
            self.sig == other.sig
            and self.edges.join(other.edges, ["hi", "lo"], "left_anti").count() == 0
        )


def deterministic_uniform(key: Column) -> Column:
    """Uniform [0,1) from md5 of the key's string form — deterministic,
    engine-portable (DuckDB twin: hex-prefix arithmetic on md5), and
    independent of partitioning, unlike ``rand(seed)``."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long")
        / F.lit(4294967296.0)
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float,
    key_col: str,
) -> DataFrame:
    """Per-stratum Bernoulli sample with a DETERMINISTIC hash coin:
    row kept iff ``uniform(md5(key)) < rate(stratum)``. The standard
    corpus re-balancing op (e.g. downsample the dominant language);
    hash-keyed sampling keeps the decision stable across runs, engines,
    and repartitions — ``df.sample()`` is none of those.

    Pure per-row filter: no shuffle, fully pushed into the scan stage.
    """
    rate: Column = F.lit(default_rate)
    for k, v in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == k, F.lit(v)).otherwise(rate)
    return df.filter(deterministic_uniform(F.col(key_col)) < rate)


def sample_pps_systematic(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling, probability proportional to size, SYSTEMATIC
    — exactly ``k`` picks (Σ n_copies = k), every row's expected pick
    count = k·w/W, fully deterministic, one pass, ALL-INTEGER.

    The float classics (Efraimidis–Spirakis exponential keys) hinge on
    ``ln``/``pow`` whose low bits differ across libm implementations —
    useless for a cross-engine gate and irreproducible across
    clusters. Systematic PPS instead lays k midpoint grid points
    (2i+1)·W/(2k) over the weight line, orders rows by a hash
    permutation (md5 of the key — deterministic shuffle, kills
    periodicity), and picks every row whose cumulative-weight interval
    [b, b+w) contains a grid point; the count of contained points is
    odd_count(2k·(b+w)) − odd_count(2k·b) with
    odd_count(y) = ((y−1) div W + 1) div 2 — exact BIGINT arithmetic,
    identical in any engine.

    Scale shape: the inclusive prefix sum b+w is
    ``keys.running_total`` over the hash order (the two-phase prefix
    kernel) — no single-partition window; W is one scalar aggregate
    over the weighted rows, broadcast as a 1-row frame.
    Contract: weights must be positive integers (zero-weight rows are
    never picked and are dropped) and 2·k·W must fit in BIGINT
    (k·W < 4.6e18 — at a 10^14-token corpus that is k ≤ ~46,000;
    sample per stratum for more, which is what a mixture pipeline does
    anyway).
    """
    from sfcrimedatapipeline_spark.operators.keys import running_total

    w_int = F.col(weight_col).cast("long")
    base = (
        df.filter(w_int > 0)
        .withColumn("__ord", F.md5(F.col(key_col).cast("string")))
    )
    cols = [c for c in df.columns]
    total = base.agg(F.sum(w_int).cast("long").alias("__W"))
    g = running_total(base, ["__ord", key_col], w_int, "__run").crossJoin(
        F.broadcast(total)
    )
    run = F.col("__run")  # inclusive global prefix sum
    two_k = F.lit(2 * k).cast("long")
    # odd_count(y) via SQL DIV — exact integral division (a float
    # division here can land a hair under the integer and truncate one
    # low at 2^50+ magnitudes); operands are positive by construction
    oc = (
        "CASE WHEN {y} <= 0 THEN CAST(0 AS BIGINT) "
        "ELSE (({y} - 1) DIV __W + 1) DIV 2 END"
    )
    n_copies = F.expr(
        f"CAST({oc.format(y='__y2')} - {oc.format(y='__y1')} AS INT)"
    )
    return (
        g.withColumn("__y1", two_k * (run - w_int))
        .withColumn("__y2", two_k * run)
        .withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") > 0)
        .select(*cols, "n_copies")
    )


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k rows per group by a total order (callers must include a
    tie-break column — row_number over a partial order is
    nondeterministic). One shuffle on the group key; with k small the
    window's running state is O(1) per partition."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w).cast("int"))
        .filter(F.col(rank_col) <= k)
    )


def pack_sequences(
    docs: DataFrame,
    cap: int = 2048,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sequence packing: assign documents to training-context bins of
    ~``cap`` tokens — ``(shard, bin_id)`` identifies one packed sample.

    Semantics: first-fit-in-order chunking per shard — docs are taken
    in id order and a doc opens a new bin when the tokens BEFORE it
    fill the cap, so a bin may overflow by at most one document (the
    standard streaming-packing approximation; exact bin packing is
    NP-hard and inherently sequential). Packing is per-shard by
    design, not a global scan: real training pipelines pack
    worker-locally, and a global running sum would force a
    single-partition window over fact-cardinality data. One shuffle
    on the shard key; every shard packs independently.
    """
    from sfcrimedatapipeline_spark.functions.text import tokens

    shard = (F.col(id_col) % n_shards).cast("int")
    sized = docs.select(
        F.col(id_col),
        shard.alias("shard"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return sized.select(
        id_col,
        "shard",
        "n_tokens",
        F.floor(cum_before / F.lit(cap)).cast("long").alias("bin_id"),
    )


def pack_token_ids(
    docs: DataFrame,
    merges: list[tuple],
    cap: int = 2048,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The trainable-shard emitter: compose
    :func:`~sfcrimedatapipeline_spark.operators.textstats.bpe_tokenize`
    with :func:`pack_sequences`' first-fit bin assignment and emit, per
    ``(shard, bin_id)``, the CONCATENATED token-id array of its member
    documents in id order — ``input_ids`` is literally what a training
    data loader reads, closing the loop from raw text to packed sample.

    Bin semantics are identical to :func:`pack_sequences` (same window,
    same cap rule, BPE token counts instead of whitespace counts), so
    the two stay consistent when run side by side. The concatenation is
    a per-bin ``collect_list`` of (doc_id, ids) structs sorted in-array
    — bounded by the bin cap plus one overflow document, never a
    data-cardinality collect.
    """
    from sfcrimedatapipeline_spark.operators.textstats import bpe_tokenize

    ids = bpe_tokenize(docs, merges, text_col=text_col, id_col=id_col)
    sized = ids.select(
        F.col(id_col),
        (F.col(id_col) % n_shards).cast("int").alias("shard"),
        "token_ids",
        F.size("token_ids").cast("long").alias("n"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n").over(w), F.lit(0))
    binned = sized.select(
        "shard",
        F.floor(cum_before / F.lit(cap)).cast("long").alias("bin_id"),
        F.col(id_col),
        "token_ids",
        "n",
    )
    return binned.groupBy("shard", "bin_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("n_tokens"),
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col(id_col).alias("d"), "token_ids"))
                ),
                lambda s: s["token_ids"],
            )
        ).alias("input_ids"),
    )


def denoise_pack(
    corrupted: DataFrame,
    cap: int = 2048,
    n_shards: int = 32,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pack (input_ids, target_ids) denoising pairs into trainable
    shards — the final stage of the tokenize → span-corrupt → pack
    chain: per ``(shard, bin_id)``, the concatenated
    corrupted inputs AND their aligned targets of the member documents
    in id order. Bin rule is :func:`pack_token_ids`' first-fit
    cumulative-cap keyed on the INPUT length (the sequence the model
    actually consumes; targets ride along — a trainer reads them
    position-aligned per member, which id-order concatenation on both
    arrays preserves). Same scale shape: one window per shard, one
    grouped concat bounded by the bin cap plus one overflow document.
    """
    sized = corrupted.select(
        F.col(id_col),
        (F.col(id_col) % n_shards).cast("int").alias("shard"),
        "input_ids",
        "target_ids",
        F.size("input_ids").cast("long").alias("n"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n").over(w), F.lit(0))
    binned = sized.select(
        "shard",
        F.floor(cum_before / F.lit(cap)).cast("long").alias("bin_id"),
        F.col(id_col),
        "input_ids",
        "target_ids",
        "n",
    )

    def _flat(col: str):
        return F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col(id_col).alias("d"), col))
                ),
                lambda s: s[col],
            )
        )

    return binned.groupBy("shard", "bin_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("n_input_tokens"),
        F.sum(F.size("target_ids")).cast("long").alias("n_target_tokens"),
        _flat("input_ids").alias("input_ids"),
        _flat("target_ids").alias("target_ids"),
    )


#: span-corruption constants — block length, 1-in-MOD masking rate
#: (≈ SPAN_LEN/MOD of tokens masked), and the sentinel-id namespace
#: (above bpe_tokenize's merged-token range: 10M + rank < 20M always)
SPAN_LEN = 3
SPAN_MASK_MOD = 7
SENTINEL_BASE = 20_000_000


def span_corrupt(
    token_frame: DataFrame,
    span_len: int = SPAN_LEN,
    mask_mod: int = SPAN_MASK_MOD,
    id_col: str = "doc_id",
    ids_col: str = "token_ids",
) -> DataFrame:
    """T5-style span corruption over token-id arrays → ``(doc_id,
    input_ids, target_ids)``: contiguous spans are cut from the input
    and replaced by per-doc sentinel ids; the target is each sentinel
    followed by the tokens it hides — the denoising objective's actual
    training pair, produced FROM the gated tokenization output.

    Deterministic twin-expressible masking instead of RNG: position
    blocks of ``span_len`` are masked iff md5(doc_id:block) % mask_mod
    == 0 (the stratified-sample hash-coin idiom) — replayable on any
    engine, independent of partitioning. Sentinels number 1..k per doc
    in block order (SENTINEL_BASE + k, disjoint from both codepoint and
    merged-token id spaces).

    Relational shape: posexplode → block/mask marking → per-doc block
    ranking (window partitioned BY DOC — never partition-less) → two
    keyed unions reassembled with sort_array(collect_list(struct)) per
    doc. Everything is exact integers; docs with no tokens keep a row
    with two empty arrays.
    """
    pos = (
        token_frame.select(
            id_col, F.posexplode(ids_col).alias("__p", "__tid")
        )
        .withColumn("__blk", F.expr(f"__p div {span_len}"))
        .withColumn(
            "__mask",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.col(id_col).cast("string"),
                            F.col("__blk").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % mask_mod
            == 0,
        )
    )
    blocks = (
        pos.filter("__mask")
        .groupBy(id_col, "__blk")
        .agg(F.min("__p").alias("__bstart"))
    )
    kw = Window.partitionBy(id_col).orderBy("__blk")
    sent = blocks.select(
        id_col,
        "__blk",
        "__bstart",
        (F.lit(SENTINEL_BASE) + F.row_number().over(kw)).cast("long").alias(
            "__sid"
        ),
    )
    marked = pos.join(sent, [id_col, "__blk"], "left")
    # input: unmasked tokens at their position; one sentinel per masked
    # block at the block's first position
    in_tokens = marked.filter(~F.col("__mask")).select(
        id_col, F.col("__p").alias("__k"), F.col("__tid").alias("__v")
    )
    in_sent = sent.select(
        id_col, F.col("__bstart").alias("__k"), F.col("__sid").alias("__v")
    )
    # target: sentinel (key 2·bstart) then its hidden tokens (2·p+1)
    tgt_sent = sent.select(
        id_col, (F.col("__bstart") * 2).alias("__k"), F.col("__sid").alias("__v")
    )
    tgt_tokens = marked.filter(F.col("__mask")).select(
        id_col, (F.col("__p") * 2 + 1).alias("__k"), F.col("__tid").alias("__v")
    )

    def assemble(entries: DataFrame, out: str) -> DataFrame:
        return entries.groupBy(id_col).agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__k", "__v"))),
                lambda s: s["__v"],
            ).alias(out)
        )

    inp = assemble(in_tokens.unionByName(in_sent), "input_ids")
    tgt = assemble(tgt_sent.unionByName(tgt_tokens), "target_ids")
    empty = F.array().cast("array<long>")
    return (
        token_frame.select(id_col)
        .join(inp, id_col, "left")
        .join(tgt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("input_ids"), empty).alias("input_ids"),
            F.coalesce(F.col("target_ids"), empty).alias("target_ids"),
        )
    )


#: FIM hash seeds — two independent pivot draws per document
FIM_SEED_P1, FIM_SEED_P2 = 11, 13
#: FIM sentinel markers (StarCoder/SantaCoder convention, PSM order)
FIM_PREFIX_TOK = "<fim_prefix>"
FIM_SUFFIX_TOK = "<fim_suffix>"
FIM_MIDDLE_TOK = "<fim_middle>"


def fim_transform(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fill-in-the-middle transform (Bavarian et al. 2022; the
    StarCoder data pipeline applies it document-wise): split each
    document's token sequence at two pivots into (prefix, middle,
    suffix) and re-render in PSM order —
    ``<fim_prefix>P<fim_suffix>S<fim_middle>M`` — the training-example
    layout that teaches infilling.

    Deterministic twin-expressible pivots instead of RNG (the
    hash-coin idiom): p1 = h(doc:seed1) % (n+1), p2 = p1 +
    h(doc:seed2) % (n−p1+1), so 0 ≤ p1 ≤ p2 ≤ n and every split —
    including empty prefix/middle/suffix — is reachable. Token-level
    (not char-level) splitting keeps the operation alphabet-safe for
    CJK text and lets both engines slice the SAME token arrays.

    Output per document: the three segment lengths and the md5 digest
    of the rendered PSM string (the gate compares layout + content
    without hauling full rendered text through the compare). Pure
    Catalyst — split/slice/concat_ws/md5 inside whole-stage codegen,
    zero shuffles, so the transform is a free map over a 100 TB scan.
    """
    from sfcrimedatapipeline_spark.functions.hashing import portable_hash64
    from sfcrimedatapipeline_spark.functions.text import tokens

    toked = docs.select(
        id_col, tokens(F.col(text_col)).alias("__toks")
    ).withColumn("__n", F.size("__toks").cast("long"))
    did = F.col(id_col).cast("string")
    p1 = F.pmod(portable_hash64(did, FIM_SEED_P1), F.col("__n") + 1)
    with_p1 = toked.withColumn("__p1", p1)
    p2 = F.col("__p1") + F.pmod(
        portable_hash64(did, FIM_SEED_P2), F.col("__n") - F.col("__p1") + 1
    )
    sliced = with_p1.withColumn("__p2", p2).select(
        id_col,
        "__n",
        "__p1",
        "__p2",
        F.slice(F.col("__toks"), F.lit(1), F.col("__p1").cast("int")).alias(
            "__pre"
        ),
        F.slice(
            F.col("__toks"),
            (F.col("__p1") + 1).cast("int"),
            (F.col("__p2") - F.col("__p1")).cast("int"),
        ).alias("__mid"),
        F.slice(
            F.col("__toks"),
            (F.col("__p2") + 1).cast("int"),
            (F.col("__n") - F.col("__p2")).cast("int"),
        ).alias("__suf"),
    )
    rendered = F.concat(
        F.lit(FIM_PREFIX_TOK),
        F.concat_ws(" ", "__pre"),
        F.lit(FIM_SUFFIX_TOK),
        F.concat_ws(" ", "__suf"),
        F.lit(FIM_MIDDLE_TOK),
        F.concat_ws(" ", "__mid"),
    )
    return sliced.select(
        id_col,
        F.col("__p1").alias("n_prefix"),
        (F.col("__p2") - F.col("__p1")).alias("n_middle"),
        (F.col("__n") - F.col("__p2")).alias("n_suffix"),
        F.md5(rendered).alias("fim_digest"),
    )


#: SFT conversation assembly: TURNS_PER_CONV consecutive documents per
#: source form one conversation; roles alternate by position
SFT_TURNS_PER_CONV = 4
SFT_ROLE_MARKERS = ("<|user|>", "<|assistant|>")


def sft_render_conversations(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Render supervised-fine-tuning conversations with a fixed chat
    template: consecutive documents (by id) within a source are grouped
    into ``SFT_TURNS_PER_CONV``-turn dialogues, roles alternating
    user/assistant by turn parity, each turn rendered as
    ``<|role|>text`` and concatenated in turn order. The op under test
    is ordered per-group string assembly — the step that turns a
    document table into chat-format training examples.

    Output per conversation: source, turn count, total whitespace
    tokens across turns (exact integer), and the md5 digest of the
    rendered dialogue. Determinism: turn position is the rank of the
    doc WITHIN its source (doc ids stripe across sources, so raw-id
    blocks would yield 1-turn "conversations"), and the render order
    is pinned by ``array_sort(collect_list(struct(rank, turn)))`` —
    partition-order free, the span_corrupt assembly idiom.

    Scale shape: one per-source window (partitioned BY SOURCE, never
    partition-less) then one groupBy(source, conv_seq) shuffle;
    conversations are bounded at SFT_TURNS_PER_CONV rows so no group
    outgrows an executor regardless of corpus size.
    """
    from sfcrimedatapipeline_spark.functions.text import tokens

    user_m, asst_m = SFT_ROLE_MARKERS
    w = Window.partitionBy("source").orderBy(id_col)
    ranked = docs.select(
        "source",
        F.col(id_col),
        F.col(text_col).alias("__text"),
        F.size(tokens(F.col(text_col))).cast("long").alias("__ntok"),
    ).withColumn("__rank", (F.row_number().over(w) - 1).cast("long"))
    turn = F.concat(
        F.when(
            F.pmod(F.col("__rank"), F.lit(2)) == 0, F.lit(user_m)
        ).otherwise(F.lit(asst_m)),
        F.col("__text"),
    )
    base = ranked.select(
        "source",
        (F.col("__rank") / SFT_TURNS_PER_CONV).cast("long").alias("conv_seq"),
        F.col("__rank"),
        turn.alias("__turn"),
        "__ntok",
    )
    return (
        base.groupBy("source", "conv_seq")
        .agg(
            F.count("*").cast("long").alias("n_turns"),
            F.sum("__ntok").alias("total_tokens"),
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("__rank", "__turn"))
                        ),
                        lambda s: s["__turn"],
                    ),
                )
            ).alias("sft_digest"),
        )
        .select("source", "conv_seq", "n_turns", "total_tokens", "sft_digest")
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by tf·(N/df) — RATIONAL
    idf, not ln(N/df): the ranking ties only differ where ln would also
    tie (ln is monotone in N/df at fixed tf... not across mixed tf, but
    the rational score is the documented semantic here), and exact
    integer→double division is bit-identical across engines where ln
    can differ in the last ulp and flip a rank under hash comparison.

    Shuffle plan: explode → groupBy(doc, term) [shuffle 1, map-side
    combined] → df per term from the tf frame [shuffle 2, tiny: one row
    per distinct term] → join back on term [shuffle 2's output joins
    the tf frame] → per-doc window [shuffle 3 on doc_id]. N (distinct
    docs with ≥1 token) is a 1-row broadcast, not a driver action.
    """
    from sfcrimedatapipeline_spark.functions.text import tokens

    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .persist()
    )
    df_per_term = tf.groupBy("term").agg(F.count("*").alias("df_docs"))
    n_docs = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df_per_term, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * F.col("n_docs") / F.col("df_docs"))
    )
    return top_k_per_group(
        scored,
        ["doc_id"],
        [F.desc("score"), F.asc("term")],
        k,
    ).select("doc_id", "term", "tf", "df_docs", "score", "rank")


def reservoir_sample_per_key(
    df: DataFrame,
    key_cols: list[str],
    k: int,
    id_col: str,
) -> DataFrame:
    """Fixed-size k-per-key sample with a DETERMINISTIC coin: rank rows
    inside each key by ``md5(id)`` (ties broken by id) and keep the
    first k. Statistically equivalent to reservoir sampling — every row
    of a key has equal probability under the hash coin's uniform order —
    but restartable, partitioning-independent, and oracle-exact, which
    ``rand()``-based reservoirs are not.

    Scale shape: one hash-partition shuffle on the key + a per-key
    top-k window (no global sort). For keys with billions of rows the
    windowed rank still streams: row_number needs only the sort within
    the key partition, and AQE splits skewed keys.
    """
    coin = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(*key_cols).orderBy(coin.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rsk", F.row_number().over(w))
        .filter(F.col("__rsk") <= k)
        .drop("__rsk")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 200,
    stride: int = 150,
) -> DataFrame:
    """Overlapping character-window chunks — the training-prep split of
    long documents into model-context-sized pieces with ``size-stride``
    characters of overlap (so no boundary sentence is lost). Emits
    ``(id, chunk_idx, chunk_start, chunk_len, chunk_md5)``; the chunk
    fingerprint instead of the text keeps the gated result narrow (the
    text itself is one substring call away in a real pipeline).

    Pure per-row array expressions (sequence → transform → posexplode):
    no UDF, no shuffle, chunk count ~ len/stride per row. Empty texts
    produce no chunks (same as the oracle's generate_series).
    """
    # guard BEFORE sequence(1, n, stride): n = 0 raises (illegal
    # boundaries with an explicit positive step) — the winnowing lesson
    n = F.length(F.col(text_col))
    starts = F.when(n >= 1, F.sequence(F.lit(1), n, F.lit(stride))).otherwise(
        F.array().cast("array<int>")
    )
    chunked = df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(starts, lambda s: F.substring(F.col(text_col), s, size))
        ).alias("chunk_idx", "chunk_text"),
    )
    return chunked.select(
        id_col,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        (F.col("chunk_idx") * stride + 1).cast("int").alias("chunk_start"),
        F.length("chunk_text").cast("int").alias("chunk_len"),
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
    )


def cross_corpus_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_containment: float = 0.5,
    max_df: int = 50,
) -> DataFrame:
    """Train/eval decontamination: which training documents share
    winnowing fingerprints (textstats.winnow_fingerprints, SIGMOD'03)
    with an evaluation document. The standard guard against benchmark
    leakage into a pretraining corpus — n-gram-level, so
    paraphrase-resistant up to the gram size.

    The gating metric is CONTAINMENT — shared fingerprints over the
    eval document's total — not a raw shared count: boilerplate grams
    common to a whole corpus give most doc pairs a few shared
    fingerprints (a count threshold either drowns in that noise or
    misses short eval docs), while containment asks "how much of THIS
    benchmark item also appears in that training doc", which is the
    leakage question.

    Output: ``(train_id, eval_id, n_shared, n_eval_fps, containment)``
    pairs with containment ≥ ``min_containment``.

    ``max_df`` drops fingerprints appearing in more than that many
    TRAIN documents before the join — the ubiquitous-shingle cap from
    ngram_jaccard_pairs: a boilerplate gram shared by thousands of
    docs carries no leakage signal but makes the fingerprint join
    quadratic per hot key (measured 16 s at sf0.1 uncapped, ~2 s
    capped). The containment DENOMINATOR is the eval doc's RETAINED
    fingerprint count, so a verbatim copy still scores exactly 1.0
    after the cap; eval docs left with zero retained fingerprints are
    boilerplate-only and drop out.

    Scale shape: both corpora reduce to (doc, fingerprint) int64 pairs
    (the text never shuffles); the equi-join on fingerprint is
    hash-partitioned and AQE-skew-safe, and ubiquitous-gram hot spots
    are bounded because winnowing emits only per-window minima (~2/(w+1)
    of all grams). With a small benchmark side, Catalyst broadcasts it.
    """
    from sfcrimedatapipeline_spark.operators.textstats import winnow_fingerprints

    from sfcrimedatapipeline_spark.functions.caching import (
        unpersist_when_released,
    )

    # persisted handles keep their own names (never rebound) so the
    # result finalizer can release them (ADVICE r4)
    tf_cached = winnow_fingerprints(
        train, id_col=id_col, text_col=text_col
    ).select(F.col(id_col).alias("train_id"), "fingerprint").persist()
    # hot = boilerplate fingerprints (train df > cap): a small set,
    # broadcast into anti-joins on both sides
    hot = F.broadcast(
        tf_cached.groupBy("fingerprint")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("fingerprint")
    )
    tf = tf_cached.join(hot, "fingerprint", "left_anti")
    ef_cached = (
        winnow_fingerprints(eval_df, id_col=id_col, text_col=text_col)
        .select(F.col(id_col).alias("eval_id"), "fingerprint")
        .join(hot, "fingerprint", "left_anti")
        .persist()  # scanned for both the join and the per-doc totals
    )
    # fingerprints are distinct within a doc, so count(*) counts distinct
    # shared fingerprints without a dedup pass
    ef_totals = ef_cached.groupBy("eval_id").agg(
        F.count("*").alias("n_eval_fps")
    )
    shared = (
        tf.join(ef_cached, "fingerprint")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    result = (
        shared.join(F.broadcast(ef_totals), "eval_id")
        .select(
            "train_id",
            "eval_id",
            "n_shared",
            F.col("n_eval_fps").cast("long").alias("n_eval_fps"),
            F.round(
                F.col("n_shared").cast("double") / F.col("n_eval_fps"), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= min_containment)
    )
    return unpersist_when_released(result, tf_cached, ef_cached)


def assign_splits(
    df: DataFrame,
    key_col: str,
    splits: tuple[tuple[str, float], ...] = (
        ("train", 0.90),
        ("val", 0.05),
        ("test", 0.05),
    ),
) -> DataFrame:
    """Deterministic train/val/test assignment: the md5-uniform of the
    row key lands in cumulative fraction buckets. Hash-keyed so the
    assignment is stable across runs, engines, repartitions, and
    incremental data growth (a new row never flips an old row's split —
    the property random shuffles lack). Pure per-row projection: no
    shuffle, no state.

    Cumulative boundaries are computed ONCE in Python and embedded as
    literals (callers' oracle twins embed the identical reprs), so both
    engines compare against bit-identical doubles.
    """
    u = deterministic_uniform(F.col(key_col))
    bounds = []
    acc = 0.0
    for name, frac in splits[:-1]:
        acc += frac
        bounds.append((name, acc))
    col = F.lit(splits[-1][0])
    for name, b in reversed(bounds):
        col = F.when(u < F.lit(b), F.lit(name)).otherwise(col)
    return df.withColumn("split", col)


def split_boundaries(
    splits: tuple[tuple[str, float], ...]
) -> list[tuple[str, float]]:
    """The cumulative boundaries ``assign_splits`` uses — exposed so SQL
    twins embed the same float literals."""
    out = []
    acc = 0.0
    for name, frac in splits[:-1]:
        acc += frac
        out.append((name, acc))
    return out


#: curation thresholds (shared with the SQL oracle in plans/llmops.py)
CURATE_MIN_QUALITY = 2
CURATE_MAX_DUP_TOKEN_FRAC = 0.5


def curate_dispositions(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    min_quality: int = CURATE_MIN_QUALITY,
    max_dup_token_frac: float = CURATE_MAX_DUP_TOKEN_FRAC,
) -> DataFrame:
    """Per-document curation dispositions — the shared core of
    :func:`curate_corpus` (which aggregates it into the retention
    report) and :func:`llm_training_pipeline` (which feeds the kept
    docs onward): one row per document with its quality score, token
    count, fingerprint, and a single ``__disp`` in priority order
    low_quality → repetitive → duplicate → kept."""
    from sfcrimedatapipeline_spark.functions.text import normalized
    from sfcrimedatapipeline_spark.operators.textstats import (
        repetition_stats,
        with_quality,
    )

    q = with_quality(docs, text_col).select(
        id_col,
        source_col,
        "quality_score",
        F.md5(normalized(F.col(text_col))).alias("fingerprint"),
    )
    rep = repetition_stats(docs, text_col, id_col).select(
        id_col, "n_tokens", "dup_token_frac"
    )
    base = q.join(rep, id_col)
    eligible = base.filter(
        (F.col("quality_score") >= min_quality)
        & (F.col("dup_token_frac") <= max_dup_token_frac)
    )
    keepers = eligible.groupBy("fingerprint").agg(
        F.min(id_col).alias("__keep_id")
    )
    disposition = (
        F.when(F.col("quality_score") < min_quality, F.lit("low_quality"))
        .when(F.col("dup_token_frac") > max_dup_token_frac, F.lit("repetitive"))
        .when(F.col(id_col) == F.col("__keep_id"), F.lit("kept"))
        .otherwise(F.lit("duplicate"))
    )
    return base.join(keepers, "fingerprint", "left").withColumn(
        "__disp", disposition
    )


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    min_quality: int = CURATE_MIN_QUALITY,
    max_dup_token_frac: float = CURATE_MAX_DUP_TOKEN_FRAC,
) -> DataFrame:
    """End-to-end curation composition: quality gate → repetition gate
    → exact dedup among survivors → per-source retention report. The
    single-operator pieces (with_quality, repetition_stats,
    dedup_exact) composed the way a training-data pipeline actually
    runs them, proving they agree on one dataflow.

    Each document receives exactly ONE disposition, in priority order
    ``low_quality`` → ``repetitive`` → ``duplicate`` → ``kept``, so the
    report partitions the corpus: per source, sum(n_*) == n_docs, and
    ``kept_tokens`` is the training-token yield.

    Scale shape: the quality/repetition frames co-shuffle on the doc
    id; dedup groups eligible docs by 32-byte fingerprint (the text
    never shuffles); the final report is a map-side-combined groupBy
    over one row per document.
    """
    flagged = curate_dispositions(
        docs, text_col, id_col, source_col, min_quality, max_dup_token_frac
    )

    def _n(disp: str) -> Column:
        return (
            F.sum((F.col("__disp") == disp).cast("long"))
            .cast("long")
            .alias(f"n_{disp}")
        )

    return flagged.groupBy(source_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        _n("kept"),
        _n("low_quality"),
        _n("repetitive"),
        _n("duplicate"),
        F.sum(
            F.when(F.col("__disp") == "kept", F.col("n_tokens")).otherwise(0)
        )
        .cast("long")
        .alias("kept_tokens"),
    )


def mix_to_token_budget(
    docs: DataFrame,
    weights: dict[str, float],
    total_budget: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Training-mixture sampling: downsample each source toward its
    share of a total token budget — the data-mixing step every LLM
    pretraining pipeline runs (per-domain mixture weights à la
    Pile/DoReMi, applied as sampling rates).

    Per source s: ``target_s = total_budget · weight_s`` and the
    sampling rate is ``min(1, target_s / tokens_s)`` (a source below
    its target is kept whole, never upsampled); a document survives iff
    its deterministic md5-coin < rate — stable across runs, engines,
    and repartitionings, unlike ``df.sample``. Sources absent from
    ``weights`` get rate 0 (excluded). Returns the per-source mixing
    report: n_docs, source_tokens, target_tokens, rate, n_sampled,
    sampled_tokens (expected ≈ target where rate < 1).

    Scale shape: one map-side-combined groupBy(source) for the totals
    (rows = #sources), a broadcast join of the tiny rate table back to
    the corpus, a pure per-row coin filter, and one final
    groupBy(source). The corpus never shuffles.
    """
    from sfcrimedatapipeline_spark.functions.text import tokens

    tok = docs.select(
        F.col(source_col),
        F.size(tokens(F.col(text_col))).cast("long").alias("__n"),
        deterministic_uniform(F.col(id_col)).alias("__coin"),
    )
    totals = tok.groupBy(source_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("__n").cast("long").alias("source_tokens"),
    )
    target: Column = F.lit(0.0)
    for k, w in sorted(weights.items()):
        target = F.when(
            F.col(source_col) == k, F.lit(float(total_budget * w))
        ).otherwise(target)
    rates = totals.select(
        source_col,
        "n_docs",
        "source_tokens",
        target.alias("target_tokens"),
        F.when(
            F.col("source_tokens") > 0,
            F.least(F.lit(1.0), target / F.col("source_tokens")),
        )
        .otherwise(F.lit(0.0))
        .alias("rate"),
    )
    sampled = (
        tok.join(F.broadcast(rates.select(source_col, "rate")), source_col)
        .filter(F.col("__coin") < F.col("rate"))
        .groupBy(source_col)
        .agg(
            F.count("*").cast("long").alias("n_sampled"),
            F.sum("__n").cast("long").alias("sampled_tokens"),
        )
    )
    return rates.join(sampled, source_col, "left").select(
        source_col,
        "n_docs",
        "source_tokens",
        "target_tokens",
        "rate",
        F.coalesce(F.col("n_sampled"), F.lit(0).cast("long")).alias("n_sampled"),
        F.coalesce(F.col("sampled_tokens"), F.lit(0).cast("long")).alias(
            "sampled_tokens"
        ),
    )


def llm_training_pipeline(
    docs: DataFrame,
    weights: dict[str, float],
    total_budget: int,
    cap: int = 512,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """The WHOLE training-data pipeline under one deterministic roof:
    curate (quality → repetition → exact dedup) → mixture-sample the
    KEPT docs to a weighted token budget → hash-split train/val/test →
    pack the train split into ~``cap``-token context bins. Returns the
    per-split yield report ``(split, n_docs, n_tokens, n_bins)`` —
    n_bins counts packed training samples (0 for val/test, which are
    not packed).

    Every stage is the already-gated single operator
    (:func:`curate_dispositions`, the :func:`mix_to_token_budget` rate
    discipline, :func:`assign_splits`, :func:`pack_sequences`' window),
    composed in the order a real pipeline runs them — and every stage
    is deterministic, so the END-TO-END report hash-compares against a
    DuckDB twin of the whole dataflow.

    Scale shape: the per-doc disposition frame co-shuffles on doc id;
    rates are a broadcast source-cardinality table; split and coin are
    per-row projections; packing windows per shard. Corpus text is
    read once, in the curation stage.
    """
    kept = (
        curate_dispositions(docs, text_col, id_col, source_col)
        .filter(F.col("__disp") == "kept")
        .select(id_col, source_col, "n_tokens")
    )
    totals = kept.groupBy(source_col).agg(
        F.sum("n_tokens").cast("long").alias("__src_tokens")
    )
    target: Column = F.lit(0.0)
    for k, w in sorted(weights.items()):
        target = F.when(
            F.col(source_col) == k, F.lit(float(total_budget * w))
        ).otherwise(target)
    rates = totals.select(
        source_col,
        F.when(
            F.col("__src_tokens") > 0,
            F.least(F.lit(1.0), target / F.col("__src_tokens")),
        )
        .otherwise(F.lit(0.0))
        .alias("__rate"),
    )
    sampled = (
        kept.join(F.broadcast(rates), source_col)
        .filter(deterministic_uniform(F.col(id_col)) < F.col("__rate"))
        .select(id_col, source_col, "n_tokens")
    )
    # split on a SALTED key: the mix filter just conditioned the raw
    # md5(doc_id) coin to be < rate, so splitting on the same coin
    # would put every surviving doc below the train boundary — the two
    # decisions must draw independent hashes
    sp = assign_splits(
        sampled.withColumn(
            "__sk", F.concat(F.lit("split:"), F.col(id_col).cast("string"))
        ),
        "__sk",
    ).drop("__sk")
    w_pack = (
        Window.partitionBy("__shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    train_bins = (
        sp.filter(F.col("split") == "train")
        .withColumn("__shard", (F.col(id_col) % n_shards).cast("int"))
        .withColumn(
            "__bin",
            F.floor(
                F.coalesce(F.sum("n_tokens").over(w_pack), F.lit(0))
                / F.lit(cap)
            ).cast("long"),
        )
        .select("__shard", "__bin")
        .distinct()
        .groupBy()
        .agg(F.count("*").cast("long").alias("n_bins"))
        .select(F.lit("train").alias("split"), "n_bins")
    )
    return (
        sp.groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .join(train_bins, "split", "left")
        .select(
            "split",
            "n_docs",
            "n_tokens",
            F.coalesce(F.col("n_bins"), F.lit(0).cast("long")).alias("n_bins"),
        )
    )


def decontaminate_exact_ngrams(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """EXACT n-gram decontamination — the GPT-3/PaLM-style benchmark
    guard: a training document is contaminated if it shares ANY exact
    word n-gram with an evaluation document. The winnowing variant
    (:func:`cross_corpus_contamination`) measures fuzzy containment;
    this is the strict published criterion (13-grams in GPT-3's case;
    ``n`` is a parameter because the test corpus' documents are short).

    Emits every train document: ``(id, n_hit_grams, contaminated)``
    where ``n_hit_grams`` counts the DISTINCT eval-overlapping grams.

    Scale shape: the eval side (benchmarks, ~10^5 docs) reduces to a
    DISTINCT fingerprint set that is BROADCAST — the train corpus
    never shuffles by gram. Order matters at 100 TB: the broadcast
    semi-join runs FIRST (a map-side filter over the raw train gram
    stream — no shuffle), and only the surviving hit rows — bounded by
    |eval grams| × multiplicity, not by corpus size — are deduplicated
    per doc. Distinct-before-join would shuffle every train gram
    fingerprint in the corpus; distinct-after-join shuffles only hits.
    Train gram rows are (id, 32-hex md5), never gram text.
    """
    from sfcrimedatapipeline_spark.functions.text import ngrams, tokens

    eval_fps = (
        eval_df.select(F.explode(ngrams(tokens(F.col(text_col)), n)).alias("g"))
        .select(F.md5("g").alias("fp"))
        .distinct()
    )
    train_fps = train.select(
        F.col(id_col), F.explode(ngrams(tokens(F.col(text_col)), n)).alias("g")
    ).select(id_col, F.md5("g").alias("fp"))
    hits = (
        train_fps.join(F.broadcast(eval_fps), "fp", "left_semi")
        .distinct()
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_hit_grams"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hit_grams", F.lit(0)).cast("long").alias("n_hit_grams"),
            (F.coalesce("n_hit_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate_bloom_ngrams(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    bits_per_key: int = 10,
    n_hashes: int = 7,
) -> DataFrame:
    """Bloom-PREFILTERED exact n-gram decontamination — same contract
    and byte-identical output as :func:`decontaminate_exact_ngrams`;
    the difference is WHERE the eval set lives on the probe side.

    The exact variant broadcasts the eval fingerprints as a hash
    table: at ~10 bytes/bit-of-information that caps out when the
    benchmark union grows to 10^8+ grams. This tier compresses the
    eval set into a Bloom bitset (``bits_per_key`` bits per distinct
    eval gram, ``n_hashes`` probes — ~1% false-positive rate at
    10 bits / 7 hashes) shipped as ONE array<bigint> plan literal, and
    probes it with pure Catalyst expressions (xxhash64 + pmod + shift)
    — whole-stage-codegen'd, zero Python, zero shuffle. Survivors
    (true hits + ~1% FPs) then pass the ordinary exact broadcast
    semi-join, which removes every false positive — so the output is
    EXACT and the same SQL oracle gates both tiers.

    Hash parity is a non-issue by construction: the bitset's set-bit
    positions are computed BY SPARK on the eval side with the same
    ``xxhash64(concat(fp, seed_i))`` expressions the train side
    probes with, then collected (bounded: ≤ m bit positions, m =
    ``bits_per_key``·|eval grams|). At 10^8 eval grams the bitset is
    ~125 MB — past plan-literal comfort; shard the eval set and union,
    or fall back to the exact tier's broadcast table.
    """
    from sfcrimedatapipeline_spark.functions.text import ngrams, tokens

    # consumed THREE times (count, bit-position collect, exact-confirm
    # semi-join broadcast): without persist each consumer re-runs the
    # whole eval tokenize→shingle→md5→distinct tree — measured 5.6 s →
    # 2.1 s at sf0.1 for the gated query
    eval_fps = (
        eval_df.select(F.explode(ngrams(tokens(F.col(text_col)), n)).alias("g"))
        .select(F.md5("g").alias("fp"))
        .distinct()
        .persist()
    )
    n_keys = eval_fps.count()
    m_bits = max(64, ((bits_per_key * n_keys + 63) // 64) * 64)

    def probe(col: str, i: int):
        return F.pmod(
            F.xxhash64(F.concat(F.col(col), F.lit(f"|bloom{i}"))), F.lit(m_bits)
        )

    # the bitset is assembled JVM-side: per-position (word, bit) pairs
    # fold through a map-side-combinable bit_or, and the driver
    # collects m/64 WORDS, not m set-bit positions — the first cut
    # collected ~1.4M position rows at sf0.1 and OR'd them in a Python
    # loop (4.2 s of a 6.1 s query; now 0.7 s). bit_or is idempotent,
    # so no distinct pass is needed either.
    word_rows = (
        eval_fps.select(
            F.explode(F.array(*[probe("fp", i) for i in range(n_hashes)])).alias("pos")
        )
        .select(
            F.expr("CAST(pos DIV 64 AS INT)").alias("idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("b"),
        )
        .groupBy("idx")
        .agg(F.expr("bit_or(b)").alias("w"))
        .collect()
    )
    words = [0] * (m_bits // 64)
    for r in word_rows:
        words[r.idx] = r.w  # already a signed JVM long — literal-safe

    train_fps = train.select(
        F.col(id_col), F.explode(ngrams(tokens(F.col(text_col)), n)).alias("g")
    ).select(id_col, F.md5("g").alias("fp"))
    # ONE parsed SQL array literal: F.lit(list) round-trips py4j per
    # element (~1.8 s for a 3.9k-word bitset at sf0.1); the parser
    # takes the same array as one string in ~10 ms
    words_sql = "array(" + ",".join(f"{w}L" for w in words) + ")"
    probed = train_fps.withColumn("__w", F.expr(words_sql))
    for i in range(n_hashes):
        probed = probed.withColumn(f"__p{i}", probe("fp", i))
    # bit test in SQL form: the SQL shiftright accepts a column shift
    # amount (the PySpark wrapper's int-only signature is Python-side)
    bloom_pass = " AND ".join(
        f"(shiftright(element_at(__w, CAST(__p{i} DIV 64 AS INT) + 1), "
        f"CAST(__p{i} % 64 AS INT)) & 1) = 1"
        for i in range(n_hashes)
    )
    survivors = probed.filter(F.expr(bloom_pass)).select(id_col, "fp")
    hits = (
        survivors.join(F.broadcast(eval_fps), "fp", "left_semi")
        .distinct()
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_hit_grams"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hit_grams", F.lit(0)).cast("long").alias("n_hit_grams"),
            (F.coalesce("n_hit_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def sample_negatives(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Deterministic NEGATIVE sampling for contrastive training: k
    pseudo-random partners per anchor document, with same-group
    (same-domain) partners filtered out so a "negative" is never a
    near-positive from the anchor's own source — the pair-mining step
    of embedding/contrastive objectives (SimCSE/CLIP-style), done
    relationally.

    Mechanism: documents get a dense index r ∈ [0, N) (one ordered
    window over the id — dim-cardinality cost, the w1 surrogate-key
    shape); anchor r's j-th candidate is index
    ``(r + hash(id, seed=j) mod (N-1) + 1) mod N`` — offset never 0,
    so never self — and candidates resolve by an equi-join on the
    index. The md5-derived offset makes picks uniform yet replayable;
    anchors may end with FEWER THAN k rows after the same-group filter
    (the surviving ``slot`` values show which draws were lost — count
    rows per ``anchor_id`` to detect shortfalls; picks are never
    resampled, which would be sequentially dependent).

    Scale: the dense index comes from keys.dense_ids — the two-phase
    range-partitioned numbering, NOT a single-partition window (this
    runs over the full corpus, where w1's dim-cardinality shortcut
    would serialize). Then one shuffle of k·N join rows on the index —
    never an all-pairs product. The N scalar rides a 1-row broadcast.
    """
    from sfcrimedatapipeline_spark.functions.hashing import portable_hash64
    from sfcrimedatapipeline_spark.operators.keys import dense_ids

    indexed = dense_ids(df.select(id_col, group_col), [id_col], "__r1").withColumn(
        "__r", F.col("__r1") - 1
    )
    n_row = indexed.agg(F.count("*").cast("long").alias("__n"))
    anchors = indexed.crossJoin(F.broadcast(n_row))
    cand = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(group_col).alias("anchor_group"),
        F.explode(
            F.array(*[F.lit(j) for j in range(k)])
        ).alias("__j"),
        F.col("__r"),
        F.col("__n"),
    ).select(
        "anchor_id",
        "anchor_group",
        "__j",
        # N == 1 guard: no possible partner (and % (N-1) would divide
        # by zero under ANSI mode) — NULL candidate index drops out of
        # the equi-join below
        F.when(
            F.col("__n") > 1,
            (
                F.col("__r")
                + portable_hash64(F.col("anchor_id"), F.col("__j")) % (F.col("__n") - 1)
                + 1
            )
            % F.col("__n"),
        ).alias("__rn"),
    )
    paired = cand.join(
        indexed.select(
            F.col("__r").alias("__rn"),
            F.col(id_col).alias("negative_id"),
            F.col(group_col).alias("negative_group"),
        ),
        "__rn",
    ).filter(F.col("anchor_group") != F.col("negative_group"))
    return paired.select(
        "anchor_id",
        F.col("__j").cast("int").alias("slot"),
        "negative_id",
        "negative_group",
    )


def top_fraction_per_group(
    df: DataFrame,
    group_col: str,
    order_cols: list,
    frac: float,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Keep the TOP fraction of each group under a total order — the
    percentile-cut curation gate ("best 50% per source by classifier
    score"), the rate-based sibling of :func:`top_k_per_group` (which
    keeps a fixed count regardless of group size).

    The cut is decided in EXACT INTEGERS: row kept iff
    ``(rank-1) * 10000 <= round(frac*10000) * (n_group - 1)`` — i.e.
    percent_rank <= frac without ever materializing the float
    percent_rank, so no boundary row can flip on a 1-ulp division
    difference. Groups of one row always keep it (percent_rank 0).

    One shuffle on the group key; rank and count share the window
    partition.
    """
    frac_bp = int(round(frac * 10000))
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    wn = Window.partitionBy(group_col)
    ranked = df.withColumn("__rk", F.row_number().over(w)).withColumn(
        "__n", F.count("*").over(wn)
    )
    kept = ranked.filter(
        (F.col("__rk") - 1) * 10000 <= F.lit(frac_bp) * (F.col("__n") - 1)
    )
    out_cols = keep_cols or df.columns
    return kept.select(*out_cols, (F.col("__rk").cast("int")).alias("rank_in_group"))


def shard_manifest(
    packed: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Training-data HANDOFF manifest: per shard — samples (packed
    bins), documents, exact token count, and an order-insensitive
    content checksum (sum of per-doc 60-bit text hashes, DECIMAL-safe)
    — what the training job validates before touching a byte, and what
    makes a re-export diffable shard-by-shard. One join + one
    map-side-combined aggregate at shard cardinality.
    """
    from sfcrimedatapipeline_spark.functions.hashing import portable_hash64
    from sfcrimedatapipeline_spark.functions.text import tokens as toks_fn

    with_text = packed.join(
        docs.select(
            F.col(id_col),
            F.size(toks_fn(F.col(text_col))).cast("long").alias("__ntok"),
            portable_hash64(F.col(text_col), F.lit("manifest")).alias("__h"),
        ),
        id_col,
    )
    return with_text.groupBy("shard").agg(
        F.countDistinct("bin_id").cast("long").alias("n_samples"),
        F.count("*").cast("long").alias("n_docs"),
        F.sum("__ntok").cast("long").alias("n_tokens"),
        F.sum(F.col("__h").cast("decimal(38,0)")).cast("decimal(38,0)").cast("string").alias("content_checksum"),
    )


def epoch_order(
    df: DataFrame,
    n_epochs: int = 2,
    seed: str = "epoch",
    id_col: str = "doc_id",
) -> DataFrame:
    """DETERMINISTIC per-epoch global shuffle: for each epoch, every
    document gets a reproducible position — rank of the md5-derived
    order key ``hash(seed:epoch, id)`` — so a training run's data
    order is replayable bit-for-bit (restart mid-epoch, audit exactly
    which examples a checkpoint saw) while successive epochs still see
    independent permutations. The standard fix for "shuffle() made the
    run unreproducible".

    Positions are 1-based and dense. SCALE-SAFE BY CONSTRUCTION: the
    numbering is keys.dense_ids over (epoch, key) — the two-phase
    range-partitioned scheme, no single-partition-per-epoch window —
    and each epoch holds exactly N documents, so the per-epoch
    position is the global dense id minus ``epoch × N``.
    """
    from sfcrimedatapipeline_spark.functions.hashing import portable_hash64
    from sfcrimedatapipeline_spark.operators.keys import dense_ids

    n_row = df.agg(F.count("*").cast("long").alias("__N"))
    epochs = df.select(F.col(id_col)).crossJoin(
        F.broadcast(
            df.sparkSession.range(n_epochs).select(F.col("id").cast("int").alias("epoch"))
        )
    )
    keyed = epochs.withColumn(
        "__k",
        portable_hash64(
            F.col(id_col), F.concat(F.lit(seed + ":"), F.col("epoch").cast("string"))
        ),
    )
    numbered = dense_ids(keyed, ["epoch", "__k", id_col], "__g")
    return numbered.crossJoin(F.broadcast(n_row)).select(
        "epoch",
        id_col,
        (F.col("__g") - F.col("epoch").cast("long") * F.col("__N")).alias("position"),
    )


def shard_rebalance_report(
    df: DataFrame,
    n_before: int,
    n_after: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Shard-assignment REBALANCING comparison: how much data moves
    when the shard count changes under (a) modulo hashing and (b)
    rendezvous/highest-random-weight hashing — the infra decision
    behind stable corpus sharding (mod moves ~n/(n+1) of everything;
    rendezvous moves only ~1/(n+1), the consistent-hashing property,
    here MEASURED instead of asserted).

    Rendezvous assignment = argmax over shards of the portable hash of
    (doc, shard): each side is one explode over the shard list (shard-
    count rows per doc, never doc×doc) + one max_by-style struct max.
    Exact integer counts; one final division each.
    """
    from sfcrimedatapipeline_spark.functions.hashing import portable_hash64

    ids = df.select(F.col(id_col).alias("__id"))

    def hrw(n: int, out: str) -> DataFrame:
        shards = F.array(*[F.lit(s) for s in range(n)])
        return ids.select(
            "__id",
            F.explode(shards).alias("__s"),
        ).select(
            "__id",
            F.struct(
                portable_hash64(F.col("__id"), F.col("__s").cast("string")).alias("w"),
                F.col("__s").alias("s"),
            ).alias("__ws"),
        ).groupBy("__id").agg(F.max("__ws")["s"].alias(out))

    mod_moved = ids.select(
        ((F.col("__id") % n_before) != (F.col("__id") % n_after)).alias("m")
    )
    hrw_moved = (
        hrw(n_before, "a")
        .join(hrw(n_after, "b"), "__id")
        .select((F.col("a") != F.col("b")).alias("m"))
    )

    def summarize(moved: DataFrame, method: str) -> DataFrame:
        return moved.agg(
            F.lit(method).alias("method"),
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("m").cast("long")).cast("long").alias("n_moved"),
            (
                F.sum(F.col("m").cast("long")).cast("double")
                / F.count("*").cast("double")
            ).alias("moved_frac"),
        )

    return summarize(mod_moved, "mod").unionByName(summarize(hrw_moved, "rendezvous"))


def mix_temperature(
    docs: DataFrame,
    total_budget: int,
    alpha: float = 0.5,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """TEMPERATURE-weighted training mixture: per-source shares derived
    from the data itself as ``share_s ∝ tokens_s^alpha`` — the
    multilingual-LM sampling-temperature knob (alpha = 1 reproduces
    natural proportions, alpha → 0 approaches uniform; alpha ≈ 0.3–0.7
    is the standard head-flattening/tail-boosting range). The
    companion to :func:`mix_to_token_budget`, which takes CURATED
    weights; this one computes them, then applies the identical
    rate-and-coin discipline.

    Determinism discipline: alpha = 0.5 (sqrt — correctly-rounded
    IEEE, oracle-identical) and alpha = 1.0 (identity) hash-gate;
    other alphas go through ``pow`` (exp·ln — transcendental, NOT
    bit-stable cross-engine) and must gate rows-only. The share
    denominator is folded over sources in SORTED source order
    (sort_array + left fold == the oracle's list_sum over
    list(ORDER BY)), never a float SUM() whose aggregation order
    floats free.

    Scale shape: one map-side-combined groupBy(source) (rows =
    #sources), a 1-row weight-total broadcast, a broadcast rate join
    back, a per-row coin filter, one final groupBy — the corpus never
    shuffles, same as the fixed-weight mixer.
    """
    from sfcrimedatapipeline_spark.functions.text import tokens

    tok = docs.select(
        F.col(source_col),
        F.size(tokens(F.col(text_col))).cast("long").alias("__n"),
        deterministic_uniform(F.col(id_col)).alias("__coin"),
    )
    totals = tok.groupBy(source_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("__n").cast("long").alias("source_tokens"),
    )
    st = F.col("source_tokens").cast("double")
    if alpha == 0.5:
        w = F.sqrt(st)
    elif alpha == 1.0:
        w = st
    else:  # documented: rows-only territory
        w = F.pow(st, F.lit(float(alpha)))
    weighted = totals.withColumn("__w", w)
    denom = F.broadcast(
        weighted.agg(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct(F.col(source_col), F.col("__w")))),
                F.lit(0.0),
                lambda acc, x: acc + x["__w"],
            ).alias("__sumw")
        )
    )
    rates = weighted.crossJoin(denom).select(
        source_col,
        "n_docs",
        "source_tokens",
        (F.col("__w") / F.col("__sumw")).alias("target_share"),
        (F.col("__w") / F.col("__sumw") * F.lit(float(total_budget))).alias(
            "target_tokens"
        ),
        F.when(
            F.col("source_tokens") > 0,
            F.least(
                F.lit(1.0),
                F.col("__w") / F.col("__sumw") * F.lit(float(total_budget)) / st,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("rate"),
    )
    sampled = (
        tok.join(F.broadcast(rates.select(source_col, "rate")), source_col)
        .filter(F.col("__coin") < F.col("rate"))
        .groupBy(source_col)
        .agg(
            F.count("*").cast("long").alias("n_sampled"),
            F.sum("__n").cast("long").alias("sampled_tokens"),
        )
    )
    return rates.join(sampled, source_col, "left").select(
        source_col,
        "n_docs",
        "source_tokens",
        "target_share",
        "target_tokens",
        "rate",
        F.coalesce(F.col("n_sampled"), F.lit(0).cast("long")).alias("n_sampled"),
        F.coalesce(F.col("sampled_tokens"), F.lit(0).cast("long")).alias(
            "sampled_tokens"
        ),
    )


def weak_label_votes(
    df: DataFrame,
    lfs: list[tuple[str, Column]],
    id_col: str = "doc_id",
) -> DataFrame:
    """Weak-supervision label aggregation — the Snorkel-style majority
    vote that turns a panel of cheap heuristic LABELING FUNCTIONS into
    one training label per row. Each LF is ``(name, expr)`` where the
    expression evaluates to 1 (keep), 0 (drop), or NULL (abstain);
    the output is per-row vote counts, the majority ``label``
    ('keep' / 'drop' / 'tie'), and ``confidence`` = majority votes /
    non-abstaining votes (NULL when every LF abstains). Counts are
    exact integers; the one divide is the only double op.

    Scale shape: pure per-row Catalyst expressions over the input —
    ZERO shuffle, fully pipelined into the scan, so adding labeling
    functions costs expression width, not passes. (Snorkel's
    generative-model weighting needs EM over the LF agreement matrix;
    majority vote is its standard scale-out baseline.)
    """
    base = df.select(
        F.col(id_col),
        *[c.cast("int").alias(f"__lf_{n}") for n, c in lfs],
    )
    one = lambda pred: F.when(pred, 1).otherwise(0)  # noqa: E731
    n_keep = sum(
        [one(F.col(f"__lf_{n}") == 1) for n, _ in lfs], F.lit(0)
    ).alias("n_keep")
    n_drop = sum(
        [one(F.col(f"__lf_{n}") == 0) for n, _ in lfs], F.lit(0)
    ).alias("n_drop")
    n_abstain = sum(
        [one(F.col(f"__lf_{n}").isNull()) for n, _ in lfs], F.lit(0)
    ).alias("n_abstain")
    out = base.select(id_col, n_keep, n_drop, n_abstain)
    voted = F.col("n_keep") + F.col("n_drop")
    label = (
        F.when(F.col("n_keep") > F.col("n_drop"), F.lit("keep"))
        .when(F.col("n_drop") > F.col("n_keep"), F.lit("drop"))
        .otherwise(F.lit("tie"))
    )
    confidence = F.when(
        voted > 0,
        F.greatest("n_keep", "n_drop").cast("double") / voted.cast("double"),
    )
    return out.select(
        id_col,
        "n_keep",
        "n_drop",
        "n_abstain",
        label.alias("label"),
        confidence.alias("confidence"),
    )


#: paragraph-filter defaults: "paragraph" = 16-token chunk (this
#: corpus carries no newline structure), tail cut at the 90th
#: percentile of the corpus rarity distribution (the CCNet tail
#: bucket), expressed as the exact rational 9/10.
PARA_CHUNK_TOKENS = 16
PARA_TAIL_NUM, PARA_TAIL_DEN = 9, 10
#: per-chunk score resolution multiplier (the mean quantum is scaled
#: by 1000 before the floor divide; sq <= n·LM_SCALE so sq·1000 stays
#: far inside BIGINT for any realistic chunk)
PARA_SCORE_SCALE = 1000


def paragraph_quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = PARA_CHUNK_TOKENS,
) -> DataFrame:
    """Paragraph-granularity quality filtering (the CCNet shape):
    score every PARAGRAPH against a
    corpus-level language model, drop the worst tail bucket, and
    reassemble each document from its surviving paragraphs — real web
    curation filters inside documents, not just across them.

    Paragraph = consecutive ``chunk_tokens``-token chunk (this corpus
    has no newline structure; a deployment swaps the splitter). The LM
    is the corpus unigram model of
    :func:`~sfcrimedatapipeline_spark.operators.textstats.
    unigram_lm_score` with the same exact-integer quantization:
    q_t = LM_SCALE div c_t, and a chunk's score is the scaled mean
    quantum ``(Σ count·q_t · PARA_SCORE_SCALE) div n_chunk_tokens`` —
    an exact BIGINT, monotone in the mean inverse token probability
    (the corpus-constant N factor cannot change any ordering, so it is
    folded out rather than risking a BIGINT overflow). High score =
    rare/gibberish vocabulary = CCNet's high-perplexity tail.

    The cut is the corpus-level discrete 90th percentile, computed by
    its DEFINITION (smallest score whose cumulative chunk count
    satisfies ``cum·DEN >= NUM·total``) in exact integers on both
    engine sides — no reliance on percentile built-ins whose index
    rounding differs across engines. Chunks strictly above the cutoff
    drop; document reassembly is :func:`chunk_dedup_corpus`'s recipe.

    Emits one row per input document: ``(id, clean_text, n_chunks,
    n_dropped)``; a document of pure tail paragraphs survives with
    ``clean_text=''``.

    Scale shape: tf is one explode → groupBy(id, chunk, token) with
    map-side combine; the LM frame is vocabulary-sized; the cutoff
    window orders DISTINCT scores (bounded by the score quantization,
    not the corpus), broadcast back as a 1-row cross join. No UDFs.
    """
    from sfcrimedatapipeline_spark.operators.dedup import (
        _reassemble_chunks,
        _token_chunks,
    )

    chunked = _token_chunks(df, id_col, text_col, chunk_tokens)
    scores = paragraph_scores(chunked, id_col)
    cutoff = paragraph_score_cutoff(scores, PARA_TAIL_NUM, PARA_TAIL_DEN)
    kept = (
        scores.crossJoin(F.broadcast(cutoff))
        .filter(F.col("__rq") <= F.col("__cut"))
        .join(chunked, [id_col, "chunk_idx"])
        .select(id_col, "chunk_idx", "chunk_text")
    )
    return _reassemble_chunks(df, id_col, chunked, kept)


def paragraph_scores(chunked: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact-integer corpus-unigram rarity score per paragraph chunk
    (the :func:`paragraph_quality_filter` scoring stage, exposed for
    the bucket report): ``(id, chunk_idx, __rq)`` with ``__rq`` the
    scaled mean inverse-probability quantum, an exact BIGINT."""
    from sfcrimedatapipeline_spark.operators.textstats import LM_SCALE

    # chunk_text is space-joined whitespace tokens, so re-tokenizing
    # it returns exactly the chunk's token slice
    tf = (
        chunked.select(
            id_col,
            "chunk_idx",
            F.explode(F.split(F.col("chunk_text"), " ")).alias("__t"),
        )
        .groupBy(id_col, "chunk_idx", "__t")
        .agg(F.count("*").alias("__c"))
    )
    lm = tf.groupBy("__t").agg(F.sum("__c").cast("long").alias("__ct"))
    return (
        tf.join(lm, "__t")
        .groupBy(id_col, "chunk_idx")
        .agg(
            F.sum("__c").cast("long").alias("__n"),
            F.sum(F.col("__c") * F.expr(f"{LM_SCALE}L div __ct"))
            .cast("long")
            .alias("__sq"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.expr(f"(__sq * {PARA_SCORE_SCALE}L) div __n").alias("__rq"),
        )
    )


def paragraph_score_cutoff(
    scores: DataFrame, num: int, den: int
) -> DataFrame:
    """Corpus-level discrete ``num/den`` percentile of ``__rq`` BY
    DEFINITION (smallest score whose cumulative chunk count satisfies
    ``cum*den >= num*total``) in exact integers — no engine percentile
    built-ins whose index rounding could differ. The window runs over
    DISTINCT scores (quantization-bounded, never chunk cardinality);
    returns a 1-row frame ``(__cut)`` for broadcasting."""
    dist = scores.groupBy("__rq").agg(F.count("*").cast("long").alias("__c"))
    w = Window.orderBy("__rq").rowsBetween(Window.unboundedPreceding, 0)
    cum = dist.select(
        "__rq",
        F.sum("__c").over(w).alias("__cum"),
        F.sum("__c").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__tot"),
    )
    return cum.filter(
        F.col("__cum") * F.lit(den) >= F.lit(num) * F.col("__tot")
    ).agg(F.min("__rq").alias("__cut"))


#: CCNet bucket boundaries: head = best third, tail = worst third of
#: the corpus paragraph-rarity distribution (discrete 1/3 and 2/3
#: percentiles by rank definition).
PARA_BUCKETS = ((1, 3), (2, 3))


def paragraph_bucket_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = PARA_CHUNK_TOKENS,
    source_col: str = "source",
) -> DataFrame:
    """CCNet's head/middle/tail paragraph triage, per corpus source:
    how many of each source's paragraphs land in the best third
    (``head``), middle third, and worst third (``tail``) of the
    corpus-level rarity distribution — the view a curation owner reads
    before choosing per-source filtering pressure (a source whose mass
    sits in the tail is a candidate for dropping wholesale; one with
    tail pockets gets :func:`paragraph_quality_filter`).

    Same exact-integer scoring and rank-definition percentile cuts as
    the filter; output is one row per source, never per paragraph.
    """
    from sfcrimedatapipeline_spark.operators.dedup import _token_chunks

    chunked = _token_chunks(df, id_col, text_col, chunk_tokens)
    scores = paragraph_scores(chunked, id_col)
    (n1, d1), (n2, d2) = PARA_BUCKETS
    c1 = paragraph_score_cutoff(scores, n1, d1).select(
        F.col("__cut").alias("__cut1")
    )
    c2 = paragraph_score_cutoff(scores, n2, d2).select(
        F.col("__cut").alias("__cut2")
    )
    bucketed = (
        scores.crossJoin(F.broadcast(c1))
        .crossJoin(F.broadcast(c2))
        .select(
            id_col,
            F.when(F.col("__rq") <= F.col("__cut1"), F.lit("head"))
            .when(F.col("__rq") <= F.col("__cut2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("__bucket"),
        )
    )
    one = lambda b: F.sum(  # noqa: E731
        F.when(F.col("__bucket") == b, 1).otherwise(0)
    ).cast("long")
    return (
        bucketed.join(df.select(id_col, source_col), id_col)
        .groupBy(source_col)
        .agg(
            one("head").alias("n_head"),
            one("middle").alias("n_middle"),
            one("tail").alias("n_tail"),
            F.count("*").cast("long").alias("n_paragraphs"),
        )
    )
