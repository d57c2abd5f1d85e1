"""Iterative graph algorithms beyond connected components
(operators/corpus.py): PageRank over a pair graph.

The corpus use: rank documents inside a near-duplicate / citation /
link graph to pick cluster representatives by centrality instead of
min-id, and to weight crawl frontiers.

Scale shape (per iteration): the out-degree join is loop-INVARIANT,
so it is folded into the persisted edge list once; each round is then
``edges ⋈ ranks`` on src (edges pre-partitioned by src and persisted,
so only the node-cardinality ranks side shuffles) followed by a
map-side-combined ``groupBy(dst).sum()``. On the undirected path the
mirrored edge list gives every node in-degree ≥ 1, so the per-round
"nodes LEFT JOIN contribs" backfill is provably a no-op and is
skipped — two joins per round become one. Every loop here (pagerank,
BFS, k-core, label propagation, HITS) and both connected-components
loops run inside functions/caching.py:loop_scope, from their first
persist to their return: no adaptive re-planning per round, and every
shuffle partition count tracks edge volume (bounded by the session
parallelism) instead of the caller's static setting, so a tiny graph
schedules one task per stage while a cluster-scale graph still fans
out. They share one round loop, functions/caching.py:fixpoint:
lineage is cut lazily each round (executor-local by default, or a
RELIABLE checkpoint dir via ``checkpoint_dir=`` for cluster jobs) and
materialized by the convergence probe where there is one, else by the
next round's read and the eager cut of the last round. Dangling-node
mass is redistributed uniformly via a 1-row aggregate, never a collect
of rows.

Without ``deterministic=True`` rank values are IEEE double sums whose
low bits depend on aggregation order; with it every sum is fixed point
and the ranks hash-gate. The numeric contract (parity with a dense
numpy power iteration to 1e-12, rank mass ≈ 1) is pinned in
tests/test_graph.py.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.functions.caching import (
    fixpoint,
    loop_scope,
    truncate_lineage,
    unpersist_when_released,
)


def _projected(pairs: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """``(src, dst)`` longs: the shuffle-free first persist a loop sizes
    its shuffles from (functions/caching.py:loop_scope)."""
    return pairs.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )


def _mirrored(fwd: DataFrame) -> DataFrame:
    """Both directions of every non-self-loop edge, once each."""
    return (
        fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def pagerank(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    damping: float = 0.85,
    iters: int = 10,
    undirected: bool = True,
    checkpoint_dir: str | None = None,
    deterministic: bool = False,
) -> DataFrame:
    """PageRank over the pair graph → ``(doc_id, rank)``; ranks sum to
    ~1. ``undirected=True`` mirrors every edge first (the near-dup
    graph is symmetric). ``checkpoint_dir`` switches lineage truncation
    from executor-local blocks to a RELIABLE checkpoint under that path
    — the cluster setting, where losing an executor must not lose the
    iteration state (functions/caching.py:truncate_lineage)."""
    # deterministic=True swaps every double sum (the contributions and
    # the dangling mass) for the Q40 fixed-point aggregate
    # (functions/fixedpoint.py): floor-quantized terms sum exactly in
    # any order, so the rank trace is bit-identical across
    # partitionings AND engines, which lets pagerank_dup_graph be
    # value-hash gated. Quantization bias per round is
    # ≤ in-degree·2^-40 ≈ 1e-10 on rank mass, far below any ranking
    # decision.
    from sfcrimedatapipeline_spark.functions.fixedpoint import sql_fx, sql_unfx

    with loop_scope(pairs.sparkSession) as size:
        fwd = _projected(pairs, src_col, dst_col)
        edges = (
            fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            if undirected
            else fwd
        )
        edges = edges.persist()  # upstream may be a whole dedup pipeline
        size(edges)
        nodes = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
            .persist()
        )
        n = nodes.count()
        # Fold the loop-invariant out-degree into the edge list ONCE, and
        # pre-partition it by the join key (into the loop's sized
        # partition count) so each round shuffles only the
        # node-cardinality ranks frame.
        out_deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
        edges_deg = edges.join(out_deg, "src").repartition("src").persist()
        edges_deg.count()

        def _sum(col: str) -> Column:
            if deterministic:
                return F.expr(sql_unfx(f"sum({sql_fx(col)})"))
            return F.sum(col)

        def _round(ranks: DataFrame) -> DataFrame:
            contribs = (
                edges_deg.join(ranks, edges_deg.src == ranks.id)
                .select(
                    F.col("dst").alias("id"),
                    (F.col("rank") / F.col("deg").cast("double")).alias("c"),
                )
                .groupBy("id")
                .agg(_sum("c").alias("contrib"))
            )
            # mass parked on dangling nodes (no out-edges) spreads
            # uniformly. An undirected graph cannot have dangling nodes
            # (every node is an edge endpoint, so out_deg >= 1 after
            # mirroring): skip the per-round aggregate action entirely —
            # on a tiny graph the round's wall time is dominated by
            # action count, not data.
            if undirected:
                dangling = 0.0
            else:
                dangling = (
                    ranks.join(out_deg, ranks.id == out_deg.src, "left_anti")
                    .agg(F.coalesce(_sum("rank"), F.lit(0.0)).alias("m"))
                    .first()["m"]
                )
            new_rank = (
                F.lit((1.0 - damping) / n)
                + F.lit(damping)
                * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.lit(dangling / n))
            ).alias("rank")
            if undirected:
                # mirrored edges ⇒ every node has in-degree ≥ 1 ⇒ contribs
                # already covers the full node set; the backfill join is a
                # provable no-op, so each round is one join + one agg.
                return contribs.select("id", new_rank)
            return nodes.join(contribs, "id", "left").select("id", new_rank)

        ranks, _ = fixpoint(
            nodes.withColumn("rank", F.lit(1.0 / n)),
            _round,
            iters,
            checkpoint_dir=checkpoint_dir,
        )
        edges.unpersist()
        edges_deg.unpersist()
        nodes.unpersist()
    return ranks.select(F.col("id").alias("doc_id"), "rank")


def triangle_count(
    pairs: DataFrame, src_col: str = "doc_a", dst_col: str = "doc_b"
) -> DataFrame:
    """Global triangle count over an undirected pair graph — the
    standard clustering-density diagnostic for a near-dup graph (how
    transitive are the dup relations?). Returns one row: n_triangles.

    Canonicalize every edge to (lo, hi), then count ordered chains
    a<b<c where (a,b),(b,c),(a,c) are all edges — each triangle counted
    exactly once, via two equi-joins on node keys (the standard
    relational formulation; at scale the joins hash-partition on the
    shared node and AQE handles hub skew).
    """
    e = (
        pairs.select(
            F.least(F.col(src_col), F.col(dst_col)).cast("long").alias("lo"),
            F.greatest(F.col(src_col), F.col(dst_col)).cast("long").alias("hi"),
        )
        .filter(F.col("lo") < F.col("hi"))
        .distinct()
        .persist()  # released with the result frame, not at return
    )
    ab, bc, ac = e.alias("ab"), e.alias("bc"), e.alias("ac")
    tri = (
        ab.join(bc, F.col("ab.hi") == F.col("bc.lo"))
        .join(
            ac,
            (F.col("ac.lo") == F.col("ab.lo")) & (F.col("ac.hi") == F.col("bc.hi")),
        )
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return unpersist_when_released(tri, e)


def clustering_coefficients(
    pairs: DataFrame, src_col: str = "doc_a", dst_col: str = "doc_b"
) -> DataFrame:
    """Local clustering coefficient per node → ``(doc_id, degree,
    n_triangles, clustering_coeff)`` with coeff = 2·T(v) / (d(v)·(d(v)−1))
    — how clique-like each node's neighborhood is (a near-dup cluster
    member scores ~1, a hub stitching unrelated docs scores ~0, the
    standard triage between the two).

    Same relational shape as :func:`triangle_count` — canonical (lo,hi)
    edges, two equi-joins enumerate each triangle a<b<c exactly once —
    then each triangle is EXPLODED to its three corners and one
    map-side-combined count per node joins the degree frame. Exact
    integer arithmetic to one final divide. Degree-1 nodes (no possible
    wedge) report coeff 0.0.
    """
    e = (
        pairs.select(
            F.least(F.col(src_col), F.col(dst_col)).cast("long").alias("lo"),
            F.greatest(F.col(src_col), F.col(dst_col)).cast("long").alias("hi"),
        )
        .filter(F.col("lo") < F.col("hi"))
        .distinct()
        .persist()
    )
    deg = (
        e.select(F.col("lo").alias("id"))
        .union(e.select(F.col("hi").alias("id")))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    ab, bc, ac = e.alias("ab"), e.alias("bc"), e.alias("ac")
    tri_nodes = (
        ab.join(bc, F.col("ab.hi") == F.col("bc.lo"))
        .join(
            ac,
            (F.col("ac.lo") == F.col("ab.lo")) & (F.col("ac.hi") == F.col("bc.hi")),
        )
        .select(
            F.explode(
                F.array(F.col("ab.lo"), F.col("ab.hi"), F.col("bc.hi"))
            ).alias("id")
        )
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    dd = F.col("degree").cast("double")
    out = (
        deg.join(tri_nodes, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            F.when(
                F.col("degree") >= 2,
                F.lit(2.0)
                * F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double")
                / (dd * (dd - F.lit(1.0))),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )
    return unpersist_when_released(out, e)


def bfs_distances(
    pairs: DataFrame,
    seed_pred,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_hops: int = 10,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Multi-source BFS over the undirected pair graph: hop distance
    from the nearest seed (``seed_pred``: a Column predicate over
    ``id``) for every REACHED node — "how many near-dup hops from a
    known-bad document", the contamination-spread query over a dup
    graph.

    Per round: one equi-join of the (non-self-loop) edge list against
    the current frontier labels, a +1 neighbor min, a union with the
    standing labels, and one map-side-combined min — the same
    one-shuffle-per-round dataflow as connected_components. Distances
    are INTEGERS, monotonically non-increasing per node, so
    convergence is an exact scalar probe (reached-count + distance
    sum), and the whole output is oracle-checkable bit-for-bit
    (unlike PageRank's float ranks). ``max_hops`` bounds the rounds;
    unreached nodes emit no row (mirroring the recursive-CTE oracle).
    """
    with loop_scope(pairs.sparkSession) as size:
        fwd = _projected(pairs, src_col, dst_col).persist()
        size(fwd)
        edges = _mirrored(fwd).persist()
        nodes = edges.select(F.col("src").alias("id")).distinct()

        def _round(labels: DataFrame) -> DataFrame:
            via_nbr = (
                edges.join(labels, edges.dst == labels.id)
                .groupBy("src")
                .agg((F.min("distance") + 1).cast("int").alias("distance"))
                .withColumnRenamed("src", "id")
            )
            return labels.unionByName(via_nbr).groupBy("id").agg(
                F.min("distance").alias("distance")
            )

        def _probe(_, labels: DataFrame) -> tuple:
            row = labels.agg(
                F.count("*").alias("n"),
                F.sum(F.col("distance").cast("decimal(38,0)")).alias("s"),
            ).first()
            return (row["n"], row["s"])

        labels, _ = fixpoint(
            nodes.filter(seed_pred(F.col("id"))).withColumn(
                "distance", F.lit(0).cast("int")
            ),
            _round,
            max_hops,
            _probe,
            checkpoint_dir,
        )
        edges.unpersist()
        fwd.unpersist()
    return labels.select(F.col("id").alias("doc_id"), "distance")


def k_core(
    pairs: DataFrame,
    k: int = 2,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iters: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """k-core decomposition at fixed ``k``: the maximal subgraph in
    which every node keeps degree ≥ k — the web-graph screen that
    separates densely-corroborated documents from stragglers a
    near-dup pair list alone can't rank (a node can have high degree
    purely from spam satellites that the peel removes from under it).

    Peeling, relationally: each round recomputes degrees with ONE
    map-side-combined count over the mirrored alive-edge list, drops
    the sub-k nodes, and keeps edges whose BOTH endpoints survive via
    two left-semi joins against the node-cardinality survivor frame.
    The survivor set shrinks monotonically, so an unchanged COUNT (an
    aggregate scalar probe, never a row collect) proves an unchanged
    SET and the fixed point. Rounds run through
    functions/caching.py:fixpoint (executor-local cuts, or reliable via
    ``checkpoint_dir=``) and are bounded by the peel depth, not |V|:
    each round removes every currently sub-k node at once.

    The output (doc_id, degree within the k-core) is exact integers,
    and the peel is IDEMPOTENT past its fixed point: once no node is
    sub-k, further rounds change nothing. So a FIXED round count ≥ the
    peel depth replays the converged answer exactly, and the driver
    query (graph_kcore_dup) is value-hash gated against a DuckDB
    oracle that unrolls ``KCORE_ROUNDS`` peel rounds as MATERIALIZED
    CTEs (plans/corpus_queries.py:_kcore_oracle_sql); the plan-level
    query asserts round ``KCORE_ROUNDS`` equals round
    ``KCORE_ROUNDS-1`` (idempotence = convergence proof). The
    pure-Python peeling parity test (tests/test_graph.py) additionally
    pins the run-to-convergence semantics this fixed-round contract
    stands in for.

    Convergence margin, measured: the dup graph's peel
    depth (:func:`k_core_peel_depth`) is **1 round at sf0.001, sf0.01,
    and sf0.1** — LSH near-dup components are dense cliques plus
    degree-1 satellites, so one peel removes every sub-k node and the
    survivor set is immediately stable — leaving an 11-round margin
    under ``KCORE_ROUNDS=12``. Depth grows with CHAIN-like structures
    (a path of length L peels in ~L/2 rounds), not with data volume:
    the realistic growth model (SCALE_PROBE unique mode — duplicate
    GROUP COUNT grows, group size doesn't) replicates the within-group
    structure per copy and leaves the depth scale-invariant.
    ``tests/test_graph.py`` asserts depth + 2 ≤ KCORE_ROUNDS
    at both gate SFs each run, so silent erosion of the margin fails
    CI before it can break the gate.
    """
    with loop_scope(pairs.sparkSession) as size:
        core, _ = _k_core_loop(
            pairs, k, src_col, dst_col, max_iters, checkpoint_dir, size
        )
    return core.select(F.col("src").alias("doc_id"), "degree")


def k_core_peel_depth(
    pairs: DataFrame,
    k: int = 2,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iters: int = 50,
    checkpoint_dir: str | None = None,
) -> int:
    """Measured PEEL DEPTH of the k-core fixed point: the number of
    productive peel rounds before the survivor count stabilizes — the
    quantity the fixed-round gate contract (``KCORE_ROUNDS``) must
    dominate for the unrolled oracle to equal run-to-convergence.
    Raises if ``max_iters`` rounds don't converge, so a passing call IS
    a convergence proof at that bound."""
    with loop_scope(pairs.sparkSession) as size:
        _, sizes = _k_core_loop(
            pairs, k, src_col, dst_col, max_iters, checkpoint_dir, size
        )
        if len(sizes) < 2 or sizes[-1] != sizes[-2]:
            raise RuntimeError(
                f"k-core peel did not converge within {max_iters} rounds"
            )
    # the closing equal-count round is the idempotence witness, not a
    # productive round
    return len(sizes) - 1


def _k_core_loop(
    pairs: DataFrame,
    k: int,
    src_col: str,
    dst_col: str,
    max_iters: int,
    checkpoint_dir: str | None,
    size,
) -> tuple[DataFrame, list[int]]:
    """Shared peel loop, run inside the caller's ``loop_scope`` (whose
    ``size`` it takes) → (survivors ``(src, degree)``, per-round
    survivor counts). The state is the survivor set: survivor sets only
    shrink, so a round's alive edges are exactly the input edges with
    both endpoints in the previous survivors. Round 1 starts from every
    node, so the counts are the survivors of peel 1, 2, … and the loop
    stops on the first unchanged count."""
    fwd = _projected(pairs, src_col, dst_col).persist()
    size(fwd)
    edges = _mirrored(fwd).persist()

    def _peel(survivors: DataFrame) -> DataFrame:
        keep = survivors.select("src")
        alive = edges.join(keep, "src", "left_semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "left_semi"
        )
        deg = alive.groupBy("src").agg(F.count("*").cast("long").alias("degree"))
        return deg.filter(F.col("degree") >= k)

    core, sizes = fixpoint(
        edges.select("src").distinct(),
        _peel,
        max_iters,
        lambda _, core: core.count(),
        checkpoint_dir,
    )
    edges.unpersist()
    fwd.unpersist()
    return core, sizes


def label_propagation(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    rounds: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Synchronous LABEL PROPAGATION community detection (Raghavan et
    al. 2007) over the pair graph → ``(doc_id, community_id)``.
    DETERMINISTIC variant: every node starts labeled with its own id;
    each round ALL nodes simultaneously adopt their neighbors' most
    frequent previous-round label, ties broken by the SMALLEST label.
    No randomized visit order, no partition-order dependence — a fixed
    round count replays exactly, so the result can be hash-gated
    against an oracle that unrolls the same rounds in SQL (unlike
    classic asynchronous LPA, whose output depends on update order).

    Scale shape: per round, ONE shuffle of the node-cardinality label
    frame into the pre-partitioned edge join (the pagerank discipline:
    edges carry the loop-invariant partitioning), then two MAP-SIDE-
    COMBINABLE aggregates — ``groupBy(node, label).count`` and the
    argmax via ``groupBy(node).max(struct(cnt, -label))``. No window:
    a celebrity node's degree never becomes one task's sort buffer.
    Rounds run through functions/caching.py:fixpoint
    (``checkpoint_dir`` switches to reliable checkpoints for the
    cluster setting).

    Round-count guidance: a fixed ``rounds`` keeps the
    output deterministic and hash-gateable, but label information only
    travels ``rounds`` hops — on a graph whose communities have larger
    diameter, a too-small count fragments them silently. Before fixing
    ``rounds`` on a new corpus, run :func:`lpa_convergence` (same loop,
    same arguments) and read the per-round changed-label counts: pick
    the smallest round where ``n_changed`` reaches its fixpoint plateau
    (0, or the stable oscillation floor — synchronous LPA can 2-cycle
    on bipartite-ish structures, so a small non-zero plateau is the
    converged state, not a bug). Past a fixpoint (``n_changed = 0``)
    the labels map to themselves, so any larger ``rounds`` returns the
    same communities. On the gated MinHash near-dup graph the probe
    shows the plateau inside 3 rounds
    (tests/test_graph.py::test_lpa_convergence_probe pins it); near-dup
    clusters are dense and low-diameter, so this transfers to 100 TB —
    duplicate-cluster diameter doesn't grow with corpus size.
    """
    labels, _ = _lpa_run(pairs, src_col, dst_col, rounds, checkpoint_dir)
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("community_id")
    )


def lpa_convergence(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    rounds: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Convergence probe for :func:`label_propagation`, to pick its
    ``rounds`` on a new corpus: runs the SAME synchronous rounds and
    returns one row per round — ``(round_no, n_changed)``, the count of nodes whose label differs
    from the previous round. ``n_changed`` hitting its plateau tells
    you the fixed round count has reached the fixpoint; a value still
    falling at the last round means communities are fragmented and
    ``rounds`` must grow. Driver cost: one scalar count per round
    (bounded — never a row collect), which also materializes the
    round's lineage cut."""
    round_no = itertools.count(1)

    def _changed(prev: DataFrame, labels: DataFrame) -> tuple[int, int]:
        # the round number keeps every probe value distinct, so the
        # measurement always runs all ``rounds``: a repeated NON-ZERO
        # count is not a fixpoint
        old = prev.select("id", F.col("label").alias("__old"))
        n = labels.join(old, "id").filter(F.col("label") != F.col("__old")).count()
        return next(round_no), n

    labels, changed = _lpa_run(
        pairs, src_col, dst_col, rounds, checkpoint_dir, _changed
    )
    return labels.sparkSession.createDataFrame(
        changed, "round_no int, n_changed long"
    )


def _lpa_run(
    pairs: DataFrame,
    src_col: str,
    dst_col: str,
    rounds: int,
    checkpoint_dir: str | None,
    probe=None,
) -> tuple[DataFrame, list]:
    """Shared synchronous-LPA rounds → (final labels, per-round probe
    values from :func:`fixpoint`)."""
    with loop_scope(pairs.sparkSession) as size:
        fwd = _projected(pairs, src_col, dst_col)
        edges = fwd.union(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).persist()
        size(edges)
        edges_p = edges.repartition("src").persist()
        edges_p.count()

        def _round(labels: DataFrame) -> DataFrame:
            nb = edges_p.join(labels, edges_p.src == labels.id).select(
                F.col("dst").alias("node"), "label"
            )
            cnt = nb.groupBy("node", "label").agg(F.count("*").alias("cnt"))
            return (
                cnt.groupBy("node")
                .agg(
                    F.max(
                        F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))
                    ).alias("m")
                )
                .select(F.col("node").alias("id"), (-F.col("m.neg")).alias("label"))
            )

        labels, probes = fixpoint(
            edges.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("label", F.col("id")),
            _round,
            rounds,
            probe,
            checkpoint_dir,
        )
        edges.unpersist()
        edges_p.unpersist()
    return labels, probes


def hits(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    iters: int = 4,
    deterministic: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """HITS (Kleinberg) hubs & authorities over the near-dup pair
    graph, directed LATER→EARLIER document (``greatest(id) →
    least(id)``): a later near-duplicate "cites" the earlier original,
    so high AUTHORITY marks the originals that copies converge on and
    high HUB marks the aggregator/compilation documents that overlap
    many originals — the directional provenance ranking PageRank's
    undirected centrality can't separate.

    Per round: a ← Eᵀh, L1-normalize; h ← Ea, L1-normalize. With
    ``deterministic=True`` both the contribution sums and the L1
    totals go through the Q40 fixed point (functions/fixedpoint.py),
    and each normalization is one double division of engine-exact
    operands — the pagerank(deterministic=True) discipline, so the
    full (hub, authority) trace is bit-identical across partitionings
    and engines and the query hash-gates. Nodes with no in-edges keep
    authority 0 (resp. hubs for no out-edges) via the spine backfill.

    Scale shape: one join + one map-side-combined aggregate per
    half-round over an edge list pre-partitioned on its join key; the
    L1 totals are 1-row aggregates (never a collect); rounds run
    through functions/caching.py:fixpoint (executor-local cuts, or
    reliable via ``checkpoint_dir=``).
    """
    from sfcrimedatapipeline_spark.functions.fixedpoint import sql_fx, sql_unfx

    if iters < 1:
        # zero rounds would return the unnormalized start vector with
        # no authorities; half a round is also not HITS
        raise ValueError(f"hits() needs iters >= 1, got {iters}")

    with loop_scope(pairs.sparkSession) as size:
        fwd = (
            _projected(pairs, src_col, dst_col)
            .select(
                F.greatest("src", "dst").alias("src"),
                F.least("src", "dst").alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .persist()
        )
        size(fwd)
        edges = fwd.distinct().persist()
        nodes = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
            .persist()
        )
        nodes.count()

        fx_sum_v = sql_unfx("sum(" + sql_fx("v") + ")") + " + 0.0"
        fx_sum_raw = sql_unfx("sum(" + sql_fx("raw") + ")") + " + 0.0"

        # the loop works on SPARSE vectors (only nodes with a nonzero
        # value): a missing entry is exactly 0 and contributes nothing to
        # the next half-round's join, so the per-round dense spine backfill
        # would be a provable no-op — the dense frame materializes ONCE at
        # output. The raw frame feeds both its L1 total and the division
        # (and the round's output through two consumers), so it is cut
        # lazily; the total's broadcast materializes it.
        def _half(vec: DataFrame, frm: str, to: str) -> DataFrame:
            g = edges.join(vec, edges[frm] == vec.id).groupBy(F.col(to).alias("id"))
            raw_sum = F.expr(fx_sum_v) if deterministic else F.sum("v")
            raw = truncate_lineage(g.agg(raw_sum.alias("raw")), checkpoint_dir)
            tot_sum = F.expr(fx_sum_raw) if deterministic else F.sum("raw")
            tot = raw.agg(tot_sum.alias("t"))
            return raw.crossJoin(F.broadcast(tot)).select(
                "id", (F.col("raw") / F.col("t")).alias("v")
            )

        # one state frame per round: the hub and authority vectors stacked
        # under a ``side`` tag, so the whole round is one fixpoint step
        def _side(state: DataFrame, name: str) -> DataFrame:
            return state.filter(F.col("side") == name).select("id", "v")

        def _round(state: DataFrame) -> DataFrame:
            a = _half(_side(state, "h"), "src", "dst")
            h = _half(a, "dst", "src")
            return h.withColumn("side", F.lit("h")).unionByName(
                a.withColumn("side", F.lit("a"))
            )

        state, _ = fixpoint(
            nodes.select("id", F.lit(1.0).alias("v"), F.lit("h").alias("side")),
            _round,
            iters,
            checkpoint_dir=checkpoint_dir,
        )
        out = (
            nodes.join(_side(state, "h").withColumnRenamed("v", "hub"), "id", "left")
            .join(_side(state, "a").withColumnRenamed("v", "authority"), "id", "left")
            .select(
                F.col("id").alias("doc_id"),
                F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
                F.coalesce(F.col("authority"), F.lit(0.0)).alias("authority"),
            )
        )
        fwd.unpersist()
    # the final left-joins against edges/nodes are LAZY: unpersisting
    # here would make every downstream action re-derive the distinct
    # edge list and node spine from source. Tie the caches' lifetime to
    # the returned frame instead — the last round's state is already
    # eagerly cut, so the output joins read cached inputs exactly once
    # per action.
    return unpersist_when_released(out, edges, nodes)
