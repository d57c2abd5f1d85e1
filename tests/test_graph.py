"""PageRank numeric contract: parity with a dense numpy power
iteration, rank-mass conservation, and dangling-node handling."""

from __future__ import annotations

import contextlib

import numpy as np
import pytest

from sfcrimedatapipeline_spark.operators.corpus import connected_components
from sfcrimedatapipeline_spark.operators.graph import (
    bfs_distances,
    hits,
    k_core,
    label_propagation,
    pagerank,
)


def _numpy_pagerank(n, edges, damping=0.85, iters=10, undirected=True):
    if undirected:
        edges = edges + [(b, a) for a, b in edges]
    out_deg = np.zeros(n)
    for a, _ in edges:
        out_deg[a] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        for a, b in edges:
            contrib[b] += r[a] / out_deg[a]
        dangling = r[out_deg == 0].sum()
        r = (1 - damping) / n + damping * (contrib + dangling / n)
    return r


def test_pagerank_matches_numpy_power_iteration(spark):
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (4, 0)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["rank"] for r in pagerank(df).collect()}
    want = _numpy_pagerank(5, edges)
    for i in range(5):
        assert abs(got[i] - want[i]) < 1e-12, (i, got[i], want[i])
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved


def test_pagerank_directed_with_dangling_node(spark):
    # node 2 has no out-edges in the directed graph: its mass must
    # redistribute, not vanish
    edges = [(0, 1), (1, 2)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["rank"] for r in pagerank(df, undirected=False).collect()}
    want = _numpy_pagerank(3, edges, undirected=False)
    for i in range(3):
        assert abs(got[i] - want[i]) < 1e-12
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[2] > got[1] > got[0]  # rank flows down the chain


def test_cc_two_phase_matches_label_prop(spark):
    """Alternating large-star/small-star CC must produce the identical
    (doc_id, canonical_id) mapping as min-label propagation on a graph
    with several multi-node components plus tie shapes."""
    from sfcrimedatapipeline_spark.operators.corpus import connected_components

    pairs = [
        (1, 2), (2, 3), (3, 4),          # chain
        (10, 11), (11, 12), (10, 12),    # triangle
        (20, 21),                        # pair
        (30, 31), (31, 32), (30, 33), (33, 34),  # tree
    ]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    lp = {
        (r.doc_id, r.canonical_id)
        for r in connected_components(df, algorithm="label_prop").collect()
    }
    tp = {
        (r.doc_id, r.canonical_id)
        for r in connected_components(df, algorithm="two_phase").collect()
    }
    assert tp == lp
    assert {c for _, c in tp} == {1, 10, 20, 30}


def test_cc_two_phase_long_chain_beats_diameter(spark):
    """The adversarial long chain: a 256-node path has
    diameter 255 — label-prop needs ~255 rounds (here capped far below
    and returns a WRONG, unconverged labeling), while the star
    algorithm converges in O(log^2) rounds and must be exact."""
    from sfcrimedatapipeline_spark.operators.corpus import connected_components

    n = 256
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    out = connected_components(df, algorithm="two_phase", max_iters=12).collect()
    assert len(out) == n
    assert all(r.canonical_id == 0 for r in out)

    capped = connected_components(df, algorithm="label_prop", max_iters=12).collect()
    assert any(r.canonical_id != 0 for r in capped)  # diameter-bound, by design


#: every operator whose rounds run through functions/caching.py:fixpoint
_FIXPOINT_CONSUMERS = {
    "cc_label_prop": lambda df, ckpt: connected_components(
        df, algorithm="label_prop", checkpoint_dir=ckpt
    ),
    "cc_two_phase": lambda df, ckpt: connected_components(
        df, algorithm="two_phase", checkpoint_dir=ckpt
    ),
    "pagerank": lambda df, ckpt: pagerank(df, iters=4, checkpoint_dir=ckpt),
    "bfs_distances": lambda df, ckpt: bfs_distances(
        df, lambda c: c == 1, checkpoint_dir=ckpt
    ),
    "k_core": lambda df, ckpt: k_core(df, k=2, checkpoint_dir=ckpt),
    "label_propagation": lambda df, ckpt: label_propagation(
        df, rounds=3, checkpoint_dir=ckpt
    ),
    "hits": lambda df, ckpt: hits(df, deterministic=True, checkpoint_dir=ckpt),
}


@pytest.mark.parametrize("consumer", list(_FIXPOINT_CONSUMERS))
def test_reliable_checkpoint_dir_matches_local(spark, tmp_path, consumer):
    """Every fixpoint consumer: ``checkpoint_dir`` switches its lineage
    cuts to reliable checkpoints — files appear under the directory —
    and the output equals the executor-local default exactly (same
    dataflow, same arithmetic; only the truncation medium changes)."""
    import os

    run = _FIXPOINT_CONSUMERS[consumer]
    # a triangle with a tail (non-empty 2-core, multi-hop BFS) plus a
    # separate pair (a second component)
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    local = sorted(tuple(r) for r in run(df, None).collect())
    ckpt = str(tmp_path / consumer)
    reliable = sorted(tuple(r) for r in run(df, ckpt).collect())
    assert local and reliable == local
    assert [f for _, _, fs in os.walk(ckpt) for f in fs], (
        f"no reliable checkpoint files written for {consumer}"
    )


_ADAPTIVE = "spark.sql.adaptive.enabled"
_PARTITIONS = "spark.sql.shuffle.partitions"


@contextlib.contextmanager
def _session_settings(spark, adaptive: str, partitions: str):
    """The caller's side of a loop: both settings a loop scope owns, set
    for the block and put back after it."""
    saved = {k: spark.conf.get(k) for k in (_ADAPTIVE, _PARTITIONS)}
    spark.conf.set(_ADAPTIVE, adaptive)
    spark.conf.set(_PARTITIONS, partitions)
    try:
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _settings(spark) -> tuple[str, str]:
    return spark.conf.get(_ADAPTIVE), spark.conf.get(_PARTITIONS)


@pytest.mark.parametrize("consumer", list(_FIXPOINT_CONSUMERS))
def test_fixpoint_consumer_ignores_and_restores_caller_settings(spark, consumer):
    """Every fixpoint consumer runs inside functions/caching.py:loop_scope:
    its output is the same whether the caller has adaptive execution on
    or off and 1 or 7 shuffle partitions, and both settings read back
    unchanged after the call."""
    run = _FIXPOINT_CONSUMERS[consumer]
    # two cliques bridged by a path, a tail, and a separate pair
    pairs = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6), (5, 7), (6, 7)]
    pairs += [(7, 8), (8, 9), (10, 11), (1, 12), (12, 13)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long").repartition(3)
    outputs = {}
    for adaptive in ("true", "false"):
        for partitions in ("1", "7"):
            with _session_settings(spark, adaptive, partitions):
                out = sorted(tuple(r) for r in run(df, None).collect())
                assert _settings(spark) == (adaptive, partitions)
            outputs[adaptive, partitions] = out
    first = next(iter(outputs.values()))
    assert first and all(out == first for out in outputs.values()), outputs


def test_loop_scope_restores_settings_on_non_convergence(spark):
    """``k_core_peel_depth`` raises inside its loop scope when the peel
    has not converged; the caller's settings still come back."""
    from sfcrimedatapipeline_spark.operators.graph import k_core_peel_depth

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    with _session_settings(spark, "true", "7"):
        with pytest.raises(RuntimeError, match="did not converge"):
            k_core_peel_depth(chain, k=2, max_iters=2)
        assert _settings(spark) == ("true", "7")


def test_loop_scopes_nest(spark):
    """An inner scope (``semantic_dedup`` reaching connected components)
    hands back the outer scope's settings, the outer one the caller's."""
    from sfcrimedatapipeline_spark.functions.caching import loop_scope

    edges = spark.range(10)
    with _session_settings(spark, "true", "7"):
        with loop_scope(spark) as outer_size:
            outer_size(edges)
            assert _settings(spark) == ("false", "1")
            spark.conf.set(_PARTITIONS, "3")
            with loop_scope(spark) as inner_size:
                inner_size(edges)
                assert _settings(spark) == ("false", "1")
            assert _settings(spark) == ("false", "3")
        assert _settings(spark) == ("true", "7")


def test_directed_pagerank_deterministic_across_shuffle_partitions(spark):
    """``pagerank(undirected=False, deterministic=True)`` is bit-identical
    across shuffle partition counts, and to a pure-Python Q40 replay of
    the same update math: the per-round dangling mass, like the
    contributions, is summed in fixed point, not as a double sum in
    partition order. The graph has many sinks, so that sum has many
    terms."""
    import math

    from sfcrimedatapipeline_spark.functions.fixedpoint import FX_SCALE

    rng = np.random.default_rng(7)
    n = 300
    edges = sorted(
        {
            (int(a), int(b))
            for a, b in rng.integers(0, n, size=(900, 2))
            if a != b and a % 3 != 0  # nodes 0, 3, 6, ... have no out-edges
        }
    )
    ranks = {}
    for partitions in ("1", "4", "32"):
        with _session_settings(spark, "true", partitions):
            df = spark.createDataFrame(edges, "doc_a long, doc_b long")
            df = df.repartition(int(partitions))
            ranks[partitions] = dict(
                pagerank(df, undirected=False, deterministic=True).collect()
            )
    assert ranks["1"] == ranks["4"] == ranks["32"]

    out_deg = {}
    for a, _ in edges:
        out_deg[a] = out_deg.get(a, 0) + 1
    nodes = sorted({v for e in edges for v in e})
    r = {v: 1.0 / len(nodes) for v in nodes}
    for _ in range(10):
        fx = {}
        for a, b in edges:
            fx[b] = fx.get(b, 0) + math.floor(r[a] / float(out_deg[a]) * FX_SCALE)
        sinks = sum(math.floor(r[v] * FX_SCALE) for v in nodes if v not in out_deg)
        dangling = sinks / FX_SCALE
        r = {
            v: (1.0 - 0.85) / len(nodes)
            + 0.85 * ((fx[v] / FX_SCALE if v in fx else 0.0) + dangling / len(nodes))
            for v in nodes
        }
    assert ranks["1"] == r


def _jobs_in_group(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_graph_loop_job_counts(spark):
    """Job-count floor of the three loops the corpus benchmark runs, on
    one fixed pair graph (four 3-cliques, a 6-node path, a pair), each
    under its own job group, the result collected. With adaptive
    execution on, every shuffle stage of every round was its own job and
    every lineage cut ran the stages of the plan it cut: before the
    loops ran inside a loop scope the counts were label_prop 29,
    two_phase 46 and pagerank(deterministic=True, iters=10) 37."""
    pairs = [(c + i, c + j) for c in (0, 10, 20, 30) for i, j in ((0, 1), (1, 2), (0, 2))]
    pairs += [(40 + i, 41 + i) for i in range(5)] + [(50, 51)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long").persist()
    df.count()
    counts = {
        "label_prop": _jobs_in_group(
            spark,
            "jobs.cc_label_prop",
            lambda: connected_components(df, algorithm="label_prop").collect(),
        ),
        "two_phase": _jobs_in_group(
            spark,
            "jobs.cc_two_phase",
            lambda: connected_components(df, algorithm="two_phase").collect(),
        ),
        "pagerank": _jobs_in_group(
            spark,
            "jobs.pagerank",
            lambda: pagerank(df, iters=10, deterministic=True).collect(),
        ),
    }
    df.unpersist()
    floor = {"label_prop": 14, "two_phase": 18, "pagerank": 16}
    assert all(counts[k] <= floor[k] for k in floor), counts


def test_bfs_multi_source_and_unreachable(spark):
    from sfcrimedatapipeline_spark.operators.graph import bfs_distances

    # two components: a path seeded at 0, and a pair seeded at 10;
    # component {20,21} has no seed → no output rows
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11), (20, 21)], "doc_a long, doc_b long"
    )
    out = {
        r.doc_id: r.distance
        for r in bfs_distances(pairs, lambda c: (c == 0) | (c == 10)).collect()
    }
    assert out == {0: 0, 1: 1, 2: 2, 3: 3, 10: 0, 11: 1}
    # a node adjacent to TWO seeds takes the minimum (still 1)
    tri = spark.createDataFrame([(0, 5), (10, 5)], "doc_a long, doc_b long")
    out2 = {
        r.doc_id: r.distance
        for r in bfs_distances(tri, lambda c: (c == 0) | (c == 10)).collect()
    }
    assert out2 == {0: 0, 10: 0, 5: 1}


def test_k_core_parity_with_python_peel(spark):
    """k_core vs a pure-Python peeling reference on a graph with a
    layered structure: a 4-clique (3-core), a triangle hanging off it
    (2-core), and chains/satellites that peel away entirely."""
    from sfcrimedatapipeline_spark.operators.graph import k_core

    edges = [
        # 4-clique: 1,2,3,4
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        # triangle 5,6,7 attached to the clique via 4-5
        (4, 5), (5, 6), (5, 7), (6, 7),
        # chain 8-9-10 and satellite 11 off node 1
        (8, 9), (9, 10), (1, 11),
    ]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")

    def py_kcore(es, k):
        adj = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        changed = True
        while changed:
            changed = False
            for n in [n for n, nb in adj.items() if len(nb) < k]:
                for m in adj.pop(n):
                    adj[m].discard(n)
                changed = True
        return {n: len(nb) for n, nb in adj.items()}

    for k in (2, 3):
        got = {r.doc_id: r.degree for r in k_core(df, k=k).collect()}
        assert got == py_kcore(edges, k), f"k={k}"
    # shape sanity: the chain and satellite never make the 2-core;
    # only the clique survives at k=3
    assert set(py_kcore(edges, 3)) == {1, 2, 3, 4}
    two = py_kcore(edges, 2)
    assert 8 not in two and 11 not in two and 5 in two


def test_k_core_fixed_rounds_converges_within_oracle_unroll(spark):
    """graph_kcore_dup's value-hash gate unrolls KCORE_ROUNDS oracle
    rounds and relies on the peel converging within them (past the
    fixed point every round is a no-op, so fixed-R == converged
    whenever R ≥ peel depth). Pin both halves of that contract:

    1. an adversarial deep-peel chain (each round exposes exactly one
       new sub-k node) shows depth == chain length, so the unroll
       budget is a REAL bound, not slack; and
    2. k_core at max_iters=KCORE_ROUNDS equals run-to-convergence on
       that chain while its depth stays within the budget.
    """
    from sfcrimedatapipeline_spark.operators.graph import k_core
    from sfcrimedatapipeline_spark.plans.corpus_queries import (
        KCORE_K,
        KCORE_ROUNDS,
    )

    # caterpillar: path 0-1-2-...-7 with one pendant leaf per node —
    # at k=2 the path endpoints peel one per round from each side
    n = 8
    edges = [(i, i + 1) for i in range(n - 1)]
    edges += [(i, 100 + i) for i in range(n)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")

    converged = {
        r.doc_id: r.degree for r in k_core(df, k=KCORE_K, max_iters=50).collect()
    }
    fixed = {
        r.doc_id: r.degree
        for r in k_core(df, k=KCORE_K, max_iters=KCORE_ROUNDS).collect()
    }
    assert fixed == converged == {}  # trees have no 2-core

    # peel depth of this shape is ceil(n/2)+1 ≤ KCORE_ROUNDS: the gate's
    # unroll budget covers a chain twice as deep as the dup graph's
    # tiny-diameter clusters ever produce
    assert (n // 2) + 1 <= KCORE_ROUNDS


def test_label_propagation_two_triangles(spark):
    from sfcrimedatapipeline_spark.operators.graph import label_propagation

    # two triangles bridged by one edge: after 3 synchronous rounds
    # the left triangle converges on its minimum id (1); the bridge
    # node 4 first adopts its smallest neighbor label (3), which then
    # propagates through the right triangle — so both sides settle on
    # a single in-triangle label and the two communities stay distinct
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "doc_a long, doc_b long",
    )
    out = {r.doc_id: r.community_id for r in label_propagation(pairs, rounds=3).collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[4] == out[5] == out[6] == 3


def test_lpa_convergence_probe(spark):
    from sfcrimedatapipeline_spark.operators.graph import (
        label_propagation,
        lpa_convergence,
    )

    # the two-triangles-plus-bridge fixture: round 1 relabels every
    # node (each adopts its smallest neighbor), rounds 2-3 settle the
    # propagation through the bridge; by the final round the probe
    # must show the fixpoint plateau (0 changes) — the empirical
    # justification for the gated LPA_ROUNDS=3 cut
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "doc_a long, doc_b long",
    )
    probe = {
        r.round_no: r.n_changed for r in lpa_convergence(pairs, rounds=4).collect()
    }
    assert set(probe) == {1, 2, 3, 4}
    assert probe[1] == 6  # every node adopts a neighbor's label
    assert probe[1] >= probe[2] >= probe[3]  # monotone approach
    assert probe[4] == 0  # fixpoint reached — extra rounds are no-ops
    # and the probe's loop IS the operator's loop: labels at the
    # fixpoint match label_propagation at the same round count
    out = {
        r.doc_id: r.community_id
        for r in label_propagation(pairs, rounds=4).collect()
    }
    assert out[1] == out[2] == out[3] and out[4] == out[5] == out[6]


def test_lpa_rounds_past_fixpoint_reproduce_it(spark):
    """VERDICT r7 #6: on a clique-anchored path whose diameter exceeds
    3, the fixed 3-round cut leaves labels still moving, while a
    generous fixed round count runs past the synchronous fixpoint and
    lands on it — one community, everything labeled by the clique
    minimum. Past the fixpoint every round is a no-op, so 20 rounds
    equal 9. The GATED queries keep the deterministic 3-round twin."""
    from sfcrimedatapipeline_spark.operators.graph import (
        label_propagation,
        lpa_convergence,
    )

    # 4-clique {0,1,2,3} anchors label 0; path 3-4-5-6-7-8 makes the
    # zero label creep ONE hop per synchronous round (tie of two
    # single-vote neighbors breaks to the smaller label)
    clique = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    path = [(3, 4), (4, 5), (5, 6), (6, 7), (7, 8)]
    pairs = spark.createDataFrame(clique + path, "doc_a long, doc_b long")

    probe = {
        r.round_no: r.n_changed
        for r in lpa_convergence(pairs, rounds=9).collect()
    }
    assert set(probe) == set(range(1, 10))  # one row per round, no early stop
    assert probe[4] > 0  # still moving after round 4 — 3 rounds fragment
    assert probe[9] == 0  # fixpoint reached inside 9 rounds

    fixed = {
        r.doc_id: r.community_id
        for r in label_propagation(pairs, rounds=3).collect()
    }
    assert len(set(fixed.values())) > 1  # fragmented at the fixed cut

    long_run = {
        r.doc_id: r.community_id
        for r in label_propagation(pairs, rounds=20).collect()
    }
    assert set(long_run.values()) == {0}  # one community, true fixpoint
    assert long_run == {
        r.doc_id: r.community_id
        for r in label_propagation(pairs, rounds=9).collect()
    }


def test_label_propagation_star_ties_to_smallest(spark):
    from sfcrimedatapipeline_spark.operators.graph import label_propagation

    # a star: leaves see only the hub's label; the hub sees one vote
    # per leaf label and must break the tie to the SMALLEST
    pairs = spark.createDataFrame(
        [(10, 1), (10, 2), (10, 3)], "doc_a long, doc_b long"
    )
    one = {r.doc_id: r.community_id for r in label_propagation(pairs, rounds=1).collect()}
    assert one[10] == 1 and one[1] == one[2] == one[3] == 10


def _numpy_hits(n_ids, edges, iters=4):
    """Dense HITS reference: edges directed greatest→least, L1
    normalization per half-round."""
    import numpy as np

    ids = sorted(n_ids)
    idx = {v: i for i, v in enumerate(ids)}
    dir_edges = {(max(a, b), min(a, b)) for a, b in edges if a != b}
    h = np.ones(len(ids))
    a = np.zeros(len(ids))
    for _ in range(iters):
        a = np.zeros(len(ids))
        for s, d in dir_edges:
            a[idx[d]] += h[idx[s]]
        a /= a.sum()
        h = np.zeros(len(ids))
        for s, d in dir_edges:
            h[idx[s]] += a[idx[d]]
        h /= h.sum()
    return {v: (h[idx[v]], a[idx[v]]) for v in ids}


def test_hits_matches_numpy_and_directionality(spark):
    """hits() float path vs a dense numpy reference; later→earlier
    direction means pure-source nodes (largest id in all its pairs)
    carry zero authority and pure-sink nodes zero hub."""
    from sfcrimedatapipeline_spark.operators.graph import hits

    edges = [(1, 5), (2, 5), (3, 5), (5, 9), (4, 9), (1, 9), (2, 3)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc_id: (r.hub, r.authority) for r in hits(df).collect()}
    nodes = {v for e in edges for v in e}
    want = _numpy_hits(nodes, edges)
    for v in nodes:
        assert abs(got[v][0] - want[v][0]) < 1e-9, ("hub", v)
        assert abs(got[v][1] - want[v][1]) < 1e-9, ("auth", v)
    # node 9 is the largest id in every pair it touches → pure hub
    assert got[9][1] == 0.0 and got[9][0] > 0
    # node 1 is the smallest in every pair → pure authority
    assert got[1][0] == 0.0 and got[1][1] > 0
    # L1 normalization: both vectors sum to 1
    assert abs(sum(v[0] for v in got.values()) - 1.0) < 1e-9
    assert abs(sum(v[1] for v in got.values()) - 1.0) < 1e-9


def test_hits_deterministic_bit_exact_python_twin(spark):
    """hits(deterministic=True) vs a pure-Python Q40 fixed-point
    replay of the same update math — every output bit equal (the
    pagerank-deterministic precedent)."""
    import math

    from sfcrimedatapipeline_spark.functions.fixedpoint import FX_SCALE
    from sfcrimedatapipeline_spark.operators.graph import hits

    edges = [(1, 5), (2, 5), (3, 5), (5, 9), (4, 9), (1, 9), (2, 3)]
    dir_edges = sorted({(max(a, b), min(a, b)) for a, b in edges})
    nodes = sorted({v for e in edges for v in e})

    def fx_sum(vals):
        return sum(math.floor(v * FX_SCALE) for v in vals)

    def unfx(t):
        return t / FX_SCALE + 0.0

    h = {v: 1.0 for v in nodes}
    a = {}
    for _ in range(4):
        raw = {}
        for s, d in dir_edges:
            if s in h:
                raw.setdefault(d, []).append(h[s])
        raw = {k: unfx(fx_sum(vs)) for k, vs in raw.items()}
        t = unfx(fx_sum(raw.values()))
        a = {k: v / t for k, v in raw.items()}
        raw = {}
        for s, d in dir_edges:
            if d in a:
                raw.setdefault(s, []).append(a[d])
        raw = {k: unfx(fx_sum(vs)) for k, vs in raw.items()}
        t = unfx(fx_sum(raw.values()))
        h = {k: v / t for k, v in raw.items()}

    got = {
        r.doc_id: (r.hub, r.authority)
        for r in hits(
            spark.createDataFrame(edges, "doc_a long, doc_b long"),
            deterministic=True,
        ).collect()
    }
    for v in nodes:
        assert got[v] == (h.get(v, 0.0), a.get(v, 0.0)), v


def test_hits_rejects_zero_iters(spark):
    from sfcrimedatapipeline_spark.operators.graph import hits

    df = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    with pytest.raises(ValueError, match="iters >= 1"):
        hits(df, iters=0)


def test_hits_output_survives_repeated_actions(spark):
    """hits() ties its edge/node caches to the returned lazy frame
    (unpersist_when_released) instead of unpersisting them before the
    frame is actioned, which made every downstream action re-derive the
    distinct edge list from source: holding the result, two successive
    actions must agree and the edge/node inputs must still be cached."""
    from sfcrimedatapipeline_spark.operators.graph import hits

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 1)], "doc_a long, doc_b long"
    )
    out = hits(df, iters=2)
    first = {r.doc_id: (r.hub, r.authority) for r in out.collect()}
    second = {r.doc_id: (r.hub, r.authority) for r in out.collect()}
    assert first == second and len(first) == 4
    # at least one persisted RDD is still alive while `out` is held
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().size() > 0
    del out  # finalizer releases the edge/node caches


def test_kcore_rounds_dominate_measured_peel_depth(spark):
    """The graph_kcore_dup gate unrolls KCORE_ROUNDS oracle rounds and
    relies on fixed-round == run-to-convergence (idempotent peel).
    That contract holds iff KCORE_ROUNDS >= the dup graph's actual
    peel depth WITH MARGIN. Measure the depth at both gate SFs via
    k_core_peel_depth (which raises if 50 rounds don't converge) and
    assert a >= 2-round margin under KCORE_ROUNDS."""
    from sfcrimedatapipeline_spark.operators.graph import k_core_peel_depth
    from sfcrimedatapipeline_spark.plans import corpus_queries as cq

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        pairs = cq._dup_pairs(spark, sf)
        depth = k_core_peel_depth(pairs, k=cq.KCORE_K, max_iters=50)
        assert depth + 2 <= cq.KCORE_ROUNDS, (
            f"{sf}: measured peel depth {depth} leaves <2 rounds of "
            f"margin under KCORE_ROUNDS={cq.KCORE_ROUNDS} — raise the "
            f"constant (and the oracle unroll) before data grows"
        )
