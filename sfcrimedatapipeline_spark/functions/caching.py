"""Cache-lifetime helpers.

Lazy operators persist scan-shared intermediates (an edge list consumed
by three self-joins, a ranked frame consumed by three lookups). The
cache must survive until the CALLER materializes the returned plan, so
the operator cannot unpersist before returning — but the caller holds
no handle on the intermediates, so without help the cached frames
outlive the query and accumulate executor storage for the life of the
session (ADVICE r4: cross_corpus_contamination leaked its tf/ef caches,
triangle_count its edge list, exact_quantiles_by its ranked frame).

``unpersist_when_released`` ties the intermediates' cache lifetime to
the result object itself: when the caller drops its last reference to
the returned frame — which in CPython happens deterministically, right
after ``collect()``/``toPandas()``/write in every normal call shape —
the intermediates are unpersisted (non-blocking). It is for one-shot
lazy plans; iterative operators (connected components, pagerank, BFS,
k-core, label propagation, HITS) run through :func:`fixpoint`, which
cuts every round's lineage through :func:`truncate_lineage` on one
cadence.

On-disk intermediates a query reads lazily (a persisted index, a stream
fixture directory) cannot be deleted when the query returns either;
:func:`exit_temp_dir` creates them and :func:`reap_temp_dirs` removes
them all at interpreter exit.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import weakref

#: temp dirs created by exit_temp_dir and not yet reaped
_EXIT_DIRS: set[str] = set()


def truncate_lineage(df, checkpoint_dir: str | None = None, eager: bool = False):
    """Lineage truncation for iterative loops: a RELIABLE checkpoint
    when a directory is given (written to that path — survives executor
    loss, the cluster setting), else ``localCheckpoint``
    (blocks live only in executor storage — fine for local mode, lost
    on executor death). Lazy either way; the caller's next action
    materializes it."""
    if checkpoint_dir is not None:
        sc = df.sparkSession.sparkContext
        current = sc.getCheckpointDir()
        # getCheckpointDir returns a scheme-prefixed UUID subdir of the
        # configured path; only (re)configure when its PARENT differs.
        # Compare the parent path exactly — a substring test
        # false-positives on prefix-sharing dirs ('/data/ckpt' inside
        # 'file:/data/ckpt2/<uuid>') and silently checkpoints to the
        # wrong mount.
        want = "/" + checkpoint_dir.strip("/")
        parent = None
        if current is not None:
            import posixpath

            parent = posixpath.dirname(str(current))
            if "://" in parent:
                parent = parent.split("://", 1)[1]
            elif parent.startswith("file:"):
                parent = parent[len("file:") :]
            parent = "/" + parent.strip("/")
        if parent != want:
            sc.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def fixpoint(state, step, rounds: int, probe=None, checkpoint_dir: str | None = None):
    """Iterate ``state = step(state)`` for at most ``rounds`` rounds →
    ``(state, probes)``. The one round loop behind every iterative
    graph operator: it owns the round cap, the lineage cut and its
    cadence, and the convergence stop.

    Lineage is cut through :func:`truncate_lineage` (reliable under
    ``checkpoint_dir``, else executor-local) on one cadence. With a
    ``probe``, every round is cut lazily and ``probe(prev_state,
    state)`` — an action over the new state — materializes the cut; its
    value is appended to ``probes`` and the loop stops as soon as a
    value equals the previous round's. A probe must therefore repeat
    only at a fixed point (monotone scalars do; an exact check can live
    in the value's ``__eq__``). Without a probe nothing would force a
    lazy cut, so every second round and the last one are cut eagerly:
    two rounds share one plan (a lazy cut in between would only add
    jobs — adaptive execution runs a plan's shuffle stages when the cut
    is taken), and the returned state no longer depends on the
    caller's cached inputs.

    Without ``checkpoint_dir`` the cuts are ``localCheckpoint`` RDDs in
    executor storage (listed as ``MapPartitionsRDD ... at
    localCheckpoint`` among the persistent RDDs). Only the JVM
    ContextCleaner frees them, once their state is garbage:
    ``DataFrame.unpersist`` on a state does not reach them, and
    unpersisting the checkpoint RDD itself makes every later read of
    that state fail with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``. So a
    caller that drops its result (e.g. ``dedup.semantic_dedup``,
    through ``corpus.connected_components``) leaves them listed until
    the JVM collects them."""
    probes: list = []
    for r in range(rounds):
        prev = state
        state = step(prev)
        if probe is not None or r % 2 == 1 or r == rounds - 1:
            state = truncate_lineage(state, checkpoint_dir, eager=probe is None)
        if probe is not None:
            probes.append(probe(prev, state))
            if len(probes) > 1 and probes[-1] == probes[-2]:
                break
    return state, probes


def keep_alive_until_released(result, *holders):
    """Chain object LIFETIMES: hold strong references to ``holders``
    until ``result`` is released. For derived frames built on top of an
    :func:`unpersist_when_released` result — the derived frame
    references the PLAN, not the Python wrapper, so chaining
    ``op(...).orderBy(...)`` would otherwise drop the wrapper and fire
    its unpersist finalizer before any action runs, so the derived
    frame would recompute what the cache was kept for. Returns
    ``result``."""

    def _noop(hs=list(holders)):
        del hs

    weakref.finalize(result, _noop)
    return result


def unpersist_when_released(result, *cached):
    """Unpersist every frame in ``cached`` once ``result`` is released.

    Returns ``result`` (a ``DataFrame`` — or any object, e.g. the dict
    of tables a pipeline returns). The finalizer swallows errors: at
    interpreter shutdown the JVM gateway may already be gone, and a
    double-unpersist (e.g. after a session-wide ``clearCache()``) is a
    no-op.

    CONTRACT: the caches live exactly as long as the returned OBJECT —
    hold it until the query is materialized. A chained
    ``op(...).filter(...).count()`` drops the returned frame
    immediately (derived frames reference the plan, not the Python
    object), fires the finalizer, and the intermediates recompute; the
    result stays CORRECT but the persist saves nothing. Every driver
    query/bench/gate call shape here collects the returned frame
    directly; callers who transform first should keep a binding
    (``r = op(...); r.filter(...).count()``).
    """

    def _release(frames=list(cached)):
        for f in frames:
            try:
                f.unpersist(blocking=False)
            except Exception:
                pass

    weakref.finalize(result, _release)
    return result


def exit_temp_dir(prefix: str) -> str:
    """A fresh ``tempfile.mkdtemp(prefix=prefix)`` directory that
    :func:`reap_temp_dirs` removes at interpreter exit. For directories
    a returned lazy frame still reads, so they must outlive the call."""
    d = tempfile.mkdtemp(prefix=prefix)
    _EXIT_DIRS.add(d)
    return d


def reap_temp_dirs() -> None:
    """Remove every directory :func:`exit_temp_dir` has created so far.
    Registered with ``atexit``; safe to call early (frames still reading
    a removed directory then fail)."""
    for d in list(_EXIT_DIRS):
        shutil.rmtree(d, ignore_errors=True)
    _EXIT_DIRS.clear()


atexit.register(reap_temp_dirs)
