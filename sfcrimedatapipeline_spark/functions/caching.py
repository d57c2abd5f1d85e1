"""Cache-lifetime helpers.

Lazy operators persist scan-shared intermediates (an edge list consumed
by three self-joins, a ranked frame consumed by three lookups). The
cache must survive until the CALLER materializes the returned plan, so
the operator cannot unpersist before returning — but the caller holds
no handle on the intermediates, so without help the cached frames
outlive the query and accumulate executor storage for the life of the
session: every cache an operator takes must be released with the frame
it returns.

``unpersist_when_released`` ties the intermediates' cache lifetime to
the result object itself: when the caller drops its last reference to
the returned frame — which in CPython happens deterministically, right
after ``collect()``/``toPandas()``/write in every normal call shape —
the intermediates are unpersisted (non-blocking). It is for one-shot
lazy plans; iterative operators (connected components, pagerank, BFS,
k-core, label propagation, HITS) run inside :func:`loop_scope`, without
adaptive execution and on shuffles sized from their edge count, and
loop through :func:`fixpoint`, which cuts every round's lineage through
:func:`truncate_lineage` on one cadence.

On-disk intermediates a query reads lazily (a persisted index, a stream
fixture directory) cannot be deleted when the query returns either;
:func:`exit_temp_dir` creates them and :func:`reap_temp_dirs` removes
them all at interpreter exit.
"""

from __future__ import annotations

import atexit
import contextlib
import shutil
import tempfile
import weakref

#: temp dirs created by exit_temp_dir and not yet reaped
_EXIT_DIRS: set[str] = set()

#: the two session settings a graph loop owns while it runs
_ADAPTIVE = "spark.sql.adaptive.enabled"
_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
#: edges per shuffle partition inside a loop
_EDGES_PER_PARTITION = 1_000_000


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


@contextlib.contextmanager
def loop_scope(spark):
    """Run an iterative operator, from its first persist to its return,
    without adaptive execution and on shuffles sized from its data.
    Yields ``size(edges)``.

    With adaptive execution on, every query stage of every round is
    submitted as its own job and re-planned, and a lineage cut runs the
    stages of the plan it cuts as soon as it is taken: a loop over a few
    KB of state pays per job, not per byte. A cached plan is planned
    when ``persist()`` is called, so the scope is entered before the
    operator's first persist. Without adaptive coalescing the state is
    partitioned explicitly instead: ``size(edges)`` counts the
    loop-invariant edge list (which also materializes its cache) and
    sets ``spark.sql.shuffle.partitions`` to ``min(defaultParallelism,
    1 + edges // 1_000_000)``, about a million edges per partition and
    at most one task per core, so a small graph runs one task per stage
    while a cluster-scale graph still fans out. Shuffles before the first ``size`` call run at the caller's
    partition count, so an operator persists a shuffle-free projection
    first and sizes from it. The trade: inside the loop there is no
    runtime skew-join split and no broadcast promotion.

    On exit, also on an exception, both settings get back the values
    they had on entry, so scopes nest. The settings are session-wide:
    a query running concurrently on the same session sees them too."""
    conf = spark.conf
    saved = [(k, conf.get(k)) for k in (_ADAPTIVE, _SHUFFLE_PARTITIONS)]
    conf.set(_ADAPTIVE, "false")

    def size(edges) -> None:
        n = edges.count()
        parts = min(spark.sparkContext.defaultParallelism, 1 + n // _EDGES_PER_PARTITION)
        conf.set(_SHUFFLE_PARTITIONS, str(parts))

    try:
        yield size
    finally:
        for k, v in saved:
            conf.set(k, v)


def fixpoint(state, step, rounds: int, probe=None, checkpoint_dir: str | None = None):
    """Iterate ``state = step(state)`` for at most ``rounds`` rounds →
    ``(state, probes)``. The one round loop behind every iterative
    graph operator: it owns the round cap, the lineage cut and its
    cadence, and the convergence stop.

    Every round's lineage is cut lazily through :func:`truncate_lineage`
    (reliable under ``checkpoint_dir``, else executor-local). Inside a
    :func:`loop_scope` a lazy cut runs no job when it is taken, so the
    cut only keeps each round's plan one round deep; the first job that
    reads a state materializes it. With a ``probe``, ``probe(prev_state,
    state)`` is that job — an action over the new state; its value is
    appended to ``probes`` and the loop stops as soon as a value equals
    the previous round's. A probe must therefore repeat only at a fixed
    point (monotone scalars do; an exact check can live in the value's
    ``__eq__``). Without a probe, the next round's broadcast of a small
    state, or else the last round's cut, which is eager, runs the
    rounds; the eager cut also frees the returned state from the
    caller's cached inputs. Eager cuts on more rounds only add jobs
    (two per five pagerank rounds, cutting every second round eagerly).

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
        last = probe is None and r == rounds - 1
        state = truncate_lineage(step(prev), checkpoint_dir, eager=last)
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
