"""Benchmark surface for the driver: run every declared query at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE COMPACT JSON line:

    {"metric": "total_query_wall", "value": N, "unit": "sec",
     "n_queries": N, "queries": {<top-10 slowest>}, "sf": ...,
     "full": "BENCH_FULL_c32_sf0.1.json"}

The stdout line is deliberately SMALL: a line carrying the full
per-query map is longer than a bounded stdout capture, which then cuts
it mid-JSON and leaves nothing parseable. The COMPLETE per-query map
of an unfiltered run is written to ``BENCH_FULL_c{cpus}_sf{sf}.json`` at the
repo root (override with $SPARK_GRAFT_BENCH_OUT). An existing artifact
is never overwritten: the next free ``_2``, ``_3``… suffix is taken,
so runs at different core counts or scales cannot clobber each other.
stdout carries the total, the count, and the top-10 slowest — enough
for the round-over-round ledger to parse.

Per-query time = full plan build + execution + collect at the driver
(the same surface the correctness gate measures, minus the oracle).

Each query is first run once at sf0.001 (~100x smaller) before being
timed at the target scale: Catalyst analysis, codegen compilation, and
JVM JIT of a query's operators are one-time costs that do not grow
with data, and letting them land arbitrarily on whichever query runs
first made successive bench runs differ by 10x per query. The timed
number is the steady-state, data-proportional cost — the quantity that
scales to the cluster.

Each query is then timed ``$SPARK_GRAFT_BENCH_REPS`` times (default 3)
and the MEDIAN is reported: a container can show 10-20 s per-query
variance spikes against a sub-second steady state, and a median of 3
makes a single GC/compaction/noisy-neighbor event invisible instead of
defining the recorded number. The artifact's ``compiles`` map counts the generated
classes each query compiled during its timed runs; a nonzero count
means the sf0.001 warm-up did not warm that query.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARM_SF_DIR = "/root/testdata/sf0.001"
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
REPO = os.path.dirname(os.path.abspath(__file__))

#: Correctness-gate-only entries excluded from the bench: their wall
#: time measures test-harness fixture work (rewriting the input as
#: time-sliced stream files per run), not operator throughput, which
#: would distort the cross-round non-regression comparison.
BENCH_SKIP = {
    "events_sessionize_stream",
    "events_hourly_agg_stream",
    "events_stream_stream_join",
    "events_sliding_agg_stream",
    "events_session_window_stream",
    "events_stream_static_join",
    "events_incremental_agg_stream",
    "dedup_exact_stream",
    "dedup_exact_stream_wm",
    "docs_accrete_stream",
    "events_dau_stream",
    "events_dau_stream_wm",
    # memory-sink MicroBatchExecution harness — measures trigger
    # scheduling, not operator throughput
    "src_python_stream_source",
    # UnionLoop recursion: ~84 iterations x per-job scheduling overhead
    # (25.9s at sf0.1 AND sf0.001 alike — the month count, not data,
    # drives it); benching it would record the scheduler, not the engine
    "s20_recursive_cte",
}


#: Queries whose OUTPUT is the full per-(key, period) spine — ~1M rows
#: at sf0.1. Under the collect contract their bench numbers are ~85%
#: driver Row serialization, not operator dataflow. These are measured
#: with a noop sink (materializes every output column executor-side,
#: zero driver transfer — the scale_probe discipline): at 100 TB a resampled
#: series feeds the next operator, it never collects to a driver. The
#: bounded-output audit twin (events_resample_gap_stats) stays on the
#: collect contract like every other query.
BENCH_NOOP_SINK = {
    # full-spine melt: 1.8M output rows at sf0.1 — driver Row
    # serialization, not operator dataflow
    "lineitem_unpivot_measures",
    "events_resample_locf",
    "events_resample_interp",
    # Rule: output ≥ 250k rows at sf0.1 AND collect ≥ 2x the noop
    # sink. Such a number is mostly driver Row pickling of a full
    # join/pair/melt spine that at 100 TB feeds the next operator and
    # never collects; a real compute regression would be invisible
    # inside it. (The per-row ratios below were measured on 32 cores.)
    "j3_dim_aliased_twice",       # 600k rows, 4.4x
    "j5_composite_null_keys",     # 600k rows, 4.8x
    "j9_salted_skew_join",        # 600k rows, 2.6x
    "j12_nullsafe_join",          # 600k rows, 5.4x
    "w3_window_suite",            # 600k rows, 4.4x
    "f2_unpivot",                 # 300k rows, 7.7x
    "f3_explode_pos",             # 271k rows, 4.7x
    "geo_radius_pairs",           # 626k pair rows, 2.5x
    "media_dedup_perceptual",     # 644k pair rows, 2.2x
    "text_winnow_fingerprints",   # 540k rows, 3.1x
    # audited and kept ON the collect contract (below one of the two
    # bars): events_missing_minutes (4.3k rows, 1.1x), emb_standardize
    # (128k rows, 1.4x), text_tokens_multilingual (271k rows, 1.5x)
}


def _sf_from_dir(path: str) -> float:
    tail = os.path.basename(path.rstrip("/"))
    try:
        return float(tail.removeprefix("sf"))
    except ValueError:
        return -1.0


def _write_new_artifact(payload: dict, cpus: int, sf: float) -> str:
    """Write ``payload`` to ``$SPARK_GRAFT_BENCH_OUT`` or
    ``BENCH_FULL_c{cpus}_sf{sf}.json``, or — if that file exists — to
    the first free ``<stem>_<n>.json``; never overwrites. Returns the
    path written."""
    base = os.environ.get("SPARK_GRAFT_BENCH_OUT") or os.path.join(
        REPO, f"BENCH_FULL_c{cpus}_sf{sf:g}.json"
    )
    stem, ext = os.path.splitext(base)
    path, n = base, 1
    while True:
        try:
            with open(path, "x") as fh:
                json.dump(payload, fh, indent=1, sort_keys=True)
            return path
        except FileExistsError:
            n += 1
            path = f"{stem}_{n}{ext}"


def _compiled_classes(spark) -> int:
    """Generated classes the session's JVM has compiled so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_one(spark, fn, reps: int, noop_sink: bool = False) -> tuple[float, int]:
    """Warm at sf0.001, then ``reps`` timed runs at SF_DIR → (median,
    classes compiled during the timed runs). A nonzero count means the
    warm-up did not warm that query."""

    def run(df):
        if noop_sink:
            df.write.mode("overwrite").format("noop").save()
        else:
            df.collect()

    if os.path.isdir(WARM_SF_DIR) and WARM_SF_DIR != SF_DIR:
        run(fn(spark, WARM_SF_DIR))  # compile/JIT warm-up (module doc)
        spark.catalog.clearCache()
    samples = []
    compiled = _compiled_classes(spark)
    for _ in range(reps):
        t0 = time.perf_counter()
        run(fn(spark, SF_DIR))
        samples.append(time.perf_counter() - t0)
        # operators persist reused intermediates (e.g. minhash shingle
        # frames); drop them between runs so storage memory from one
        # run doesn't evict/execute-spill the next
        spark.catalog.clearCache()
    return round(statistics.median(samples), 3), _compiled_classes(spark) - compiled


def main() -> None:
    import __spark_entry__ as e
    from sfcrimedatapipeline_spark.session import get_spark

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers so query 1 isn't charged for startup
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    # warm the Python/Arrow workers (pandas+numpy import per worker) so
    # the first mapInPandas query isn't charged for interpreter startup
    def _noop(batches):
        for b in batches:
            yield b

    spark.range(64, numPartitions=64).mapInPandas(_noop, "id long").count()

    timings: dict[str, float] = {}
    compiles: dict[str, int] = {}
    errors: dict[str, str] = {}
    only = set(sys.argv[1:])
    for name, fn in e.queries().items():
        if (only and name not in only) or (not only and name in BENCH_SKIP):
            continue
        try:
            timings[name], compiles[name] = _run_one(
                spark, fn, REPS, noop_sink=name in BENCH_NOOP_SINK
            )
        except Exception as ex:  # one bad query must not zero the artifact
            errors[name] = str(ex)[:300]
            sys.stderr.write(f"BENCH ERROR {name}: {errors[name]}\n")

    total = round(sum(timings.values()), 3)
    cpus = spark.sparkContext.defaultParallelism
    full = {
        "metric": "total_query_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "compiles": compiles,
        "sf": _sf_from_dir(SF_DIR),
        "cpus": cpus,
        "reps": REPS,
        "n_queries": len(timings),
        "errors": errors,
        "noop_sink": sorted(BENCH_NOOP_SINK & set(timings)),
    }
    # the COMPLETE map lives in the repo artifact (driver tails
    # truncate); filtered debug runs write no artifact
    artifact = None
    if not only:
        artifact = _write_new_artifact(full, cpus, _sf_from_dir(SF_DIR))
    top10 = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    print(
        json.dumps(
            {
                "metric": "total_query_wall",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "queries": top10,
                "sf": _sf_from_dir(SF_DIR),
                "reps": REPS,
                "cpus": cpus,
                "n_errors": len(errors),
                "full": artifact and os.path.basename(artifact),
            }
        )
    )


if __name__ == "__main__":
    main()
