"""SparkSession factory with scale-appropriate defaults.

The reference delegates every physical decision to the Postgres 13
planner (no indexes, no hints — /root/reference/dags/ELT.py has zero
physical tuning). On Spark we make the equivalent decisions explicit
once, here, so every entry point (tests, bench, driver harness) runs
the same configuration:

- AQE on (runtime coalescing + skew-join splitting) — the 100 TB story.
  One exception: an iterative graph operator runs without it, on
  shuffles sized from its edge count, from its first persist to its
  return (``functions/caching.py:loop_scope``), because adaptive
  execution submits every query stage of every round as its own job.
- Shuffle partitions sized to the local core count; at cluster scale
  AQE re-coalesces, so a too-high static number is safe, a too-low one
  is not.
- UTC session timezone — required for value-identical comparison with
  the DuckDB oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for every pandas interchange (toPandas, pandas UDFs).
- The package's parent directory first on the Python workers' module
  path, so a UDF or Arrow function that refers to a package function
  runs whatever directory the driver was started from.
- A generated-code cache that holds the engine's whole working set of
  plan shapes, so a repeated refresh or corpus chain compiles its Java
  once per session instead of once per run (see
  ``_CODEGEN_CACHE_ENTRIES``); generated class names leave out the
  whole-stage id, so the cache matches a pipeline whatever id it gets.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: the directory that holds the ``sfcrimedatapipeline_spark`` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: ``spark.sql.codegen.cache.maxEntries``: Spark's default of 100 is an
#: LRU cache, and one ELT refresh touches ~106 distinct generated
#: classes, one corpus-curation chain ~263. A cyclic working set larger
#: than an LRU cache misses on nearly every lookup, so every repeat
#: recompiled 55-69 (ELT) and 264-265 (corpus) classes, at 10-17 ms
#: each on 4 cores. Four times the larger working set keeps every plan
#: shape compiled for the session; only plans whose literals depend on
#: the data still compile.
_CODEGEN_CACHE_ENTRIES = 1024


def get_spark(
    app_name: str = "sfcrimedatapipeline-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``cpus`` controls both ``local[n]`` parallelism and the static
    shuffle-partition count. On a real cluster the master URL comes from
    the environment and only the shuffle/AQE settings below matter.
    """
    n = cpus or DEFAULT_CPUS
    worker_path = filter(None, (_PACKAGE_ROOT, os.environ.get("PYTHONPATH")))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join(worker_path))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        # the cache is keyed by source text, and by default the class name
        # carries the whole-stage id, which adaptive execution assigns in
        # stage-completion order: an unchanged pipeline that lands on
        # another id recompiles (2-6 classes on some repeated refreshes)
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # write timestamps as TIMESTAMP_MICROS, not legacy INT96: INT96
        # chunks carry NO min/max statistics, which silently disables
        # row-group/file skipping on event-time predicates — the single
        # most important pruning axis for a time-series fact table
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode runs every executor thread inside the driver JVM, so
        # this IS the executor memory. 8g is the validated setting for the
        # recorded baseline; raising it (24g/48g tried) did NOT remove the
        # occasional 10-20s GC/variance spikes on heavy queries and slowed
        # some runs outright, so it stays. Per-container on a real cluster.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.crossJoin.enabled", "true")
    )
    if not os.environ.get("SPARK_MASTER"):  # local mode unless a cluster is configured
        builder = builder.master(f"local[{n}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
