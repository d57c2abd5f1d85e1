"""Surrogate-key operators (SURVEY §2.5 W1/W2, recipes §7.4).

Two distinct semantics in the reference:

- W1 ``ROW_NUMBER() OVER (ORDER BY k...)`` with no PARTITION BY
  (/root/reference/dags/ELT.py:194,213,234) — dense 1-based ids over a
  *deduplicated* key set, Postgres ordering (``ASC`` places NULLs LAST,
  unlike Spark's default ASC = NULLS FIRST).
- W2 ``ALTER TABLE ... ADD id SERIAL`` after COPY
  (/root/reference/dags/ELT.py:100) — 1..N in load order.

A partition-less window collapses to one partition, which is fine at
dimension cardinality but not in general; ``dense_ids`` below is the
scale-safe two-phase form.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.functions.caching import unpersist_when_released


def _nulls_last(cols: list[str | Column]) -> list[Column]:
    return [F.asc_nulls_last(c) if isinstance(c, str) else c for c in cols]


def surrogate_key(
    df: DataFrame, order_cols: list[str], key_name: str, key_type: str = "int"
) -> DataFrame:
    """W1: dense 1-based surrogate key over ``order_cols`` ascending,
    NULLS LAST (Postgres ``ORDER BY`` fidelity — Spark's default would
    silently assign different ids to NULL-keyed dim rows).

    Single-partition window by design: callers use this only on deduped
    dimension-cardinality data (the reference does exactly the same —
    the window runs on the DISTINCT subquery output, dags/ELT.py:197).
    For fact-cardinality data use :func:`dense_ids`.
    """
    w = Window.orderBy(*_nulls_last(order_cols))
    return df.select(
        F.row_number().over(w).cast(key_type).alias(key_name), *df.columns
    )


def partition_offsets(counts: DataFrame) -> DataFrame:
    """Exclusive running sum over a ``(__pid, __n)`` frame → ``(__pid,
    __offset)``.

    The frame is one row per shuffle PARTITION (bounded by cluster
    size, never by data), but a partition-less window here would still
    trip Spark's WindowExec single-partition warning and muddy every
    gate log — so the cumsum is a triangular self-join instead:
    O(P²) ≈ 10^6 comparisons at 1000 partitions, zero windows, fully
    parallel. Shared by every two-phase ranking operator (dense_ids,
    load_order_id, exact_quantiles).
    """
    lower = counts.select(
        F.col("__pid").alias("__pid2"), F.col("__n").alias("__n2")
    )
    return (
        counts.join(lower, F.col("__pid2") < F.col("__pid"), "left")
        .groupBy("__pid")
        .agg(F.coalesce(F.sum("__n2"), F.lit(0)).cast("long").alias("__offset"))
    )


def dense_ids(df: DataFrame, order_cols: list[str], key_name: str) -> DataFrame:
    """Scale-safe dense 1..N ids ordered by ``order_cols`` (NULLS LAST).

    Two-phase: range-repartition by the sort keys (so partitions are
    globally ordered), number within each partition, then add exact
    per-partition offsets computed from partition counts. No
    single-partition exchange; the only extra cost over a plain sort is
    one tiny count-per-partition aggregate.
    """
    sorted_df = df.repartitionByRange(*_nulls_last(order_cols)).sortWithinPartitions(
        *_nulls_last(order_cols)
    )
    part = F.spark_partition_id()
    local_w = Window.partitionBy(part).orderBy(*_nulls_last(order_cols))
    with_local = sorted_df.select(
        part.alias("__pid"),
        F.row_number().over(local_w).cast("long").alias("__local"),
        *df.columns,
    )
    counts = with_local.groupBy("__pid").agg(F.max("__local").alias("__n"))
    offsets = partition_offsets(counts)
    return (
        with_local.join(F.broadcast(offsets), "__pid")
        .select((F.col("__local") + F.col("__offset")).alias(key_name), *df.columns)
    )


def load_order_id(df: DataFrame, key_name: str = "id") -> DataFrame:
    """W2: 1..N in input order, JVM-side, with no full-data shuffle.

    Two-phase, the scale-safe equivalent of ``ADD COLUMN id SERIAL``
    after COPY (/root/reference/dags/ELT.py:100):

    1. ``monotonically_increasing_id`` documents its layout as the
       partition id in the upper bits and a consecutive 0-based record
       number within each partition in the lower 33 — masking the low
       bits yields the local index for free, with no window exchange
       and no Python round-trip (the old ``rdd.zipWithIndex`` pickled
       every row through Python).
    2. Exact partition offsets come from a per-partition max (one tiny
       map-side-combined aggregate, one row per partition) cumulated
       with a window over that dim-sized frame and broadcast back.

    The tagged frame has three readers (the per-partition max, both
    sides of the offsets self-join, the id projection), so it is
    persisted: the input is scanned once, and the cache is released
    with the returned frame.

    Determinism is defined only for order-stable inputs (single-file
    reads); parquet multi-file scans order splits by size, so callers
    needing reproducible ids should pass an explicit sort or use
    :func:`dense_ids`.
    """
    low_mask = (1 << 33) - 1
    with_local = df.select(
        F.spark_partition_id().alias("__pid"),
        F.monotonically_increasing_id().bitwiseAND(F.lit(low_mask)).alias("__local"),
        *df.columns,
    ).persist()
    counts = with_local.groupBy("__pid").agg((F.max("__local") + 1).alias("__n"))
    offsets = partition_offsets(counts)
    out = with_local.join(F.broadcast(offsets), "__pid").select(
        (F.col("__local") + F.col("__offset") + 1).cast("long").alias(key_name),
        *df.columns,
    )
    return unpersist_when_released(out, with_local)


def running_total(
    df: DataFrame, order_exprs: list, value_col: str, out_col: str
) -> DataFrame:
    """Scale-safe GLOBAL running sum of ``value_col`` over a total
    order — the cumulative-share companion to :func:`dense_ids`
    (same two-phase shape: range-repartition on the sort expressions
    so partitions are globally ordered, running sum within each
    partition, add exact per-partition offsets from the window-free
    triangular cumsum). ``order_exprs`` are Column sort expressions
    (desc/asc), so Pareto-style "largest first" orders work directly.
    The caller must pass a TOTAL order — ties across a partition
    boundary would otherwise make the running sum partition-dependent.
    """
    return running_totals(df, order_exprs, {value_col: out_col})


def running_totals(
    df: DataFrame, order_exprs: list, value_cols: dict[str, str]
) -> DataFrame:
    """Multi-column :func:`running_total`: each ``value_col -> out_col``
    entry gets its own global running sum, all sharing ONE
    range-repartition + sort (the dominant cost). The per-partition
    offsets come from one triangular join producing every column's
    exclusive prefix at once. Used where two cumulative series ride
    the same total order (e.g. the KS statistic's paired ECDFs)."""
    items = list(value_cols.items())
    sorted_df = df.repartitionByRange(*order_exprs).sortWithinPartitions(
        *order_exprs
    )
    part = F.spark_partition_id()
    lw = (
        Window.partitionBy(part)
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_local = sorted_df.select(
        part.alias("__pid"),
        *[F.sum(v).over(lw).alias(f"__run_{i}") for i, (v, _) in enumerate(items)],
        *df.columns,
    )
    # the offset is each partition's TOTAL — sum the raw value, never
    # max(__run): for signed values (e.g. a sweep-line's ±1 deltas)
    # the running max exceeds the final value and corrupts every
    # later partition's offset
    counts = with_local.groupBy("__pid").agg(
        *[F.sum(v).alias(f"__n_{i}") for i, (v, _) in enumerate(items)]
    )
    lower = counts.select(
        F.col("__pid").alias("__pid2"),
        *[F.col(f"__n_{i}").alias(f"__n2_{i}") for i in range(len(items))],
    )
    offsets = (
        counts.select("__pid")
        .join(lower, F.col("__pid2") < F.col("__pid"), "left")
        .groupBy("__pid")
        .agg(
            *[
                F.coalesce(F.sum(f"__n2_{i}"), F.lit(0))
                .cast("long")
                .alias(f"__off_{i}")
                for i in range(len(items))
            ]
        )
    )
    return with_local.join(F.broadcast(offsets), "__pid").select(
        *[
            (F.col(f"__run_{i}") + F.col(f"__off_{i}")).alias(out)
            for i, (_, out) in enumerate(items)
        ],
        *df.columns,
    )
