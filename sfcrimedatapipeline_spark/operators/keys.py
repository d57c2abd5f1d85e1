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
scale-safe form, a running count through the two-phase prefix kernel
``running_totals``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.functions.caching import (
    truncate_lineage,
    unpersist_when_released,
)


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
    """Exclusive running sum over a ``(__pid, c...)`` frame: each column
    ``c`` comes back under its own name, holding the sum of ``c`` over
    every lower partition (0 for the first).

    The frame is one row per shuffle PARTITION (bounded by cluster
    size, never by data), but a partition-less window here would still
    trip Spark's WindowExec single-partition warning and muddy every
    gate log — so the cumsum is a triangular self-join instead:
    O(P²) ≈ 10^6 comparisons at 1000 partitions, zero windows, fully
    parallel. The package's only triangular join: :func:`running_totals`
    and :func:`load_order_id` both take their offsets from it.
    """
    cols = [c for c in counts.columns if c != "__pid"]
    lower = counts.select(
        F.col("__pid").alias("__pid2"), *[F.col(c).alias(f"{c}2") for c in cols]
    )
    return (
        counts.join(lower, F.col("__pid2") < F.col("__pid"), "left")
        .groupBy("__pid")
        .agg(
            *[
                F.coalesce(F.sum(f"{c}2"), F.lit(0)).cast("long").alias(c)
                for c in cols
            ]
        )
    )


def dense_ids(
    df: DataFrame, order_cols: list[str | Column], key_name: str
) -> DataFrame:
    """Scale-safe dense 1..N ids ordered by ``order_cols`` (column
    names sort NULLS LAST; Column sort expressions are used as given).

    A running count — the global running sum of 1 over the order — so
    it is :func:`running_totals`' two-phase shape: no single-partition
    exchange; the extra cost over a plain sort is one tiny
    count-per-partition aggregate and the kernel's lineage cut (one
    copy of the frame in executor storage). Ties in the order get
    distinct, partition-dependent ids, so callers wanting reproducible
    ids pass a total order.
    """
    return running_total(df, _nulls_last(order_cols), F.lit(1), key_name)


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
       by the triangular :func:`partition_offsets` join and broadcast
       back.

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
    # after partition_offsets, __n is the row count of all lower partitions
    offsets = partition_offsets(counts)
    out = with_local.join(F.broadcast(offsets), "__pid").select(
        (F.col("__local") + F.col("__n") + 1).cast("long").alias(key_name),
        *df.columns,
    )
    return unpersist_when_released(out, with_local)


def running_total(
    df: DataFrame, order_exprs: list, value_col: str | Column, out_col: str
) -> DataFrame:
    """Scale-safe GLOBAL running sum of ``value_col`` (a column name or
    a Column over ``df``) over a total order: :func:`running_totals`
    with one value."""
    return running_totals(df, order_exprs, [(value_col, out_col)])


def running_totals(
    df: DataFrame, order_exprs: list, value_cols: list[tuple[str | Column, str]]
) -> DataFrame:
    """The two-phase prefix kernel: every ``(value, out_col)`` pair
    (``value`` a column name or a Column over ``df``) gets its own
    global inclusive running sum over ``order_exprs``, returned as
    ``(out_col..., *df.columns)``.

    1. Range-repartition on the sort expressions, so partitions are
       globally ordered, and tag every row with its partition id — one
       shuffle however many values ride the order (the dominant cost).
    2. A running sum per value inside each partition (a window
       partitioned by the tag, never a global one).
    3. Exact per-partition offsets: each partition's total per value,
       cumulated by :func:`partition_offsets`, broadcast back and added.

    The tagged frame is cut from its lineage (lazily, through
    ``truncate_lineage``) because steps 2 and 3 read it in three
    branches. Recomputed per branch, the range exchange is sampled and
    coalesced per branch — the sampler reseeds by RDD id on skewed
    input, adaptive execution coalesces each branch by its own column
    widths — so the branches could disagree on which row sits in which
    partition and the offsets would belong to other partitions (seen
    as rows lost in the join back). Building the cut runs the range
    exchange once, while the caller builds its plan.

    ``order_exprs`` are column names or Column sort expressions
    (desc/asc/nulls placement), so "largest first" orders work
    directly. The caller must pass a TOTAL order — ties across a
    partition boundary would otherwise make the running sum
    partition-dependent. Every global rank, running count and
    cumulative share in the package goes through here
    (:func:`dense_ids`, ``profile.exact_quantiles``, the midranks of
    the rank tests, ``corpus.sample_pps_systematic``).
    """
    tagged = truncate_lineage(
        df.repartitionByRange(*order_exprs).select(
            F.spark_partition_id().alias("__pid"), *df.columns
        )
    )
    lw = (
        Window.partitionBy("__pid")
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_local = tagged.select(
        "__pid",
        *[F.sum(v).over(lw).alias(f"__run_{i}") for i, (v, _) in enumerate(value_cols)],
        *df.columns,
    )
    # the offset is each partition's TOTAL — sum the raw value, never
    # max(__run): for signed values (e.g. a sweep-line's ±1 deltas)
    # the running max exceeds the final value and corrupts every
    # later partition's offset
    counts = tagged.groupBy("__pid").agg(
        *[F.sum(v).alias(f"__n_{i}") for i, (v, _) in enumerate(value_cols)]
    )
    offsets = partition_offsets(counts)
    return with_local.join(F.broadcast(offsets), "__pid").select(
        *[
            (F.col(f"__run_{i}") + F.col(f"__n_{i}")).alias(out)
            for i, (_, out) in enumerate(value_cols)
        ],
        *df.columns,
    )
