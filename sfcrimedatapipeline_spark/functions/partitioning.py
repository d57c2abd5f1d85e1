"""Partitioning guards.

At cluster scale inputs arrive in many splits and these helpers are
no-ops; on a single small parquet file (one row group → one partition)
they fan work out across cores before CPU-heavy per-row operators
(hashing, shingling, cosine scoring) would otherwise run serially.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_min_partitions(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition iff the plan is materially under-partitioned.

    The shuffle only fires when the input has fewer than half the target
    partitions — a 100 TB scan with thousands of splits passes through
    untouched, while a one-file local read fans out to all cores. The
    partition count is the one the scan itself reports.
    """
    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df
