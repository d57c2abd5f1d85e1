"""Parquet table IO — the engine's table sink and the test-data source.

The reference's sink is ``CREATE TABLE IF NOT EXISTS`` + ``TRUNCATE`` +
insert, i.e. an idempotent full refresh per table
(/root/reference/dags/ELT.py:82,147,171,...). The Spark-native
equivalent is an atomic ``mode("overwrite")`` parquet write; columnar at
rest is an upgrade, not a semantic change (SURVEY §1.3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Driver test tables (TESTDATA.md), one parquet file each.
TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table, e.g. ``read_table(spark, '/root/testdata/sf0.01', 'lineitem')``.

    Handles parquet files with TIMESTAMP(NANOS) columns (which Spark's
    vectorized reader rejects) by reading them as longs
    (``nanosAsLong``) and converting to microsecond timestamps — the
    same truncation DuckDB applies when materializing TIMESTAMP_NS.

    Tz-naive parquet timestamps (which Spark 4 reads as TIMESTAMP_NTZ)
    are normalized to TIMESTAMP: under the engine's fixed UTC session
    timezone the wall-clock → instant mapping is the identity, and it
    matches how the DuckDB oracle reads the same column (naive = UTC).
    Keeping one timestamp type engine-wide lets every downstream
    operator use instant functions (``unix_micros``, windowing,
    watermarks) unconditionally.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    nanos_cols = _nanos_columns(path)
    if nanos_cols:
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        for c in nanos_cols:
            # integer division — (col / 1000).cast("long") would round
            # through a double (ns epochs exceed 2^53) and drift by 1 µs
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    else:
        df = spark.read.parquet(path)
    ntz_cols = [
        f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"
    ]
    for c in ntz_cols:
        df = df.withColumn(c, df[c].cast("timestamp"))
    return df


_NANOS_CACHE: dict[str, tuple[str, ...]] = {}


def _nanos_columns(path: str) -> tuple[str, ...]:
    """Columns stored as TIMESTAMP(NANOS) (one cheap footer read,
    memoized). ``path`` may be a single parquet file or a Spark-written
    DIRECTORY of part files (one footer is representative — Spark
    writes a uniform schema)."""
    if path not in _NANOS_CACHE:
        import glob

        import pyarrow.parquet as pq

        probe = path
        if os.path.isdir(path):
            parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
            if not parts:
                _NANOS_CACHE[path] = ()
                return _NANOS_CACHE[path]
            probe = parts[0]
        _NANOS_CACHE[path] = tuple(
            f.name for f in pq.read_schema(probe) if str(f.type) == "timestamp[ns]"
        )
    return _NANOS_CACHE[path]


def register_views(spark: SparkSession, sf_dir: str, tables=TPCH_TABLES) -> None:
    """Register each test table as a temp view for the spark.sql surface."""
    for name in tables:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Full-refresh table sink (S4). ``partition_by`` enables partition
    pruning downstream — e.g. the fact table by incident year/month at
    100 TB scale."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_evolved(
    spark: SparkSession,
    path: str,
    target_schema,
    widen: dict[str, str] | None = None,
) -> DataFrame:
    """SCHEMA-EVOLUTION-tolerant parquet read — the lake reality a
    bare ``spark.read.parquet(dir)`` hides until it throws: a table
    directory accretes files written months apart, so old files MISS
    columns added later, and some columns were WIDENED (int→bigint,
    float→double) along the way. Spark's ``mergeSchema`` only unions
    column SETS — a type conflict between generations fails the read
    with CANNOT_MERGE_SCHEMAS (verified in tests), so evolution with
    widenings needs the generation-aware read this implements.

    Mechanics: group the files by footer schema (pyarrow metadata
    reads — no data IO; at lake scale this list comes from the table
    manifest/catalog rather than a directory walk), read each
    generation with its own fixed schema, project every generation to
    ``target_schema`` (missing columns → typed NULLs, type changes →
    casts), and union by name.

    Cast policy: per-column casts are applied when the on-disk type
    differs, but only LOSSLESS widenings (int ladder, float→double,
    date→timestamp) are accepted implicitly; anything else must be
    sanctioned by the caller in ``widen`` (column → SQL type) or the
    read refuses at PLAN time — a silent lossy cast in an ingest path
    is corruption, not convenience.

    Scale shape: footer reads are metadata-only; each generation scan
    prunes to the projected columns; the union is plan-level (no
    shuffle, no data movement beyond the scans).
    """
    import glob as _glob

    import pyarrow.parquet as _pq

    from pyspark.sql import functions as F

    widen = widen or {}
    safe = {
        ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
        ("smallint", "int"), ("smallint", "bigint"), ("int", "bigint"),
        ("float", "double"),
        ("tinyint", "double"), ("smallint", "double"), ("int", "double"),
        ("date", "timestamp"),
    }

    files = sorted(
        f
        for f in _glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))
    )
    groups: dict[str, list[str]] = {}
    for f in files:
        groups.setdefault(str(_pq.read_schema(f)), []).append(f)

    def project(gen: DataFrame) -> DataFrame:
        have = {f.name: f.dataType.simpleString() for f in gen.schema.fields}
        cols = []
        for f in target_schema.fields:
            want = f.dataType.simpleString()
            if f.name not in have:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            elif f.name in widen:
                cols.append(F.col(f.name).cast(widen[f.name]).alias(f.name))
            elif have[f.name] == want or (have[f.name], want) in safe:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                raise ValueError(
                    f"column {f.name!r}: on-disk {have[f.name]} -> target "
                    f"{want} is not a lossless widening; pass widen="
                    f"{{{f.name!r}: {want!r}}} to sanction it explicitly"
                )
        return gen.select(*cols)

    out: DataFrame | None = None
    for members in groups.values():
        gen = project(spark.read.parquet(*members))
        out = gen if out is None else out.unionByName(gen)
    if out is None:
        raise ValueError(f"no parquet files under {path!r}")
    return out
