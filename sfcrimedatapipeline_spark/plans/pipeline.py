"""End-to-end pipeline composition (SURVEY §2.9, §3).

The reference's orchestration is an Airflow DAG ``fetch → load →
transform [→ serve]`` (/root/reference/dags/ELT.py:361-378). Here each
stage is a pure DataFrame transform; ``run_pipeline`` is the plain
function composition. Atomicity maps to per-table overwrite writes —
same observable behavior as the reference's per-stage transactions,
because every run rebuilds all tables from staging anyway.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.operators.keys import load_order_id
from sfcrimedatapipeline_spark.plans.dims import (
    build_dim_incident,
    build_dim_location,
    build_dim_report_type,
    generate_dim_date,
    generate_dim_time,
)
from sfcrimedatapipeline_spark.plans.fact import build_fact_crime, serve_initial_reports
from sfcrimedatapipeline_spark.sources.csv import read_staging_csv
from sfcrimedatapipeline_spark.sources.serve import export_csv, fetch
from sfcrimedatapipeline_spark.sources.tables import write_table


def transform(
    staging_with_id: DataFrame,
    dim_date: DataFrame,
    dim_time: DataFrame,
    fix_report_time_id: bool = False,
) -> dict[str, DataFrame]:
    """The 7-statement transform graph (dags/ELT.py:113-301) as dataflow.

    The reference materializes every dim and the fact as a Postgres
    table before the next statement reads it; here every table of the
    graph is persisted instead, so each is computed once. The staging
    frame feeds the fact build and three dim DISTINCTs, the generated
    dims are joined more than once (DimTime twice in the fact build
    alone), and every returned table is read again by the serve query,
    the serve export and the table writes. CacheManager substitutes the
    caches into those plans.

    The caches live as long as the returned ``FactCrime`` frame: it is
    a projection over the cached fact (a finalizer holding the cached
    frame itself would keep it alive forever), and dropping it releases
    all of them. Dicts are not weakref-able, and every caller keeps the
    fact at least as long as the dims, so a long-lived app running many
    pipelines does not accumulate per-run caches.
    """
    from sfcrimedatapipeline_spark.functions.caching import (
        unpersist_when_released,
    )

    staging_with_id = staging_with_id.persist()
    dims = {
        "DimDate": dim_date.persist(),
        "DimTime": dim_time.persist(),
        "DimLocation": build_dim_location(staging_with_id).persist(),
        "DimIncident": build_dim_incident(staging_with_id).persist(),
        "DimReportType": build_dim_report_type(staging_with_id).persist(),
    }
    inner = build_fact_crime(
        staging_with_id, *dims.values(), fix_report_time_id=fix_report_time_id
    ).persist()
    fact = unpersist_when_released(
        inner.select("*"), staging_with_id, *dims.values(), inner
    )
    return {**dims, "FactCrime": fact}


def run_pipeline(
    spark: SparkSession,
    staging: DataFrame | str,
    output_dir: str | None = None,
    date_range: tuple[str, str] = ("2018-01-01", "2024-12-31"),
    fix_report_time_id: bool = False,
    serve: bool = True,
    source_url: str | None = None,
    serve_export_dir: str | None = None,
    observation: Observation | None = None,
) -> dict[str, DataFrame]:
    """Full refresh: extract (optional) → load → transform → (optional)
    serve + export — the reference DAG end-to-end (dags/ELT.py:361-378).

    ``staging`` is either an already-loaded DataFrame or a path to the
    pipe-delimited feed; with ``source_url`` set, the feed is first
    streamed to that path (S1, dags/ELT.py:22-36). If ``output_dir`` is
    given every table is materialized as parquet (overwrite, the
    reference's TRUNCATE+rebuild). ``serve_export_dir`` writes the
    serve result through the neutral CSV sink (S7, the Sheets stand-in).
    """
    if source_url is not None:
        if not isinstance(staging, str):
            raise ValueError("source_url requires `staging` to be a local path")
        fetch(source_url, staging)
    if isinstance(staging, str):
        staging = read_staging_csv(spark, staging)
    # pipeline observability: with an Observation passed in, data-quality
    # counters ride whatever action the caller already runs (write,
    # count) — no extra pass over the data, unlike a separate
    # .count()/.agg() preflight. observation.get blocks until the first
    # action computes the observed node.
    if observation is not None:
        staging = staging.observe(
            observation,
            F.count(F.lit(1)).alias("n_rows"),
            F.count("Incident Date").alias("n_with_incident_date"),
            F.sum(F.col("Latitude").isNull().cast("long")).alias("n_null_latitude"),
        )
    staging_with_id = load_order_id(staging, "id")

    tables = transform(
        staging_with_id,
        generate_dim_date(spark, *date_range),
        generate_dim_time(spark),
        fix_report_time_id=fix_report_time_id,
    )
    if serve:
        tables["ServeInitialReports"] = serve_initial_reports(
            tables["FactCrime"],
            tables["DimDate"],
            tables["DimTime"],
            tables["DimLocation"],
            tables["DimIncident"],
            tables["DimReportType"],
        )
        if serve_export_dir:
            export_csv(tables["ServeInitialReports"], serve_export_dir)
    if output_dir:
        for name, df in tables.items():
            write_table(df, os.path.join(output_dir, name))
    return tables
