"""Invariant tests for the star-schema pipeline (SURVEY §5.2.3-4,
FIXTURES.md §4): row preservation, NULL-key join semantics, NULLS-LAST
surrogate ordering, Filed Online normalization, bug-compatible
ReportTimeID."""

from __future__ import annotations

import gc
import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.operators.keys import load_order_id
from sfcrimedatapipeline_spark.plans.dims import (
    build_dim_incident,
    build_dim_location,
    build_dim_report_type,
    generate_dim_date,
    generate_dim_time,
)
from sfcrimedatapipeline_spark.plans.fact import build_fact_crime
from sfcrimedatapipeline_spark.plans.pipeline import run_pipeline
from sfcrimedatapipeline_spark.sources.csv import SFPD_TIMESTAMP_FORMAT


@pytest.fixture(scope="module")
def tables(spark, staging):
    t = run_pipeline(spark, staging, date_range=("2018-01-01", "2024-12-31"))
    t["FactCrime"] = t["FactCrime"].cache()
    return t


def test_fact_count_equals_staging(tables, staging):
    # LEFT joins never drop; deduped dims never fan out (FIXTURES §4)
    assert tables["FactCrime"].count() == staging.count()


def test_surrogate_keys_dense(tables):
    for name, key in [
        ("DimLocation", "LocationID"),
        ("DimIncident", "IncidentID"),
        ("DimReportType", "ReportTypeID"),
    ]:
        dim = tables[name]
        n = dim.count()
        stats = dim.agg(
            F.min(key).alias("lo"), F.max(key).alias("hi"), F.countDistinct(key).alias("d")
        ).first()
        assert (stats["lo"], stats["hi"], stats["d"]) == (1, n, n), name


def test_nulls_last_ordering(spark, staging):
    # Postgres ORDER BY ASC places NULLs LAST; the NULL-keyed dim row
    # must therefore get the HIGHEST id, not id 1 (SURVEY §7.4.2).
    dim = build_dim_location(staging)
    max_id = dim.agg(F.max("LocationID")).first()[0]
    null_rows = dim.filter(F.col("AnalysisNeighborhood").isNull())
    assert null_rows.count() > 0, "fixture must produce NULL neighborhoods"
    # all NULL-neighborhood rows sort after every non-NULL row of the
    # same district; the globally-last row has a NULL neighborhood
    assert dim.filter(F.col("LocationID") == max_id).first()["AnalysisNeighborhood"] is None


def test_null_keys_get_null_fk(tables, staging):
    # SQL '=' never matches NULL: NULL category → NULL IncidentID even
    # though DimIncident contains the NULL-keyed row (SURVEY §2.4 J5)
    n_null_cat = staging.filter(F.col("Incident Category").isNull()).count()
    assert n_null_cat > 0
    fact_null_fk = tables["FactCrime"].filter(F.col("IncidentID").isNull()).count()
    n_null_key = staging.filter(
        F.col("Incident Category").isNull()
        | F.col("Incident Subcategory").isNull()
        | F.col("Resolution").isNull()
    ).count()
    assert fact_null_fk == n_null_key


def test_filed_online_never_null(tables):
    assert tables["DimReportType"].filter(F.col("FiledOnline").isNull()).count() == 0
    # fixture has true-or-NULL only → normalized values are both present
    vals = {r["FiledOnline"] for r in tables["DimReportType"].select("FiledOnline").distinct().collect()}
    assert vals == {True, False}


def test_report_time_id_bug_compatible(tables):
    # default output reproduces dags/ELT.py:270: ReportTimeID == IncidentTimeID
    f = tables["FactCrime"]
    assert f.filter(F.col("ReportTimeID") != F.col("IncidentTimeID")).count() == 0


def test_report_time_id_fixed_variant(spark, staging):
    staged = load_order_id(staging, "id")
    dim_date = generate_dim_date(spark)
    dim_time = generate_dim_time(spark)
    fixed = build_fact_crime(
        staged,
        dim_date,
        dim_time,
        build_dim_location(staged),
        build_dim_incident(staged),
        build_dim_report_type(staged),
        fix_report_time_id=True,
    )
    joined = fixed.alias("f").join(
        staged.alias("s"), F.col("f.CrimeID") == F.col("s.id")
    )
    # fixed variant: ReportTimeID is the HHMMSS encoding of Report Datetime's time
    expect = (
        F.hour("s.`Report Datetime`") * 10000
        + F.minute("s.`Report Datetime`") * 100
        + F.second("s.`Report Datetime`")
    )
    assert joined.filter(F.col("f.ReportTimeID") != expect).count() == 0


def test_serve_query(tables):
    serve = tables["ServeInitialReports"]
    rows = serve.count()
    assert rows > 0
    assert "yearMonth" in serve.columns
    kinds = {r["ReportType"] for r in serve.select("ReportType").distinct().collect()}
    assert kinds <= {"Coplogic Initial", "Initial", "Vehicle Initial"}


def test_incident_date_fk_resolves(tables):
    # every staging date is inside the generated calendar range → FK non-NULL
    assert tables["FactCrime"].filter(F.col("IncidentDateID").isNull()).count() == 0
    assert tables["FactCrime"].filter(F.col("IncidentTimeID").isNull()).count() == 0


def test_run_pipeline_observation_metrics(spark, staging):
    """Quality counters ride the pipeline's own actions via the
    Observation API — no separate pass over staging."""
    from pyspark.sql import Observation

    from sfcrimedatapipeline_spark.plans.pipeline import run_pipeline

    obs = Observation("staging_load")
    tables = run_pipeline(spark, staging, serve=False, observation=obs)
    n_fact = tables["FactCrime"].count()  # the action that fills obs
    m = obs.get
    assert m["n_rows"] == n_fact == staging.count()
    assert 0 <= m["n_with_incident_date"] <= m["n_rows"]
    assert 0 <= m["n_null_latitude"] <= m["n_rows"]


@pytest.fixture()
def staging_file(staging, tmp_path) -> str:
    """The staging fixture as one plain pipe-delimited feed file (no
    Hadoop checksum file beside it, so reading it reads its size)."""
    out = str(tmp_path / "staging_parts")
    (
        staging.coalesce(1)
        .write.option("sep", "|")
        .option("header", True)
        .option("timestampFormat", SFPD_TIMESTAMP_FORMAT)
        .csv(out)
    )
    (part,) = glob.glob(os.path.join(out, "part-*.csv"))
    path = str(tmp_path / "staging.csv")
    shutil.copyfile(part, path)
    return path


def _local_bytes_read(spark) -> int:
    """Bytes the JVM has read through Hadoop's local file system so far
    (in local mode the executors' scans run in the same JVM)."""
    stats = spark._jvm.org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics()
    return stats.get("file").getLong("bytesRead")


def test_refresh_parses_the_staging_csv_once(spark, staging, staging_file, tmp_path):
    """A refresh reads its feed through exactly one scan. Load-order ids
    read the parsed feed three times and the star tables are read again
    by the serve query, the export and every table write; all of them
    read caches, so the bytes read from disk over the whole refresh are
    the file's size."""
    before = _local_bytes_read(spark)
    tables = run_pipeline(
        spark,
        staging_file,
        output_dir=str(tmp_path / "star"),
        serve_export_dir=str(tmp_path / "serve"),
    )
    assert _local_bytes_read(spark) - before == os.path.getsize(staging_file)
    assert tables["FactCrime"].count() == staging.count()


def test_refresh_caches_are_released_with_its_tables(spark, staging_file, tmp_path):
    """Every table a refresh returns is computed once from a cache, and
    every cache it creates is released once the caller drops the tables:
    the FactCrime frame carries the finalizer, so it must not be one of
    the cached frames the finalizer holds. (The count may also fall
    below the base: the generated dims are the same plans in every
    refresh, so an earlier refresh's still-held entries are shared.)"""
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    tables = run_pipeline(spark, staging_file, output_dir=str(tmp_path / "star"))
    assert all(tables[name].is_cached for name in tables if name.startswith("Dim"))
    del tables
    gc.collect()
    assert jsc.getPersistentRDDs().size() <= base


def _compiled_classes(spark) -> int:
    """Generated classes the session's JVM has compiled so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_refresh_compiles_nothing(spark, staging):
    """The daily refresh runs the same plan shapes every time, and the
    session's generated-code cache holds all of them: a second refresh
    in the same session compiles no new class. Each refresh's tables
    are dropped before the next, so both see the same cached state."""

    def refresh():
        tables = run_pipeline(spark, staging, serve=True)
        tables["ServeInitialReports"].collect()
        for df in tables.values():
            df.count()
        del tables
        gc.collect()

    refresh()
    before = _compiled_classes(spark)
    refresh()
    assert _compiled_classes(spark) - before == 0
