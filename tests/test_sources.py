"""Source/sink round-trips: the pipe-delimited staging feed (S2 — the
reference's actual entry surface, COPY at dags/ELT.py:92-98), the S1
fetch utility, and the S6/S7 serve tail, exercised end-to-end through
run_pipeline on a real file.
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.schemas import STAGING_SCHEMA
from sfcrimedatapipeline_spark.sources.csv import read_staging_csv
from sfcrimedatapipeline_spark.sources.serve import export_csv, fetch, to_pandas

COLS = [f.name for f in STAGING_SCHEMA.fields]


def _row(**overrides: str) -> str:
    """One pipe-delimited staging line; unset columns are empty → NULL
    (the COPY ``NULL ''`` semantics, dags/ELT.py:95)."""
    vals = {c: "" for c in COLS}
    vals.update(overrides)
    return "|".join(vals[c] for c in COLS)


BASE = dict(
    **{
        "Incident Datetime": "2023/01/31 09:15:00 AM",
        "Incident Date": "2023-01-31",
        "Incident Time": "9:15:00",
        "Incident Year": "2023",
        "Incident Day of Week": "Tuesday",
        "Report Datetime": "2023/01/31 10:00:00 PM",
        "Row ID": "123456789",
        "Incident Number": "230001",
        "Report Type Code": "II",
        "Report Type Description": "Initial",
        "Incident Category": "Larceny Theft",
        "Incident Subcategory": "Shoplifting",
        "Incident Description": "Theft from store",
        "Resolution": "Open or Active",
        "Police District": "Mission",
        "Analysis Neighborhood": "Mission",
        "Latitude": "37.77",
        "Longitude": "-122.42",
    }
)


@pytest.fixture()
def staging_csv(tmp_path) -> str:
    lines = [
        "|".join(COLS),
        _row(**{**BASE, "Filed Online": "true"}),
        # Filed Online matches row 1: a (desc, code) pair with BOTH a
        # true and a NULL variant would fan out through the J7 join (the
        # documented reference edge, covered by j7_dedup_nonkey_join)
        _row(
            **{
                **BASE,
                "Filed Online": "true",
                "Incident Time": "23:59:59",
                "Row ID": "123456790",
            }
        ),
        _row(  # sparse row: most fields empty → NULL
            **{
                "Incident Datetime": "2023/02/01 12:00:00 PM",
                "Incident Date": "2023-02-01",
                "Incident Time": "12:00:00",
                "Report Datetime": "2023/02/01 01:30:00 PM",
                "Row ID": "123456791",
                "Report Type Code": "VI",
                "Report Type Description": "Vehicle Initial",
            }
        ),
    ]
    path = tmp_path / "staging.csv"
    path.write_text("\n".join(lines) + "\n")
    return str(path)


def test_staging_csv_round_trip(spark, staging_csv):
    df = read_staging_csv(spark, staging_csv)
    rows = {r["Row ID"]: r for r in df.collect()}
    assert len(rows) == 3
    full = rows[123456789]
    # pinned SFPD timestamp format: 09:15:00 AM parses to 09:15, PM to 22:00
    assert (full["Incident Datetime"].hour, full["Incident Datetime"].minute) == (9, 15)
    assert rows[123456789]["Report Datetime"].hour == 22
    assert full["Filed Online"] is True
    assert full["Latitude"] == 37.77
    # empty fields load as NULL, not empty string / zero
    assert full["CAD Number"] is None and full["Intersection"] is None
    sparse = rows[123456791]
    assert sparse["Filed Online"] is None
    assert sparse["Incident Category"] is None
    assert sparse["Police District"] is None


def test_staging_csv_failfast_on_malformed(spark, tmp_path):
    path = tmp_path / "bad.csv"
    path.write_text(
        "|".join(COLS) + "\n" + _row(**{"Incident Datetime": "not-a-timestamp"}) + "\n"
    )
    with pytest.raises(Exception, match="(?i)malformed|failfast|cannot"):
        read_staging_csv(spark, str(path)).collect()
    # PERMISSIVE mode keeps the row with a NULL in the bad column
    lenient = read_staging_csv(spark, str(path), failfast=False).collect()
    assert len(lenient) == 1 and lenient[0]["Incident Datetime"] is None


def test_fetch_streams_to_local_file(tmp_path):
    src = tmp_path / "feed.csv"
    payload = "a|b|c\n1|2|3\n" * 1000  # multiple 8K chunks
    src.write_text(payload)
    dst = tmp_path / "fetched.csv"
    out = fetch(src.as_uri(), str(dst))
    assert out == str(dst)
    assert dst.read_text() == payload


def test_export_csv_and_to_pandas(spark, tmp_path):
    df = spark.range(5).select(
        F.col("id"), (F.col("id") * 2).alias("doubled")
    )
    pdf = to_pandas(df)
    assert list(pdf.columns) == ["id", "doubled"] and len(pdf) == 5
    out_dir = str(tmp_path / "export")
    export_csv(df, out_dir)
    parts = glob.glob(os.path.join(out_dir, "part-*.csv"))
    assert len(parts) == 1  # single-sheet shape
    lines = open(parts[0]).read().strip().splitlines()
    assert lines[0] == "id,doubled" and len(lines) == 6


def test_pipeline_end_to_end_from_file(spark, staging_csv, tmp_path):
    """fetch → load (real CSV) → transform → serve → export, the full
    reference DAG shape (dags/ELT.py:361-378) on a real feed file."""
    from sfcrimedatapipeline_spark.plans.pipeline import run_pipeline

    feed = str(tmp_path / "downloaded.csv")
    export_dir = str(tmp_path / "serve_out")
    tables = run_pipeline(
        spark,
        feed,
        source_url="file://" + staging_csv,
        date_range=("2023-01-01", "2023-12-31"),
        serve_export_dir=export_dir,
    )
    assert tables["FactCrime"].count() == 3
    # load-order ids are dense 1..N from the file
    ids = sorted(r["CrimeID"] for r in tables["FactCrime"].collect())
    assert ids == [1, 2, 3]
    # the serve star join is INNER on every FK (dags/ELT.py:322-327): the
    # sparse row's NULL LocationID/IncidentID drop it, leaving the two
    # fully-populated Initial reports
    serve_rows = tables["ServeInitialReports"].collect()
    assert len(serve_rows) == 2
    parts = glob.glob(os.path.join(export_dir, "part-*.csv"))
    assert len(parts) == 1
    exported = open(parts[0]).read().strip().splitlines()
    assert exported[0].startswith("IncidentDescription,")
    assert len(exported) == 3


def test_approx_distinct_within_tolerance(spark):
    # HLL++ rsd=0.02: assert the ±5% practical contract vs exact counts
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.plans.events_queries import a7_approx_distinct
    from sfcrimedatapipeline_spark.sources.tables import read_table

    sf = "/root/testdata/sf0.01"
    approx = {
        r["event_type"]: r["approx_users"] for r in a7_approx_distinct(spark, sf).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in read_table(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for et, n in exact.items():
        assert abs(approx[et] - n) <= max(2, 0.05 * n), (et, approx[et], n)


def test_read_table_normalizes_tz_naive_timestamps(spark, tmp_path):
    """The driver regenerates testdata between rounds and has shipped
    both TIMESTAMP(NANOS) and tz-naive TIMESTAMP(MICROS) (Spark 4 reads
    the latter as TIMESTAMP_NTZ, which broke every unix_micros
    consumer at round-4 start). read_table must hand every consumer a
    plain TIMESTAMP column for any physical flavor."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.sources.tables import read_table

    d = tmp_path / "sfdir"
    d.mkdir()
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    for name, unit in (("ev_us", "us"), ("ev_ns", "ns")):
        table = pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array([t0, t0 + dt.timedelta(seconds=1)],
                               pa.timestamp(unit)),
            }
        )
        pq.write_table(table, str(d / f"{name}.parquet"))
    for name in ("ev_us", "ev_ns"):
        df = read_table(spark, str(d), name)
        assert df.schema["ts"].dataType.typeName() == "timestamp", name
        got = df.select(F.unix_micros("ts").alias("us")).orderBy("us").collect()
        assert got[0].us == int(t0.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)


def test_small_single_file_read_fans_out(spark):
    """A table read from one small parquet file is one scan partition,
    so ``ensure_min_partitions`` fans it out to the target. The target
    is passed explicitly: the session's own parallelism is high enough
    that any under-partitioned read would fan out."""
    from sfcrimedatapipeline_spark.functions.partitioning import ensure_min_partitions
    from sfcrimedatapipeline_spark.sources.tables import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    assert docs.rdd.getNumPartitions() == 1
    assert ensure_min_partitions(docs, 4).rdd.getNumPartitions() == 4


def test_jsonl_permissive_quarantines_corrupt_lines(spark, tmp_path):
    """PERMISSIVE ingest: valid lines parse, malformed lines land whole
    in _corrupt_record with data columns NULL — every input line is
    accounted for (clean + quarantined == total)."""
    from sfcrimedatapipeline_spark.sources.jsonl import read_jsonl_permissive

    p = tmp_path / "feed"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"id": 1, "text": "ok"}\n'
        'this is not json\n'
        '{"id": 2, "text": "also ok"}\n'
        '{"id": "NOT_A_NUMBER", "text": "type error"}\n'
    )
    df = read_jsonl_permissive(spark, str(p), "id long, text string").cache()
    rows = df.collect()
    assert len(rows) == 4
    clean = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert {r.id for r in clean} == {1, 2}
    assert len(bad) == 2
    assert any("not json" in r._corrupt_record for r in bad)
    df.unpersist()


def test_histogram_null_bin(spark):
    """Default path excludes NULLs (matching the oracle); null_bin=True
    reports them in a dedicated bin -1 row with NULL bounds, so no row
    of any kind goes uncounted (ADVICE r4)."""
    from sfcrimedatapipeline_spark.operators.profile import histogram

    df = spark.createDataFrame(
        [(0.5,), (1.5,), (None,), (None,), (9.9,)], "v double"
    )
    default = {r.bin: r.n for r in histogram(df, "v", 0.0, 10.0, 5).collect()}
    assert -1 not in default and sum(default.values()) == 3

    rows = {r.bin: r for r in histogram(df, "v", 0.0, 10.0, 5, null_bin=True).collect()}
    assert rows[-1].n == 2
    assert rows[-1].bin_lo is None and rows[-1].bin_hi is None
    assert sum(r.n for r in rows.values()) == 5
    assert rows[0].n == 2 and rows[4].n == 1


def test_csv_permissive_quarantines_bad_lines(spark, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from sfcrimedatapipeline_spark.sources.csv import read_csv_permissive

    p = tmp_path / "feed.csv"
    p.write_text(
        "1,alpha,10\n"
        "2,beta,not_an_int\n"   # type error → quarantined
        "3,gamma,30\n"
    )
    schema = StructType(
        [
            StructField("id", IntegerType()),
            StructField("name", StringType()),
            StructField("n", IntegerType()),
        ]
    )
    df = read_csv_permissive(spark, str(p), schema).cache()
    try:
        total = df.count()
        clean = df.filter(F.col("_corrupt_record").isNull())
        quarantined = df.filter(F.col("_corrupt_record").isNotNull())
        assert total == 3
        assert clean.count() == 2
        assert quarantined.count() == 1
        bad = quarantined.collect()[0]
        assert bad._corrupt_record == "2,beta,not_an_int"
        assert bad.n is None
        assert {r.id for r in clean.collect()} == {1, 3}
    finally:
        df.unpersist()


def test_read_evolved_merges_schemas_defaults_and_widens(spark, tmp_path):
    """Three generations of one table directory: v1 (int value, no
    label), v2 (adds label), v3 (value widened to bigint). read_evolved
    returns the v3 target for ALL rows: v1/v2 ints widened, v1's label
    NULL — and refuses a narrowing unless sanctioned via widen=."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from sfcrimedatapipeline_spark.sources.tables import read_evolved

    d = str(tmp_path / "t")
    spark.createDataFrame([(1, 10)], "id int, value int").write.mode(
        "append"
    ).parquet(d)
    spark.createDataFrame(
        [(2, 20, "b")], "id int, value int, label string"
    ).write.mode("append").parquet(d)
    spark.createDataFrame(
        [(3, 2**40, "c")], "id int, value bigint, label string"
    ).write.mode("append").parquet(d)

    target = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("value", T.LongType()),
            T.StructField("label", T.StringType()),
        ]
    )
    # the naive read path really does fail on this layout — the
    # failure mode read_evolved exists for
    with pytest.raises(Exception, match="CANNOT_MERGE_SCHEMAS|merg"):
        spark.read.option("mergeSchema", "true").parquet(d).collect()

    out = read_evolved(spark, d, target)
    assert out.schema.simpleString() == "struct<id:int,value:bigint,label:string>"
    rows = {r["id"]: (r["value"], r["label"]) for r in out.collect()}
    assert rows == {1: (10, None), 2: (20, "b"), 3: (2**40, "c")}

    narrow = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("value", T.IntegerType()),
            T.StructField("label", T.StringType()),
        ]
    )
    with pytest.raises(ValueError, match="lossless widening"):
        read_evolved(spark, d, narrow)
    sanctioned = read_evolved(spark, d, narrow, widen={"value": "int"})
    assert dict(sanctioned.dtypes)["value"] == "int"


def test_jsonl_sink_roundtrip_and_overwrite(spark, tmp_path):
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.sources.jsonl import (
        read_jsonl,
        register_jsonl_sink,
    )

    register_jsonl_sink(spark)
    p = str(tmp_path / "sink")
    df = spark.range(100, numPartitions=4).select(
        F.col("id"), (F.col("id") * 2).alias("dbl"), F.lit("x").alias("tag")
    )
    df.write.format("jsonlsink").option("path", p).mode("overwrite").save()
    import json
    import os

    # files-then-manifest protocol: _SUCCESS records the totals
    with open(os.path.join(p, "_SUCCESS")) as fh:
        manifest = json.load(fh)
    assert manifest == {"rows": 100, "files": 4}
    back = read_jsonl(spark, p, "id long, dbl long, tag string")
    assert back.count() == 100
    assert back.agg(F.sum("dbl")).collect()[0][0] == 2 * sum(range(100))

    # overwrite clears prior contents (write fewer rows, nothing stale)
    spark.range(7).select(
        F.col("id"), F.col("id").alias("dbl"), F.lit("y").alias("tag")
    ).write.format("jsonlsink").option("path", p).mode("overwrite").save()
    assert read_jsonl(spark, p, "id long, dbl long, tag string").count() == 7


def test_jsonl_sink_append_is_lossless(spark, tmp_path):
    """ADVICE r6: append jobs get a per-job uuid in part filenames, so
    a second append with overlapping partition ids adds rows instead of
    silently overwriting, and _SUCCESS folds prior jobs' totals in."""
    import json
    import os

    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.sources.jsonl import (
        read_jsonl,
        register_jsonl_sink,
    )

    register_jsonl_sink(spark)
    p = str(tmp_path / "sink")
    mk = lambda n, tag: spark.range(n, numPartitions=2).select(
        F.col("id"), F.col("id").alias("dbl"), F.lit(tag).alias("tag")
    )
    mk(10, "a").write.format("jsonlsink").option("path", p).mode("overwrite").save()
    mk(5, "b").write.format("jsonlsink").option("path", p).mode("append").save()
    back = read_jsonl(spark, p, "id long, dbl long, tag string")
    assert back.count() == 15  # both jobs' rows survive
    assert back.where("tag = 'a'").count() == 10
    with open(os.path.join(p, "_SUCCESS")) as fh:
        assert json.load(fh) == {"rows": 15, "files": 4}


def test_jsonl_corrupt_success_recovers_via_journal(spark, tmp_path):
    """Append onto a table whose _SUCCESS was corrupted: the commit
    must WARN, rebuild prior totals from the per-file journal
    (_SUCCESS.files — O(#files), not O(rows)), and produce exact
    totals."""
    from sfcrimedatapipeline_spark.sources.jsonl import register_jsonl_sink

    register_jsonl_sink(spark)
    out = str(tmp_path / "t")
    df1 = spark.range(7).selectExpr("id", "CAST(id AS STRING) AS s")
    df1.coalesce(2).write.format("jsonlsink").option("path", out).mode(
        "overwrite"
    ).save()
    with open(os.path.join(out, "_SUCCESS")) as fh:
        assert json.load(fh)["rows"] == 7
    journal = os.path.join(out, "_SUCCESS.files")
    assert os.path.exists(journal)
    with open(os.path.join(out, "_SUCCESS"), "w") as fh:
        fh.write("{corrupt json")
    df2 = spark.range(100, 105).selectExpr("id", "CAST(id AS STRING) AS s")
    # the recovery UserWarning is emitted inside the data-source COMMIT
    # python worker (a separate process — it lands on the worker's
    # stderr/log, not in this process's warning filters), so the test
    # pins the observable recovery RESULT: exact totals via the journal
    df2.coalesce(1).write.format("jsonlsink").option("path", out).mode(
        "append"
    ).save()
    with open(os.path.join(out, "_SUCCESS")) as fh:
        manifest = json.load(fh)
    assert manifest["rows"] == 12
    assert manifest["files"] == 3
    # the journal now records every committed part with its row count
    with open(journal) as fh:
        recs = [json.loads(line) for line in fh]
    assert sum(r["rows"] for r in recs) == 12
    assert len(recs) == 3
