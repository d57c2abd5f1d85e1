"""Driver-gated star-schema queries: the REAL fact build + serve query
under the DuckDB oracle (VERDICT r2 next-round #4).

The pipeline operators (plans/fact.py, plans/dims.py) were previously
pytest-gated on an xxhash64-synthesized staging fixture DuckDB cannot
reproduce. Here the staging frame is derived from the ``events`` table
with ONLY SQL-expressible, engine-identical expressions (modular picks,
integer microsecond arithmetic, IEEE double math), so the full 7-join
fact build (/root/reference/dags/ELT.py:264-289) and the serve query
(dags/ELT.py:308-333) run end-to-end on BOTH engines and hash-compare:

- ``fact_crime_build``: staging → real ``transform()`` (all five dims +
  7 LEFT joins, NULL keys never match, bug-compatible ReportTimeID) →
  FactCrime. Oracle recomputes DateID/TimeID arithmetically (every
  incident/report date falls inside the generated calendar, every
  "H:mm:ss" string matches the 86,400-row DimTime, so the generated-dim
  joins are total functions) and the three staging-derived dims as
  ROW_NUMBER-over-DISTINCT with NULLS LAST — byte-for-byte the
  surrogate-key discipline of ``operators.keys.surrogate_key``.
- ``serve_initial_reports``: the 5-way inner star join + IN filter +
  14-column projection. The oracle expresses the inner joins as
  NULL-FK row drops (a fact row survives iff every joined dim key was
  non-NULL) and recomputes the DimDate/DimTime attributes (holiday
  CASE, weekend, 12-hour clock, time-of-day buckets) from first
  principles.

The ``id`` column is event_id (unique, stable) standing in for the
load-order SERIAL — load_order_id itself is gated by w2_load_order_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.functions.caching import keep_alive_until_released
from sfcrimedatapipeline_spark.plans import fact as fact_ops
from sfcrimedatapipeline_spark.plans.dims import generate_dim_date, generate_dim_time
from sfcrimedatapipeline_spark.plans.pipeline import transform
from sfcrimedatapipeline_spark.sources.tables import read_table
from sfcrimedatapipeline_spark.testing import (
    _CATEGORIES,
    _DISTRICTS,
    _REPORT_TYPES,
    _RESOLUTIONS,
)

#: Calendar bounds covering every incident ts (Jan 2024) + 72h report lag.
DATE_RANGE = ("2024-01-01", "2024-02-29")

SERVE_TYPES = ("Coplogic Initial", "Initial", "Vehicle Initial")


def _staging_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staging-shaped frame from ``events`` via engine-identical
    expressions (the oracle twin is ``_STAGING_SQL``)."""
    ev = read_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    ts = F.col("ts")
    rts = F.timestamp_micros(
        F.unix_micros(ts) + (eid % 72) * F.lit(3_600_000_000)
    )
    cat = F.when(eid % 50 == 0, F.lit(None).cast("string")).otherwise(
        F.element_at(F.lit(list(_CATEGORIES)), (eid % 10 + 1).cast("int"))
    )
    rt_idx = (eid % 5).cast("int")
    return ev.select(
        eid.alias("id"),
        F.to_date(ts).alias("Incident Date"),
        F.date_format(ts, "H:mm:ss").alias("Incident Time"),
        rts.alias("Report Datetime"),
        F.element_at(F.lit([c for c, _ in _REPORT_TYPES]), rt_idx + 1).alias(
            "Report Type Code"
        ),
        F.element_at(F.lit([d for _, d in _REPORT_TYPES]), rt_idx + 1).alias(
            "Report Type Description"
        ),
        # true-or-NULL, functionally dependent on the code so the
        # 3-col DimReportType dedup cannot fan the 2-key join out
        F.when(rt_idx == 4, F.lit(True))
        .otherwise(F.lit(None).cast("boolean"))
        .alias("Filed Online"),
        cat.alias("Incident Category"),
        F.when(eid % 41 == 0, F.lit(None).cast("string"))
        .otherwise(
            F.concat(
                F.coalesce(cat, F.lit("None")),
                F.lit(" - sub "),
                (eid % 2).cast("string"),
            )
        )
        .alias("Incident Subcategory"),
        F.concat(F.lit("desc "), (eid % 400).cast("string")).alias(
            "Incident Description"
        ),
        F.element_at(F.lit(list(_RESOLUTIONS)), (eid % 4 + 1).cast("int")).alias(
            "Resolution"
        ),
        F.when(eid % 20 == 0, F.lit(None).cast("string"))
        .otherwise(
            F.concat(
                (eid % 50).cast("string"),
                F.lit("TH ST \\ "),
                (eid % 30).cast("string"),
                F.lit("TH AVE"),
            )
        )
        .alias("Intersection"),
        F.element_at(F.lit(list(_DISTRICTS)), (eid % 11 + 1).cast("int")).alias(
            "Police District"
        ),
        F.when(eid % 13 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("Neighborhood "), (eid % 41).cast("string")))
        .alias("Analysis Neighborhood"),
        F.when(eid % 19 == 0, F.lit(None).cast("double"))
        .otherwise(F.lit(37.70) + (eid % 13000) / F.lit(100000.0))
        .alias("Latitude"),
        F.when(eid % 19 == 0, F.lit(None).cast("double"))
        .otherwise(F.lit(-122.51) + (eid % 15000) / F.lit(100000.0))
        .alias("Longitude"),
    )


def fact_crime_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full FactCrime build through the real pipeline transform."""
    return transform(
        _staging_from_events(spark, sf_dir),
        generate_dim_date(spark, *DATE_RANGE),
        generate_dim_time(spark),
    )["FactCrime"]


def serve_initial_reports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serve/analytics query over the freshly built star schema."""
    t = transform(
        _staging_from_events(spark, sf_dir),
        generate_dim_date(spark, *DATE_RANGE),
        generate_dim_time(spark),
    )
    out = fact_ops.serve_initial_reports(
        t["FactCrime"],
        t["DimDate"],
        t["DimTime"],
        t["DimLocation"],
        t["DimIncident"],
        t["DimReportType"],
    )
    # transform's caches live as long as the FactCrime wrapper
    return keep_alive_until_released(out, t["FactCrime"])


def _sql_list(values) -> str:
    return "[" + ", ".join(f"'{v}'" for v in values) + "]"


def build_oracle_sql() -> dict[str, str]:
    cats = _sql_list(_CATEGORIES)
    districts = _sql_list(_DISTRICTS)
    resolutions = _sql_list(_RESOLUTIONS)
    codes = _sql_list(c for c, _ in _REPORT_TYPES)
    descs = _sql_list(d for _, d in _REPORT_TYPES)
    serve_in = ", ".join(f"'{v}'" for v in SERVE_TYPES)

    # Shared staging twin: every expression mirrors _staging_from_events
    # one-for-one (modular picks over the same lists, same NULL
    # conditions, same integer-microsecond report lag).
    staging = f"""
        ev AS (
            SELECT event_id AS id,
                   CAST(ts AS TIMESTAMP) AS its,
                   make_timestamp(epoch_us(CAST(ts AS TIMESTAMP))
                                  + (event_id % 72) * 3600000000) AS rts
            FROM events
        ),
        s1 AS (
            SELECT id, its, rts,
                   CAST(its AS DATE) AS idate,
                   CAST(rts AS DATE) AS rdate,
                   CASE WHEN id % 50 = 0 THEN NULL
                        ELSE {cats}[CAST(id % 10 AS INT) + 1] END AS category,
                   {resolutions}[CAST(id % 4 AS INT) + 1] AS resolution,
                   {codes}[CAST(id % 5 AS INT) + 1] AS rtcode,
                   {descs}[CAST(id % 5 AS INT) + 1] AS rtype,
                   CASE WHEN id % 5 = 4 THEN TRUE ELSE NULL END AS filed_raw,
                   'desc ' || CAST(id % 400 AS VARCHAR) AS descr,
                   CASE WHEN id % 20 = 0 THEN NULL
                        ELSE CAST(id % 50 AS VARCHAR) || 'TH ST \\ '
                             || CAST(id % 30 AS VARCHAR) || 'TH AVE' END AS intersection,
                   {districts}[CAST(id % 11 AS INT) + 1] AS district,
                   CASE WHEN id % 13 = 0 THEN NULL
                        ELSE 'Neighborhood ' || CAST(id % 41 AS VARCHAR) END AS neighborhood,
                   CASE WHEN id % 19 = 0 THEN NULL
                        ELSE 37.70 + (id % 13000) / 100000.0 END AS lat,
                   CASE WHEN id % 19 = 0 THEN NULL
                        ELSE -122.51 + (id % 15000) / 100000.0 END AS lon
            FROM ev
        ),
        s AS (
            SELECT *,
                   CASE WHEN id % 41 = 0 THEN NULL
                        ELSE coalesce(category, 'None') || ' - sub '
                             || CAST(id % 2 AS VARCHAR) END AS subcat
            FROM s1
        ),
        di AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY category ASC NULLS LAST,
                                           subcat ASC NULLS LAST,
                                           resolution ASC NULLS LAST) AS INTEGER) AS incident_id,
                   category, subcat, resolution
            FROM (SELECT DISTINCT category, subcat, resolution FROM s) t
        ),
        dl AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY district ASC NULLS LAST,
                                           neighborhood ASC NULLS LAST) AS INTEGER) AS location_id,
                   district, neighborhood
            FROM (SELECT DISTINCT district, neighborhood FROM s) t
        ),
        dr AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY rtype ASC NULLS LAST,
                                           rtcode ASC NULLS LAST,
                                           filed_raw ASC NULLS LAST) AS INTEGER) AS report_type_id,
                   rtype, rtcode
            FROM (SELECT DISTINCT rtype, rtcode, filed_raw FROM s) t
        )
    """

    return {
        # DateID/TimeID computed arithmetically: every idate/rdate falls
        # inside DATE_RANGE and every FullTime24 string matches one of
        # the 86,400 DimTime rows, so the generated-dim LEFT joins are
        # total functions of the timestamp (j2/dim oracles prove the
        # formula parity). ReportTimeID = incident TimeID — the
        # reference's dead-join bug, reproduced (dags/ELT.py:270).
        "fact_crime_build": f"""
            WITH {staging}
            SELECT s.id AS CrimeID,
                   CAST(strftime(idate, '%Y%m%d') AS INTEGER) AS IncidentDateID,
                   CAST(hour(its)*10000 + minute(its)*100 + second(its) AS INTEGER) AS IncidentTimeID,
                   CAST(strftime(rdate, '%Y%m%d') AS INTEGER) AS ReportDateID,
                   CAST(hour(its)*10000 + minute(its)*100 + second(its) AS INTEGER) AS ReportTimeID,
                   dl.location_id AS LocationID,
                   di.incident_id AS IncidentID,
                   dr.report_type_id AS ReportTypeID,
                   descr AS IncidentDescription,
                   intersection AS Intersection,
                   lat AS Latitude,
                   lon AS Longitude
            FROM s
            LEFT JOIN di ON s.category = di.category AND s.subcat = di.subcat
                        AND s.resolution = di.resolution
            LEFT JOIN dl ON s.district = dl.district AND s.neighborhood = dl.neighborhood
            LEFT JOIN dr ON s.rtype = dr.rtype AND s.rtcode = dr.rtcode
        """,
        # Inner star join ≡ "every FK resolved": IncidentID requires all
        # three incident keys non-NULL, LocationID requires the
        # neighborhood (district is never NULL), Date/Time/ReportType
        # FKs always resolve. Dim attributes recomputed from first
        # principles (DuckDB dow: Sunday=0..Saturday=6).
        "serve_initial_reports": f"""
            WITH {staging},
            x AS (
                SELECT s.*,
                       month(idate) AS mo, dayofmonth(idate) AS dom,
                       dayofweek(idate) AS dow,
                       hour(its) AS h, minute(its) AS mi, second(its) AS sec
                FROM s
                WHERE rtype IN ({serve_in})
                  AND category IS NOT NULL AND subcat IS NOT NULL
                  AND resolution IS NOT NULL
                  AND district IS NOT NULL AND neighborhood IS NOT NULL
            )
            SELECT descr AS IncidentDescription,
                   intersection AS Intersection,
                   lat AS Latitude,
                   lon AS Longitude,
                   idate AS IncidentFullDate,
                   CASE WHEN mo=1 AND dom=1 THEN 'New Year''s Day'
                        WHEN mo=1 AND dow=1 AND dom BETWEEN 15 AND 21 THEN 'Martin Luther King Jr. Day'
                        WHEN mo=2 AND dow=1 AND dom BETWEEN 15 AND 21 THEN 'Presidents'' Day'
                        WHEN mo=5 AND dow=1 AND dom >= 25 THEN 'Memorial Day'
                        WHEN mo=6 AND dom=19 THEN 'Juneteenth'
                        WHEN mo=7 AND dom=4 THEN 'Independence Day'
                        WHEN mo=9 AND dow=1 AND dom <= 7 THEN 'Labor Day'
                        WHEN mo=10 AND dow=1 AND dom BETWEEN 8 AND 14 THEN 'Columbus Day'
                        WHEN mo=11 AND dom=11 THEN 'Veterans Day'
                        WHEN mo=11 AND dow=4 AND dom BETWEEN 22 AND 28 THEN 'Thanksgiving'
                        WHEN mo=12 AND dom=25 THEN 'Christmas Day'
                        ELSE NULL END AS IncidentHolidayName,
                   dow IN (0, 6) AS IncidentisWeekend,
                   CAST(CASE WHEN h % 12 = 0 THEN 12 ELSE h % 12 END AS VARCHAR)
                     || ':' || lpad(CAST(mi AS VARCHAR), 2, '0')
                     || ':' || lpad(CAST(sec AS VARCHAR), 2, '0')
                     || ' ' || CASE WHEN h < 12 THEN 'AM' ELSE 'PM' END AS IncidentFullTime12,
                   CASE WHEN h < 6 THEN 'Night' WHEN h < 12 THEN 'Morning'
                        WHEN h < 13 THEN 'Noon' WHEN h < 17 THEN 'Afternoon'
                        WHEN h < 20 THEN 'Evening' ELSE 'Night' END AS IncidentTimeOfDay,
                   district AS PoliceDistrict,
                   neighborhood AS AnalysisNeighborhood,
                   category AS IncidentCategory,
                   subcat AS IncidentSubcategory,
                   rtype AS ReportType,
                   strftime(idate, '%Y-%m') AS yearMonth
            FROM x
        """,
        # fact → DimLocation back-join (NULL LocationID rows keep NULL
        # district — the NULL-key join contract), then CUBE; Spark's
        # grouping_id bit order reproduced as grouping(a)*2+grouping(b)
        "fact_cube_districts": f"""
            WITH {staging},
            fact AS (
                SELECT s.id, dl.location_id, s.descr
                FROM s
                LEFT JOIN dl ON s.district = dl.district
                            AND s.neighborhood = dl.neighborhood
            ),
            j AS (
                SELECT d2.district AS district,
                       f.descr IS NOT NULL AS has_description
                FROM fact f LEFT JOIN dl d2 ON f.location_id = d2.location_id
            )
            SELECT district, has_description,
                   CAST(count(*) AS BIGINT) AS n_incidents,
                   CAST(grouping(district) * 2 + grouping(has_description)
                        AS INTEGER) AS gid
            FROM j GROUP BY CUBE(district, has_description)
        """,
    }


QUERIES = {
    "fact_crime_build": fact_crime_build,
    "serve_initial_reports": serve_initial_reports,
}

ORACLE_SQL = build_oracle_sql()


def fact_cube_districts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP CUBE over the freshly built star: incident counts across
    all four (district, resolution) grouping combinations with
    grouping_id — the dashboard rollup the reference's Tableau sheet
    implies but never materializes: fact_crime_build's transform graph
    plus one broadcast join and the cube aggregate."""
    t = transform(
        _staging_from_events(spark, sf_dir),
        generate_dim_date(spark, *DATE_RANGE),
        generate_dim_time(spark),
    )
    fact = t["FactCrime"]
    dim_loc = t["DimLocation"]
    joined = fact.join(
        F.broadcast(dim_loc),
        fact["LocationID"] == dim_loc["LocationID"],
        "left",
    )
    out = (
        joined.cube(
            F.col("PoliceDistrict").alias("district"),
            F.col("IncidentDescription").isNotNull().alias("has_description"),
        )
        .agg(
            F.count("*").cast("long").alias("n_incidents"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )
    return keep_alive_until_released(out, fact)


QUERIES["fact_cube_districts"] = fact_cube_districts
