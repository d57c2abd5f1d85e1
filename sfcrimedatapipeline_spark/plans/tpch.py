"""Driver-harness queries: SURVEY §2's operator inventory re-targeted at
the driver's TPC-H-ish test tables (TESTDATA.md), each paired with a
DuckDB oracle (ORACLE_SQL) for the hash-compare correctness gate.

Conventions shared by both sides (critical for the value-hash match):
- every computed column is aliased identically in Spark and SQL;
- money aggregates are computed in DECIMAL(18,2) (exact, order-
  independent) — summing raw doubles would make the hash depend on
  Spark's nondeterministic reduction order;
- ``row_number``/``year`` outputs are cast to INT on both sides
  (DuckDB's default is BIGINT, Spark's is INT).

Reference-op provenance is cited per query (file:line into
/root/reference/dags/ELT.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.functions.caching import exit_temp_dir, truncate_lineage
from sfcrimedatapipeline_spark.operators.keys import dense_ids
from sfcrimedatapipeline_spark.sources.tables import read_table

QueryFn = Callable[[SparkSession, str], DataFrame]

_DEC = "decimal(18,2)"


# --- scans & projections (S-, P-series) ------------------------------------

def p1_project_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 column projection + aliasing (dags/ELT.py:194-196 et al.)."""
    return read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_name").alias("customer_name"),
        F.col("c_mktsegment").alias("market_segment"),
    )


def p2_null_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 NULL-defaulting CASE (dags/ELT.py:237-240): coalesce over a
    synthesized-NULL column (the test tables have no native NULLs)."""
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id"),
        F.coalesce(F.nullif(F.col("event_type"), F.lit("click")), F.lit("none")).alias(
            "event_kind"
        ),
    )


def p3_cast_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 timestamp→date cast used as a key expression (dags/ELT.py:281)."""
    return read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_orderdate").cast("date").alias("order_date"),
    )


def p4_cast_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 timestamp→time cast (dags/ELT.py:282) — the engine's TIME
    representation is the unpadded-hour "H:mm:ss" string (SURVEY §1.2)."""
    return read_table(spark, sf_dir, "events").select(
        F.col("event_id"),
        F.date_format(F.col("ts"), "H:mm:ss").alias("event_time"),
    )


def p5_in_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 IN-list filter (dags/ELT.py:328)."""
    return (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(
            F.col("o_orderkey").alias("order_key"),
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderstatus").alias("status"),
        )
    )


# --- aggregations / dedup (A-series) ---------------------------------------

def a1_distinct_2col(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 two-column DISTINCT (dags/ELT.py:198-199)."""
    return (
        read_table(spark, sf_dir, "customer")
        .select(
            F.col("c_nationkey").alias("nation_key"),
            F.col("c_mktsegment").alias("market_segment"),
        )
        .distinct()
    )


def a2_distinct_3col(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 three-column DISTINCT (dags/ELT.py:217-218)."""
    return (
        read_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_returnflag").alias("return_flag"),
            F.col("l_linestatus").alias("line_status"),
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .distinct()
    )


def a3_month_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 month-bucket rollup (pandas ``dt.to_period("M")``,
    dags/ELT.py:331-333) as date_format + groupBy."""
    return (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("year_month"))
        .agg(
            F.count("*").alias("n_orders"),
            # sum in decimal (exact, order-independent) but emit double:
            # pandas represents a DECIMAL output column as objects on the
            # Spark side and float64 on the DuckDB side, so a decimal
            # output can never hash-match; decimal→double conversion is
            # deterministic and identical in both engines (VERDICT r2 #1)
            F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("total_price"),
        )
    )


# --- joins (J-series) ------------------------------------------------------

def j1_left_join_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 LEFT join fact←dimension, single key, broadcast
    (dags/ELT.py:279)."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    return orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey, "left"
    ).select(
        F.col("o_orderkey").alias("order_key"),
        F.col("c_name").alias("customer_name"),
        F.col("c_mktsegment").alias("market_segment"),
    )


def j3_dim_aliased_twice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 same dimension joined twice under different aliases
    (dags/ELT.py:279+281: DimDate as d1 and d2). Here: nation reached
    via the customer side and via the supplier side of lineitem."""
    li = read_table(spark, sf_dir, "lineitem").alias("li")
    orders = read_table(spark, sf_dir, "orders").alias("o")
    customer = F.broadcast(read_table(spark, sf_dir, "customer").alias("c"))
    supplier = F.broadcast(read_table(spark, sf_dir, "supplier").alias("s"))
    nation = read_table(spark, sf_dir, "nation")
    n1 = F.broadcast(nation.alias("n1"))
    n2 = F.broadcast(nation.alias("n2"))
    return (
        li.join(orders, F.col("li.l_orderkey") == F.col("o.o_orderkey"), "left")
        .join(customer, F.col("o.o_custkey") == F.col("c.c_custkey"), "left")
        .join(n1, F.col("c.c_nationkey") == F.col("n1.n_nationkey"), "left")
        .join(supplier, F.col("li.l_suppkey") == F.col("s.s_suppkey"), "left")
        .join(n2, F.col("s.s_nationkey") == F.col("n2.n_nationkey"), "left")
        .select(
            F.col("li.l_orderkey").alias("order_key"),
            F.col("li.l_linenumber").alias("line_number"),
            F.col("n1.n_name").alias("cust_nation"),
            F.col("n2.n_name").alias("supp_nation"),
        )
    )


def j5_composite_null_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 composite-key LEFT join with NULL keys never matching
    (dags/ELT.py:283-285) + W1 surrogate numbering of the dim. NULLs are
    synthesized with nullif since the test tables are NULL-free; plain
    ``==`` (not eqNullSafe) reproduces SQL `=` semantics."""
    li = read_table(spark, sf_dir, "lineitem")
    s = li.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_number"),
        F.nullif(F.col("l_returnflag"), F.lit("R")).alias("rf"),
        F.col("l_linestatus").alias("ls"),
    )
    dim = s.select("rf", "ls").distinct()
    w = Window.orderBy(F.asc_nulls_last("rf"), F.asc_nulls_last("ls"))
    dim = dim.select(F.row_number().over(w).cast("int").alias("dim_id"), "rf", "ls")
    joined = s.alias("s").join(
        F.broadcast(dim.alias("d")),
        (F.col("s.rf") == F.col("d.rf")) & (F.col("s.ls") == F.col("d.ls")),
        "left",
    )
    return joined.select("s.order_key", "s.line_number", F.col("d.dim_id").alias("dim_id"))


def j8_star_join_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 star join + P5 IN-filter + A3 month rollup — the flagship,
    shaped like the serve query (dags/ELT.py:308-333) over TPC-H tables.
    Dims broadcast; the lineitem side never shuffles for the joins (one
    exchange total, for the final groupBy)."""
    li = read_table(spark, sf_dir, "lineitem").alias("li")
    orders = read_table(spark, sf_dir, "orders").alias("o")
    customer = F.broadcast(read_table(spark, sf_dir, "customer").alias("c"))
    nation = F.broadcast(read_table(spark, sf_dir, "nation").alias("n"))
    region = F.broadcast(read_table(spark, sf_dir, "region").alias("r"))
    return (
        li.join(orders, F.col("li.l_orderkey") == F.col("o.o_orderkey"))
        .join(customer, F.col("o.o_custkey") == F.col("c.c_custkey"))
        .join(nation, F.col("c.c_nationkey") == F.col("n.n_nationkey"))
        .join(region, F.col("n.n_regionkey") == F.col("r.r_regionkey"))
        .filter(
            F.col("o.o_orderpriority").isin("1-URGENT", "2-HIGH")
            & (F.col("r.r_name") == "ASIA")
        )
        .groupBy(
            F.col("n.n_name").alias("nation"),
            F.date_format("o.o_orderdate", "yyyy-MM").alias("year_month"),
        )
        .agg(
            F.count("*").alias("n_items"),
            # decimal-internal sums (exact, order-independent) emitted as
            # double — see a3_month_rollup for why decimal outputs can
            # never hash-match the oracle (VERDICT r2 #1)
            F.sum(F.col("li.l_quantity").cast(_DEC)).cast("double").alias("sum_qty"),
            F.sum(
                F.col("li.l_extendedprice").cast(_DEC)
                * (F.lit(1).cast(_DEC) - F.col("li.l_discount").cast(_DEC))
            ).cast("double").alias("revenue"),
        )
    )


def j2_time_string_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 LEFT join on the engine's TIME representation — the unpadded
    "H:mm:ss" string (dags/ELT.py:280, SURVEY §1.2) — against the
    GENERATED DimTime (plans/dims.py:generate_dim_time). The oracle
    derives TimeID/TimeOfDay arithmetically from the timestamp, so this
    doubles as an independent check of the dim_time formula layer
    through the join path."""
    from sfcrimedatapipeline_spark.plans.dims import generate_dim_time

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", F.date_format(F.col("ts"), "H:mm:ss").alias("event_time")
    )
    dt = F.broadcast(generate_dim_time(spark))
    return ev.join(dt, ev.event_time == dt.FullTime24, "left").select(
        "event_id",
        "event_time",
        F.col("TimeID").alias("time_id"),
        F.col("TimeOfDay").alias("time_of_day"),
    )


def j4_dead_join_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 bug-compat + fixed ReportTimeID side by side: the reference
    computes a report-time join (t2) but takes the id from the incident
    join (t1) (dags/ELT.py:270,282; plans/fact.py keeps the same
    default + fix flag). Twin: a second timestamp is synthesized per
    event; the bug column joins the FIRST time, the fixed column the
    SECOND — both through DimTime's string key, both oracle-derived
    arithmetically."""
    from sfcrimedatapipeline_spark.plans.dims import generate_dim_time

    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        F.date_format(F.col("ts"), "H:mm:ss").alias("t1_key"),
        F.date_format(
            F.timestamp_micros(
                F.unix_micros(F.col("ts")) + (F.col("event_id") % 777) * F.lit(1_000_000)
            ),
            "H:mm:ss",
        ).alias("t2_key"),
    )
    dim = generate_dim_time(spark).select("TimeID", "FullTime24")
    t1 = F.broadcast(dim.alias("t1"))
    t2 = F.broadcast(dim.alias("t2"))
    return (
        ev.join(t1, ev.t1_key == F.col("t1.FullTime24"), "left")
        .join(t2, ev.t2_key == F.col("t2.FullTime24"), "left")
        .select(
            "event_id",
            F.col("t1.TimeID").alias("report_time_id_bug"),
            F.col("t2.TimeID").alias("report_time_id_fixed"),
        )
    )


def j6_composite_2key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 composite 2-key LEFT join (dags/ELT.py:286-287): the
    DimLocation shape — project 2 columns (one NULL-seeded), DISTINCT,
    NULLS-LAST surrogate key, join back with plain ``==`` so NULL keys
    never match."""
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_key"),
        F.col("c_nationkey").alias("nation_key"),
        F.nullif(F.col("c_mktsegment"), F.lit("AUTOMOBILE")).alias("segment"),
    )
    dim = c.select("nation_key", "segment").distinct()
    w = Window.orderBy(F.asc_nulls_last("nation_key"), F.asc_nulls_last("segment"))
    dim = dim.select(
        F.row_number().over(w).cast("int").alias("location_id"), "nation_key", "segment"
    )
    joined = c.alias("s").join(
        F.broadcast(dim.alias("d")),
        (F.col("s.nation_key") == F.col("d.nation_key"))
        & (F.col("s.segment") == F.col("d.segment")),
        "left",
    )
    return joined.select("s.cust_key", F.col("d.location_id").alias("location_id"))


def j7_dedup_nonkey_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 (dags/ELT.py:288-289): dim deduped on THREE columns but
    joined on TWO, so a key pair with several values of the non-key
    column fans out — the documented edge (SURVEY §2.4 J7). Also
    reproduces DimReportType's NULL→false normalization AFTER the
    DISTINCT (dags/ELT.py:237-240)."""
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").between("1995-01-01", "1995-03-31"))
        .select(
            F.col("l_orderkey").alias("order_key"),
            F.col("l_linenumber").alias("line_number"),
            F.col("l_returnflag").alias("return_flag"),
            F.col("l_linestatus").alias("line_status"),
            F.nullif(F.month("l_shipdate").cast("int"), F.lit(2)).alias("sm_raw"),
        )
    )
    dim = li.select("return_flag", "line_status", "sm_raw").distinct()
    w = Window.orderBy(
        F.asc_nulls_last("return_flag"),
        F.asc_nulls_last("line_status"),
        F.asc_nulls_last("sm_raw"),
    )
    dim = dim.select(
        F.row_number().over(w).cast("int").alias("report_type_id"),
        "return_flag",
        "line_status",
        F.coalesce(F.col("sm_raw") == 1, F.lit(False)).alias("filed_online"),
    )
    joined = li.alias("s").join(
        F.broadcast(dim.alias("d")),
        (F.col("s.return_flag") == F.col("d.return_flag"))
        & (F.col("s.line_status") == F.col("d.line_status")),
        "left",
    )
    return joined.select(
        "s.order_key",
        "s.line_number",
        F.col("d.report_type_id").alias("report_type_id"),
        F.col("d.filed_online").alias("filed_online"),
    )


# --- dimension generators (SURVEY §2.7) ------------------------------------

def dim_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """generate_dim_time checked end-to-end: the oracle recomputes the
    HHMMSS encoding and TimeOfDay buckets from generate_series(0,86399)
    — independent of the golden CSV test."""
    from sfcrimedatapipeline_spark.plans.dims import generate_dim_time

    return (
        generate_dim_time(spark)
        .groupBy("TimeOfDay", "AMPM")
        .agg(
            F.count("*").alias("n_seconds"),
            F.min("TimeID").alias("min_time_id"),
            F.max("TimeID").alias("max_time_id"),
        )
    )


def dim_date_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """generate_dim_date checked per year: day counts, weekend days,
    holiday count (fixed + floating rules), month ends, DateID range —
    every formula recomputed by the oracle from a raw date series."""
    from sfcrimedatapipeline_spark.plans.dims import generate_dim_date

    return (
        generate_dim_date(spark, "2018-01-01", "2024-12-31")
        .groupBy(F.col("CalenderYear").cast("int").alias("year"))
        .agg(
            F.count("*").alias("n_days"),
            F.sum(F.col("isWeekend").cast("int")).cast("bigint").alias("n_weekend_days"),
            F.sum(F.col("isHoliday").cast("int")).cast("bigint").alias("n_holidays"),
            F.sum(F.col("isEndOfMonth").cast("int")).cast("bigint").alias("n_month_ends"),
            F.min("DateID").alias("min_date_id"),
            F.max("DateID").alias("max_date_id"),
        )
    )


# --- windows (W-series) ----------------------------------------------------

def w1_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 dedup + partition-less ROW_NUMBER with Postgres NULLS-LAST
    ordering (dags/ELT.py:194; SURVEY §7.4.2)."""
    dim = (
        read_table(spark, sf_dir, "customer")
        .select(
            F.col("c_nationkey").alias("nation_key"),
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("market_segment"),
        )
        .distinct()
    )
    w = Window.orderBy(F.asc_nulls_last("nation_key"), F.asc_nulls_last("market_segment"))
    return dim.select(
        F.row_number().over(w).cast("int").alias("location_id"),
        "nation_key",
        "market_segment",
    )


def w2_load_order_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 SERIAL load-order id (dags/ELT.py:100) via the scale-safe
    two-phase dense_ids operator — no single-partition exchange. Order
    is pinned to o_orderkey because parquet split order is not load
    order (SURVEY §7.4.1)."""
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_key")
    )
    return dense_ids(orders, ["order_key"], "id")


def p6_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 (extension): schema-applied JSON parsing (from_json → struct
    access), the typed counterpart of get_json_object string probing."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    ev = read_table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), StructType([StructField("k", IntegerType())]))
    return ev.select(
        "event_id",
        parsed.getField("k").alias("k"),
        F.to_json(F.struct(F.col("event_type").alias("t"))).alias("rejson"),
    )


def p7_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 (extension): the calendar-arithmetic surface — date_add,
    datediff, month truncation, last_day, day-of-week, quarter."""
    d = F.to_date("o_orderdate")
    return read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_key"),
        d.alias("order_date"),
        F.date_add(d, 30).alias("due_date"),
        F.datediff(d, F.lit("2020-01-01").cast("date")).cast("int").alias("days_since_2020"),
        F.trunc(d, "month").alias("month_start"),
        F.last_day(d).alias("month_end"),
        F.dayofweek(d).cast("int").alias("dow"),
        F.quarter(d).cast("int").alias("qtr"),
    )


def p8_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 (extension): the string-function surface — case, slicing,
    padding, splitting, position, and edit distance (levenshtein: both
    engines implement the unit-cost DP)."""
    name = F.col("c_name")
    return read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customer_id"),
        F.upper(name).alias("upper_name"),
        F.substring(name, 1, 8).alias("prefix8"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_id"),
        F.length(name).cast("int").alias("name_len"),
        F.element_at(F.split(name, "#"), 2).alias("suffix"),
        F.instr(name, "#").cast("int").alias("hash_pos"),
        F.levenshtein(F.substring(name, 1, 10), F.lit("Customer#0")).cast("int").alias(
            "edit_dist"
        ),
    )


def f2_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 (extension): UNPIVOT/melt — wide numeric columns to tall
    (col_name, value) rows, the inverse of a5_pivot."""
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_totalprice").cast("double").alias("total_price"),
        F.col("o_custkey").cast("double").alias("cust_key"),
    )
    return o.unpivot(
        ids=["order_key"],
        values=["total_price", "cust_key"],
        variableColumnName="metric",
        valueColumnName="value",
    )


def w5_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 (extension): the distribution/navigation window functions not
    in w3 — percent_rank, cume_dist, first_value, nth_value — over a
    TOTAL order (price, key): without the tie-break the ranks would be
    well-defined but first/nth_value row-dependent. Both sides pin the
    frame to ROWS unbounded-preceding..current (nth_value's default
    RANGE frame differs between engines on paper; with a total order
    they coincide, but pinning removes the question)."""
    w = Window.partitionBy("priority").orderBy(
        F.col("total_price").asc(), F.col("order_key").asc()
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("double").alias("total_price"),
    )
    return o.select(
        "order_key",
        "priority",
        "total_price",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first_value(F.col("order_key")).over(wf).alias("cheapest_key"),
        F.nth_value(F.col("order_key"), 2).over(wf).alias("second_cheapest_key"),
    )


def a9_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 (extension): explicit GROUPING SETS — the two single-column
    marginals only (neither the cross table nor the grand total),
    which neither ROLLUP (a4) nor CUBE (a6) can express."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderpriority"], ["o_orderstatus"]],
            F.col("o_orderpriority"),
            F.col("o_orderstatus"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("total_price"),
            F.grouping_id().cast("int").alias("gid"),
        )
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderstatus").alias("status"),
            "n_orders",
            "total_price",
            "gid",
        )
    )


def a8_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 (extension): array aggregation made deterministic —
    collect_set is partition-order-nondeterministic, so the contract is
    sort-then-join: per customer, the ordered distinct set of order
    priorities as one string. (The raw collect_list/array output would
    also bridge to pandas as numpy arrays vs Python lists — stringified
    output keeps the hash comparable.)"""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_custkey").alias("customer_id")).agg(
        F.array_join(F.array_sort(F.collect_set("o_orderpriority")), ",").alias(
            "priorities"
        ),
        F.count("*").alias("n_orders"),
    )


def s12_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 (extension): statistical aggregates (mean/variance/stddev/
    covariance/correlation) computed scale-correctly: the built-in
    stddev/corr merge partial states in partition order, so their low
    bits are nondeterministic on a cluster — here the moments are
    accumulated EXACTLY (integer cents / bigint cross terms, one
    map-side-combined pass) and the statistics derived from them in
    IEEE double with formulas shared verbatim with the oracle, making
    the result bit-stable under any partitioning."""
    li = read_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    qty = F.col("l_quantity").cast("long")
    base = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("s_p"),
        # cents² ≈ 1e14/row: bigint would overflow by ~sf3, decimal(38,0) never
        F.sum((cents * cents).cast("decimal(38,0)")).alias("ss_p"),
        F.sum(qty).alias("s_q"),
        F.sum(qty * qty).alias("ss_q"),
        F.sum(cents * qty).alias("s_pq"),
    )
    n = F.col("n").cast("double")
    mp = F.col("s_p").cast("double") / n
    mq = F.col("s_q").cast("double") / n
    var_p = F.col("ss_p").cast("double") / n - mp * mp
    var_q = F.col("ss_q").cast("double") / n - mq * mq
    cov = F.col("s_pq").cast("double") / n - mp * mq
    return base.select(
        F.col("l_returnflag").alias("flag"),
        F.col("n"),
        (mp / F.lit(100.0)).alias("mean_price"),
        F.sqrt(var_p).alias("stddev_cents"),
        F.sqrt(var_q).alias("stddev_qty"),
        (cov / F.sqrt(var_p * var_q)).alias("corr_price_qty"),
    )


def s15_shape_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 (extension): distribution-shape statistics — population
    skewness and excess kurtosis per return flag — via EXACT raw
    moments (s12's discipline extended to 3rd/4th powers). Spark's
    built-in skewness/kurtosis merge partial double states in
    partition order, so their low bits are nondeterministic on a
    cluster; here each power sum is exact (cents³ ≤ 1.2e21 and
    cents⁴ ≤ 1.2e28 ride DECIMAL(38,0), headroom to ~sf1000) and the
    central-moment formulas run in IEEE double written identically in
    both engines, so the result is bit-stable under any partitioning.
    One map-side-combined pass; excess kurtosis (normal = 0)."""
    li = read_table(spark, sf_dir, "lineitem")
    c = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    cd = c.cast("decimal(20,0)")
    c2 = cd * cd          # decimal(38,0), ≤ 1.1e14
    c3 = c2 * cd          # decimal(38,0), ≤ 1.2e21
    c4 = c2 * c2          # decimal(38,0), ≤ 1.2e28
    base = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(c).alias("s1"),
        F.sum(c2).alias("s2"),
        F.sum(c3).alias("s3"),
        F.sum(c4).alias("s4"),
    )
    n = F.col("n").cast("double")
    m = F.col("s1").cast("double") / n
    ms2 = F.col("s2").cast("double") / n
    ms3 = F.col("s3").cast("double") / n
    ms4 = F.col("s4").cast("double") / n
    var = ms2 - m * m
    m3c = ms3 - F.lit(3.0) * m * ms2 + F.lit(2.0) * m * m * m
    m4c = (
        ms4
        - F.lit(4.0) * m * ms3
        + F.lit(6.0) * m * m * ms2
        - F.lit(3.0) * m * m * m * m
    )
    return base.select(
        F.col("l_returnflag").alias("flag"),
        F.col("n"),
        (m3c / (var * F.sqrt(var))).alias("skewness"),
        (m4c / (var * var) - F.lit(3.0)).alias("excess_kurtosis"),
    )


def s9_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 (extension): global ORDER BY + LIMIT top-N.

    The sort key (price DESC, key ASC) is a total order, so the selected
    set is deterministic. Spark plans this as TakeOrderedAndProject —
    per-partition top-N then a driver-side merge of N·partitions rows,
    never a global sort shuffle (asserted in test_plan_quality)."""
    return (
        read_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("order_key"),
            F.col("o_totalprice").cast("double").alias("total_price"),
            F.col("o_orderpriority").alias("priority"),
        )
        .orderBy(F.col("total_price").desc(), F.col("order_key").asc())
        .limit(25)
    )


def f3_explode_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 (extension): posexplode / LATERAL VIEW — one row per array
    element with its position (the UNNEST WITH ORDINALITY shape).

    Positions are emitted 0-based (Spark's convention); the oracle
    subtracts 1 from generate_subscripts' 1-based index. Both engines
    keep empty tokens from consecutive delimiters."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    return docs.select(
        "doc_id",
        F.posexplode("toks").alias("pos", "token"),
    ).select("doc_id", F.col("pos").cast("int").alias("pos"), "token")


def a6_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 (extension): CUBE multi-dimensional aggregation — all 4
    grouping combinations of (priority, status) plus a grouping_id
    disambiguating real NULLs from subtotal rows.

    Spark's grouping_id() bit order (first grouping col = high bit)
    is reproduced in the oracle as grouping(a)*2 + grouping(b)."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.cube(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderstatus").alias("status"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("total_price"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


def w4_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 (extension): RANGE-framed window — trailing 1-hour event count
    and max value per user, frame bounded by event-time distance (not
    row count).

    The frame key is epoch seconds (timestamp truncated to long) so the
    frame bound is engine-portable; aggregates are count/max only —
    order-independent, so the hash is stable. One shuffle on user_id."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("epoch_s"),
        F.col("value").cast("double").alias("value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "epoch_s",
        F.count("*").over(w).alias("n_1h"),
        F.max("value").over(w).alias("max_1h"),
    )


def _orders_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared projection for the MERGE/SCD queries."""
    return read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("double").alias("total_price"),
        F.to_date("o_orderdate").alias("order_date"),
    )


def m1_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 (extension): MERGE / upsert — a pre-1997 base snapshot takes a
    delta of whole-row updates (every 10th key re-priced) plus inserts
    (fresh keys shifted out of the base key space). The operator is
    broadcast-anti-join + union, so the base is scanned once and never
    shuffled (see operators/merge.py); the oracle spells out the same
    MERGE semantics as ANTI JOIN + UNION ALL."""
    from sfcrimedatapipeline_spark.operators.merge import merge_upsert

    o = _orders_snapshot(spark, sf_dir)
    base = o.filter(F.col("order_date") < F.lit("1997-01-01").cast("date"))
    changed = base.filter(F.col("order_key") % 10 == 0).select(
        "order_key",
        F.lit("U").alias("status"),
        (F.col("total_price") * F.lit(1.1)).alias("total_price"),
        "order_date",
    )
    fresh = (
        o.filter(F.col("order_date") >= F.lit("1997-01-01").cast("date"))
        .filter(F.col("order_key") % 97 == 0)
        .select(
            (F.col("order_key") + F.lit(100000000)).alias("order_key"),
            "status",
            "total_price",
            "order_date",
        )
    )
    return merge_upsert(base, changed.unionByName(fresh), keys=["order_key"])


def m2_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 (extension): SCD Type-2 history from a change log — orders as
    per-customer status changes, one window pass deriving half-open
    [valid_from, valid_to) validity, a version counter, and the
    is_current flag (see operators/merge.py)."""
    from sfcrimedatapipeline_spark.operators.merge import scd2_from_changelog

    log = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("customer_id"),
        F.to_date("o_orderdate").alias("change_date"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderkey").alias("order_key"),
    )
    return scd2_from_changelog(
        log, key="customer_id", change_ts="change_date", tiebreak="order_key"
    )


def s8_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 (extension): INTERSECT / EXCEPT / UNION — the relational set
    operators (distinct semantics, matching SQL's defaults)."""
    building = (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("customer_id"))
    )
    urgent = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("customer_id"))
    )
    both = building.intersect(urgent).select("*", F.lit("both").alias("src"))
    # subtract == SQL EXCEPT (distinct semantics); exceptAll would keep
    # surviving duplicates of a partially-matched key
    only_seg = building.subtract(urgent).select(
        "*", F.lit("building_only").alias("src")
    )
    return both.unionAll(only_seg)


def j12_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12 (extension): null-safe equality join (``<=>`` / IS NOT
    DISTINCT FROM) — the opposite NULL contract from the fact build's
    plain ``=`` (J5): NULL keys DO match each other here."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_number"),
        F.nullif(F.col("l_returnflag"), F.lit("R")).alias("rf"),
    )
    dim = (
        li.select("rf")
        .distinct()
        .select(
            F.row_number()
            .over(Window.orderBy(F.asc_nulls_last("rf")))
            .cast("int")
            .alias("dim_id"),
            F.col("rf").alias("d_rf"),
        )
    )
    return (
        li.join(F.broadcast(dim), li.rf.eqNullSafe(dim.d_rf), "left")
        .select("order_key", "line_number", "dim_id")
    )


def f1_hof_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 (extension): the higher-order-function surface exercised
    directly — transform / filter / aggregate / exists / forall over a
    token array, mirrored by DuckDB's list_* family."""
    from sfcrimedatapipeline_spark.functions.text import tokens

    toks = tokens(F.col("text"))
    lens = F.transform(toks, lambda t: F.length(t))
    longs = F.filter(toks, lambda t: F.length(t) > 3)
    return read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(longs).cast("int").alias("n_long_tokens"),
        F.aggregate(lens, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "total_chars"
        ),
        F.exists(toks, lambda t: t == F.lit("the")).alias("has_the"),
        F.forall(toks, lambda t: F.length(t) < 50).alias("all_short"),
    )


def a4_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (extension): ROLLUP with subtotal rows + grouping_id — the
    multi-level aggregation surface (Catalyst expands to one Expand +
    one hash-agg pass, not one pass per level)."""
    return (
        read_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("total_price"),
            F.grouping_id().cast("int").alias("gid"),
        )
        .select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "n_orders",
            "total_price",
            "gid",
        )
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def a5_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (extension): PIVOT — one output column per event type, sums in
    decimal emitted as double. The value list is explicit: without it
    Spark must pre-scan for distinct values (two passes)."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy((F.col("user_id") % 10).cast("int").alias("user_bucket"))
        .pivot("event_type", EVENT_TYPES)
        .agg(F.sum(F.col("value").cast(_DEC)).cast("double"))
    )


def j11_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 (extension): LEFT SEMI + LEFT ANTI joins — EXISTS/NOT EXISTS
    without materializing the probe side's columns (the filter-join
    family; semi/anti never duplicate left rows on multi-matches)."""
    customer = read_table(spark, sf_dir, "customer")
    urgent = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    cond = customer.c_custkey == urgent.o_custkey
    semi = customer.join(urgent, cond, "left_semi").select(
        F.col("c_custkey").alias("customer_id"), F.lit(True).alias("has_urgent")
    )
    anti = customer.join(urgent, cond, "left_anti").select(
        F.col("c_custkey").alias("customer_id"), F.lit(False).alias("has_urgent")
    )
    return semi.unionAll(anti)


def w3_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 (extension): the analytic-window family beyond row_number —
    rank/dense_rank/lag/lead/ntile and a running decimal sum, all over
    one partition spec so Catalyst evaluates them in a single Window
    operator (one shuffle on l_orderkey).

    The ordering includes qty and price as tie-breakers because this
    testdata has duplicate (orderkey, linenumber) pairs — lag/lead/
    ntile over a non-total order are engine-dependent. Residual ties
    are identical in every column the functions read, so the output is
    deterministic."""
    order = [
        F.col("l_linenumber"),
        F.col("l_quantity").cast("double"),
        F.col("l_extendedprice").cast("double"),
    ]
    w = Window.partitionBy("l_orderkey").orderBy(*order)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_number"),
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.lag(F.col("l_quantity").cast("double"), 1).over(w).alias("prev_qty"),
        F.lead(F.col("l_quantity").cast("double"), 1).over(w).alias("next_qty"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.sum(F.col("l_extendedprice").cast(_DEC)).over(run).cast("double").alias("running_price"),
    )


def j9_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 (extension): LEFT join under a pathologically hot key, salted.

    A third of lineitem collapses onto key 1 — under plain hash
    partitioning every one of those rows lands in ONE task. The salted
    join scatters them across 8 sub-partitions (operators/joins.py) and
    must produce the IDENTICAL result set, which is exactly what the
    oracle checks: the DuckDB twin is the plain, unsalted join."""
    from sfcrimedatapipeline_spark.operators.joins import salted_left_join

    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_number"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("__uid"),
        F.when(F.col("l_orderkey") % 3 == 0, F.lit(1))
        .otherwise(F.col("l_orderkey"))
        .alias("skew_key"),
    )
    dim = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("skew_key"),
        F.col("o_orderpriority").alias("priority"),
    )
    return salted_left_join(li, dim, on=["skew_key"], salt=8, left_unique_col="__uid").select(
        "order_key", "line_number", "skew_key", "priority"
    )


def j10_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 (extension): co-located join via bucketed tables. Orders and
    customer are written bucketed+sorted on the customer key once; the
    join then runs with NO exchange and NO sort (plan-asserted in
    tests/test_plan_quality.py) — the write-once/join-many strategy for
    a fact table joined on the same key every day. Result set is
    oracle-checked against the plain join."""
    from sfcrimedatapipeline_spark.operators.joins import (
        bucketed_colocated_join,
        write_bucketed,
    )

    base = exit_temp_dir("sfcdp_bucketed_")
    write_bucketed(
        read_table(spark, sf_dir, "orders"), "b_orders", f"{base}/orders", "o_custkey"
    )
    write_bucketed(
        read_table(spark, sf_dir, "customer"),
        "b_customer",
        f"{base}/customer",
        "c_custkey",
    )
    return bucketed_colocated_join(
        "b_orders", "b_customer", "o_custkey", "c_custkey"
    ).select(
        F.col("o_orderkey").alias("order_key"),
        F.col("c_name").alias("customer_name"),
        F.col("c_mktsegment").alias("market_segment"),
    )


def _duck_timestr(ts: str) -> str:
    """The engine's unpadded-hour "H:mm:ss" TIME string in DuckDB."""
    return (
        f"CAST(hour({ts}) AS VARCHAR) || ':' || "
        f"lpad(CAST(minute({ts}) AS VARCHAR), 2, '0') || ':' || "
        f"lpad(CAST(second({ts}) AS VARCHAR), 2, '0')"
    )


def _duck_time_id(ts: str) -> str:
    """The HHMMSS TimeID encoding (SURVEY §2.7) in DuckDB."""
    return f"CAST(hour({ts})*10000 + minute({ts})*100 + second({ts}) AS INTEGER)"


_DUCK_TIME_OF_DAY = (
    "CASE WHEN hour({ts}) < 6 THEN 'Night' WHEN hour({ts}) < 12 THEN 'Morning' "
    "WHEN hour({ts}) < 13 THEN 'Noon' WHEN hour({ts}) < 17 THEN 'Afternoon' "
    "WHEN hour({ts}) < 20 THEN 'Evening' ELSE 'Night' END"
)


#: DuckDB oracle for every query above — identical aliases, identical
#: decimal arithmetic. Views are pre-registered by the driver.
ORACLE_SQL: dict[str, str] = {
    "p6_from_json": """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
               '{"t":"' || event_type || '"}' AS rejson
        FROM events
    """,
    "p7_date_functions": """
        SELECT o_orderkey AS order_key,
               CAST(o_orderdate AS DATE) AS order_date,
               CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_date,
               CAST(date_diff('day', DATE '2020-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_2020,
               CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month_start,
               last_day(CAST(o_orderdate AS DATE)) AS month_end,
               CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INTEGER) AS dow,
               CAST(quarter(CAST(o_orderdate AS DATE)) AS INTEGER) AS qtr
        FROM orders
    """,
    "p8_string_functions": """
        SELECT c_custkey AS customer_id,
               upper(c_name) AS upper_name,
               substring(c_name, 1, 8) AS prefix8,
               lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_id,
               CAST(length(c_name) AS INTEGER) AS name_len,
               split_part(c_name, '#', 2) AS suffix,
               CAST(instr(c_name, '#') AS INTEGER) AS hash_pos,
               CAST(levenshtein(substring(c_name, 1, 10), 'Customer#0') AS INTEGER) AS edit_dist
        FROM customer
    """,
    "f2_unpivot": """
        SELECT o_orderkey AS order_key, 'total_price' AS metric,
               CAST(o_totalprice AS DOUBLE) AS value
        FROM orders
        UNION ALL
        SELECT o_orderkey, 'cust_key', CAST(o_custkey AS DOUBLE)
        FROM orders
    """,
    "w5_window_distribution": """
        WITH o AS (
            SELECT o_orderkey AS order_key,
                   o_orderpriority AS priority,
                   CAST(o_totalprice AS DOUBLE) AS total_price
            FROM orders
        )
        SELECT order_key, priority, total_price,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume,
               first_value(order_key) OVER wf AS cheapest_key,
               nth_value(order_key, 2) OVER wf AS second_cheapest_key
        FROM o
        WINDOW w AS (PARTITION BY priority
                     ORDER BY total_price ASC, order_key ASC),
               wf AS (PARTITION BY priority
                      ORDER BY total_price ASC, order_key ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    "a9_grouping_sets": """
        SELECT o_orderpriority AS priority,
               o_orderstatus AS status,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
               CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS INTEGER) AS gid
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
    """,
    "a8_array_agg": """
        WITH counts AS (
            SELECT o_custkey AS customer_id, count(*) AS n_orders
            FROM orders GROUP BY 1
        ),
        prios AS (
            SELECT customer_id,
                   string_agg(o_orderpriority, ',' ORDER BY o_orderpriority)
                       AS priorities
            FROM (SELECT DISTINCT o_custkey AS customer_id, o_orderpriority
                  FROM orders)
            GROUP BY 1
        )
        SELECT c.customer_id, p.priorities, c.n_orders
        FROM counts c JOIN prios p USING (customer_id)
    """,
    "s15_shape_stats": """
        WITH base AS (
            SELECT l_returnflag AS flag,
                   count(*) AS n,
                   sum(CAST(floor(l_extendedprice*100 + 0.5) AS HUGEINT)) AS s1,
                   sum(CAST(floor(l_extendedprice*100 + 0.5) AS HUGEINT)
                       * CAST(floor(l_extendedprice*100 + 0.5) AS HUGEINT)) AS s2,
                   sum(CAST(floor(l_extendedprice*100 + 0.5) AS HUGEINT)
                       * CAST(floor(l_extendedprice*100 + 0.5) AS HUGEINT)
                       * CAST(floor(l_extendedprice*100 + 0.5) AS HUGEINT)) AS s3,
                   sum(CAST(floor(l_extendedprice*100 + 0.5) AS HUGEINT)
                       * CAST(floor(l_extendedprice*100 + 0.5) AS HUGEINT)
                       * CAST(floor(l_extendedprice*100 + 0.5) AS HUGEINT)
                       * CAST(floor(l_extendedprice*100 + 0.5) AS HUGEINT)) AS s4
            FROM lineitem GROUP BY 1
        ),
        m AS (
            SELECT flag, n,
                   CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
                   CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS ms2,
                   CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS ms3,
                   CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS ms4
            FROM base
        ),
        c AS (
            SELECT flag, n,
                   ms2 - m1*m1 AS var,
                   ms3 - 3.0*m1*ms2 + 2.0*m1*m1*m1 AS m3c,
                   ms4 - 4.0*m1*ms3 + 6.0*m1*m1*ms2 - 3.0*m1*m1*m1*m1 AS m4c
            FROM m
        )
        SELECT flag, n,
               m3c / (var * sqrt(var)) AS skewness,
               m4c / (var * var) - 3.0 AS excess_kurtosis
        FROM c
    """,
    "s12_moment_stats": """
        WITH base AS (
            SELECT l_returnflag AS flag,
                   count(*) AS n,
                   sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS s_p,
                   sum(CAST(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)
                            * CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)
                            AS DECIMAL(38,0))) AS ss_p,
                   sum(CAST(l_quantity AS BIGINT)) AS s_q,
                   sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS ss_q,
                   sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)
                       * CAST(l_quantity AS BIGINT)) AS s_pq
            FROM lineitem GROUP BY 1
        ),
        m AS (
            SELECT flag, n,
                   CAST(s_p AS DOUBLE) / CAST(n AS DOUBLE) AS mp,
                   CAST(s_q AS DOUBLE) / CAST(n AS DOUBLE) AS mq,
                   CAST(ss_p AS DOUBLE) / CAST(n AS DOUBLE) AS msp,
                   CAST(ss_q AS DOUBLE) / CAST(n AS DOUBLE) AS msq,
                   CAST(s_pq AS DOUBLE) / CAST(n AS DOUBLE) AS mpq
            FROM base
        )
        SELECT flag, n,
               mp / 100.0 AS mean_price,
               sqrt(msp - mp*mp) AS stddev_cents,
               sqrt(msq - mq*mq) AS stddev_qty,
               (mpq - mp*mq) / sqrt((msp - mp*mp) * (msq - mq*mq)) AS corr_price_qty
        FROM m
    """,
    "m1_merge_upsert": """
        WITH o AS (
            SELECT o_orderkey AS order_key, o_orderstatus AS status,
                   CAST(o_totalprice AS DOUBLE) AS total_price,
                   CAST(o_orderdate AS DATE) AS order_date
            FROM orders
        ),
        base AS (SELECT * FROM o WHERE order_date < DATE '1997-01-01'),
        changed AS (
            SELECT order_key, 'U' AS status,
                   total_price * CAST(1.1 AS DOUBLE) AS total_price, order_date
            FROM base WHERE order_key % 10 = 0
        ),
        fresh AS (
            SELECT order_key + 100000000 AS order_key, status, total_price, order_date
            FROM o WHERE order_date >= DATE '1997-01-01' AND order_key % 97 = 0
        ),
        upd AS (SELECT * FROM changed UNION ALL SELECT * FROM fresh)
        SELECT b.* FROM base b ANTI JOIN upd u ON b.order_key = u.order_key
        UNION ALL
        SELECT * FROM upd
    """,
    "m2_scd2_history": """
        WITH log AS (
            SELECT o_custkey AS customer_id,
                   CAST(o_orderdate AS DATE) AS change_date,
                   o_orderstatus AS status,
                   o_orderkey AS order_key
            FROM orders
        )
        SELECT customer_id, change_date, status, order_key,
               change_date AS valid_from,
               lead(change_date) OVER w AS valid_to,
               CAST(row_number() OVER w AS INTEGER) AS version,
               (lead(change_date) OVER w IS NULL) AS is_current
        FROM log
        WINDOW w AS (PARTITION BY customer_id ORDER BY change_date ASC, order_key ASC)
    """,
    "s9_topn": """
        SELECT o_orderkey AS order_key,
               CAST(o_totalprice AS DOUBLE) AS total_price,
               o_orderpriority AS priority
        FROM orders
        ORDER BY total_price DESC, order_key ASC
        LIMIT 25
    """,
    "f3_explode_pos": """
        SELECT doc_id,
               CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INTEGER) AS pos,
               unnest(string_split(text, ' ')) AS token
        FROM documents
    """,
    "a6_cube": """
        SELECT o_orderpriority AS priority,
               o_orderstatus AS status,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
               CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS INTEGER) AS gid
        FROM orders
        GROUP BY CUBE(o_orderpriority, o_orderstatus)
    """,
    "w4_range_window": """
        SELECT event_id, user_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
               count(*) OVER w AS n_1h,
               max(CAST(value AS DOUBLE)) OVER w AS max_1h
        FROM events
        WINDOW w AS (
            PARTITION BY user_id
            ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
            RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
        )
    """,
    "f1_hof_suite": """
        WITH tok AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS t
            FROM documents
        )
        SELECT doc_id,
               CAST(len(list_filter(t, x -> len(x) > 3)) AS INTEGER) AS n_long_tokens,
               CAST(coalesce(list_sum(list_transform(t, x -> len(x))), 0) AS BIGINT) AS total_chars,
               len(list_filter(t, x -> x = 'the')) > 0 AS has_the,
               len(list_filter(t, x -> NOT (len(x) < 50))) = 0 AS all_short
        FROM tok
    """,
    "s8_set_ops": """
        WITH building AS (
            SELECT c_custkey AS customer_id FROM customer
            WHERE c_mktsegment = 'BUILDING'
        ),
        urgent AS (
            SELECT o_custkey AS customer_id FROM orders
            WHERE o_orderpriority = '1-URGENT'
        )
        SELECT customer_id, 'both' AS src
        FROM (SELECT customer_id FROM building INTERSECT SELECT customer_id FROM urgent) t
        UNION ALL
        SELECT customer_id, 'building_only' AS src
        FROM (SELECT customer_id FROM building EXCEPT SELECT customer_id FROM urgent) t
    """,
    "j12_nullsafe_join": """
        WITH li AS (
            SELECT l_orderkey AS order_key, l_linenumber AS line_number,
                   nullif(l_returnflag, 'R') AS rf
            FROM lineitem
        ),
        dim AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY rf ASC NULLS LAST) AS INTEGER) AS dim_id,
                   rf AS d_rf
            FROM (SELECT DISTINCT rf FROM li) t
        )
        SELECT order_key, line_number, dim_id
        FROM li LEFT JOIN dim ON li.rf IS NOT DISTINCT FROM dim.d_rf
    """,
    "a4_rollup": """
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
               CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER) AS gid
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "a5_pivot": """
        SELECT CAST(user_id % 10 AS INTEGER) AS user_bucket,
               CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
               CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
               CAST(sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
               CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view
        FROM events
        GROUP BY 1
    """,
    "j11_semi_anti_join": """
        WITH urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        SELECT c_custkey AS customer_id, TRUE AS has_urgent
        FROM customer WHERE EXISTS (SELECT 1 FROM urgent WHERE o_custkey = c_custkey)
        UNION ALL
        SELECT c_custkey AS customer_id, FALSE AS has_urgent
        FROM customer WHERE NOT EXISTS (SELECT 1 FROM urgent WHERE o_custkey = c_custkey)
    """,
    "w3_window_suite": """
        SELECT l_orderkey AS order_key, l_linenumber AS line_number,
               CAST(rank() OVER w AS INTEGER) AS rnk,
               CAST(dense_rank() OVER w AS INTEGER) AS drnk,
               lag(CAST(l_quantity AS DOUBLE), 1) OVER w AS prev_qty,
               lead(CAST(l_quantity AS DOUBLE), 1) OVER w AS next_qty,
               CAST(ntile(4) OVER w AS INTEGER) AS quartile,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) OVER (
                   PARTITION BY l_orderkey
                   ORDER BY l_linenumber, CAST(l_quantity AS DOUBLE),
                            CAST(l_extendedprice AS DOUBLE)
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS running_price
        FROM lineitem
        WINDOW w AS (PARTITION BY l_orderkey
                     ORDER BY l_linenumber, CAST(l_quantity AS DOUBLE),
                              CAST(l_extendedprice AS DOUBLE))
    """,
    # the co-located bucketed join's result set must equal the plain join
    "j10_bucketed_join": """
        SELECT o_orderkey AS order_key, c_name AS customer_name,
               c_mktsegment AS market_segment
        FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    # the salted join's result set must equal the PLAIN join
    "j9_salted_skew_join": """
        WITH li AS (
            SELECT l_orderkey AS order_key, l_linenumber AS line_number,
                   CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE l_orderkey END AS skew_key
            FROM lineitem
        ),
        dim AS (
            SELECT o_orderkey AS skew_key, o_orderpriority AS priority FROM orders
        )
        SELECT li.order_key, li.line_number, li.skew_key, dim.priority
        FROM li LEFT JOIN dim USING (skew_key)
    """,
    "p1_project_alias": """
        SELECT c_custkey AS customer_id, c_name AS customer_name,
               c_mktsegment AS market_segment
        FROM customer
    """,
    "p2_null_default": """
        SELECT event_id,
               coalesce(nullif(event_type, 'click'), 'none') AS event_kind
        FROM events
    """,
    "p3_cast_date": """
        SELECT o_orderkey AS order_key, CAST(o_orderdate AS DATE) AS order_date
        FROM orders
    """,
    "p4_cast_time": """
        SELECT event_id,
               CAST(hour(ts) AS VARCHAR) || ':' ||
               lpad(CAST(minute(ts) AS VARCHAR), 2, '0') || ':' ||
               lpad(CAST(second(ts) AS VARCHAR), 2, '0') AS event_time
        FROM events
    """,
    "p5_in_filter": """
        SELECT o_orderkey AS order_key, o_orderpriority AS priority,
               o_orderstatus AS status
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
    "a1_distinct_2col": """
        SELECT DISTINCT c_nationkey AS nation_key, c_mktsegment AS market_segment
        FROM customer
    """,
    "a2_distinct_3col": """
        SELECT DISTINCT l_returnflag AS return_flag, l_linestatus AS line_status,
               CAST(year(l_shipdate) AS INTEGER) AS ship_year
        FROM lineitem
    """,
    "a3_month_rollup": """
        SELECT strftime(o_orderdate, '%Y-%m') AS year_month,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders
        GROUP BY 1
    """,
    "j1_left_join_dim": """
        SELECT o_orderkey AS order_key, c_name AS customer_name,
               c_mktsegment AS market_segment
        FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    """,
    "j3_dim_aliased_twice": """
        SELECT li.l_orderkey AS order_key, li.l_linenumber AS line_number,
               n1.n_name AS cust_nation, n2.n_name AS supp_nation
        FROM lineitem li
        LEFT JOIN orders o ON li.l_orderkey = o.o_orderkey
        LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        LEFT JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        LEFT JOIN supplier s ON li.l_suppkey = s.s_suppkey
        LEFT JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
    """,
    "j5_composite_null_keys": """
        WITH s AS (
            SELECT l_orderkey AS order_key, l_linenumber AS line_number,
                   nullif(l_returnflag, 'R') AS rf, l_linestatus AS ls
            FROM lineitem
        ),
        d AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY rf ASC NULLS LAST, ls ASC NULLS LAST) AS INTEGER) AS dim_id,
                   rf, ls
            FROM (SELECT DISTINCT rf, ls FROM s) t
        )
        SELECT s.order_key, s.line_number, d.dim_id AS dim_id
        FROM s LEFT JOIN d ON s.rf = d.rf AND s.ls = d.ls
    """,
    "j8_star_join_monthly": """
        SELECT n.n_name AS nation,
               strftime(o.o_orderdate, '%Y-%m') AS year_month,
               count(*) AS n_items,
               CAST(sum(CAST(li.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(li.l_extendedprice AS DECIMAL(18,2))
                   * (CAST(1 AS DECIMAL(18,2)) - CAST(li.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem li
        JOIN orders o ON li.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH') AND r.r_name = 'ASIA'
        GROUP BY 1, 2
    """,
    "j2_time_string_join": f"""
        SELECT event_id,
               {_duck_timestr('ts')} AS event_time,
               {_duck_time_id('ts')} AS time_id,
               {_DUCK_TIME_OF_DAY.format(ts='ts')} AS time_of_day
        FROM events
    """,
    "j4_dead_join_pair": f"""
        WITH e AS (
            SELECT event_id, CAST(ts AS TIMESTAMP) AS ts1,
                   make_timestamp(epoch_us(CAST(ts AS TIMESTAMP))
                                  + (event_id % 777) * 1000000) AS ts2
            FROM events
        )
        SELECT event_id,
               {_duck_time_id('ts1')} AS report_time_id_bug,
               {_duck_time_id('ts2')} AS report_time_id_fixed
        FROM e
    """,
    "j6_composite_2key": """
        WITH s AS (
            SELECT c_custkey AS cust_key, c_nationkey AS nation_key,
                   nullif(c_mktsegment, 'AUTOMOBILE') AS segment
            FROM customer
        ),
        d AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY nation_key ASC NULLS LAST,
                                           segment ASC NULLS LAST) AS INTEGER) AS location_id,
                   nation_key, segment
            FROM (SELECT DISTINCT nation_key, segment FROM s) t
        )
        SELECT s.cust_key, d.location_id AS location_id
        FROM s LEFT JOIN d
          ON s.nation_key = d.nation_key AND s.segment = d.segment
    """,
    "j7_dedup_nonkey_join": """
        WITH s AS (
            SELECT l_orderkey AS order_key, l_linenumber AS line_number,
                   l_returnflag AS return_flag, l_linestatus AS line_status,
                   nullif(CAST(month(l_shipdate) AS INTEGER), 2) AS sm_raw
            FROM lineitem
            WHERE l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'
        ),
        d AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY return_flag ASC NULLS LAST,
                                           line_status ASC NULLS LAST,
                                           sm_raw ASC NULLS LAST) AS INTEGER) AS report_type_id,
                   return_flag, line_status,
                   coalesce(sm_raw = 1, false) AS filed_online
            FROM (SELECT DISTINCT return_flag, line_status, sm_raw FROM s) t
        )
        SELECT s.order_key, s.line_number,
               d.report_type_id AS report_type_id, d.filed_online AS filed_online
        FROM s LEFT JOIN d
          ON s.return_flag = d.return_flag AND s.line_status = d.line_status
    """,
    "dim_time_rollup": """
        WITH t AS (
            SELECT CAST(sod // 3600 AS INTEGER) AS h,
                   CAST((sod % 3600) // 60 AS INTEGER) AS m,
                   CAST(sod % 60 AS INTEGER) AS s
            FROM (SELECT unnest(generate_series(0, 86399)) AS sod)
        )
        SELECT CASE WHEN h < 6 THEN 'Night' WHEN h < 12 THEN 'Morning'
                    WHEN h < 13 THEN 'Noon' WHEN h < 17 THEN 'Afternoon'
                    WHEN h < 20 THEN 'Evening' ELSE 'Night' END AS TimeOfDay,
               CASE WHEN h < 12 THEN 'AM' ELSE 'PM' END AS AMPM,
               count(*) AS n_seconds,
               CAST(min(h*10000 + m*100 + s) AS INTEGER) AS min_time_id,
               CAST(max(h*10000 + m*100 + s) AS INTEGER) AS max_time_id
        FROM t GROUP BY 1, 2
    """,
    "dim_date_yearly": """
        WITH d AS (
            SELECT unnest(generate_series(DATE '2018-01-01', DATE '2024-12-31',
                                          INTERVAL 1 DAY))::DATE AS fd
        ),
        x AS (
            -- DuckDB dayofweek: Sunday=0..Saturday=6 (Spark: Sunday=1..7)
            SELECT fd, year(fd) AS y, month(fd) AS mo,
                   dayofmonth(fd) AS dom, dayofweek(fd) AS dow,
                   CAST(strftime(fd, '%Y%m%d') AS INTEGER) AS date_id
            FROM d
        ),
        h AS (
            SELECT *,
                   CASE WHEN (mo=1 AND dom=1)
                          OR (mo=1 AND dow=1 AND dom BETWEEN 15 AND 21)
                          OR (mo=2 AND dow=1 AND dom BETWEEN 15 AND 21)
                          OR (mo=5 AND dow=1 AND dom >= 25)
                          OR (mo=6 AND dom=19) OR (mo=7 AND dom=4)
                          OR (mo=9 AND dow=1 AND dom <= 7)
                          OR (mo=10 AND dow=1 AND dom BETWEEN 8 AND 14)
                          OR (mo=11 AND dom=11)
                          OR (mo=11 AND dow=4 AND dom BETWEEN 22 AND 28)
                          OR (mo=12 AND dom=25)
                        THEN 1 ELSE 0 END AS is_holiday
            FROM x
        )
        SELECT CAST(y AS INTEGER) AS year,
               count(*) AS n_days,
               CAST(sum(CASE WHEN dow IN (0, 6) THEN 1 ELSE 0 END) AS BIGINT) AS n_weekend_days,
               CAST(sum(is_holiday) AS BIGINT) AS n_holidays,
               CAST(sum(CASE WHEN fd = last_day(fd) THEN 1 ELSE 0 END) AS BIGINT) AS n_month_ends,
               CAST(min(date_id) AS INTEGER) AS min_date_id,
               CAST(max(date_id) AS INTEGER) AS max_date_id
        FROM h GROUP BY 1
    """,
    "w1_surrogate_key": """
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY nation_key ASC NULLS LAST,
                                       market_segment ASC NULLS LAST) AS INTEGER) AS location_id,
               nation_key, market_segment
        FROM (
            SELECT DISTINCT c_nationkey AS nation_key,
                   nullif(c_mktsegment, 'BUILDING') AS market_segment
            FROM customer
        ) t
    """,
    "w2_load_order_id": """
        SELECT ROW_NUMBER() OVER (ORDER BY o_orderkey) AS id,
               o_orderkey AS order_key
        FROM orders
    """,
}


#: the flagship in Spark SQL dialect — run verbatim through spark.sql
#: over registered temp views; only the month-format function differs
#: from the DuckDB oracle text (date_format vs strftime)
_SQL_FLAGSHIP = """
    SELECT n.n_name AS nation,
           date_format(o.o_orderdate, 'yyyy-MM') AS year_month,
           count(*) AS n_items,
           CAST(sum(CAST(li.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(li.l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(li.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem li
    JOIN orders o ON li.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH') AND r.r_name = 'ASIA'
    GROUP BY 1, 2
"""


def s13_sql_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13: the flagship star join through the ``spark.sql`` SURFACE
    over registered temp views — the engine's second query API
    (SURVEY §1.4: "SQL string per stage" maps to both). Catalyst
    compiles this text to the same optimized plan as the DataFrame form
    (j8_star_join_monthly), which sharing j8's oracle hash proves."""
    from sfcrimedatapipeline_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_FLAGSHIP)


def s14_catalog_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14: the catalog DDL/DML surface — a PARTITIONED managed table
    created and populated entirely through SQL statements (CREATE TABLE
    ... PARTITIONED BY, INSERT OVERWRITE with dynamic partitions), then
    read back through the catalog. This is the warehouse-table
    counterpart of the reference's CREATE/TRUNCATE/insert DDL cycle
    (dags/ELT.py:82,147,...); partition columns become directories, so
    downstream event-type predicates prune at the catalog level. The
    read-back is gated against an oracle that aggregates the source
    directly — any DDL/DML/partition-discovery defect breaks the hash.

    The table name is per-run unique and the table is dropped after the
    read-back (result localCheckpointed first, so the returned frame no
    longer depends on it): a fixed name raced concurrent sessions
    sharing a metastore, and each re-run's DROP of the external table
    orphaned the previous run's parquet directory (ADVICE r4)."""
    import uuid

    from sfcrimedatapipeline_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    loc = exit_temp_dir("sfcdp_catalog_")
    tbl = f"ev_type_stats_{uuid.uuid4().hex[:12]}"
    spark.sql(
        f"""
        CREATE TABLE {tbl} (
            n_events BIGINT, sum_value DOUBLE, event_type STRING
        ) USING parquet PARTITIONED BY (event_type)
        LOCATION '{loc}/{tbl}'
        """
    )
    try:
        spark.sql(
            f"""
            INSERT OVERWRITE {tbl}
            SELECT count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
                   event_type
            FROM events
            GROUP BY event_type
            """
        )
        return truncate_lineage(
            spark.sql(f"SELECT event_type, n_events, sum_value FROM {tbl}"),
            eager=True,
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def a10_bool_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 (extension): the conditional/boolean aggregate family —
    count_if, bool_and, bool_or — per return flag. All-deterministic
    outputs (unlike any_value/mode, which are tie-arbitrary and
    deliberately excluded from the gate)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count_if(F.col("l_discount") > 0.05).cast("long").alias("n_discounted"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
        F.count_if(F.col("l_linestatus") == "F").cast("long").alias("n_finished"),
    )


QUERIES: dict[str, QueryFn] = {
    "s13_sql_flagship": s13_sql_flagship,
    "a10_bool_aggregates": a10_bool_aggregates,
    "s14_catalog_dml": s14_catalog_dml,
    "p1_project_alias": p1_project_alias,
    "p2_null_default": p2_null_default,
    "p3_cast_date": p3_cast_date,
    "p4_cast_time": p4_cast_time,
    "p5_in_filter": p5_in_filter,
    "a1_distinct_2col": a1_distinct_2col,
    "a2_distinct_3col": a2_distinct_3col,
    "a3_month_rollup": a3_month_rollup,
    "j1_left_join_dim": j1_left_join_dim,
    "j2_time_string_join": j2_time_string_join,
    "j3_dim_aliased_twice": j3_dim_aliased_twice,
    "j4_dead_join_pair": j4_dead_join_pair,
    "j5_composite_null_keys": j5_composite_null_keys,
    "j6_composite_2key": j6_composite_2key,
    "j7_dedup_nonkey_join": j7_dedup_nonkey_join,
    "j8_star_join_monthly": j8_star_join_monthly,
    "dim_time_rollup": dim_time_rollup,
    "dim_date_yearly": dim_date_yearly,
    "w1_surrogate_key": w1_surrogate_key,
    "w2_load_order_id": w2_load_order_id,
    "j9_salted_skew_join": j9_salted_skew_join,
    "j10_bucketed_join": j10_bucketed_join,
    "a4_rollup": a4_rollup,
    "s8_set_ops": s8_set_ops,
    "w5_window_distribution": w5_window_distribution,
    "a9_grouping_sets": a9_grouping_sets,
    "a8_array_agg": a8_array_agg,
    "s12_moment_stats": s12_moment_stats,
    "s15_shape_stats": s15_shape_stats,
    "m1_merge_upsert": m1_merge_upsert,
    "m2_scd2_history": m2_scd2_history,
    "s9_topn": s9_topn,
    "f3_explode_pos": f3_explode_pos,
    "a6_cube": a6_cube,
    "w4_range_window": w4_range_window,
    "p6_from_json": p6_from_json,
    "p7_date_functions": p7_date_functions,
    "p8_string_functions": p8_string_functions,
    "f2_unpivot": f2_unpivot,
    "j12_nullsafe_join": j12_nullsafe_join,
    "f1_hof_suite": f1_hof_suite,
    "a5_pivot": a5_pivot,
    "j11_semi_anti_join": j11_semi_anti_join,
    "w3_window_suite": w3_window_suite,
}

# the SQL-surface flagship must hash-match the same oracle as the
# DataFrame form — one semantic, two APIs
ORACLE_SQL["s13_sql_flagship"] = ORACLE_SQL["j8_star_join_monthly"]

ORACLE_SQL["s14_catalog_dml"] = """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1
"""

ORACLE_SQL["a10_bool_aggregates"] = """
    SELECT l_returnflag AS flag,
           CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_discounted,
           bool_and(l_quantity > 0) AS all_positive_qty,
           bool_or(l_tax > 0.07) AS any_high_tax,
           CAST(count(*) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS n_finished
    FROM lineitem
    GROUP BY 1
"""
