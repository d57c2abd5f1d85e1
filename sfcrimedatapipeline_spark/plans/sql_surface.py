"""Round-5 SQL-surface extensions: correlated/EXISTS subqueries,
LATERAL top-k, discrete percentiles, MAP analytics,
regexp_extract_all, IGNORE NULLS windows, TPC-H Q1/Q3/Q9
compositions, hourly trending, CDC apply-changes + SCD2
snapshot/durations, the declarative data-quality suite
(expectations, completeness, header/line reconciliation,
k-anonymity, pseudonymization), the rollup cascade, nested-JSON
export, native XML parse, the try_* family, bag-semantics set ops,
FILTER-clause aggregates, and the streaming Python DataSource
harness.

Like plans/tpch.py these widen the engine's declared SQL surface
beyond the reference's own Postgres usage (reference ELT at
/root/reference/dags/ELT.py is plain project/join/aggregate SQL);
each query here has a DuckDB oracle twin under the driver's full
value-hash gate.

Cross-engine exactness discipline (established rounds 1-4):

- money predicates compare EXACT INTEGER CENTS — ``floor(x*100+0.5)``
  on both engines — never raw double aggregates, so a 1-ulp avg
  difference can never flip a filter at a decision boundary;
- percentile queries use percentile_DISC (picks a real element of the
  sorted multiset — no interpolation arithmetic to disagree on);
- map-typed results are EXPLODED to plain (key, value) rows before
  the gate hashes them, so map iteration order is irrelevant and the
  oracle can state the same semantics relationally (DuckDB's MAP API
  differs, its relational content does not);
- every window ORDER BY is a total order (ties broken by a key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.plans.tpch import QueryFn
from sfcrimedatapipeline_spark.sources.tables import read_table


def _register(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for name in names:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def s15_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15: correlated scalar subqueries + correlated EXISTS.

    Orders priced above 1.5x their customer's average order price,
    restricted to BUILDING-segment customers. The average comparison is
    done in exact integers (cents*2*count > 3*sum_cents <=> price >
    1.5*avg) so the predicate is bit-portable; Catalyst decorrelates
    both scalar subqueries into aggregate-then-join and the EXISTS
    into a left-semi join — no per-row re-execution at any scale.
    """
    _register(spark, sf_dir, "orders", "customer")
    return spark.sql(
        """
        SELECT o.o_orderkey AS order_key,
               o.o_custkey  AS customer_id,
               CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
        FROM orders o
        WHERE CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                * (SELECT count(*) FROM orders o2
                   WHERE o2.o_custkey = o.o_custkey) * 2
              > 3 * (SELECT sum(CAST(floor(o3.o_totalprice * 100 + 0.5) AS BIGINT))
                     FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
          AND EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey
                        AND c.c_mktsegment = 'BUILDING')
        """
    )


def s16_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16: LATERAL correlated subquery — per-customer top-2 orders by
    price (total order: cents DESC, key ASC), customers with no orders
    dropped by the inner join.

    The lateral subquery is the SQL-standard spelling of "top-k per
    group"; Catalyst rewrites it to a window + filter (one shuffle on
    the correlation key), not a per-customer re-scan.
    """
    _register(spark, sf_dir, "orders", "customer")
    return spark.sql(
        """
        SELECT c.c_custkey AS customer_id, l.order_key, l.price_cents
        FROM customer c,
        LATERAL (
            SELECT o.o_orderkey AS order_key,
                   CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
            FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY price_cents DESC, order_key ASC
            LIMIT 2
        ) l
        """
    )


def a11_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: discrete percentiles (WITHIN GROUP ORDER BY) — p25/median/
    p75 of order price per priority.

    percentile_DISC returns an actual element of the sorted multiset
    (smallest value whose cume_dist >= p) — no interpolation
    arithmetic, so Spark and DuckDB agree bit-for-bit on doubles.
    The continuous-interpolation variant lives in
    operators/profile.py:exact_quantiles with an explicitly shared
    formula; this is the built-in SQL-aggregate surface.
    """
    _register(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority AS priority,
               count(*) AS n_orders,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
               percentile_disc(0.5)  WITHIN GROUP (ORDER BY o_totalprice) AS median,
               percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice) AS p75
        FROM orders
        GROUP BY o_orderpriority
        """
    )


def f4_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: map-typed analytics — per-user event-type counts carried as
    a MAP column (map_from_entries over collected structs), then
    consumed via map_keys/explode back to rows.

    The map is exploded before the gate hashes the result, so map
    iteration order (Spark: insertion order of the nondeterministic
    collect_list) cannot leak into the comparison; n_types comes from
    size(map_keys(...)) to exercise the map accessors.
    """
    ev = read_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    as_map = per_type.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "n"))).alias("type_counts")
    )
    return as_map.select(
        "user_id",
        F.size(F.map_keys(F.col("type_counts"))).cast("int").alias("n_types"),
        F.explode(F.col("type_counts")).alias("event_type", "n_events"),
    ).select("user_id", "event_type", "n_events", "n_types")


def p9_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: regexp_extract_all + posexplode — every digit run in the
    event props JSON string, with its match ordinal.

    The pattern ``[0-9]+`` is in the Java-regex/RE2 common subset
    (same discipline as textstats' PII patterns), so both engines
    produce the same match list; ordinals are emitted 0-based.
    """
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            F.regexp_extract_all(F.col("props"), F.lit("[0-9]+"), 0).alias("runs"),
        )
        .select("event_id", F.posexplode("runs").alias("match_idx", "digits"))
        .select(
            "event_id",
            F.col("match_idx").cast("int").alias("match_idx"),
            "digits",
        )
    )


def w6_ignore_nulls_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6: IGNORE NULLS windows — last-observation-carried-forward.

    Every 5th event's value is masked to NULL (a deterministic stand-in
    for sensor dropout), then per-user event-time order fills each gap
    with the most recent non-null observation (last IGNORE NULLS) and
    tags the first observed value per user (first IGNORE NULLS).
    Exact integer cents; total order (ts, event_id); one shuffle on
    user_id.
    """
    ev = read_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    masked = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.pmod(F.col("event_id"), F.lit(5)) == 0, F.lit(None)).otherwise(cents).alias("obs_cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return masked.select(
        "event_id",
        "user_id",
        "obs_cents",
        F.last("obs_cents", ignorenulls=True).over(w).alias("filled_cents"),
        F.first("obs_cents", ignorenulls=True).over(w).alias("first_seen_cents"),
    )


QUERIES: dict[str, QueryFn] = {
    "s15_correlated_subquery": s15_correlated_subquery,
    "s16_lateral_topk": s16_lateral_topk,
    "a11_percentile_disc": a11_percentile_disc,
    "f4_map_functions": f4_map_functions,
    "p9_regexp_extract_all": p9_regexp_extract_all,
    "w6_ignore_nulls_locf": w6_ignore_nulls_locf,
}

ORACLE_SQL: dict[str, str] = {
    "s15_correlated_subquery": """
        SELECT o.o_orderkey AS order_key,
               o.o_custkey  AS customer_id,
               CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
        FROM orders o
        WHERE CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                * (SELECT count(*) FROM orders o2
                   WHERE o2.o_custkey = o.o_custkey) * 2
              > 3 * (SELECT sum(CAST(floor(o3.o_totalprice * 100 + 0.5) AS BIGINT))
                     FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
          AND EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey
                        AND c.c_mktsegment = 'BUILDING')
    """,
    "s16_lateral_topk": """
        SELECT c.c_custkey AS customer_id, l.order_key, l.price_cents
        FROM customer c,
        LATERAL (
            SELECT o.o_orderkey AS order_key,
                   CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
            FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY price_cents DESC, order_key ASC
            LIMIT 2
        ) l
    """,
    "a11_percentile_disc": """
        SELECT o_orderpriority AS priority,
               count(*) AS n_orders,
               quantile_disc(o_totalprice, 0.25) AS p25,
               quantile_disc(o_totalprice, 0.5)  AS median,
               quantile_disc(o_totalprice, 0.75) AS p75
        FROM orders
        GROUP BY o_orderpriority
    """,
    "f4_map_functions": """
        WITH per_type AS (
            SELECT user_id, event_type, count(*) AS n_events
            FROM events GROUP BY 1, 2
        )
        SELECT user_id, event_type, n_events,
               CAST(count(*) OVER (PARTITION BY user_id) AS INTEGER) AS n_types
        FROM per_type
    """,
    "p9_regexp_extract_all": """
        SELECT event_id,
               CAST(generate_subscripts(runs, 1) - 1 AS INTEGER) AS match_idx,
               unnest(runs) AS digits
        FROM (SELECT event_id, regexp_extract_all(props, '[0-9]+') AS runs
              FROM events)
    """,
    "w6_ignore_nulls_locf": """
        WITH masked AS (
            SELECT event_id, user_id, ts,
                   CASE WHEN event_id % 5 = 0 THEN NULL
                        ELSE CAST(floor(value * 100 + 0.5) AS BIGINT)
                   END AS obs_cents
            FROM events
        )
        SELECT event_id, user_id, obs_cents,
               last_value(obs_cents IGNORE NULLS) OVER w AS filled_cents,
               first_value(obs_cents IGNORE NULLS) OVER w AS first_seen_cents
        FROM masked
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY ts ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
}


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report) under the engine's exactness
    discipline: the classic per-(returnflag, linestatus) rollup of
    quantity, base price, discounted price, and charge.

    Money discipline: each row's discounted/charged amount is an IEEE
    double product of the SAME literal expression on both engines —
    deterministic per row — then QUANTIZED to cents before the sum, so
    the aggregate is an exact BIGINT under any partitioning (raw
    double sums are partition-order-dependent and unportable).
    Averages divide exact integer sums once. One map-side-combined
    groupBy over six groups — the canonical whole-stage-codegen scan.
    """
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1999-12-01").cast("timestamp")
    )
    disc_cents = F.floor(
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))) * 100
        + F.lit(0.5)
    ).cast("long")
    charge_cents = F.floor(
        (
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            * (F.lit(1.0) + F.col("l_tax"))
        )
        * 100
        + F.lit(0.5)
    ).cast("long")
    base_cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    qty = F.col("l_quantity").cast("long")
    disc_bp = F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("long")
    agg = li.groupBy(
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_linestatus").alias("linestatus"),
    ).agg(
        F.sum(qty).alias("sum_qty"),
        F.sum(base_cents).alias("__sb"),
        F.sum(disc_cents).alias("__sd"),
        F.sum(charge_cents).alias("__sc"),
        F.sum(disc_bp).alias("__sbp"),
        F.count("*").cast("long").alias("count_order"),
    )
    n = F.col("count_order").cast("double")
    return agg.select(
        "returnflag",
        "linestatus",
        "sum_qty",
        (F.col("__sb").cast("double") / 100).alias("sum_base_price"),
        (F.col("__sd").cast("double") / 100).alias("sum_disc_price"),
        (F.col("__sc").cast("double") / 100).alias("sum_charge"),
        (F.col("sum_qty").cast("double") / n).alias("avg_qty"),
        (F.col("__sb").cast("double") / 100 / n).alias("avg_price"),
        (F.col("__sbp").cast("double") / 10000 / n).alias("avg_disc"),
        "count_order",
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) adapted to the testdata columns:
    BUILDING-segment customers, orders placed before a date, line items
    shipped after it; top 10 open orders by exact-cents revenue.

    Plan shape: customer is the small side (broadcast), orders⋈lineitem
    shuffles on orderkey, revenue quantized per row then summed exact;
    the top-10 is a TakeOrderedAndProject on the total order
    (revenue DESC, orderkey ASC) — no global sort shuffle.
    """
    cutoff = F.lit("1998-06-30").cast("timestamp")
    cust = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev_cents = F.floor(
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))) * 100
        + F.lit(0.5)
    ).cast("long")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    return (
        joined.groupBy(
            F.col("o_orderkey").alias("order_key"),
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg((F.sum(rev_cents).cast("double") / 100).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("order_key").asc())
        .limit(10)
    )


def events_trending_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending dashboard: top-3 event types per hour by count (dense
    total order: count DESC, type ASC). One groupBy shuffle + one
    hour-partitioned window."""
    ev = read_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"),
        F.col("event_type"),
    ).agg(F.count("*").alias("n_events"))
    w = Window.partitionBy("hour_start").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
    )


QUERIES["q1_pricing_summary"] = q1_pricing_summary
QUERIES["q3_shipping_priority"] = q3_shipping_priority
QUERIES["events_trending_hourly"] = events_trending_hourly

ORACLE_SQL["q1_pricing_summary"] = """
    WITH rows_q AS (
        SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
               CAST(l_quantity AS BIGINT) AS qty,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS base_cents,
               CAST(floor((l_extendedprice * (1.0 - l_discount)) * 100 + 0.5)
                    AS BIGINT) AS disc_cents,
               CAST(floor(((l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax))
                          * 100 + 0.5) AS BIGINT) AS charge_cents,
               CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS disc_bp
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1999-12-01'
    )
    SELECT returnflag, linestatus,
           CAST(sum(qty) AS BIGINT) AS sum_qty,
           CAST(sum(base_cents) AS DOUBLE) / 100 AS sum_base_price,
           CAST(sum(disc_cents) AS DOUBLE) / 100 AS sum_disc_price,
           CAST(sum(charge_cents) AS DOUBLE) / 100 AS sum_charge,
           CAST(sum(qty) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(base_cents) AS DOUBLE) / 100 / count(*) AS avg_price,
           CAST(sum(disc_bp) AS DOUBLE) / 10000 / count(*) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM rows_q
    GROUP BY 1, 2
"""

ORACLE_SQL["q3_shipping_priority"] = """
    SELECT o.o_orderkey AS order_key,
           CAST(o.o_orderdate AS DATE) AS order_date,
           o.o_orderpriority AS priority,
           CAST(sum(CAST(floor((l.l_extendedprice * (1.0 - l.l_discount)) * 100 + 0.5)
                         AS BIGINT)) AS DOUBLE) / 100 AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-30'
      AND l.l_shipdate > TIMESTAMP '1998-06-30'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, order_key ASC
    LIMIT 10
"""

ORACLE_SQL["events_trending_hourly"] = """
    WITH counts AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
               event_type, count(*) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT hour_start, event_type, n_events, CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY hour_start
                                     ORDER BY n_events DESC, event_type ASC) AS rank
        FROM counts) t
    WHERE rank <= 3
"""


def m4_apply_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4: CDC APPLY CHANGES — a changelog with upserts AND deletes,
    each key decided by its LATEST sequence number
    (operators/merge.py:apply_cdc). Derived changelog: every 7th key
    is upserted then deleted (latest-wins → gone), keys ≡1 (mod 7) are
    re-priced, and a batch of fresh keys arrives as inserts. The base
    is scanned once and never shuffled (changelog broadcast)."""
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_key"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("price_cents"),
        F.col("o_orderstatus").alias("status"),
    )
    k = F.col("order_key")
    dead = o.filter(k % 7 == 0)
    ghost_upserts = dead.select(
        "order_key",
        (F.col("price_cents") + 1).alias("price_cents"),
        "status",
        F.lit("u").alias("op"),
        F.lit(1).cast("long").alias("seq"),
    )
    deletes = dead.select(
        "order_key",
        "price_cents",
        "status",
        F.lit("d").alias("op"),
        F.lit(2).cast("long").alias("seq"),
    )
    repriced = o.filter(k % 7 == 1).select(
        "order_key",
        (F.col("price_cents") + 50).alias("price_cents"),
        "status",
        F.lit("u").alias("op"),
        F.lit(1).cast("long").alias("seq"),
    )
    inserts = o.filter(k % 7 == 2).select(
        (k + 10_000_000).alias("order_key"),
        "price_cents",
        F.lit("N").alias("status"),
        F.lit("u").alias("op"),
        F.lit(1).cast("long").alias("seq"),
    )
    from sfcrimedatapipeline_spark.operators.merge import apply_cdc

    changelog = ghost_upserts.unionByName(deletes).unionByName(repriced).unionByName(inserts)
    return apply_cdc(o, changelog, keys=["order_key"])


def m5_scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: AS-OF snapshot from the M2 SCD2 history — each customer's
    valid version at the cutoff date (half-open interval containment:
    valid_from <= T < valid_to, NULL valid_to = current). Completes
    the SCD2 story: M2 builds the history, this queries it temporally."""
    from sfcrimedatapipeline_spark.plans.tpch import m2_scd2_history

    hist = m2_scd2_history(spark, sf_dir)
    t = F.lit("1998-01-01").cast("date")
    return hist.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    ).select("customer_id", "status", "valid_from", "valid_to", "version")


QUERIES["m4_apply_cdc"] = m4_apply_cdc
QUERIES["m5_scd2_snapshot"] = m5_scd2_snapshot

ORACLE_SQL["m4_apply_cdc"] = """
    WITH o AS (
        SELECT o_orderkey AS order_key,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
               o_orderstatus AS status
        FROM orders
    ),
    changelog AS (
        SELECT order_key, price_cents + 1 AS price_cents, status,
               'u' AS op, CAST(1 AS BIGINT) AS seq
        FROM o WHERE order_key % 7 = 0
        UNION ALL
        SELECT order_key, price_cents, status, 'd', 2 FROM o WHERE order_key % 7 = 0
        UNION ALL
        SELECT order_key, price_cents + 50, status, 'u', 1 FROM o WHERE order_key % 7 = 1
        UNION ALL
        SELECT order_key + 10000000, price_cents, 'N', 'u', 1 FROM o WHERE order_key % 7 = 2
    ),
    latest AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY order_key ORDER BY seq DESC) AS rn
            FROM changelog) t
        WHERE rn = 1
    )
    SELECT o.order_key, o.price_cents, o.status
    FROM o ANTI JOIN latest USING (order_key)
    UNION ALL
    SELECT order_key, price_cents, status FROM latest WHERE op = 'u'
"""

ORACLE_SQL["m5_scd2_snapshot"] = """
    WITH log AS (
        SELECT o_custkey AS customer_id,
               CAST(o_orderdate AS DATE) AS change_date,
               o_orderstatus AS status,
               o_orderkey AS order_key
        FROM orders
    ),
    hist AS (
        SELECT customer_id, status,
               change_date AS valid_from,
               lead(change_date) OVER w AS valid_to,
               CAST(row_number() OVER w AS INTEGER) AS version
        FROM log
        WINDOW w AS (PARTITION BY customer_id ORDER BY change_date ASC, order_key ASC)
    )
    SELECT customer_id, status, valid_from, valid_to, version
    FROM hist
    WHERE valid_from <= DATE '1998-01-01'
      AND (valid_to IS NULL OR valid_to > DATE '1998-01-01')
"""


def dq_orders_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ: declarative expectations over orders — all six rule kinds in
    one report (operators/quality.py:check_expectations). Mixes rules
    the data passes with rules it genuinely violates, so both branches
    of the gate are exercised."""
    from sfcrimedatapipeline_spark.operators.quality import Expectation, check_expectations

    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    rules = [
        Expectation("custkey_not_null", "not_null", column="o_custkey"),
        Expectation("orderkey_unique", "unique", column="o_orderkey"),
        Expectation("price_positive", "range", column="o_totalprice", lo=0.01),
        Expectation("price_under_100k", "range", column="o_totalprice", hi=100000.0),
        Expectation(
            "status_known", "accepted_values", column="o_orderstatus", values=["F", "O", "P"]
        ),
        Expectation(
            "priority_is_urgent", "accepted_values", column="o_orderpriority",
            values=["1-URGENT"],
        ),
        Expectation(
            "custkey_in_customer", "referential", column="o_custkey",
            parent=customer, parent_key="c_custkey",
        ),
        Expectation(
            "ordered_before_shipped_era", "custom",
            predicate=F.col("o_orderdate") >= F.lit("1990-01-01").cast("timestamp"),
        ),
    ]
    return check_expectations(orders, rules)


def events_missing_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ: completeness — calendar MINUTES inside the events table's
    span with zero rows (operators/quality.py:missing_buckets)."""
    from sfcrimedatapipeline_spark.operators.quality import missing_buckets

    return missing_buckets(read_table(spark, sf_dir, "events"), bucket_seconds=60)


QUERIES["dq_orders_expectations"] = dq_orders_expectations
QUERIES["events_missing_minutes"] = events_missing_minutes

ORACLE_SQL["dq_orders_expectations"] = """
    WITH rowlevel AS (
        SELECT * FROM (VALUES
            ('custkey_not_null',
             (SELECT CAST(coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders)),
            ('price_positive',
             (SELECT CAST(coalesce(sum(CASE WHEN coalesce(o_totalprice < 0.01, FALSE) THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders)),
            ('price_under_100k',
             (SELECT CAST(coalesce(sum(CASE WHEN coalesce(o_totalprice > 100000.0, FALSE) THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders)),
            ('status_known',
             (SELECT CAST(coalesce(sum(CASE WHEN coalesce(NOT o_orderstatus IN ('F','O','P'), TRUE) THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders)),
            ('priority_is_urgent',
             (SELECT CAST(coalesce(sum(CASE WHEN coalesce(NOT o_orderpriority IN ('1-URGENT'), TRUE) THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders)),
            ('ordered_before_shipped_era',
             (SELECT CAST(coalesce(sum(CASE WHEN coalesce(NOT (o_orderdate >= TIMESTAMP '1990-01-01'), TRUE) THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders)),
            ('orderkey_unique',
             (SELECT CAST(coalesce(sum(n - 1), 0) AS BIGINT)
              FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey) t WHERE n > 1)),
            ('custkey_in_customer',
             (SELECT CAST(count(*) AS BIGINT) FROM orders o
              WHERE o.o_custkey IS NOT NULL
                AND o.o_custkey NOT IN (SELECT c_custkey FROM customer)))
        ) v(rule, n_violations)
    )
    SELECT rule, n_violations, n_violations = 0 AS passed FROM rowlevel
"""

ORACLE_SQL["events_missing_minutes"] = """
    WITH mu AS (SELECT epoch_us(ts) AS m FROM events),
    observed AS (SELECT DISTINCT m // 60000000 AS b FROM mu),
    span AS (SELECT min(m) // 60000000 AS b0, max(m) // 60000000 AS b1 FROM mu),
    spine AS (SELECT unnest(generate_series(b0, b1)) AS b FROM span)
    SELECT make_timestamp(s.b * 60000000) AS missing_bucket_ts
    FROM spine s ANTI JOIN observed o USING (b)
"""


STREAM_SRC_N = 2000
STREAM_SRC_BATCH = 256


def src_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING half of the Spark 4 Python DataSource API
    (sources/jsonl.py:register_sequence_stream_source): a custom
    SimpleDataSourceStreamReader driven to completion through a real
    MicroBatchExecution (offset management, prefetch cache, commit
    path), emitting ids [0, n) exactly once across micro-batches. Rows
    are a pure function of the id, so the same SQL oracle that gates
    the batch ``seqgen`` source replays this one — batching cannot
    change the emitted set."""
    from sfcrimedatapipeline_spark.sources.jsonl import register_sequence_stream_source

    register_sequence_stream_source(spark)
    stream = (
        spark.readStream.format("seqstream")
        .option("n", STREAM_SRC_N)
        .option("batch", STREAM_SRC_BATCH)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("src_python_stream_source")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table("src_python_stream_source")


QUERIES["src_python_stream_source"] = src_python_stream_source

ORACLE_SQL["src_python_stream_source"] = f"""
    SELECT CAST(i AS BIGINT) AS id,
           CAST((i * i) % 997 AS INTEGER) AS sq_mod,
           'row-' || CAST(i % 7 AS VARCHAR) AS tag
    FROM range(0, {STREAM_SRC_N}) t(i)
"""


def m6_time_in_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: duration analytics over the M2 SCD2 history — total days and
    period count each status held, per status. Open periods (NULL
    valid_to) are capped at a fixed horizon so durations stay defined;
    exact integer day arithmetic."""
    from sfcrimedatapipeline_spark.plans.tpch import m2_scd2_history

    hist = m2_scd2_history(spark, sf_dir)
    horizon = F.lit("2002-01-01").cast("date")
    days = F.datediff(F.coalesce(F.col("valid_to"), horizon), F.col("valid_from"))
    return (
        hist.groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n_periods"),
            F.sum(days).cast("long").alias("total_days"),
            F.sum(F.when(F.col("valid_to").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_open"),
        )
    )


def events_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-navigator cascade: hourly partials → daily from the
    HOURLY frame → monthly from the DAILY frame — never re-reading the
    raw events after the first pass. The pre-aggregation pattern every
    serving layer runs; with decomposable exact aggregates
    (count/cents-sum/min/max) the cascade is bit-identical to a direct
    monthly aggregate, which is exactly what the oracle computes (the
    gate therefore proves re-aggregation correctness, not just
    arithmetic)."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("s"),
        F.min(cents).alias("mn"),
        F.max(cents).alias("mx"),
    )
    daily = hourly.groupBy(
        F.date_trunc("day", F.col("h")).alias("d"), "event_type"
    ).agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )
    return daily.groupBy(
        F.date_trunc("month", F.col("d")).cast("date").alias("month"),
        "event_type",
    ).agg(
        F.sum("n").cast("long").alias("n_events"),
        F.sum("s").cast("long").alias("sum_cents"),
        F.min("mn").cast("long").alias("min_cents"),
        F.max("mx").cast("long").alias("max_cents"),
    )


QUERIES["m6_time_in_state"] = m6_time_in_state
QUERIES["events_rollup_cascade"] = events_rollup_cascade

ORACLE_SQL["m6_time_in_state"] = """
    WITH log AS (
        SELECT o_custkey AS customer_id,
               CAST(o_orderdate AS DATE) AS change_date,
               o_orderstatus AS status,
               o_orderkey AS order_key
        FROM orders
    ),
    hist AS (
        SELECT customer_id, status,
               change_date AS valid_from,
               lead(change_date) OVER (PARTITION BY customer_id
                                       ORDER BY change_date ASC, order_key ASC) AS valid_to
        FROM log
    )
    SELECT status,
           CAST(count(*) AS BIGINT) AS n_periods,
           CAST(sum(date_diff('day', valid_from,
                              coalesce(valid_to, DATE '2002-01-01'))) AS BIGINT) AS total_days,
           CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_open
    FROM hist GROUP BY 1
"""

ORACLE_SQL["events_rollup_cascade"] = """
    SELECT CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS DATE) AS month,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(min(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS min_cents,
           CAST(max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS max_cents
    FROM events
    GROUP BY 1, 2
"""


K_ANON = 5


def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy: K-ANONYMITY audit — how many quasi-identifier groups
    (order date × priority) contain fewer than k=5 rows, i.e. rows a
    release at this granularity would re-identify. Reports, per
    priority: group counts, violating groups, and the rows needing
    suppression/coarsening. One groupBy on the QI + one rollup —
    exact integers; the generalization decision ("coarsen date to
    month?") is exactly the rollup-cascade trade this report feeds."""
    o = read_table(spark, sf_dir, "orders")
    qi = o.groupBy(
        F.col("o_orderdate").cast("date").alias("qi_date"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.count("*").alias("n"))
    return qi.groupBy("priority").agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum(F.when(F.col("n") < K_ANON, 1).otherwise(0)).cast("long").alias("n_violating_groups"),
        F.sum(F.when(F.col("n") < K_ANON, F.col("n")).otherwise(0)).cast("long").alias("n_rows_suppressed"),
        F.sum("n").cast("long").alias("n_rows_total"),
    )


QUERIES["privacy_k_anonymity"] = privacy_k_anonymity

ORACLE_SQL["privacy_k_anonymity"] = """
    WITH qi AS (
        SELECT CAST(o_orderdate AS DATE) AS qi_date,
               o_orderpriority AS priority,
               count(*) AS n
        FROM orders GROUP BY 1, 2
    )
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
           CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_rows_suppressed,
           CAST(sum(n) AS BIGINT) AS n_rows_total
    FROM qi GROUP BY 1
"""


L_DIV = 2


def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy: L-DIVERSITY audit — k-anonymity's blind spot is a
    group of k rows that all share the SENSITIVE value (group size
    protects identity, not the attribute). Same QI grouping as
    privacy_k_anonymity (order date × priority), sensitive attribute
    = order status: per priority, how many QI groups carry fewer than
    l=2 distinct sensitive values, and how many rows sit in them.
    Two exact-integer groupBys (QI grain → priority grain) — the
    distinct count is per-QI-group, never global."""
    o = read_table(spark, sf_dir, "orders")
    qi = o.groupBy(
        F.col("o_orderdate").cast("date").alias("qi_date"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(
        F.count("*").alias("n"),
        F.countDistinct("o_orderstatus").alias("div"),
    )
    return qi.groupBy("priority").agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum(F.when(F.col("div") < L_DIV, 1).otherwise(0))
        .cast("long")
        .alias("n_low_diversity_groups"),
        F.sum(F.when(F.col("div") < L_DIV, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_rows_at_risk"),
        F.min("div").cast("long").alias("min_diversity"),
        F.max("div").cast("long").alias("max_diversity"),
    )


QUERIES["privacy_l_diversity"] = privacy_l_diversity

ORACLE_SQL["privacy_l_diversity"] = f"""
    WITH qi AS (
        SELECT CAST(o_orderdate AS DATE) AS qi_date,
               o_orderpriority AS priority,
               count(*) AS n,
               count(DISTINCT o_orderstatus) AS div
        FROM orders GROUP BY 1, 2
    )
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN div < {L_DIV} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_low_diversity_groups,
           CAST(sum(CASE WHEN div < {L_DIV} THEN n ELSE 0 END) AS BIGINT)
               AS n_rows_at_risk,
           CAST(min(div) AS BIGINT) AS min_diversity,
           CAST(max(div) AS BIGINT) AS max_diversity
    FROM qi GROUP BY 1
"""


def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on the daily purchase-revenue
    series: the day k maximizing |n·cum_k − k·T| — the integer-scaled
    form of the classic |cum_k − k·(T/n)| deviation-from-flat
    statistic, so the argmax is decided in EXACT BIGINT arithmetic
    (multiply through by n; divide only for display). Both cumulative
    series (cents and day index) ride ONE two-phase global running
    sum (operators/keys.py:running_totals); the argmax is a k=1
    TakeOrderedAndProject with a deterministic day tie-break.

    Scale: the series is day-cardinality (calendar-bounded) after one
    map-side-combined groupBy; products n·cum stay under 2^63 while
    total-cents × n-days < 9.2e18 — lift to DECIMAL beyond."""
    from sfcrimedatapipeline_spark.operators.keys import running_totals

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("cents"),
        F.lit(1).cast("long").alias("one"),
    )
    cum = running_totals(
        daily, [F.asc("day")], [("cents", "cum_cents"), ("one", "k")]
    )
    tot = daily.agg(
        F.sum("cents").cast("long").alias("t_cents"),
        F.count("*").cast("long").alias("n_days"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    d_num = F.abs(
        F.col("n_days") * F.col("cum_cents") - F.col("k") * F.col("t_cents")
    )
    return (
        j.select(
            "day",
            F.col("k").alias("day_index"),
            d_num.cast("long").alias("d_num"),
            "n_days",
            "t_cents",
            (
                d_num.cast("double")
                / (F.col("n_days").cast("double") * F.col("t_cents").cast("double"))
            ).alias("cusum_share"),
        )
        .orderBy(F.col("d_num").desc(), F.col("day").asc())
        .limit(1)
    )


QUERIES["events_cusum_changepoint"] = events_cusum_changepoint

ORACLE_SQL["events_cusum_changepoint"] = """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    cum AS (
        SELECT day,
               CAST(sum(cents) OVER w AS BIGINT) AS cum_cents,
               CAST(count(*) OVER w AS BIGINT) AS k
        FROM daily
        WINDOW w AS (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    t AS (SELECT CAST(sum(cents) AS BIGINT) AS t_cents,
                 CAST(count(*) AS BIGINT) AS n_days FROM daily)
    SELECT day, k AS day_index,
           CAST(abs(n_days * cum_cents - k * t_cents) AS BIGINT) AS d_num,
           n_days, t_cents,
           CAST(abs(n_days * cum_cents - k * t_cents) AS DOUBLE)
               / (CAST(n_days AS DOUBLE) * CAST(t_cents AS DOUBLE))
               AS cusum_share
    FROM cum CROSS JOIN t
    ORDER BY d_num DESC, day ASC
    LIMIT 1
"""


def privacy_pseudonymize_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy: pseudonymize the customer key in BOTH orders and
    customer with the same salt, then prove joinability survives —
    per-segment order counts computed ENTIRELY on tokenized keys
    (operators/quality.py:pseudonymize). Exact md5 tokens, so the
    whole release pipeline is hash-gated."""
    from sfcrimedatapipeline_spark.operators.quality import pseudonymize

    orders = pseudonymize(
        read_table(spark, sf_dir, "orders").select(
            F.col("o_custkey").cast("string").alias("cust_token"),
            "o_orderkey",
        ),
        ["cust_token"],
    )
    cust = pseudonymize(
        read_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").cast("string").alias("cust_token"),
            "c_mktsegment",
        ),
        ["cust_token"],
    )
    return (
        orders.join(cust, "cust_token")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("cust_token").cast("long").alias("n_customers"),
        )
        .select("c_mktsegment", "n_orders", "n_customers")
    )


def export_nested_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-assembly EXPORT: one row per customer with their orders
    as a SORTED nested JSON array — the denormalized serving/feature
    payload shape. The nested array is emitted through to_json so the
    gate compares canonical strings (Spark's to_json and DuckDB's
    json_group_array produce the identical compact encoding for
    int/string fields — verified; timestamps would diverge and are
    excluded by design)."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    return (
        o.groupBy(F.col("o_custkey").alias("customer_id"))
        .agg(
            F.count("*").cast("int").alias("n_orders"),
            F.to_json(F.array_sort(F.collect_list(F.struct("k", "c")))).alias("orders_json"),
        )
    )


QUERIES["privacy_pseudonymize_join"] = privacy_pseudonymize_join
QUERIES["export_nested_orders"] = export_nested_orders

ORACLE_SQL["privacy_pseudonymize_join"] = """
    WITH o AS (
        SELECT 'p_' || substr(md5('pseud:' || CAST(o_custkey AS VARCHAR)), 1, 12)
                   AS cust_token
        FROM orders
    ),
    c AS (
        SELECT 'p_' || substr(md5('pseud:' || CAST(c_custkey AS VARCHAR)), 1, 12)
                   AS cust_token,
               c_mktsegment
        FROM customer
    )
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o.cust_token) AS BIGINT) AS n_customers
    FROM o JOIN c USING (cust_token)
    GROUP BY 1
"""

ORACLE_SQL["export_nested_orders"] = """
    SELECT o_custkey AS customer_id,
           CAST(count(*) AS INTEGER) AS n_orders,
           '[' || string_agg(
                      CAST(json_object(
                               'k', o_orderkey,
                               'c', CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                           AS VARCHAR),
                      ',' ORDER BY o_orderkey) || ']' AS orders_json
    FROM orders
    GROUP BY 1
"""


def p10_from_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: native XML parsing (Spark 4 from_xml) — each event rendered
    as an XML fragment, then parsed back through the declared schema.
    DuckDB has no XML type, so the oracle replays the pure
    construct-parse round trip relationally (the parsed values are by
    construction the source columns); the Spark side genuinely
    exercises the XML parser on every row."""
    ev = read_table(spark, sf_dir, "events")
    xml = F.concat(
        F.lit("<ev><id>"),
        F.col("event_id"),
        F.lit("</id><ty>"),
        F.col("event_type"),
        F.lit("</ty><c>"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
        F.lit("</c></ev>"),
    )
    parsed = ev.select(
        F.col("event_id"),
        F.from_xml(xml, "id BIGINT, ty STRING, c BIGINT").alias("p"),
    )
    return parsed.select(
        "event_id",
        F.col("p.id").alias("parsed_id"),
        F.col("p.ty").alias("parsed_type"),
        F.col("p.c").alias("parsed_cents"),
        (F.col("p.id") == F.col("event_id")).alias("roundtrip_ok"),
    )


def p11_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11: error-safe TRY family — try_cast of a sometimes-non-numeric
    string, try_divide by a sometimes-zero denominator, try_add at the
    BIGINT ceiling: each yields NULL where the strict ANSI form (the
    session default) would kill the job. The defensive-ingest idiom
    for third-party data."""
    ev = read_table(spark, sf_dir, "events")
    numish = F.when(
        F.col("event_id") % 3 == 0, F.concat(F.lit("n"), F.col("event_id"))
    ).otherwise(F.col("event_id").cast("string"))
    denom = F.col("event_id") % 5
    big = F.lit(9_223_372_036_854_775_807).cast("long")
    return ev.select(
        "event_id",
        F.try_to_number(numish, F.lit("999999999")).cast("long").alias("maybe_number"),
        F.try_divide(F.col("event_id").cast("double"), denom.cast("double")).alias(
            "maybe_ratio"
        ),
        F.try_add(
            big, F.when(F.col("event_id") % 2 == 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        ).alias("maybe_sum"),
    )


QUERIES["p10_from_xml"] = p10_from_xml
QUERIES["p11_try_functions"] = p11_try_functions

ORACLE_SQL["p10_from_xml"] = """
    SELECT event_id,
           event_id AS parsed_id,
           event_type AS parsed_type,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS parsed_cents,
           TRUE AS roundtrip_ok
    FROM events
"""

ORACLE_SQL["p11_try_functions"] = """
    SELECT event_id,
           CASE WHEN event_id % 3 = 0 THEN NULL ELSE event_id END AS maybe_number,
           CASE WHEN event_id % 5 = 0 THEN NULL
                ELSE CAST(event_id AS DOUBLE) / CAST(event_id % 5 AS DOUBLE)
           END AS maybe_ratio,
           CASE WHEN event_id % 2 = 0 THEN NULL
                ELSE CAST(9223372036854775807 AS BIGINT)
           END AS maybe_sum
    FROM events
"""


def s17_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S17: duplicate-PRESERVING set operators (INTERSECT ALL / EXCEPT
    ALL) — bag semantics s8's distinct variants cannot express: a
    customer with 3 urgent orders and 1 building membership intersects
    once, excepts twice. Multiplicities matter for reconciliation
    (how many rows differ), not just membership."""
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
    inter = urgent.intersectAll(building).select(
        "*", F.lit("urgent_and_building").alias("src")
    )
    exc = urgent.exceptAll(building).select(
        "*", F.lit("urgent_minus_building").alias("src")
    )
    return inter.unionAll(exc)


def a12_filtered_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: the SQL FILTER clause — one scan computing differently-
    filtered aggregates side by side (the idiomatic replacement for N
    self-joins or CASE pyramids). Exact integer cents."""
    _register(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority AS priority,
               count(*) AS n_total,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
               count(*) FILTER (WHERE o_orderdate >= TIMESTAMP '1999-01-01') AS n_recent,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   FILTER (WHERE o_orderstatus = 'O') AS open_cents,
               CAST(count(DISTINCT o_custkey)
                   FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished_customers
        FROM orders
        GROUP BY o_orderpriority
        """
    )


QUERIES["s17_set_ops_all"] = s17_set_ops_all
QUERIES["a12_filtered_aggregates"] = a12_filtered_aggregates

ORACLE_SQL["s17_set_ops_all"] = """
    WITH building AS (
        SELECT c_custkey AS customer_id FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    urgent AS (
        SELECT o_custkey AS customer_id FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT customer_id, 'urgent_and_building' AS src
    FROM (SELECT customer_id FROM urgent INTERSECT ALL SELECT customer_id FROM building)
    UNION ALL
    SELECT customer_id, 'urgent_minus_building' AS src
    FROM (SELECT customer_id FROM urgent EXCEPT ALL SELECT customer_id FROM building)
"""

ORACLE_SQL["a12_filtered_aggregates"] = """
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
           CAST(count(*) FILTER (WHERE o_orderdate >= TIMESTAMP '1999-01-01') AS BIGINT) AS n_recent,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS open_cents,
           CAST(count(DISTINCT o_custkey)
               FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished_customers
    FROM orders
    GROUP BY 1
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9-flavored product profit: discounted line revenue rolled up by
    supplier nation × order year × part type — the 4-way
    part ⋈ supplier ⋈ nation ⋈ lineitem star (the previously-unused
    ``part`` table's debut). All three dims broadcast; the fact scans
    once and shuffles only for the final rollup; exact cents."""
    li = read_table(spark, sf_dir, "lineitem")
    part = F.broadcast(read_table(spark, sf_dir, "part"))
    supplier = F.broadcast(read_table(spark, sf_dir, "supplier"))
    nation = F.broadcast(read_table(spark, sf_dir, "nation"))
    rev_cents = F.floor(
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))) * 100
        + F.lit(0.5)
    ).cast("long")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(F.col("l_shipdate")).cast("int").alias("ship_year"),
            F.col("p_type").alias("part_type"),
        )
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            (F.sum(rev_cents).cast("double") / 100).alias("revenue"),
        )
    )


def dq_orders_lineitem_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table AGGREGATE reconciliation: orders.o_totalprice vs the
    sum of the order's line revenues — the invariant a billing pipeline
    asserts nightly (table_diff is row-level identity; this is the
    derived-aggregate consistency check). Reports, per order status:
    orders with lines, exact-cents matches, mismatches, orders with no
    lines at all. Synthetic data is NOT expected to reconcile — the
    report shape and exact counts are the operator; the oracle proves
    them."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("header_cents"),
    )
    li = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("lines_cents")
        )
    )
    joined = o.join(li, "o_orderkey", "left")
    return joined.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.when(F.col("lines_cents").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_with_lines"),
        F.sum(
            F.when(F.col("lines_cents") == F.col("header_cents"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_exact_match"),
        F.sum(
            F.when(
                F.col("lines_cents").isNotNull()
                & (F.col("lines_cents") != F.col("header_cents")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_mismatch"),
    )


QUERIES["q9_product_profit"] = q9_product_profit
QUERIES["dq_orders_lineitem_reconcile"] = dq_orders_lineitem_reconcile

ORACLE_SQL["q9_product_profit"] = """
    SELECT n.n_name AS nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
           p.p_type AS part_type,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(floor((l.l_extendedprice * (1.0 - l.l_discount)) * 100 + 0.5)
                         AS BIGINT)) AS DOUBLE) / 100 AS revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY 1, 2, 3
"""

ORACLE_SQL["dq_orders_lineitem_reconcile"] = """
    WITH o AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS header_cents
        FROM orders
    ),
    li AS (
        SELECT l_orderkey AS o_orderkey,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS lines_cents
        FROM lineitem GROUP BY 1
    )
    SELECT o.o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN li.lines_cents IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_lines,
           CAST(sum(CASE WHEN li.lines_cents = o.header_cents THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_match,
           CAST(sum(CASE WHEN li.lines_cents IS NOT NULL
                              AND li.lines_cents <> o.header_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
    FROM o LEFT JOIN li USING (o_orderkey)
    GROUP BY 1
"""


def p12_nested_json_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12: deeply nested JSON ingestion — each event rendered as a
    two-level document with an ARRAY of line structs, parsed back
    through a nested schema (struct-in-struct + array<struct>), then
    flattened with dotted paths + inline_outer. The lakehouse
    ingest-then-flatten shape for API payloads; the oracle replays the
    pure construct-parse identity (same discipline as p10's XML)."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    doc = F.to_json(
        F.struct(
            F.struct(F.col("event_id").alias("id"), F.col("event_type").alias("ty")).alias("head"),
            F.array(
                F.struct(F.lit(0).alias("ln"), cents.alias("amt")),
                F.struct(F.lit(1).alias("ln"), (cents * 2).alias("amt")),
            ).alias("lines"),
        )
    )
    schema = "head STRUCT<id: BIGINT, ty: STRING>, lines ARRAY<STRUCT<ln: INT, amt: BIGINT>>"
    parsed = ev.select(F.from_json(doc, schema).alias("d"))
    return parsed.select(
        F.col("d.head.id").alias("event_id"),
        F.col("d.head.ty").alias("event_type"),
        F.inline_outer("d.lines"),
    ).select("event_id", "event_type", F.col("ln").cast("int").alias("ln"), "amt")


QUERIES["p12_nested_json_flatten"] = p12_nested_json_flatten

ORACLE_SQL["p12_nested_json_flatten"] = """
    SELECT event_id, event_type, CAST(ln AS INTEGER) AS ln,
           CAST(floor(value * 100 + 0.5) AS BIGINT) * (ln + 1) AS amt
    FROM events, (SELECT unnest([0, 1]) AS ln) l
"""


def s18_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S18: SQL-DEFINED FUNCTIONS (Spark 3.4+ CREATE TEMPORARY
    FUNCTION ... RETURN <expr>) — the catalog-managed scalar-logic
    surface: the cents quantization and a tier CASE defined ONCE as
    SQL functions, reused across expressions in the query. DuckDB's
    CREATE MACRO is the oracle's identical construct, so the shared
    logic really is defined once per engine."""
    import uuid

    _register(spark, sf_dir, "orders")
    # per-run unique names: temp functions live in the session catalog
    # (the s14 naming lesson applies even to temp objects)
    fx = f"cents_{uuid.uuid4().hex[:8]}"
    tier = f"tier_{uuid.uuid4().hex[:8]}"
    spark.sql(
        f"CREATE TEMPORARY FUNCTION {fx}(x DOUBLE) RETURNS BIGINT"
        " RETURN CAST(floor(x * 100 + 0.5) AS BIGINT)"
    )
    spark.sql(
        f"CREATE TEMPORARY FUNCTION {tier}(c BIGINT) RETURNS STRING RETURN"
        " CASE WHEN c >= 20000000 THEN 'high' WHEN c >= 10000000 THEN 'mid'"
        " ELSE 'low' END"
    )
    return spark.sql(
        f"""
        SELECT {tier}({fx}(o_totalprice)) AS price_tier,
               count(*) AS n_orders,
               sum({fx}(o_totalprice)) AS total_cents
        FROM orders
        GROUP BY 1
        """
    )


QUERIES["s18_sql_udf"] = s18_sql_udf

# the oracle is one SELECT (the gate runs a single statement), so the
# function bodies are inlined — the semantics, not the catalog API,
# are what the hash proves (same stance as the MAP-API note above)
ORACLE_SQL["s18_sql_udf"] = """
    SELECT CASE WHEN c >= 20000000 THEN 'high'
                WHEN c >= 10000000 THEN 'mid'
                ELSE 'low' END AS price_tier,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(c) AS BIGINT) AS total_cents
    FROM (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
          FROM orders)
    GROUP BY 1
"""


def j16_scd2_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J16: the Kimball TYPE-2 TEMPORAL DIMENSION JOIN — each fact row
    picks the dimension version valid AS OF its own event time. Here:
    every order joined to the customer's PREVIOUS status version (the
    SCD2 history row whose validity covers the day before the order),
    via the backward as-of operator — one shuffle on the customer key,
    never an interval nested-loop. Orders with no earlier version
    (each customer's first) keep NULLs, the honest LEFT contract.

    Composes m2's history build with operators/temporal.py:asof_join;
    the oracle is DuckDB's native ASOF against the same history CTE —
    an independent implementation of the temporal-join contract."""
    from sfcrimedatapipeline_spark.operators.temporal import asof_join

    o = read_table(spark, sf_dir, "orders")
    # one version per (customer, day): same-day orders collapse to the
    # max key BEFORE the as-of, so neither engine ever has to break an
    # equal-time tie inside its ASOF machinery (DuckDB's pick among
    # duplicate right timestamps is unspecified)
    hist = (
        o.select(
            F.col("o_custkey").alias("customer_id"),
            F.to_date("o_orderdate").alias("vdate"),
            F.struct(
                F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("s")
            ).alias("__v"),
        )
        .groupBy("customer_id", "vdate")
        .agg(F.max("__v").alias("__v"))
        .select(
            "customer_id",
            "vdate",
            F.col("__v.s").alias("prev_status"),
            F.col("__v.k").alias("prev_order_key"),
        )
    )
    facts = o.select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_custkey").alias("customer_id"),
        # as-of the DAY BEFORE: the version in force when ordering
        F.date_sub(F.to_date("o_orderdate"), 1).alias("vdate"),
    )
    joined = asof_join(
        facts,
        hist,
        on="customer_id",
        ts="vdate",
        value_cols=["prev_status", "prev_order_key"],
        tiebreak="prev_order_key",
    )
    return joined.select("order_key", "customer_id", "prev_status", "prev_order_key")


QUERIES["j16_scd2_temporal_join"] = j16_scd2_temporal_join

ORACLE_SQL["j16_scd2_temporal_join"] = """
    WITH hist AS (
        SELECT customer_id, vdate, prev_status, prev_order_key FROM (
            SELECT o_custkey AS customer_id,
                   CAST(o_orderdate AS DATE) AS vdate,
                   o_orderstatus AS prev_status,
                   o_orderkey AS prev_order_key,
                   row_number() OVER (PARTITION BY o_custkey,
                                      CAST(o_orderdate AS DATE)
                                      ORDER BY o_orderkey DESC) AS rn
            FROM orders) t
        WHERE rn = 1
    ),
    facts AS (
        SELECT o_orderkey AS order_key,
               o_custkey AS customer_id,
               CAST(o_orderdate AS DATE) - INTERVAL 1 DAY AS vdate
        FROM orders
    )
    SELECT f.order_key, f.customer_id, h.prev_status, h.prev_order_key
    FROM facts f ASOF LEFT JOIN hist h
      ON f.customer_id = h.customer_id AND f.vdate >= h.vdate
"""


def s19_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S19: three modern SQL-API surfaces in one query —
    PARAMETERIZED spark.sql (named bind parameters instead of string
    interpolation: the injection-safe programmatic API), LATERAL
    COLUMN ALIASES (an alias referenced by the very next select item —
    no subquery nesting), and ``str_to_map`` parsing of a k:v option
    string, exploded to typed rows."""
    _register(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT event_id,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
               cents * 2 AS double_cents,       -- lateral column alias
               opt_key,
               CAST(opt_val AS BIGINT) AS opt_val
        FROM (
            SELECT event_id, value,
                   explode(str_to_map(concat('k:', CAST(event_id % :mod AS STRING),
                                             ',bucket:', CAST(event_id % :buckets AS STRING)),
                           ',', ':')) AS (opt_key, opt_val)
            FROM events
            WHERE event_id % :keep = 0
        )
        """,
        args={"mod": 7, "buckets": 3, "keep": 2},
    )


QUERIES["s19_parameterized_sql"] = s19_parameterized_sql

ORACLE_SQL["s19_parameterized_sql"] = """
    SELECT event_id,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           CAST(floor(value * 100 + 0.5) AS BIGINT) * 2 AS double_cents,
           opt_key,
           CAST(opt_val AS BIGINT) AS opt_val
    FROM (
        SELECT event_id, value, 'k' AS opt_key, event_id % 7 AS opt_val
        FROM events WHERE event_id % 2 = 0
        UNION ALL
        SELECT event_id, value, 'bucket', event_id % 3
        FROM events WHERE event_id % 2 = 0
    )
"""


def m7_stale_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7: SMART BACKFILL — which date partitions changed between a
    manifest snapshot and today's input
    (operators/merge.py:partition_fingerprints + stale_partitions).
    The current side deterministically differs from the manifest:
    every 997th event is dropped (its days → changed), the last day
    vanishes, and the first day re-appears shifted +100 days (new).
    Unchanged days emit nothing — the output IS the recompute set.

    Fingerprint inputs are projected to string-stable columns
    (ints/strings; cents not raw doubles) so the row repr is
    engine-portable — the caller owns that projection by contract."""
    from sfcrimedatapipeline_spark.operators.merge import (
        partition_fingerprints,
        stale_partitions,
    )

    ev = read_table(spark, sf_dir, "events")
    stable = ev.select(
        F.to_date("ts").alias("day"),
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    manifest = partition_fingerprints(stable, F.col("day"), "day")
    last_day = F.lit("2024-01-30").cast("date")
    first_day = F.lit("2024-01-01").cast("date")
    cur_base = stable.filter(
        (F.col("event_id") % 997 != 0) & (F.col("day") < last_day)
    )
    shifted = stable.filter(F.col("day") == first_day).select(
        F.date_add(F.col("day"), 100).alias("day"),
        "event_id",
        "event_type",
        "cents",
    )
    current = partition_fingerprints(cur_base.unionByName(shifted), F.col("day"), "day")
    return stale_partitions(manifest, current, "day")


QUERIES["m7_stale_partitions"] = m7_stale_partitions

ORACLE_SQL["m7_stale_partitions"] = """
    WITH stable AS (
        SELECT CAST(ts AS DATE) AS day, event_id, event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    rowh AS (
        SELECT day,
               CAST('0x' || substr(md5('0:' ||
                    concat_ws(chr(31),
                              coalesce(CAST(day AS VARCHAR), chr(0)),
                              coalesce(CAST(event_id AS VARCHAR), chr(0)),
                              coalesce(event_type, chr(0)),
                              coalesce(CAST(cents AS VARCHAR), chr(0)))),
                    1, 15) AS BIGINT) AS h,
               event_id
        FROM stable
    ),
    manifest AS (
        SELECT day, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(CAST(sum(CAST(h AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
        FROM rowh GROUP BY 1
    ),
    cur_rows AS (
        SELECT * FROM rowh
        WHERE event_id % 997 <> 0 AND day < DATE '2024-01-30'
        UNION ALL
        SELECT day + INTERVAL 100 DAY AS day,
               CAST('0x' || substr(md5('0:' ||
                    concat_ws(chr(31),
                              coalesce(CAST(day + INTERVAL 100 DAY AS VARCHAR), chr(0)),
                              coalesce(CAST(s.event_id AS VARCHAR), chr(0)),
                              coalesce(s.event_type, chr(0)),
                              coalesce(CAST(s.cents AS VARCHAR), chr(0)))),
                    1, 15) AS BIGINT) AS h,
               s.event_id
        FROM stable s WHERE s.day = DATE '2024-01-01'
    ),
    current AS (
        SELECT day, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(CAST(sum(CAST(h AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
        FROM cur_rows GROUP BY 1
    )
    SELECT coalesce(m.day, c.day) AS day,
           CASE WHEN m.day IS NULL THEN 'new'
                WHEN c.day IS NULL THEN 'vanished'
                WHEN m.n_rows <> c.n_rows OR m.checksum <> c.checksum THEN 'changed'
           END AS status,
           m.n_rows AS manifest_rows,
           c.n_rows AS current_rows
    FROM manifest m FULL OUTER JOIN current c ON m.day = c.day
    WHERE (m.day IS NULL OR c.day IS NULL
           OR m.n_rows <> c.n_rows OR m.checksum <> c.checksum)
"""


def a13_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: Pareto / ABC analysis — parts classified by cumulative
    revenue share (A = first 80% of revenue, B = next 15%, C = tail),
    the inventory-prioritization classic. The running share is decided
    in EXACT INTEGERS: class boundaries compare cum_cents·100 against
    threshold·total_cents, so no boundary part can flip on a float
    division; total order (revenue DESC, part key ASC)."""
    li = read_table(spark, sf_dir, "lineitem")
    rev = F.floor(
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))) * 100
        + F.lit(0.5)
    ).cast("long")
    per_part = li.groupBy(F.col("l_partkey").alias("part_key")).agg(
        F.sum(rev).alias("rev_cents")
    )
    # part cardinality SCALES with SF, so the running share is the
    # two-phase global running sum (operators/keys.py:running_total),
    # not a partition-less window
    from sfcrimedatapipeline_spark.operators.keys import running_total

    total = per_part.agg(F.sum("rev_cents").alias("total_cents"))
    ranked = running_total(
        per_part,
        [F.col("rev_cents").desc(), F.col("part_key").asc()],
        "rev_cents",
        "cum_cents",
    ).crossJoin(F.broadcast(total))
    cls = (
        F.when(F.col("cum_cents") * 100 <= F.col("total_cents") * 80, "A")
        .when(F.col("cum_cents") * 100 <= F.col("total_cents") * 95, "B")
        .otherwise("C")
    )
    return ranked.select(
        "part_key",
        "rev_cents",
        "cum_cents",
        cls.alias("abc_class"),
    )


QUERIES["a13_pareto_abc"] = a13_pareto_abc

ORACLE_SQL["a13_pareto_abc"] = """
    WITH per_part AS (
        SELECT l_partkey AS part_key,
               CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS rev_cents
        FROM lineitem GROUP BY 1
    ),
    t AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS total_cents FROM per_part),
    ranked AS (
        SELECT part_key, rev_cents,
               CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC, part_key ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_cents
        FROM per_part
    )
    SELECT part_key, rev_cents, cum_cents,
           CASE WHEN cum_cents * 100 <= total_cents * 80 THEN 'A'
                WHEN cum_cents * 100 <= total_cents * 95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked CROSS JOIN t
"""


def events_payload_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured SHAPE-DRIFT monitor: the distinct JSON key sets
    appearing in the props payload per day, with counts — how a
    pipeline notices a producer added/renamed a field before a parse
    breaks. Keys are extracted (json_object_keys), sorted, and joined
    into a canonical shape string; one groupBy at (day × shape)
    cardinality."""
    ev = read_table(spark, sf_dir, "events")
    shape = F.array_join(F.array_sort(F.json_object_keys(F.col("props"))), ",")
    return (
        ev.groupBy(
            F.to_date("ts").alias("day"),
            shape.alias("key_shape"),
        )
        .agg(F.count("*").cast("long").alias("n_rows"))
    )


K_SUPPRESS = 5


def privacy_safe_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy: K-SUPPRESSED aggregate publication — the release step
    after the k-anonymity audit: cells under k=5 keep their dimensions
    but NULL their measures (suppressed=true), so small groups cannot
    be re-identified yet the released table's shape stays complete.
    Exact cents; one aggregate pass."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    agg = ev.groupBy(
        F.to_date("ts").alias("day"),
        F.col("event_type"),
        (F.col("user_id") % 10).alias("user_cohort"),
    ).agg(F.count("*").cast("long").alias("__n"), F.sum(cents).alias("__s"))
    small = F.col("__n") < K_SUPPRESS
    return agg.select(
        "day",
        "event_type",
        "user_cohort",
        F.when(~small, F.col("__n")).alias("n_events"),
        F.when(~small, F.col("__s")).alias("sum_cents"),
        small.alias("suppressed"),
    )


QUERIES["events_payload_shapes"] = events_payload_shapes
QUERIES["privacy_safe_export"] = privacy_safe_export

ORACLE_SQL["events_payload_shapes"] = """
    SELECT CAST(ts AS DATE) AS day,
           array_to_string(list_sort(json_keys(props)), ',') AS key_shape,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM events
    GROUP BY 1, 2
"""

ORACLE_SQL["privacy_safe_export"] = """
    WITH agg AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               user_id % 10 AS user_cohort,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s
        FROM events GROUP BY 1, 2, 3
    )
    SELECT day, event_type, user_cohort,
           CASE WHEN n >= 5 THEN n END AS n_events,
           CASE WHEN n >= 5 THEN s END AS sum_cents,
           n < 5 AS suppressed
    FROM agg
"""


FD_PAIRS = [
    ("o_custkey", "o_orderstatus"),
    ("o_orderkey", "o_orderpriority"),
    ("o_orderpriority", "o_orderstatus"),
]


def profile_functional_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUNCTIONAL-DEPENDENCY discovery over candidate column pairs:
    A → B holds iff |distinct(A)| = |distinct(A, B)| — the
    metadata-profiling step behind normalization and dim-extraction
    decisions (the reference's DimReportType exists precisely because
    ReportTypeCode → ReportType holds). One distinct-count pass per
    pair over the candidate list; exact integers."""
    o = read_table(spark, sf_dir, "orders")
    frames = []
    for a, b in FD_PAIRS:
        frames.append(
            o.agg(
                F.lit(a).alias("determinant"),
                F.lit(b).alias("dependent"),
                F.countDistinct(F.col(a)).cast("long").alias("n_distinct_a"),
                F.countDistinct(F.col(a), F.col(b)).cast("long").alias("n_distinct_ab"),
            ).select(
                "determinant",
                "dependent",
                "n_distinct_a",
                "n_distinct_ab",
                (F.col("n_distinct_a") == F.col("n_distinct_ab")).alias("is_fd"),
            )
        )
    out = frames[0]
    for f2 in frames[1:]:
        out = out.unionByName(f2)
    return out


def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIENCE OVERLAP matrix: for every event-type pair, the shared
    user count and Jaccard similarity between the two types' audiences
    — the segment-overlap question behind campaign planning. One
    distinct (type, user) frame self-joined on the user key; overlap
    counts are exact integers, Jaccard one exact division. Never a
    users × users product — the join key is the user, the output is
    type-pair cardinality."""
    ev = read_table(spark, sf_dir, "events")
    aud = ev.select("event_type", "user_id").distinct()
    sizes = aud.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    a, b = aud.alias("a"), aud.alias("b")
    inter = (
        a.join(b, F.col("a.user_id") == F.col("b.user_id"))
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_shared",
            "n_a",
            "n_b",
            (
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double")
            ).alias("jaccard"),
        )
    )


QUERIES["profile_functional_deps"] = profile_functional_deps
QUERIES["events_audience_overlap"] = events_audience_overlap

_FD_SELECTS = "\n    UNION ALL\n".join(
    f"""    SELECT '{a}' AS determinant, '{b}' AS dependent,
           CAST(count(DISTINCT {a}) AS BIGINT) AS n_distinct_a,
           CAST(count(DISTINCT ({a}, {b})) AS BIGINT) AS n_distinct_ab,
           count(DISTINCT {a}) = count(DISTINCT ({a}, {b})) AS is_fd
    FROM orders"""
    for a, b in FD_PAIRS
)
ORACLE_SQL["profile_functional_deps"] = _FD_SELECTS

ORACLE_SQL["events_audience_overlap"] = """
    WITH aud AS (SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM aud GROUP BY 1),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM aud a JOIN aud b ON a.user_id = b.user_id
        WHERE a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b, i.n_shared,
           sa.n AS n_a, sb.n AS n_b,
           CAST(i.n_shared AS DOUBLE)
               / CAST(sa.n + sb.n - i.n_shared AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
"""


BASKET_MIN_SUPPORT = 3


def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET association pairs: parts co-purchased in the same
    order, with support / confidence / lift derived from exact integer
    counts (one double division each). The self-join is keyed on the
    ORDER (baskets are small — lines-per-order², never parts²);
    min-support pruning keeps the output to signal."""
    li = read_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = items.select("l_orderkey").distinct().count()
    part_n = items.groupBy("l_partkey").agg(F.count("*").cast("long").alias("n"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").cast("long").alias("n_both"))
        .filter(F.col("n_both") >= BASKET_MIN_SUPPORT)
    )
    na = part_n.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a"))
    nb = part_n.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "part_a")
        .join(F.broadcast(nb), "part_b")
        .select(
            "part_a",
            "part_b",
            "n_both",
            "n_a",
            "n_b",
            (F.col("n_both").cast("double") / F.lit(n_orders).cast("double")).alias("support"),
            (F.col("n_both").cast("double") / F.col("n_a").cast("double")).alias("confidence_a_to_b"),
            (
                (F.col("n_both").cast("double") * F.lit(n_orders).cast("double"))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
    )


LINKPRED_TOP_K = 20


def parts_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor / Jaccard LINK PREDICTION over the co-purchase
    graph (nodes = parts, edges = the basket_part_pairs support-pruned
    pair set): the top NON-edge part pairs ranked by neighborhood
    overlap — the classic "customers who bought these also buy
    together" candidate generator, predicting associations the support
    threshold hasn't yet surfaced. (The MinHash dup graph was tried
    first and is the WRONG graph for this op: near-dup components are
    transitively closed cliques, so it has zero open triangles by
    construction — measured 0 candidates at both sf0.01 and sf0.1.)
    jaccard = cn / (deg_a + deg_b − cn): one double divide over exact
    integers; ties (cn desc, ids asc); the rank window runs after
    orderBy().limit() so its input is TakeOrdered-bounded. Scale: the
    shared-neighbor self-join is hub-bounded by the graph's max degree
    (support pruning keeps it small); degree joins map-side combined."""
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count("*").cast("long").alias("n_both"))
        .filter(F.col("n_both") >= BASKET_MIN_SUPPORT)
        .select("pa", "pb")
    )
    mirr = pairs.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    e1 = mirr.select(F.col("src").alias("__n"), F.col("dst").alias("a"))
    e2 = mirr.select(F.col("src").alias("__n"), F.col("dst").alias("b"))
    cn = (
        e1.join(e2, "__n")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("cn"))
    )
    cand = cn.join(
        pairs, (cn.a == pairs.pa) & (cn.b == pairs.pb), "left_anti"
    )
    deg = mirr.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    da = deg.select(F.col("src").alias("a"), F.col("deg").alias("__da"))
    db = deg.select(F.col("src").alias("b"), F.col("deg").alias("__db"))
    scored = (
        cand.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("cn").alias("common_neighbors"),
            (
                F.col("cn").cast("double")
                / (F.col("__da") + F.col("__db") - F.col("cn")).cast("double")
            ).alias("jaccard"),
        )
    )
    order_cols = [
        F.desc("jaccard"),
        F.desc("common_neighbors"),
        F.asc("part_a"),
        F.asc("part_b"),
    ]
    top = scored.orderBy(*order_cols).limit(LINKPRED_TOP_K)
    wr = Window.orderBy(*order_cols)
    return top.withColumn("rank", F.row_number().over(wr).cast("int")).select(
        "rank", "part_a", "part_b", "common_neighbors", "jaccard"
    )


def events_trend_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR TREND per event type: the least-squares slope and
    intercept of value (cents) against day index, from EXACT integer
    moments (s12's discipline extended to regression — built-in
    regr_slope merges float partials in partition order and cannot
    promise stable bits). slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    with every Σ an exact BIGINT/DECIMAL; two divisions at the end."""
    ev = read_table(spark, sf_dir, "events")
    x = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast("long")
    y = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    m = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * x).cast("decimal(38,0)")).alias("sxx"),
        F.sum((x * y).cast("decimal(38,0)")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = F.col("sxy").cast("double") * nd - F.col("sx").cast("double") * F.col("sy").cast("double")
    den = F.col("sxx").cast("double") * nd - F.col("sx").cast("double") * F.col("sx").cast("double")
    slope = num / den
    intercept = (F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / nd
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        slope.alias("slope_cents_per_day"),
        intercept.alias("intercept_cents"),
    )


QUERIES["basket_part_pairs"] = basket_part_pairs
QUERIES["parts_link_prediction"] = parts_link_prediction

ORACLE_SQL["parts_link_prediction"] = f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {{BASKET_MIN_SUPPORT}}
    ),
    edges AS (
        SELECT pa AS src, pb AS dst FROM pairs
        UNION ALL SELECT pb, pa FROM pairs
    ),
    cn AS (
        SELECT e1.dst AS a, e2.dst AS b, CAST(count(*) AS BIGINT) AS cn
        FROM edges e1 JOIN edges e2
          ON e1.src = e2.src AND e1.dst < e2.dst
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT cn.a, cn.b, cn.cn FROM cn
        LEFT JOIN pairs ON cn.a = pairs.pa AND cn.b = pairs.pb
        WHERE pairs.pa IS NULL
    ),
    deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
            FROM edges GROUP BY 1),
    scored AS (
        SELECT a AS part_a, b AS part_b, cn AS common_neighbors,
               CAST(cn AS DOUBLE) / CAST(da.deg + db.deg - cn AS DOUBLE)
                   AS jaccard
        FROM cand
        JOIN deg da ON da.id = a
        JOIN deg db ON db.id = b
    )
    SELECT CAST(row_number() OVER (
               ORDER BY jaccard DESC, common_neighbors DESC,
                        part_a ASC, part_b ASC) AS INTEGER) AS rank,
           part_a, part_b, common_neighbors, jaccard
    FROM scored
    QUALIFY rank <= {{LINKPRED_TOP_K}}
""".format(BASKET_MIN_SUPPORT=BASKET_MIN_SUPPORT, LINKPRED_TOP_K=LINKPRED_TOP_K)
QUERIES["events_trend_line"] = events_trend_line

ORACLE_SQL["basket_part_pairs"] = f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_orders AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS total FROM items),
    part_n AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM items GROUP BY 1),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(count(*) AS BIGINT) AS n_both
        FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {BASKET_MIN_SUPPORT}
    )
    SELECT p.part_a, p.part_b, p.n_both, na.n AS n_a, nb.n AS n_b,
           CAST(p.n_both AS DOUBLE) / CAST(t.total AS DOUBLE) AS support,
           CAST(p.n_both AS DOUBLE) / CAST(na.n AS DOUBLE) AS confidence_a_to_b,
           (CAST(p.n_both AS DOUBLE) * CAST(t.total AS DOUBLE))
               / (CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)) AS lift
    FROM pairs p
    JOIN part_n na ON na.l_partkey = p.part_a
    JOIN part_n nb ON nb.l_partkey = p.part_b
    CROSS JOIN n_orders t
"""

ORACLE_SQL["events_trend_line"] = """
    WITH m AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))) AS BIGINT) AS sx,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sy,
               sum(CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                        * date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                        AS DECIMAL(38,0))) AS sxx,
               sum(CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                        * CAST(floor(value * 100 + 0.5) AS BIGINT)
                        AS DECIMAL(38,0))) AS sxy
        FROM events GROUP BY 1
    )
    SELECT event_type, n,
           (CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(sxx AS DOUBLE) * CAST(n AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_cents_per_day,
           (CAST(sy AS DOUBLE)
            - ((CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(sxx AS DOUBLE) * CAST(n AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
              * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept_cents
    FROM m
"""


def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT of revenue concentration across customers —
    the inequality summary behind "whales" analysis (pairs with the
    Pareto/ABC view). Computed from the sorted-rank identity
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n with exact integer rank-weighted
    sums (rank·cents in DECIMAL) and a total order (cents ASC,
    customer ASC); the two divisions at the end are the only float
    ops."""
    o = read_table(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("customer_id")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("cents")
    )
    # customer cardinality scales with SF: two-phase rank, not a
    # partition-less row_number window
    from sfcrimedatapipeline_spark.operators.keys import dense_ids

    ranked = dense_ids(per_cust, ["cents", "customer_id"], "i")
    agg = ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("s"),
        F.sum((F.col("i") * F.col("cents")).cast("decimal(38,0)")).alias("ws"),
    )
    nd = F.col("n").cast("double")
    gini = (
        F.lit(2.0) * F.col("ws").cast("double") / (nd * F.col("s").cast("double"))
        - (nd + 1.0) / nd
    )
    return agg.select(
        "n",
        F.col("s").cast("double").alias("total_cents"),
        gini.alias("gini"),
    )


def events_type_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type DIVERSITY as Gini impurity 1 − Σpᵢ² — the
    rational diversity index (Shannon entropy needs ln, whose last ulp
    is libm-specific — same stance as the chi-square query). Exact:
    Σnᵢ² and n² are integers; one division."""
    ev = read_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    agg = per.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).alias("ss"),
    )
    impurity = F.lit(1.0) - F.col("ss").cast("double") / (
        F.col("n_events").cast("double") * F.col("n_events").cast("double")
    )
    return agg.select("user_id", "n_events", "n_types", impurity.alias("gini_impurity"))


QUERIES["customer_revenue_gini"] = customer_revenue_gini
QUERIES["events_type_diversity"] = events_type_diversity

ORACLE_SQL["customer_revenue_gini"] = """
    WITH per_cust AS (
        SELECT o_custkey AS customer_id,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT cents,
               CAST(row_number() OVER (ORDER BY cents ASC, customer_id ASC)
                    AS BIGINT) AS i
        FROM per_cust
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(CAST(cents AS DECIMAL(38,0))) AS s,
               sum(CAST(i * cents AS DECIMAL(38,0))) AS ws
        FROM ranked
    )
    SELECT n, CAST(s AS DOUBLE) AS total_cents,
           2.0 * CAST(ws AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
               - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
    FROM agg
"""

ORACLE_SQL["events_type_diversity"] = """
    WITH per AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    agg AS (
        SELECT user_id,
               CAST(sum(c) AS BIGINT) AS n_events,
               CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
               sum(CAST(c * c AS DECIMAL(38,0))) AS ss
        FROM per GROUP BY 1
    )
    SELECT user_id, n_events, n_types,
           1.0 - CAST(ss AS DOUBLE)
               / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)) AS gini_impurity
    FROM agg
"""


LEAD_TIME_PROBS = [0.5, 0.9, 0.99]


def orders_lead_time_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER LEAD TIME distribution: exact p50/p90/p99 of days between
    order placement and the FIRST line shipment — the fulfillment SLA
    KPI. Exact integer day deltas through the shared-interpolation
    quantile operator; orders with no lines drop (no shipment, no
    lead time)."""
    from sfcrimedatapipeline_spark.operators.profile import exact_quantiles

    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.min(F.to_date("l_shipdate")).alias("first_ship"))
    )
    lead = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.datediff(F.col("first_ship"), F.to_date("o_orderdate"))
        .cast("long")
        .cast("double")
        .alias("lead_days")
    )
    return exact_quantiles(lead, "lead_days", LEAD_TIME_PROBS)


def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily BOUNCE RATE: the fraction of that day's active users with
    exactly one event — the engagement-quality KPI beside DAU. Exact
    counts, one division."""
    ev = read_table(spark, sf_dir, "events")
    per = ev.groupBy(F.to_date("ts").alias("day"), F.col("user_id")).agg(
        F.count("*").alias("n")
    )
    return per.groupBy("day").agg(
        F.count("*").cast("long").alias("dau"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("long").alias("n_bounced"),
        (
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("double")
            / F.count("*").cast("double")
        ).alias("bounce_rate"),
    )


QUERIES["orders_lead_time_quantiles"] = orders_lead_time_quantiles
QUERIES["events_bounce_rate"] = events_bounce_rate

ORACLE_SQL["orders_lead_time_quantiles"] = f"""
    WITH li AS (
        SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS first_ship
        FROM lineitem GROUP BY 1
    ),
    lead_t AS (
        SELECT CAST(CAST(date_diff('day', CAST(o.o_orderdate AS DATE), li.first_ship)
                    AS BIGINT) AS DOUBLE) AS v
        FROM orders o JOIN li ON o.o_orderkey = li.l_orderkey
    ),
    ranked AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) - 1 AS r FROM lead_t),
    n AS (SELECT count(*) AS cnt FROM lead_t),
    probs AS (SELECT CAST(unnest([{", ".join(repr(p) for p in LEAD_TIME_PROBS)}]) AS DOUBLE) AS p)
    SELECT p AS prob,
           lo.v + (hi.v - lo.v) * (p * (cnt - 1) - floor(p * (cnt - 1))) AS value
    FROM probs, n
    JOIN ranked lo ON lo.r = CAST(floor(p * (cnt - 1)) AS BIGINT)
    JOIN ranked hi ON hi.r = least(CAST(floor(p * (cnt - 1)) AS BIGINT) + 1, cnt - 1)
"""

ORACLE_SQL["events_bounce_rate"] = """
    WITH per AS (
        SELECT CAST(ts AS DATE) AS day, user_id, count(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS dau,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounced,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS bounce_rate
    FROM per GROUP BY 1
"""


#: Benford expected first-digit shares log10(1 + 1/d) — computed once
#: in Python and embedded as IDENTICAL double literals in both engines
#: (a log10() call at query time would expose libm low-bit divergence)
BENFORD_SHARES = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def dq_benford_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order totals — the classic
    fabricated-data screen (organic multiplicative amounts follow
    log10(1+1/d); keyed/synthetic ones don't). The first significant
    digit is extracted by STRING head over integer cents — exact in
    any engine, where floor(x/10^floor(log10 x)) would ride libm —
    and the per-digit chi-square contribution (obs−exp)²/exp uses the
    shared literal share table. One map-side-combined 9-group
    aggregate joined to a broadcast digit spine (zero-count digits
    still report)."""
    o = read_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = (
        o.filter(cents > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n"))
    )
    total = counts.agg(F.sum("n").cast("long").alias("__tot"))
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    share = F.coalesce(
        *[
            F.when(F.col("digit") == d, F.lit(s))
            for d, s in sorted(BENFORD_SHARES.items())
        ]
    )
    nn = F.coalesce(F.col("n"), F.lit(0)).cast("long")
    exp = share * F.col("__tot").cast("double")
    return (
        spine.join(counts, "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            nn.alias("n"),
            share.alias("expected_share"),
            (nn.cast("double") / F.col("__tot").cast("double")).alias(
                "observed_share"
            ),
            (
                (nn.cast("double") - exp) * (nn.cast("double") - exp) / exp
            ).alias("chisq_term"),
        )
    )


QUERIES["dq_benford_prices"] = dq_benford_prices

_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {s!r}" for d, s in sorted(BENFORD_SHARES.items())
)
ORACLE_SQL["dq_benford_prices"] = f"""
    WITH c AS (
        SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100 + 0.5)
                                   AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER)
                   AS digit
        FROM orders
        WHERE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) > 0
    ),
    counts AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM counts),
    spine AS (SELECT unnest(generate_series(1, 9)) AS digit)
    SELECT CAST(s.digit AS INTEGER) AS digit,
           coalesce(counts.n, 0) AS n,
           CASE s.digit {_BENFORD_CASE} END AS expected_share,
           CAST(coalesce(counts.n, 0) AS DOUBLE) / CAST(tot.t AS DOUBLE)
               AS observed_share,
           (CAST(coalesce(counts.n, 0) AS DOUBLE)
              - (CASE s.digit {_BENFORD_CASE} END) * CAST(tot.t AS DOUBLE))
           * (CAST(coalesce(counts.n, 0) AS DOUBLE)
              - (CASE s.digit {_BENFORD_CASE} END) * CAST(tot.t AS DOUBLE))
           / ((CASE s.digit {_BENFORD_CASE} END) * CAST(tot.t AS DOUBLE))
               AS chisq_term
    FROM spine s
    LEFT JOIN counts ON s.digit = counts.digit, tot
"""


def hist_equidepth_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (the optimizer-statistics classic: equal
    ROW share per bucket, boundaries wherever the data puts them —
    where the fixed-width histogram starves on skew). Bucket of a row
    = (rank·k) DIV n over the (cents, orderkey)-total-ordered frame —
    pure integers, so bucket membership is identical in any engine
    even at tied values. The rank is the two-phase dense_ids recipe
    (range repartition + per-partition offsets), never a
    single-partition window; the bucket aggregate is one map-side
    combine."""
    from sfcrimedatapipeline_spark.operators.keys import dense_ids

    k = 16
    li = read_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("__v"),
        F.col("l_orderkey").alias("__k"),
        F.col("l_linenumber").alias("__l"),
    )
    ranked = dense_ids(base, ["__v", "__k", "__l"], "__r")  # 1-based
    total = ranked.agg(F.count("*").cast("long").alias("__n"))
    bucket = F.expr(f"CAST((__r - 1) * {k} DIV __n AS INT)")
    return (
        ranked.crossJoin(F.broadcast(total))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n"),
            (F.min("__v").cast("double") / 100).alias("lo"),
            (F.max("__v").cast("double") / 100).alias("hi"),
        )
    )


QUERIES["hist_equidepth_prices"] = hist_equidepth_prices

ORACLE_SQL["hist_equidepth_prices"] = """
    WITH base AS (
        SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
               l_orderkey AS k, l_linenumber AS l
        FROM lineitem
    ),
    ranked AS (
        SELECT v, ROW_NUMBER() OVER (ORDER BY v, k, l) - 1 AS r FROM base
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM base)
    SELECT CAST(r * 16 // cnt AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(v) AS DOUBLE) / 100 AS lo,
           CAST(max(v) AS DOUBLE) / 100 AS hi
    FROM ranked, n
    GROUP BY 1
"""


def orders_business_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-shipment lead time in BUSINESS days — calendar
    arithmetic done the warehouse way, through the reference's own
    generated date dimension (plans/dims.py:generate_dim_date: weekend
    + fixed/floating holiday rules) instead of a naive datediff. Each
    date maps to its cumulative business-day index (one window over
    the dim-CARDINALITY spine, the surrogate_key precedent — ~2.9k
    rows, never data), so per-order lead = bidx(ship) − bidx(order):
    two broadcast equi-joins, no range join against the calendar.
    Integer day counts give an exact per-priority aggregate."""
    from sfcrimedatapipeline_spark.plans.dims import generate_dim_date
    from pyspark.sql import Window

    biz = (
        (~F.col("isWeekend")) & (~F.col("isHoliday"))
    ).cast("long")
    dim = (
        generate_dim_date(spark, "1995-01-01", "2002-12-31")
        .select(F.col("FullDate").alias("d"), biz.alias("b"))
        .select("d", F.sum("b").over(Window.orderBy("d")).alias("bidx"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("ship_d")
    )
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("order_d"),
    )
    joined = (
        o.join(first_ship, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(dim.select(F.col("d"), F.col("bidx").alias("b_ord"))),
            F.col("order_d") == F.col("d"),
        )
        .drop("d")
        .join(
            F.broadcast(dim.select(F.col("d"), F.col("bidx").alias("b_shp"))),
            F.col("ship_d") == F.col("d"),
        )
    )
    lead = F.col("b_shp") - F.col("b_ord")
    return joined.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(lead).cast("long").alias("sum_bdays"),
        (F.sum(lead).cast("double") / F.count("*").cast("double")).alias(
            "avg_business_days"
        ),
        F.max(lead).cast("long").alias("max_bdays"),
    )


QUERIES["orders_business_lead_time"] = orders_business_lead_time

# same holiday CTE as the dim_date_yearly oracle, extended with the
# cumulative business-day index
ORACLE_SQL["orders_business_lead_time"] = """
    WITH d AS (
        SELECT unnest(generate_series(DATE '1995-01-01', DATE '2002-12-31',
                                      INTERVAL 1 DAY))::DATE AS fd
    ),
    x AS (
        SELECT fd, month(fd) AS mo, dayofmonth(fd) AS dom,
               dayofweek(fd) AS dow
        FROM d
    ),
    h AS (
        SELECT fd,
               CASE WHEN dow IN (0, 6) THEN 0
                    WHEN (mo=1 AND dom=1)
                      OR (mo=1 AND dow=1 AND dom BETWEEN 15 AND 21)
                      OR (mo=2 AND dow=1 AND dom BETWEEN 15 AND 21)
                      OR (mo=5 AND dow=1 AND dom >= 25)
                      OR (mo=6 AND dom=19) OR (mo=7 AND dom=4)
                      OR (mo=9 AND dow=1 AND dom <= 7)
                      OR (mo=10 AND dow=1 AND dom BETWEEN 8 AND 14)
                      OR (mo=11 AND dom=11)
                      OR (mo=11 AND dow=4 AND dom BETWEEN 22 AND 28)
                      OR (mo=12 AND dom=25)
                    THEN 0 ELSE 1 END AS b
        FROM x
    ),
    dim AS (
        SELECT fd, CAST(sum(b) OVER (ORDER BY fd
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS bidx
        FROM h
    ),
    fs AS (
        SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS ship_d
        FROM lineitem GROUP BY 1
    ),
    j AS (
        SELECT o.o_orderpriority,
               ds.bidx - do_.bidx AS lead
        FROM orders o
        JOIN fs ON o.o_orderkey = fs.l_orderkey
        JOIN dim do_ ON CAST(o.o_orderdate AS DATE) = do_.fd
        JOIN dim ds ON fs.ship_d = ds.fd
    )
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(lead) AS BIGINT) AS sum_bdays,
           CAST(sum(lead) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS avg_business_days,
           CAST(max(lead) AS BIGINT) AS max_bdays
    FROM j GROUP BY 1
"""


RECO_TOP_K = 3


def reco_parts_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITEM-ITEM RECOMMENDATIONS: for every part, the top-3 co-purchased
    parts by cosine similarity n_both / sqrt(n_a·n_b) — the
    neighborhood model of collaborative filtering, built on the same
    order-keyed basket self-join as basket_part_pairs (baskets are
    small; the join is lines-per-order², never parts²). The pair list
    is SYMMETRIZED before ranking so every part recommends from its
    full neighborhood; ranking is a top-k window PARTITIONED by the
    recommending part (k-bounded output per part). sqrt is IEEE
    correctly-rounded, so the cosine — one multiply, one sqrt, one
    divide on exact integer counts — carries identical bits on both
    engines and the rank order gates exactly (ties broken by the
    recommended part id)."""
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    part_n = items.groupBy("l_partkey").agg(F.count("*").cast("long").alias("n"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").cast("long").alias("n_both"))
        .filter(F.col("n_both") >= BASKET_MIN_SUPPORT)
    )
    sym = pairs.unionByName(
        pairs.select(
            F.col("part_b").alias("part_a"),
            F.col("part_a").alias("part_b"),
            "n_both",
        )
    )
    na = part_n.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a"))
    nb = part_n.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b"))
    scored = (
        sym.join(F.broadcast(na), "part_a")
        .join(F.broadcast(nb), "part_b")
        .withColumn(
            "cosine",
            F.col("n_both").cast("double")
            / F.sqrt(F.col("n_a").cast("double") * F.col("n_b").cast("double")),
        )
    )
    w = Window.partitionBy("part_a").orderBy(
        F.col("cosine").desc(), F.col("part_b").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= RECO_TOP_K)
        .select("part_a", "rank", "part_b", "n_both", "n_a", "n_b", "cosine")
    )


QUERIES["reco_parts_topk"] = reco_parts_topk

ORACLE_SQL["reco_parts_topk"] = f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    part_n AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM items GROUP BY 1),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(count(*) AS BIGINT) AS n_both
        FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {BASKET_MIN_SUPPORT}
    ),
    sym AS (
        SELECT part_a, part_b, n_both FROM pairs
        UNION ALL
        SELECT part_b, part_a, n_both FROM pairs
    ),
    scored AS (
        SELECT part_a, part_b, n_both, na.n AS n_a, nb.n AS n_b,
               CAST(n_both AS DOUBLE)
                   / sqrt(CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)) AS cosine
        FROM sym
        JOIN part_n na ON sym.part_a = na.l_partkey
        JOIN part_n nb ON sym.part_b = nb.l_partkey
    ),
    ranked AS (
        SELECT *, CAST(row_number() OVER (PARTITION BY part_a
                       ORDER BY cosine DESC, part_b ASC) AS INTEGER) AS rank
        FROM scored
    )
    SELECT part_a, rank, part_b, n_both, n_a, n_b, cosine
    FROM ranked WHERE rank <= {RECO_TOP_K}
"""


CONTRACT_ENUM_MAX = 10


def dq_suggest_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-CONTRACT INFERENCE: profile the orders table once and emit
    the expectation rules the evidence supports — not_null where zero
    nulls, unique where distinct == rows, accepted_values where
    cardinality ≤ 10, range with observed bounds — i.e. the input a
    team feeds check_expectations when onboarding an undocumented
    table. One conditional-aggregation pass builds a 1-row profile;
    each candidate rule is a literal select over that row kept only
    when its condition holds (the union is rule-candidate-bounded,
    ~3 rows per column — never data). Money ranges are emitted in
    exact cents and everything else as ints/ISO dates, so the param
    strings are engine-identical."""
    o = read_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    prof = o.agg(
        F.count("*").alias("n"),
        *[
            x
            for c in ["o_orderkey", "o_custkey", "o_orderstatus",
                      "o_orderpriority", "o_orderdate"]
            for x in (
                F.count(c).alias(f"nn_{c}"),
                F.countDistinct(c).alias(f"nd_{c}"),
            )
        ],
        F.count("o_totalprice").alias("nn_o_totalprice"),
        F.min(F.col("o_orderkey")).cast("long").alias("mn_o_orderkey"),
        F.max(F.col("o_orderkey")).cast("long").alias("mx_o_orderkey"),
        F.min(F.col("o_custkey")).cast("long").alias("mn_o_custkey"),
        F.max(F.col("o_custkey")).cast("long").alias("mx_o_custkey"),
        F.min(F.col("o_orderdate").cast("date")).alias("mn_o_orderdate"),
        F.max(F.col("o_orderdate").cast("date")).alias("mx_o_orderdate"),
        F.min(cents).alias("mn_cents"),
        F.max(cents).alias("mx_cents"),
    ).persist()

    def rule(col: str, kind: str, param, cond) -> DataFrame:
        return prof.filter(cond).select(
            F.lit(col).alias("column"),
            F.lit(kind).alias("rule"),
            param.cast("string").alias("param"),
        )

    span = lambda a, b: F.concat(
        F.col(a).cast("string"), F.lit(".."), F.col(b).cast("string")
    )
    parts = []
    for c in ["o_orderkey", "o_custkey", "o_orderstatus",
              "o_orderpriority", "o_orderdate", "o_totalprice"]:
        parts.append(
            rule(c, "not_null", F.lit(""), F.col(f"nn_{c}") == F.col("n"))
        )
    for c in ["o_orderkey", "o_custkey", "o_orderstatus",
              "o_orderpriority", "o_orderdate"]:
        parts.append(
            rule(c, "unique", F.lit(""), F.col(f"nd_{c}") == F.col("n"))
        )
        parts.append(
            rule(
                c,
                "accepted_values",
                F.col(f"nd_{c}"),
                F.col(f"nd_{c}") <= CONTRACT_ENUM_MAX,
            )
        )
    parts.append(rule("o_orderkey", "range", span("mn_o_orderkey", "mx_o_orderkey"), F.lit(True)))
    parts.append(rule("o_custkey", "range", span("mn_o_custkey", "mx_o_custkey"), F.lit(True)))
    parts.append(rule("o_orderdate", "range", span("mn_o_orderdate", "mx_o_orderdate"), F.lit(True)))
    parts.append(rule("o_totalprice_cents", "range", span("mn_cents", "mx_cents"), F.lit(True)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


QUERIES["dq_suggest_contract"] = dq_suggest_contract

ORACLE_SQL["dq_suggest_contract"] = f"""
    WITH prof AS (
        SELECT count(*) AS n,
               count(o_orderkey) AS nn_o_orderkey,
               count(DISTINCT o_orderkey) AS nd_o_orderkey,
               count(o_custkey) AS nn_o_custkey,
               count(DISTINCT o_custkey) AS nd_o_custkey,
               count(o_orderstatus) AS nn_o_orderstatus,
               count(DISTINCT o_orderstatus) AS nd_o_orderstatus,
               count(o_orderpriority) AS nn_o_orderpriority,
               count(DISTINCT o_orderpriority) AS nd_o_orderpriority,
               count(o_orderdate) AS nn_o_orderdate,
               count(DISTINCT o_orderdate) AS nd_o_orderdate,
               count(o_totalprice) AS nn_o_totalprice,
               CAST(min(o_orderkey) AS BIGINT) AS mn_o_orderkey,
               CAST(max(o_orderkey) AS BIGINT) AS mx_o_orderkey,
               CAST(min(o_custkey) AS BIGINT) AS mn_o_custkey,
               CAST(max(o_custkey) AS BIGINT) AS mx_o_custkey,
               min(CAST(o_orderdate AS DATE)) AS mn_o_orderdate,
               max(CAST(o_orderdate AS DATE)) AS mx_o_orderdate,
               min(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS mn_cents,
               max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS mx_cents
        FROM orders
    )
    SELECT 'o_orderkey' AS "column", 'not_null' AS rule, '' AS param
        FROM prof WHERE nn_o_orderkey = n
    UNION ALL SELECT 'o_custkey', 'not_null', '' FROM prof WHERE nn_o_custkey = n
    UNION ALL SELECT 'o_orderstatus', 'not_null', '' FROM prof WHERE nn_o_orderstatus = n
    UNION ALL SELECT 'o_orderpriority', 'not_null', '' FROM prof WHERE nn_o_orderpriority = n
    UNION ALL SELECT 'o_orderdate', 'not_null', '' FROM prof WHERE nn_o_orderdate = n
    UNION ALL SELECT 'o_totalprice', 'not_null', '' FROM prof WHERE nn_o_totalprice = n
    UNION ALL SELECT 'o_orderkey', 'unique', '' FROM prof WHERE nd_o_orderkey = n
    UNION ALL SELECT 'o_custkey', 'unique', '' FROM prof WHERE nd_o_custkey = n
    UNION ALL SELECT 'o_orderstatus', 'unique', '' FROM prof WHERE nd_o_orderstatus = n
    UNION ALL SELECT 'o_orderpriority', 'unique', '' FROM prof WHERE nd_o_orderpriority = n
    UNION ALL SELECT 'o_orderdate', 'unique', '' FROM prof WHERE nd_o_orderdate = n
    UNION ALL SELECT 'o_orderkey', 'accepted_values', CAST(nd_o_orderkey AS VARCHAR)
        FROM prof WHERE nd_o_orderkey <= {CONTRACT_ENUM_MAX}
    UNION ALL SELECT 'o_custkey', 'accepted_values', CAST(nd_o_custkey AS VARCHAR)
        FROM prof WHERE nd_o_custkey <= {CONTRACT_ENUM_MAX}
    UNION ALL SELECT 'o_orderstatus', 'accepted_values', CAST(nd_o_orderstatus AS VARCHAR)
        FROM prof WHERE nd_o_orderstatus <= {CONTRACT_ENUM_MAX}
    UNION ALL SELECT 'o_orderpriority', 'accepted_values', CAST(nd_o_orderpriority AS VARCHAR)
        FROM prof WHERE nd_o_orderpriority <= {CONTRACT_ENUM_MAX}
    UNION ALL SELECT 'o_orderdate', 'accepted_values', CAST(nd_o_orderdate AS VARCHAR)
        FROM prof WHERE nd_o_orderdate <= {CONTRACT_ENUM_MAX}
    UNION ALL SELECT 'o_orderkey', 'range',
        CAST(mn_o_orderkey AS VARCHAR) || '..' || CAST(mx_o_orderkey AS VARCHAR) FROM prof
    UNION ALL SELECT 'o_custkey', 'range',
        CAST(mn_o_custkey AS VARCHAR) || '..' || CAST(mx_o_custkey AS VARCHAR) FROM prof
    UNION ALL SELECT 'o_orderdate', 'range',
        CAST(mn_o_orderdate AS VARCHAR) || '..' || CAST(mx_o_orderdate AS VARCHAR) FROM prof
    UNION ALL SELECT 'o_totalprice_cents', 'range',
        CAST(mn_cents AS VARCHAR) || '..' || CAST(mx_cents AS VARCHAR) FROM prof
"""


DP_CLAMP_CENTS = 10000


def privacy_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy: DIFFERENTIALLY-PRIVATE release (operators/quality.py:
    dp_release_counts) — per event type (a public taxonomy), noisy
    count and noisy clamped-sum-of-cents, each ε = ln 2 via the
    geometric mechanism. The noise is a seeded md5→bin() integer
    draw, so both engines replay the identical release and the query
    hash-gates; true values never appear in the output. Completes the
    privacy ladder next to k-anonymity / l-diversity / pseudonymize:
    those audit or mask a release, this one carries a formal ε."""
    from sfcrimedatapipeline_spark.operators.quality import dp_release_counts

    ev = read_table(spark, sf_dir, "events")
    return dp_release_counts(
        ev,
        ["event_type"],
        value_col="value",
        clamp_cents=DP_CLAMP_CENTS,
        seed="dp",
    )


QUERIES["privacy_dp_release"] = privacy_dp_release

_DP_G = (
    "(32 - length(bin(CAST(('0x' || substring(md5({k}), 1, 8)) AS BIGINT))))"
)

ORACLE_SQL["privacy_dp_release"] = f"""
    WITH g AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(GREATEST(LEAST(CAST(floor(value * 100 + 0.5) AS BIGINT),
                                       {DP_CLAMP_CENTS}), 0)) AS BIGINT) AS s
        FROM events GROUP BY 1
    )
    SELECT event_type,
           CAST(n + {_DP_G.format(k="'a:dp:n:' || event_type")}
                  - {_DP_G.format(k="'b:dp:n:' || event_type")} AS BIGINT) AS released_n,
           CAST(s + {DP_CLAMP_CENTS} * ({_DP_G.format(k="'a:dp:s:' || event_type")}
                  - {_DP_G.format(k="'b:dp:s:' || event_type")}) AS BIGINT) AS released_sum_cents
    FROM g
"""


_RCTE_SQL = """
    WITH RECURSIVE m AS (
        SELECT (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1
                   AS mi,
               CAST(sum(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS rev
        FROM orders GROUP BY 1
    ),
    r (mi, bal) AS (
        SELECT mi, CAST(rev AS DOUBLE) FROM m
        WHERE mi = (SELECT min(mi) FROM m)
        UNION ALL
        SELECT m.mi, r.bal * CAST(0.9 AS DOUBLE) + CAST(m.rev AS DOUBLE)
        FROM r JOIN m ON m.mi = r.mi + 1
    )
    SELECT CAST(mi AS INTEGER) AS month_index, bal AS smoothed_revenue
    FROM r ORDER BY month_index
"""


def s20_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S20: WITH RECURSIVE through the SQL surface (Spark 4's
    UnionLoop execution): exponentially-smoothed monthly revenue —
    bal_m = 0.9·bal_{m-1} + revenue_m — a recurrence whose value
    genuinely depends on evaluation ORDER, which the recursion pins
    identically in both engines (windows can only express it as a
    float power series with a different rounding path). Monthly
    revenues are exact integer cents; each step is two IEEE ops in
    recursion order, so the hash gate holds bit-exactly. The recursion
    depth is the MONTH count (calendar-bounded, ~84 for TPC-H's seven
    years) — never data cardinality."""
    from sfcrimedatapipeline_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_RCTE_SQL)


QUERIES["s20_recursive_cte"] = s20_recursive_cte

ORACLE_SQL["s20_recursive_cte"] = """
    WITH RECURSIVE m AS (
        SELECT (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1
                   AS mi,
               CAST(sum(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS rev
        FROM orders GROUP BY 1
    ),
    r AS (
        SELECT mi, CAST(rev AS DOUBLE) AS bal FROM m
        WHERE mi = (SELECT min(mi) FROM m)
        UNION ALL
        SELECT m.mi, r.bal * CAST(0.9 AS DOUBLE) + CAST(m.rev AS DOUBLE)
        FROM r JOIN m ON m.mi = r.mi + 1
    )
    SELECT CAST(mi AS INTEGER) AS month_index, bal AS smoothed_revenue
    FROM r ORDER BY month_index
"""


ASSOC_TOP_K = 50


def orders_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASSOCIATION RULES over order baskets: support, confidence and
    lift for co-purchased part pairs — the market-basket classic next
    to reco_parts_topk's cosine neighborhood (lift ≷ 1 answers a
    different question: does A's presence CHANGE B's odds?). Same
    order-keyed basket self-join (lines-per-order², never parts²);
    every metric is one or two divides on exact integer counts, the
    final top-50 is a global ORDER BY + LIMIT (TakeOrderedAndProject,
    no sort shuffle) with ties broken by the part pair."""
    li = read_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = items.select("l_orderkey").distinct().agg(
        F.count("*").cast("long").alias("n_orders")
    )
    part_n = items.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("n")
    )
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= BASKET_MIN_SUPPORT)
    )
    na = part_n.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a"))
    nb = part_n.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b"))
    j = (
        pairs.join(F.broadcast(na), "part_a")
        .join(F.broadcast(nb), "part_b")
        .crossJoin(F.broadcast(n_orders))
    )
    no = F.col("n_orders").cast("double")
    support = F.col("n_ab").cast("double") / no
    conf = F.col("n_ab").cast("double") / F.col("n_a").cast("double")
    lift = (
        F.col("n_ab").cast("double")
        * no
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    return (
        j.select(
            "part_a", "part_b", "n_a", "n_b", "n_ab", "n_orders",
            support.alias("support"),
            conf.alias("confidence_a_to_b"),
            lift.alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b"))
        .limit(ASSOC_TOP_K)
    )


QUERIES["orders_assoc_rules"] = orders_assoc_rules

ORACLE_SQL["orders_assoc_rules"] = f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    no AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
           FROM items),
    pn AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n
           FROM items GROUP BY 1),
    pr AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {BASKET_MIN_SUPPORT}
    )
    SELECT pr.part_a, pr.part_b,
           na.n AS n_a, nb.n AS n_b, pr.n_ab, no.n_orders,
           CAST(pr.n_ab AS DOUBLE) / CAST(no.n_orders AS DOUBLE) AS support,
           CAST(pr.n_ab AS DOUBLE) / CAST(na.n AS DOUBLE)
               AS confidence_a_to_b,
           CAST(pr.n_ab AS DOUBLE) * CAST(no.n_orders AS DOUBLE)
               / (CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)) AS lift
    FROM pr
    JOIN pn na ON na.l_partkey = pr.part_a
    JOIN pn nb ON nb.l_partkey = pr.part_b
    CROSS JOIN no
    ORDER BY lift DESC, part_a ASC, part_b ASC
    LIMIT {ASSOC_TOP_K}
"""


PIVOT_PRIORITIES = [
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
]


def orders_pivot_priority_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT through the relational surface: order counts per year ×
    priority, priorities turned into columns (the report shape every
    BI tool asks for). Spark's ``groupBy().pivot(col, values)`` with
    the value list given EXPLICITLY — omitting it costs a separate
    distinct-collect pass AND makes the output schema data-dependent,
    which a 100 TB pipeline can't have. One map-side-combined aggregate
    either way; the oracle is the standard conditional-count rendering.
    Empty cells are 0, not NULL (count semantics on both engines)."""
    o = read_table(spark, sf_dir, "orders")
    wide = (
        o.select(F.year("o_orderdate").alias("order_year"), "o_orderpriority")
        .groupBy("order_year")
        .pivot("o_orderpriority", PIVOT_PRIORITIES)
        .count()
    )
    renames = {
        p: "p" + p.split("-", 1)[0] + "_"
        + p.split("-", 1)[1].lower().replace(" ", "_")
        for p in PIVOT_PRIORITIES
    }
    return wide.select(
        "order_year",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("long").alias(alias)
            for p, alias in renames.items()
        ],
    )


QUERIES["orders_pivot_priority_year"] = orders_pivot_priority_year

ORACLE_SQL["orders_pivot_priority_year"] = """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(count(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT)
               AS p1_urgent,
           CAST(count(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT)
               AS p2_high,
           CAST(count(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT)
               AS p3_medium,
           CAST(count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS BIGINT)
               AS p4_not_specified,
           CAST(count(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT)
               AS p5_low
    FROM orders GROUP BY 1
"""


def lineitem_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) through the relational surface: the three
    lineitem money/rate measures turned into (measure, value) rows —
    the long format every metrics store and charting layer ingests.
    Spark's native ``DataFrame.unpivot`` (SQL ``stack``) — one
    narrow projection, zero shuffle, values passed through BIT-EXACT
    (no arithmetic anywhere, so doubles hash-gate trivially). The
    oracle is the textbook three-way UNION ALL."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )


QUERIES["lineitem_unpivot_measures"] = lineitem_unpivot_measures

ORACLE_SQL["lineitem_unpivot_measures"] = """
    SELECT l_orderkey, l_linenumber, 'l_extendedprice' AS measure,
           l_extendedprice AS value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
"""


def lineitem_quartiles_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_CONT (linear interpolation) next to the gated DISC
    family (a11_percentile_disc): exact interpolated quartiles of
    extended price per return flag. Hash-gates on DOUBLES without a
    fixed-order chain because every term is EXACT: inputs are integer
    cents, p ∈ {.25, .5, .75} makes the interpolation fraction a
    dyadic rational, so lo + (hi−lo)·f is computed without rounding in
    either engine — algebraically equal formulas are bit-equal when no
    step rounds. Spark's ``percentile`` sorts per group (exact, not
    the t-digest approx); the group count is 3 flags, never data-
    bounded."""
    li = read_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    q = F.percentile(cents, F.lit([0.25, 0.5, 0.75]))
    return (
        li.groupBy("l_returnflag")
        .agg(q.alias("q"))
        .select(
            "l_returnflag",
            F.col("q")[0].alias("q25_cents"),
            F.col("q")[1].alias("q50_cents"),
            F.col("q")[2].alias("q75_cents"),
        )
    )


QUERIES["lineitem_quartiles_cont"] = lineitem_quartiles_cont

ORACLE_SQL["lineitem_quartiles_cont"] = """
    SELECT l_returnflag,
           quantile_cont(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT),
                         0.25) AS q25_cents,
           quantile_cont(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT),
                         0.5) AS q50_cents,
           quantile_cont(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT),
                         0.75) AS q75_cents
    FROM lineitem GROUP BY 1
"""
