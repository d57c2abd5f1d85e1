"""Timeseries queries over ``events``: spine gap-fill with LOCF and
time-weighted averaging (operators/temporal.py). Both use exact
integer-microsecond epoch arithmetic (Spark ``unix_micros`` ↔ DuckDB
``epoch_us``) — double epoch truncation differs across engines and is
banned here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.operators import temporal
from sfcrimedatapipeline_spark.plans.tpch import QueryFn
from sfcrimedatapipeline_spark.sources.tables import read_table

BUCKET_SECONDS = 3600
_BUCKET_US = BUCKET_SECONDS * 1_000_000



def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events reader WITHOUT the fan-out repartition (OPTIMIZATION
    r12, guide §2.4): every query in this module is arithmetic on a
    handful of columns feeding a shuffle — measured with/without at
    sf0.1, the round-robin exchange costs ~0.15-0.25 s per query and
    buys nothing (the fan-out exists for CPU-heavy per-row operators:
    hashing, shingling, cosine scoring — minhash measured 3x FASTER
    with it, so readers feeding those keep ensure_min_partitions). On
    a multi-split cluster-scale input the guard was a no-op anyway."""
    return read_table(spark, sf_dir, "events")

def events_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly spine per user with last-observation-carried-forward fill
    (operators/temporal.py:resample_locf)."""
    ev = _ev(spark, sf_dir)
    return temporal.resample_locf(ev, bucket_seconds=BUCKET_SECONDS)


def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted mean value
    (operators/temporal.py:time_weighted_avg)."""
    ev = _ev(spark, sf_dir)
    return temporal.time_weighted_avg(ev)


QUERIES: dict[str, QueryFn] = {
    "events_resample_locf": events_resample_locf,
    "events_time_weighted_avg": events_time_weighted_avg,
}

ORACLE_SQL: dict[str, str] = {
    "events_resample_locf": f"""
        WITH ev AS (
            SELECT user_id, epoch_us(ts) AS mu,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events
        ),
        obs AS (
            SELECT user_id, b, cents AS obs_cents FROM (
                SELECT user_id, mu // {_BUCKET_US} AS b, cents,
                       row_number() OVER (PARTITION BY user_id, mu // {_BUCKET_US}
                                          ORDER BY mu DESC, cents DESC) AS rn
                FROM ev) t
            WHERE rn = 1
        ),
        span AS (
            SELECT user_id, min(mu) // {_BUCKET_US} AS b0,
                   max(mu) // {_BUCKET_US} AS b1
            FROM ev GROUP BY 1
        ),
        spine AS (
            SELECT user_id, unnest(generate_series(b0, b1)) AS b FROM span
        )
        SELECT s.user_id,
               make_timestamp(s.b * {_BUCKET_US}) AS bucket_ts,
               o.obs_cents,
               last_value(o.obs_cents IGNORE NULLS) OVER (
                   PARTITION BY s.user_id ORDER BY s.b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents
        FROM spine s
        LEFT JOIN obs o ON s.user_id = o.user_id AND s.b = o.b
    """,
    "events_time_weighted_avg": """
        WITH ev AS (
            SELECT user_id, epoch_us(ts) AS mu,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events
        ),
        seg AS (
            SELECT user_id, cents,
                   lead(mu) OVER (PARTITION BY user_id
                                  ORDER BY mu ASC, cents ASC) - mu AS dt_us
            FROM ev
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_segments,
               CAST(sum(dt_us) AS BIGINT) AS total_us,
               CAST(sum(CAST(cents AS DECIMAL(38,0)) * dt_us) AS DOUBLE)
                   / CAST(sum(dt_us) AS DOUBLE) AS twa_cents
        FROM seg WHERE dt_us IS NOT NULL
        GROUP BY 1
    """,
}


BURST_SECONDS = 120
ZSCORE_ROWS = 10
ZSCORE_THRESHOLD = 2.5


def events_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly spine with linear interpolation across gaps
    (operators/temporal.py:resample_interpolate)."""
    ev = _ev(spark, sf_dir)
    return temporal.resample_interpolate(ev, bucket_seconds=BUCKET_SECONDS)


def events_collapse_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce: at most one event per (user, type) per 120 s quiet
    period (operators/temporal.py:collapse_bursts)."""
    ev = _ev(spark, sf_dir)
    return temporal.collapse_bursts(
        ev, within_seconds=BURST_SECONDS, match_value=False
    ).select("event_id", "user_id", "event_type", "ts", "value")


def events_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-10-row z-score anomaly flags per user
    (operators/temporal.py:rolling_zscore)."""
    ev = _ev(spark, sf_dir)
    return temporal.rolling_zscore(
        ev, window_rows=ZSCORE_ROWS, threshold=ZSCORE_THRESHOLD
    )


def events_resample_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user gap profile of the hourly resample spine
    (operators/temporal.py:resample_gap_stats, VERDICT r7 #4): the
    bounded-output variant whose bench line measures spine DATAFLOW —
    output is one row per user, not the 1M-row filled series."""
    ev = _ev(spark, sf_dir)
    return temporal.resample_gap_stats(ev, bucket_seconds=BUCKET_SECONDS)


QUERIES["events_resample_interp"] = events_resample_interp
QUERIES["events_collapse_bursts"] = events_collapse_bursts
QUERIES["events_rolling_zscore"] = events_rolling_zscore
QUERIES["events_resample_gap_stats"] = events_resample_gap_stats

_SPINE_CTES = f"""
        ev AS (
            SELECT user_id, epoch_us(ts) AS mu,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events
        ),
        obs AS (
            SELECT user_id, b, cents AS obs_cents FROM (
                SELECT user_id, mu // {_BUCKET_US} AS b, cents,
                       row_number() OVER (PARTITION BY user_id, mu // {_BUCKET_US}
                                          ORDER BY mu DESC, cents DESC) AS rn
                FROM ev) t
            WHERE rn = 1
        ),
        span AS (
            SELECT user_id, min(mu) // {_BUCKET_US} AS b0,
                   max(mu) // {_BUCKET_US} AS b1
            FROM ev GROUP BY 1
        ),
        spine AS (
            SELECT user_id, unnest(generate_series(b0, b1)) AS b FROM span
        )
"""

ORACLE_SQL["events_resample_interp"] = f"""
    WITH {_SPINE_CTES},
    base AS (
        SELECT s.user_id, s.b, o.obs_cents,
               last_value(o.obs_cents IGNORE NULLS) OVER wb AS filled_cents,
               last_value(CASE WHEN o.obs_cents IS NOT NULL THEN s.b END
                          IGNORE NULLS) OVER wb AS bp,
               first_value(CASE WHEN o.obs_cents IS NOT NULL THEN s.b END
                           IGNORE NULLS) OVER wf AS bn,
               first_value(o.obs_cents IGNORE NULLS) OVER wf AS vn
        FROM spine s
        LEFT JOIN obs o ON s.user_id = o.user_id AND s.b = o.b
        WINDOW wb AS (PARTITION BY s.user_id ORDER BY s.b
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY s.user_id ORDER BY s.b
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, make_timestamp(b * {_BUCKET_US}) AS bucket_ts,
           obs_cents, filled_cents,
           CASE WHEN obs_cents IS NOT NULL THEN CAST(obs_cents AS DOUBLE)
                WHEN bn IS NOT NULL
                THEN CAST(filled_cents AS DOUBLE)
                     + CAST((vn - filled_cents) * (b - bp) AS DOUBLE)
                       / CAST(bn - bp AS DOUBLE)
                ELSE CAST(filled_cents AS DOUBLE) END AS interp_cents
    FROM base
"""

ORACLE_SQL["events_resample_gap_stats"] = f"""
    WITH {_SPINE_CTES},
    j AS (
        SELECT s.user_id, s.b, o.obs_cents,
               count(o.obs_cents) OVER (
                   PARTITION BY s.user_id ORDER BY s.b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM spine s
        LEFT JOIN obs o ON s.user_id = o.user_id AND s.b = o.b
    ),
    runs AS (
        SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
        FROM j WHERE obs_cents IS NULL GROUP BY 1, 2
    ),
    gap AS (
        SELECT user_id, CAST(sum(len) AS BIGINT) AS n_filled,
               CAST(max(len) AS BIGINT) AS max_gap
        FROM runs GROUP BY 1
    ),
    base AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(count(obs_cents) AS BIGINT) AS n_obs
        FROM j GROUP BY 1
    )
    SELECT base.user_id, n_buckets, n_obs,
           CAST(coalesce(gap.n_filled, 0) AS BIGINT) AS n_filled,
           CAST(coalesce(gap.max_gap, 0) AS BIGINT) AS max_gap_run
    FROM base LEFT JOIN gap ON base.user_id = gap.user_id
"""

ORACLE_SQL["events_collapse_bursts"] = f"""
    SELECT event_id, user_id, event_type, ts, value FROM (
        SELECT event_id, user_id, event_type, ts, value,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY epoch_us(ts) ASC, event_id ASC) AS gap_us
        FROM events) t
    WHERE gap_us IS NULL OR gap_us > {BURST_SECONDS} * CAST(1000000 AS BIGINT)
"""

ORACLE_SQL["events_rolling_zscore"] = f"""
    WITH staged AS (
        SELECT event_id, user_id,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
               count(*) OVER w AS n,
               sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w AS s,
               sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
                   * CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w AS ss
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY epoch_us(ts) ASC, event_id ASC
                     ROWS BETWEEN {ZSCORE_ROWS - 1} PRECEDING AND CURRENT ROW)
    ),
    z AS (
        SELECT event_id, user_id, cents, CAST(n AS INTEGER) AS n_window,
               CASE WHEN n >= 2
                         AND CAST(ss AS DOUBLE) / n
                             - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n) > 0
                    THEN (CAST(cents AS DOUBLE) - CAST(s AS DOUBLE) / n)
                         / sqrt(CAST(ss AS DOUBLE) / n
                                - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
               END AS zscore
        FROM staged
    )
    SELECT event_id, user_id, cents, n_window, zscore,
           coalesce(abs(zscore) > {ZSCORE_THRESHOLD}, false) AS is_anomaly
    FROM z
"""


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type TRANSITION MATRIX: per (from_type, to_type), the
    count of consecutive same-user transitions and the row-normalized
    probability — the Markov-chain summary behind next-event-prediction
    and journey analysis. One lag window per user (total order: ts,
    event_id) + one groupBy; probability = exact count/count division.
    """
    from pyspark.sql import Window

    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    trans = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("long").alias("n_transitions"))
    )
    w_from = Window.partitionBy("from_type")
    return trans.select(
        "from_type",
        "to_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(w_from).cast("double")
        ).alias("probability"),
    )


QUERIES["events_markov_transitions"] = events_markov_transitions

ORACLE_SQL["events_markov_transitions"] = """
    WITH trans AS (
        SELECT from_type, event_type AS to_type, count(*) AS n_transitions
        FROM (
            SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts ASC, event_id ASC) AS from_type
            FROM events) t
        WHERE from_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type,
           CAST(n_transitions AS BIGINT) AS n_transitions,
           CAST(n_transitions AS DOUBLE)
               / CAST(sum(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE)
               AS probability
    FROM trans
"""


ATTR_WINDOW_S = 3600 * 24  # attribution lookback: 24 h


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue ATTRIBUTION: each purchase's cents credited to the
    user's LAST preceding view (last-touch, the as-of shape) and FIRST
    view inside the 24 h lookback (first-touch), plus the touch count
    in-window — the marketing-analytics join pair. One user_id window
    pass over the tagged union (purchases ∪ views), no inequality
    join; exact integer micros/cents.

    Emitted per purchase: the two attributed view ids (NULL when no
    view precedes in-window) and n_touches. First-touch honors the
    LOOKBACK bound: a view older than 24 h cannot take credit.
    """
    from pyspark.sql import Window

    ev = _ev(spark, sf_dir)
    mu = F.unix_micros(F.col("ts"))
    tagged = ev.filter(F.col("event_type").isin(["view", "purchase"])).select(
        "user_id",
        "event_id",
        mu.alias("mu"),
        (F.col("event_type") == "view").alias("is_view"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("mu").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    view_mu = F.when(F.col("is_view"), F.col("mu"))
    view_id = F.when(F.col("is_view"), F.col("event_id"))
    horizon = F.lit(ATTR_WINDOW_S).cast("long") * 1_000_000
    staged = tagged.select(
        "user_id",
        "event_id",
        "mu",
        "is_view",
        "cents",
        F.last(view_id, ignorenulls=True).over(w).alias("last_view_id"),
        F.last(view_mu, ignorenulls=True).over(w).alias("last_view_mu"),
        # the RANGE frame bounds first-touch to the lookback window
        F.min(view_mu).over(
            Window.partitionBy("user_id")
            .orderBy(F.col("mu").asc())
            .rangeBetween(-(ATTR_WINDOW_S * 1_000_000), 0)
        ).alias("first_view_mu_inwin"),
        F.count(view_mu).over(
            Window.partitionBy("user_id")
            .orderBy(F.col("mu").asc())
            .rangeBetween(-(ATTR_WINDOW_S * 1_000_000), 0)
        ).alias("n_touches"),
    )
    purchases = staged.filter(~F.col("is_view"))
    # resolve the first-in-window view id by joining back on (user, mu)
    # dedupe micro-timestamp ties deterministically (min event id) so
    # the resolve join can never fan a purchase out
    views = (
        tagged.filter(F.col("is_view"))
        .groupBy("user_id", F.col("mu").alias("first_view_mu_inwin"))
        .agg(F.min("event_id").alias("first_view_id"))
    )
    resolved = purchases.join(views, ["user_id", "first_view_mu_inwin"], "left")
    return resolved.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        "cents",
        F.when(
            F.col("last_view_mu") >= F.col("mu") - horizon, F.col("last_view_id")
        ).alias("last_touch_view_id"),
        "first_view_id",
        F.col("n_touches").cast("long").alias("n_touches"),
    )


QUERIES["events_attribution"] = events_attribution

ORACLE_SQL["events_attribution"] = f"""
    WITH tagged AS (
        SELECT user_id, event_id, epoch_us(ts) AS mu,
               event_type = 'view' AS is_view,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events WHERE event_type IN ('view', 'purchase')
    ),
    staged AS (
        SELECT user_id, event_id, mu, is_view, cents,
               last_value(CASE WHEN is_view THEN event_id END IGNORE NULLS)
                   OVER wrows AS last_view_id,
               last_value(CASE WHEN is_view THEN mu END IGNORE NULLS)
                   OVER wrows AS last_view_mu,
               min(CASE WHEN is_view THEN mu END) OVER wrange AS first_view_mu_inwin,
               count(CASE WHEN is_view THEN mu END) OVER wrange AS n_touches
        FROM tagged
        WINDOW wrows AS (PARTITION BY user_id ORDER BY mu ASC, event_id ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wrange AS (PARTITION BY user_id ORDER BY mu ASC
                          RANGE BETWEEN {ATTR_WINDOW_S * 1_000_000} PRECEDING
                                    AND CURRENT ROW)
    )
    SELECT s.event_id AS purchase_id, s.user_id, s.cents,
           CASE WHEN s.last_view_mu >= s.mu - {ATTR_WINDOW_S * 1_000_000}::BIGINT
                THEN s.last_view_id END AS last_touch_view_id,
           v.first_view_id,
           CAST(s.n_touches AS BIGINT) AS n_touches
    FROM staged s
    LEFT JOIN (SELECT user_id, mu AS first_view_mu_inwin,
                      min(event_id) AS first_view_id
               FROM tagged WHERE is_view GROUP BY 1, 2) v
        USING (user_id, first_view_mu_inwin)
    WHERE NOT s.is_view
"""


def events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONALITY profile: mean value by (day-of-week, hour-of-day)
    with a deviation index against the global mean — the load-shape
    fingerprint behind capacity planning and anomaly baselines. Exact
    integer cent sums; each mean and the index are single divisions of
    exact integers (the global pair rides a 1-row broadcast)."""
    ev = _ev(spark, sf_dir)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    cells = ev.groupBy(
        F.dayofweek(F.col("ts")).cast("int").alias("dow"),
        F.hour(F.col("ts")).cast("int").alias("hour_of_day"),
    ).agg(F.count("*").cast("long").alias("n_events"), F.sum(cents).alias("__s"))
    total = cells.agg(
        F.sum("n_events").cast("long").alias("__tn"),
        F.sum("__s").cast("long").alias("__ts"),
    )
    joined = cells.crossJoin(F.broadcast(total))
    mean_cell = F.col("__s").cast("double") / F.col("n_events").cast("double")
    mean_all = F.col("__ts").cast("double") / F.col("__tn").cast("double")
    return joined.select(
        "dow",
        "hour_of_day",
        "n_events",
        mean_cell.alias("mean_cents"),
        (mean_cell / mean_all).alias("seasonal_index"),
    )


QUERIES["events_seasonality_profile"] = events_seasonality_profile

ORACLE_SQL["events_seasonality_profile"] = """
    WITH cells AS (
        SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS INTEGER) AS dow,
               CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hour_of_day,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s
        FROM events GROUP BY 1, 2
    ),
    total AS (
        SELECT CAST(sum(n_events) AS BIGINT) AS tn,
               CAST(sum(s) AS BIGINT) AS tsum
        FROM cells
    )
    SELECT dow, hour_of_day, n_events,
           CAST(s AS DOUBLE) / CAST(n_events AS DOUBLE) AS mean_cents,
           (CAST(s AS DOUBLE) / CAST(n_events AS DOUBLE))
               / (CAST(tsum AS DOUBLE) / CAST(tn AS DOUBLE)) AS seasonal_index
    FROM cells CROSS JOIN total
"""


def j15_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J15: FORWARD as-of join — every click gets the EARLIEST
    subsequent-or-simultaneous purchase by the same user
    (operators/temporal.py:asof_join(direction="forward"); the "next
    scheduled event" lookup that completes j13's backward contract).
    Oracle: DuckDB native ASOF with the inequality reversed — an
    independent implementation of the forward contract."""
    from sfcrimedatapipeline_spark.operators.temporal import asof_join

    ev = _ev(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("purchase_ts_us"),
    )
    joined = asof_join(
        clicks,
        purchases,
        on="user_id",
        ts="ts",
        value_cols=["purchase_id", "purchase_ts_us"],
        tiebreak="purchase_id",
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "purchase_id",
        (F.col("purchase_ts_us") - F.unix_micros("ts")).alias("micros_until"),
    )


QUERIES["j15_asof_forward"] = j15_asof_forward

ORACLE_SQL["j15_asof_forward"] = """
    WITH c AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
               event_id AS purchase_id
        FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id, c.user_id, c.ts,
           p.purchase_id,
           date_diff('microsecond', c.ts, p.ts) AS micros_until
    FROM c ASOF LEFT JOIN p
      ON c.user_id = p.user_id AND c.ts <= p.ts
"""


RFM_ASOF = "2024-02-01"


def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM SEGMENTATION — the classic customer-value model: per user,
    Recency (days since last purchase, as of a fixed date), Frequency
    (purchase count), Monetary (exact cents); each scored 1-4 into
    ntile(4) buckets over a TOTAL order (metric, then user id — ties
    cannot reorder across engines), concatenated into the RFM cell.

    Scale shape: NO partition-less ntile windows. Each score is a
    two-phase global rank (``operators/keys.py:dense_ids`` — range
    repartition + per-partition offsets) followed by the explicit
    ntile bucket formula (first ``n mod k`` buckets get ``⌈n/k⌉``
    rows), which reproduces ``ntile(4)`` EXACTLY — the oracle keeps
    the literal ``ntile`` and the hash is unchanged. Three ranks =
    three range shuffles over the user-cardinality aggregate; the
    scores rejoin on user_id (hash-partitioned, no skew — user_id is
    unique after the groupBy)."""
    from sfcrimedatapipeline_spark.operators.keys import dense_ids

    ev = _ev(spark, sf_dir)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    base = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.lit(RFM_ASOF).cast("date"), F.max(F.to_date("ts"))
            ).cast("int").alias("recency_days"),
            F.count("*").cast("long").alias("frequency"),
            F.sum(cents).alias("monetary_cents"),
        )
    )
    from sfcrimedatapipeline_spark.functions.caching import unpersist_when_released

    base = base.persist()
    n = base.count()  # driver scalar (aggregate, not a row collect)
    q, rem = divmod(n, 4)

    def tile(rk: str) -> F.Column:
        # explicit ntile(4) bucket formula: first (n mod 4) buckets get
        # ⌈n/4⌉ rows, the rest ⌊n/4⌋ — integer ceil via floor((x+m-1)/m)
        if q == 0:  # n < 4: every bucket has one row, tile = rank
            return F.col(rk).cast("int")
        cut = rem * (q + 1)
        first = F.floor((F.col(rk) + q) / F.lit(q + 1))
        rest = F.lit(rem) + F.floor((F.col(rk) - cut + q - 1) / F.lit(q))
        return F.when(F.col(rk) <= cut, first).otherwise(rest).cast("int")

    def score(order_cols: list, name: str) -> DataFrame:
        ranked = dense_ids(
            base.select("user_id", "recency_days", "frequency", "monetary_cents"),
            order_cols,
            "__rk",
        )
        return ranked.select("user_id", tile("__rk").alias(name))

    r_s = score([F.col("recency_days").asc(), F.col("user_id").asc()], "r_score")
    f_s = score([F.col("frequency").desc(), F.col("user_id").asc()], "f_score")
    m_s = score([F.col("monetary_cents").desc(), F.col("user_id").asc()], "m_score")
    out = (
        base.join(r_s, "user_id")
        .join(f_s, "user_id")
        .join(m_s, "user_id")
        .select(
            "user_id",
            "recency_days",
            "frequency",
            "monetary_cents",
            "r_score",
            "f_score",
            "m_score",
            F.concat(
                F.col("r_score"), F.col("f_score"), F.col("m_score")
            ).alias("rfm"),
        )
    )
    return unpersist_when_released(out, base)


QUERIES["events_rfm_segmentation"] = events_rfm_segmentation

ORACLE_SQL["events_rfm_segmentation"] = f"""
    WITH base AS (
        SELECT user_id,
               CAST(date_diff('day', max(CAST(ts AS DATE)),
                              DATE '{RFM_ASOF}') AS INTEGER) AS recency_days,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    )
    SELECT user_id, recency_days, frequency, monetary_cents,
           CAST(ntile(4) OVER (ORDER BY recency_days ASC, user_id ASC) AS INTEGER) AS r_score,
           CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id ASC) AS INTEGER) AS f_score,
           CAST(ntile(4) OVER (ORDER BY monetary_cents DESC, user_id ASC) AS INTEGER) AS m_score,
           CAST(ntile(4) OVER (ORDER BY recency_days ASC, user_id ASC) AS VARCHAR)
             || CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id ASC) AS VARCHAR)
             || CAST(ntile(4) OVER (ORDER BY monetary_cents DESC, user_id ASC) AS VARCHAR) AS rfm
    FROM base
"""


def events_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHI-SQUARE independence statistic for event_type × day-of-week —
    the A/B-test / independence screen, emitted as the raw statistic
    plus degrees of freedom (p-values need incomplete-gamma functions,
    whose last ulp is libm-specific — compare the statistic against
    critical values offline). Every term is (obs·N − row·col)² /
    (row·col·N) with obs/row/col/N exact integers; per-cell terms are
    each one fixed IEEE sequence, and the statistic quantizes each
    term to 1e-9 before the exact integer sum, so the result is
    bit-stable under any partitioning AND engine (the unigram-LM
    discipline applied to a statistic).

    Range bound, stated: the exact numerator squares (o·N − r·c), so
    DECIMAL(38) holds while that difference stays under ~10^19 —
    i.e. contingency tables up to N ≈ 3·10^9 observations. Beyond
    that, compute the statistic per stratum and sum (chi-square is
    additive over disjoint partitions of the table).
    """
    from pyspark.sql import functions as F

    ev = _ev(spark, sf_dir)
    cells = ev.groupBy(
        F.col("event_type"),
        F.dayofweek(F.col("ts")).cast("int").alias("dow"),
    ).agg(F.count("*").cast("long").alias("o"))
    rows_m = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols_m = cells.groupBy("dow").agg(F.sum("o").alias("c"))
    n_row = cells.agg(F.sum("o").alias("n"))
    j = (
        cells.join(F.broadcast(rows_m), "event_type")
        .join(F.broadcast(cols_m), "dow")
        .crossJoin(F.broadcast(n_row))
    )
    # term = (o*n - r*c)^2 / (r*c*n); numerator exact in decimal
    num = (
        (F.col("o") * F.col("n") - F.col("r") * F.col("c"))
        .cast("decimal(38,0)")
    )
    term = (num * num).cast("double") / (
        (F.col("r") * F.col("c")).cast("decimal(38,0)") * F.col("n")
    ).cast("double")
    quant = F.floor(term * 1_000_000_000 + F.lit(0.5)).cast("long")
    agg = j.agg(
        F.sum(quant).cast("long").alias("__q"),
        F.countDistinct("event_type").cast("long").alias("__nr"),
        F.countDistinct("dow").cast("long").alias("__nc"),
    )
    return agg.select(
        (F.col("__q").cast("double") / 1_000_000_000).alias("chi_square"),
        ((F.col("__nr") - 1) * (F.col("__nc") - 1)).cast("long").alias("dof"),
    )


QUERIES["events_chisq_independence"] = events_chisq_independence

ORACLE_SQL["events_chisq_independence"] = """
    WITH cells AS (
        SELECT event_type,
               CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS INTEGER) AS dow,
               CAST(count(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ),
    rm AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
    cm AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
    nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
    terms AS (
        SELECT CAST(floor(
                   (CAST(CAST(o * n - r * c AS DECIMAL(38,0))
                         * CAST(o * n - r * c AS DECIMAL(38,0)) AS DOUBLE)
                    / CAST(CAST(r * c AS DECIMAL(38,0)) * n AS DOUBLE))
                   * 1000000000 + 0.5) AS BIGINT) AS q,
               cells.event_type, cells.dow
        FROM cells JOIN rm USING (event_type) JOIN cm USING (dow) CROSS JOIN nn
    )
    SELECT CAST(sum(q) AS DOUBLE) / 1000000000 AS chi_square,
           CAST((count(DISTINCT event_type) - 1)
                * (count(DISTINCT dow) - 1) AS BIGINT) AS dof
    FROM terms
"""


def events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV test: do 'click' and 'purchase'
    event values come from the same distribution? The continuous-drift
    companion to events_drift_tvd's categorical TVD.

    Exactness: D = max |F1(x) − F2(x)| is evaluated as the INTEGER
    max of |cum1·n2 − cum2·n1| over the distinct-cents spine (value
    quantized once to cents, the repo-wide money discipline), divided
    by n1·n2 only at the end — no float comparison decides the max.
    The paired ECDFs ride ONE two-phase global running sum
    (operators/keys.py:running_totals — range-repartition + offsets,
    no single-partition window even though the spine is bounded by
    the cents DOMAIN, not row count). The α=0.05 decision uses
    c(α)=1.358 with IEEE sqrt (correctly rounded per 754, so
    engine-identical bits).

    Scale: the groupBy collapses N rows to ≤ |value domain in cents|
    cells before anything ordered happens; cum·n products stay under
    2^63 up to ~3·10^9 rows per sample (then lift to DECIMAL)."""
    from sfcrimedatapipeline_spark.operators.keys import running_totals

    ev = _ev(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    cells = ev.groupBy(cents.alias("c")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("k1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("k2"),
    )
    cum = running_totals(cells, [F.asc("c")], [("k1", "cum1"), ("k2", "cum2")])
    tot = cells.agg(
        F.sum("k1").cast("long").alias("n1"), F.sum("k2").cast("long").alias("n2")
    )
    j = cum.crossJoin(F.broadcast(tot))
    d_num = F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
    agg = j.agg(
        F.max(d_num).cast("long").alias("d_num"),
        F.max("n1").cast("long").alias("n1"),
        F.max("n2").cast("long").alias("n2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    d_stat = F.col("d_num").cast("double") / (n1d * n2d)
    crit = F.lit(1.358) * F.sqrt((n1d + n2d) / (n1d * n2d))
    return agg.select(
        F.col("n1").alias("n_click"),
        F.col("n2").alias("n_purchase"),
        "d_num",
        d_stat.alias("d_stat"),
        crit.alias("crit_05"),
        (d_stat > crit).alias("drifted"),
    )


QUERIES["events_ks_drift"] = events_ks_drift

ORACLE_SQL["events_ks_drift"] = """
    WITH f AS (
        SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c, event_type
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    cells AS (
        SELECT c,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS k1,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS k2
        FROM f GROUP BY 1
    ),
    cum AS (
        SELECT c,
               CAST(sum(k1) OVER (ORDER BY c
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum1,
               CAST(sum(k2) OVER (ORDER BY c
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum2
        FROM cells
    ),
    t AS (SELECT CAST(sum(k1) AS BIGINT) AS n1,
                 CAST(sum(k2) AS BIGINT) AS n2 FROM cells),
    m AS (
        SELECT CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num,
               max(n1) AS n1, max(n2) AS n2
        FROM cum CROSS JOIN t
    )
    SELECT n1 AS n_click, n2 AS n_purchase, d_num,
           CAST(d_num AS DOUBLE)
               / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS d_stat,
           1.358 * sqrt((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                        / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
               AS crit_05,
           CAST(d_num AS DOUBLE)
               / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
             > 1.358 * sqrt((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                            / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
               AS drifted
    FROM m
"""


def events_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVIVAL life table (the Kaplan-Meier INPUT): per calendar day,
    users at risk (first activity ≤ day ≤ last activity) and deaths
    (users whose last activity is that day). The KM curve itself is a
    sequential product — one cheap driver-side fold over this
    day-cardinality table; the distributed work is all here. Exact
    integers: at-risk = cum(first_day ≤ d) − cum(last_day < d), two
    running sums over the day spine."""
    from pyspark.sql import Window

    ev = _ev(spark, sf_dir)
    spans = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day"),
        F.max(F.to_date("ts")).alias("last_day"),
    )
    births = spans.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").cast("long").alias("n_born")
    )
    deaths = spans.groupBy(F.col("last_day").alias("day")).agg(
        F.count("*").cast("long").alias("n_deaths")
    )
    bounds = spans.agg(
        F.min("first_day").alias("d0"), F.max("last_day").alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    )
    t = (
        spine.join(births, "day", "left")
        .join(deaths, "day", "left")
        .select(
            "day",
            F.coalesce("n_born", F.lit(0)).alias("n_born"),
            F.coalesce("n_deaths", F.lit(0)).alias("n_deaths"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wprev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    return t.select(
        "day",
        F.col("n_deaths"),
        (
            F.sum("n_born").over(w)
            - F.coalesce(F.sum("n_deaths").over(wprev), F.lit(0))
        ).cast("long").alias("n_at_risk"),
    )


def events_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEAK CONCURRENCY by sweep line: each event opens a 5-minute
    activity interval; +1 at each start, −1 at each end, running sum
    over the merged boundary stream, report the peak and when it first
    occurs. Boundary order is total — (time, starts before ends,
    event id) — so simultaneous open/close resolves deterministically
    (an interval ending exactly when another starts still overlaps:
    starts sort first). The interval-stacking primitive behind
    concurrent-sessions / license-peak questions; one shuffle.

    The GLOBAL sweep is two-phase (operators/keys.py:running_total —
    range-repartition on the boundary order, per-partition running
    sums, exact offsets), so no partition-less window survives even
    in the tenantless global form; a production deployment can still
    partition by tenant first and sweep within."""
    ev = _ev(spark, sf_dir)
    mu = F.unix_micros(F.col("ts"))
    span_us = 5 * 60 * 1_000_000
    starts = ev.select(
        mu.alias("t"), F.lit(1).alias("delta"), F.lit(0).alias("is_end"), "event_id"
    )
    ends = ev.select(
        (mu + span_us).alias("t"),
        F.lit(-1).alias("delta"),
        F.lit(1).alias("is_end"),
        "event_id",
    )
    stream = starts.unionByName(ends)
    from sfcrimedatapipeline_spark.operators.keys import running_total

    swept = running_total(
        stream,
        [F.col("t").asc(), F.col("is_end").asc(), F.col("event_id").asc()],
        "delta",
        "__cum",
    ).select("t", F.col("__cum").cast("long").alias("concurrency"))
    peak = swept.agg(F.max("concurrency").alias("peak"))
    first_at = (
        swept.join(F.broadcast(peak), swept.concurrency == peak.peak)
        .agg(F.min("t").alias("first_peak_us"))
    )
    return peak.crossJoin(F.broadcast(first_at)).select(
        "peak", F.timestamp_micros(F.col("first_peak_us")).alias("first_peak_ts")
    )


QUERIES["events_life_table"] = events_life_table
QUERIES["events_max_concurrency"] = events_max_concurrency

ORACLE_SQL["events_life_table"] = """
    WITH spans AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS first_day,
               max(CAST(ts AS DATE)) AS last_day
        FROM events GROUP BY 1
    ),
    births AS (SELECT first_day AS day, CAST(count(*) AS BIGINT) AS n_born
               FROM spans GROUP BY 1),
    deaths AS (SELECT last_day AS day, CAST(count(*) AS BIGINT) AS n_deaths
               FROM spans GROUP BY 1),
    bounds AS (SELECT min(first_day) AS d0, max(last_day) AS d1 FROM spans),
    spine AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
              FROM bounds),
    t AS (
        SELECT s.day, coalesce(b.n_born, 0) AS n_born,
               coalesce(d.n_deaths, 0) AS n_deaths
        FROM spine s LEFT JOIN births b USING (day) LEFT JOIN deaths d USING (day)
    )
    SELECT day, n_deaths,
           CAST(sum(n_born) OVER w
                - coalesce(sum(n_deaths) OVER wprev, 0) AS BIGINT) AS n_at_risk
    FROM t
    WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wprev AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""

ORACLE_SQL["events_max_concurrency"] = """
    WITH stream AS (
        SELECT epoch_us(ts) AS t, 1 AS delta, 0 AS is_end, event_id FROM events
        UNION ALL
        SELECT epoch_us(ts) + 300000000, -1, 1, event_id FROM events
    ),
    swept AS (
        SELECT t, CAST(sum(delta) OVER (ORDER BY t ASC, is_end ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS concurrency
        FROM stream
    ),
    p AS (SELECT max(concurrency) AS peak FROM swept)
    SELECT p.peak,
           make_timestamp((SELECT min(t) FROM swept, p WHERE concurrency = p.peak))
               AS first_peak_ts
    FROM p
"""


CONVERT_PROBS = [0.25, 0.5, 0.75, 0.9]


def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TO-CONVERT distribution: exact quantiles of (first purchase
    − first view) latency across converting users — funnel timing
    composed with the exact-quantile operator (shared interpolation
    formula; operators/profile.py:exact_quantiles). Latencies are
    exact integer seconds cast to double for interpolation; users who
    never view or never purchase (or purchase first) drop out by the
    funnel contract."""
    from sfcrimedatapipeline_spark.operators.profile import exact_quantiles

    ev = _ev(spark, sf_dir)
    mu = F.unix_micros(F.col("ts"))
    firsts = (
        ev.filter(F.col("event_type").isin(["view", "purchase"]))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", mu)).alias("v"),
            F.min(F.when(F.col("event_type") == "purchase", mu)).alias("p"),
        )
        .filter(F.col("v").isNotNull() & F.col("p").isNotNull() & (F.col("p") > F.col("v")))
    )
    lat = firsts.select(
        (F.floor((F.col("p") - F.col("v")) / 1_000_000).cast("long").cast("double")).alias(
            "latency_s"
        )
    )
    return exact_quantiles(lat, "latency_s", CONVERT_PROBS)


QUERIES["events_time_to_convert"] = events_time_to_convert

ORACLE_SQL["events_time_to_convert"] = f"""
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v,
               min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p
        FROM events WHERE event_type IN ('view', 'purchase')
        GROUP BY 1
    ),
    lat AS (
        SELECT CAST(CAST((p - v) // 1000000 AS BIGINT) AS DOUBLE) AS v
        FROM firsts WHERE v IS NOT NULL AND p IS NOT NULL AND p > v
    ),
    ranked AS (
        SELECT v, ROW_NUMBER() OVER (ORDER BY v) - 1 AS r FROM lat
    ),
    n AS (SELECT count(*) AS cnt FROM lat),
    probs AS (SELECT CAST(unnest([{", ".join(repr(p) for p in CONVERT_PROBS)}])
                      AS DOUBLE) AS p)
    SELECT p AS prob,
           lo.v + (hi.v - lo.v) * (p * (cnt - 1) - floor(p * (cnt - 1))) AS value
    FROM probs, n
    JOIN ranked lo ON lo.r = CAST(floor(p * (cnt - 1)) AS BIGINT)
    JOIN ranked hi ON hi.r = least(CAST(floor(p * (cnt - 1)) AS BIGINT) + 1, cnt - 1)
"""


H2D_VALUE_BINS = 10
H2D_VMAX = 50000  # cents; clamp above


def events_histogram2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D HISTOGRAM (hour-of-day × value decile bin) with clamped edge
    bins — the dashboard heat-map feed; 1-D histogram's clamped-bin
    discipline extended to two axes, zero-filled over the full bin
    spine so the grid is always complete. Exact integer bin indices."""
    ev = _ev(spark, sf_dir)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    vbin = F.least(
        (cents * H2D_VALUE_BINS / F.lit(H2D_VMAX)).cast("long"),
        F.lit(H2D_VALUE_BINS - 1),
    ).cast("int")
    counts = ev.groupBy(
        F.hour("ts").cast("int").alias("hour_of_day"),
        vbin.alias("value_bin"),
    ).agg(F.count("*").cast("long").alias("n"))
    hours = spark.range(24).select(F.col("id").cast("int").alias("hour_of_day"))
    vbins = spark.range(H2D_VALUE_BINS).select(F.col("id").cast("int").alias("value_bin"))
    spine = hours.crossJoin(vbins)
    return spine.join(counts, ["hour_of_day", "value_bin"], "left").select(
        "hour_of_day",
        "value_bin",
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
    )


def events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZED statistics: means before and after clamping values to
    the [p05, p95] DISCRETE percentiles — outlier-robust reporting with
    the a11 discipline (percentile_disc returns real elements, so the
    clamp bounds are exact cents and every sum stays an exact BIGINT).
    One percentile pass + one conditional-aggregate pass."""
    read_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        WITH cents_t AS (
            SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events
        ),
        bounds AS (
            -- percentile_disc picks a real element but TYPES it DOUBLE;
            -- cast back so the clamp and its sum stay exact BIGINTs
            SELECT CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY c) AS BIGINT) AS lo,
                   CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY c) AS BIGINT) AS hi
            FROM cents_t
        )
        SELECT count(*) AS n,
               lo AS p05_cents, hi AS p95_cents,
               CAST(sum(c) AS DOUBLE) / count(*) AS mean_cents,
               CAST(sum(greatest(least(c, hi), lo)) AS DOUBLE) / count(*)
                   AS winsorized_mean_cents,
               sum(CASE WHEN c < lo OR c > hi THEN 1 ELSE 0 END) AS n_clamped
        FROM cents_t CROSS JOIN bounds
        GROUP BY lo, hi
        """
    )


QUERIES["events_histogram2d"] = events_histogram2d
QUERIES["events_winsorized_stats"] = events_winsorized_stats

ORACLE_SQL["events_histogram2d"] = f"""
    WITH counts AS (
        SELECT CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hour_of_day,
               CAST(least(CAST(floor(value * 100 + 0.5) AS BIGINT)
                          * {H2D_VALUE_BINS} // {H2D_VMAX},
                          {H2D_VALUE_BINS - 1}) AS INTEGER) AS value_bin,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    spine AS (
        SELECT h.h AS hour_of_day, v.v AS value_bin
        FROM (SELECT CAST(unnest(range(0, 24)) AS INTEGER) AS h) h
        CROSS JOIN (SELECT CAST(unnest(range(0, {H2D_VALUE_BINS})) AS INTEGER) AS v) v
    )
    SELECT s.hour_of_day, s.value_bin,
           coalesce(c.n, 0) AS n
    FROM spine s LEFT JOIN counts c USING (hour_of_day, value_bin)
"""

ORACLE_SQL["events_winsorized_stats"] = """
    WITH cents_t AS (
        SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events
    ),
    bounds AS (
        SELECT quantile_disc(c, 0.05) AS lo, quantile_disc(c, 0.95) AS hi
        FROM cents_t
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           lo AS p05_cents, hi AS p95_cents,
           CAST(sum(c) AS DOUBLE) / count(*) AS mean_cents,
           CAST(sum(greatest(least(c, hi), lo)) AS DOUBLE) / count(*)
               AS winsorized_mean_cents,
           CAST(sum(CASE WHEN c < lo OR c > hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clamped
    FROM cents_t CROSS JOIN bounds
    GROUP BY lo, hi
"""


FUNNEL_GAP_S = 3600


def events_funnel_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-BOUNDED conversion funnel: each step must occur within 1 h
    of the previous step's completion
    (operators/temporal.py:funnel_counts(max_step_gap_s=3600)) — the
    intent-window variant of the unbounded funnel."""
    from sfcrimedatapipeline_spark.operators.temporal import funnel_counts

    ev = _ev(spark, sf_dir)
    return funnel_counts(
        ev, ["view", "click", "purchase"], max_step_gap_s=FUNNEL_GAP_S
    )


RETENTION_DAYS = [1, 7]


def events_dn_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D-N RETENTION: of each day's new users, the fraction active
    again exactly N days later (D1/D7) — the growth KPI next to the
    weekly cohort triangle. Exact integer counts, one distinct
    activity frame + one self-join per N."""
    ev = _ev(spark, sf_dir)
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    first = days.groupBy("user_id").agg(F.min("day").alias("d0"))
    cohorts = first.groupBy(F.col("d0").alias("cohort_day")).agg(
        F.count("*").cast("long").alias("n_new_users")
    )
    out = cohorts
    for n in RETENTION_DAYS:
        ret = (
            first.join(
                days,
                (days.user_id == first.user_id)
                & (days.day == F.date_add(first.d0, n)),
            )
            .groupBy(F.col("d0").alias("cohort_day"))
            .agg(F.count("*").cast("long").alias(f"n_d{n}"))
        )
        out = out.join(ret, "cohort_day", "left").withColumn(
            f"n_d{n}", F.coalesce(f"n_d{n}", F.lit(0))
        )
    for n in RETENTION_DAYS:
        out = out.withColumn(
            f"d{n}_rate",
            F.col(f"n_d{n}").cast("double") / F.col("n_new_users").cast("double"),
        )
    return out.select(
        "cohort_day", "n_new_users",
        *[c for n in RETENTION_DAYS for c in (f"n_d{n}", f"d{n}_rate")],
    )


QUERIES["events_funnel_bounded"] = events_funnel_bounded
QUERIES["events_dn_retention"] = events_dn_retention

ORACLE_SQL["events_funnel_bounded"] = f"""
    WITH s1 AS (
        SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t
        FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
        SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > s1.t
          AND epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(s1.t)
              <= {FUNNEL_GAP_S} * CAST(1000000 AS BIGINT)
        GROUP BY 1
    ),
    s3 AS (
        SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > s2.t
          AND epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(s2.t)
              <= {FUNNEL_GAP_S} * CAST(1000000 AS BIGINT)
        GROUP BY 1
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_step1,
           (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_step2,
           (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_step3
"""

ORACLE_SQL["events_dn_retention"] = """
    WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    first AS (SELECT user_id, min(day) AS d0 FROM days GROUP BY 1),
    cohorts AS (SELECT d0 AS cohort_day, CAST(count(*) AS BIGINT) AS n_new_users
                FROM first GROUP BY 1),
    r1 AS (
        SELECT f.d0 AS cohort_day, CAST(count(*) AS BIGINT) AS n_d1
        FROM first f JOIN days d
          ON d.user_id = f.user_id AND d.day = f.d0 + INTERVAL 1 DAY
        GROUP BY 1
    ),
    r7 AS (
        SELECT f.d0 AS cohort_day, CAST(count(*) AS BIGINT) AS n_d7
        FROM first f JOIN days d
          ON d.user_id = f.user_id AND d.day = f.d0 + INTERVAL 7 DAY
        GROUP BY 1
    )
    SELECT c.cohort_day, c.n_new_users,
           coalesce(r1.n_d1, 0) AS n_d1,
           CAST(coalesce(r1.n_d1, 0) AS DOUBLE) / c.n_new_users AS d1_rate,
           coalesce(r7.n_d7, 0) AS n_d7,
           CAST(coalesce(r7.n_d7, 0) AS DOUBLE) / c.n_new_users AS d7_rate
    FROM cohorts c
    LEFT JOIN r1 USING (cohort_day)
    LEFT JOIN r7 USING (cohort_day)
"""


def events_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MONTH-OVER-MONTH growth per event type — the period-comparison
    BI staple: monthly exact-cent revenue, the previous month via lag
    over a total order, and the growth rate as one division of exact
    integers (NULL on the first month, the honest no-baseline
    answer)."""
    from pyspark.sql import Window

    ev = _ev(spark, sf_dir)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    monthly = ev.groupBy(
        F.col("event_type"),
        F.date_trunc("month", F.col("ts")).cast("date").alias("month"),
    ).agg(F.sum(cents).alias("rev_cents"), F.count("*").cast("long").alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return monthly.select(
        "event_type",
        "month",
        "n_events",
        "rev_cents",
        prev.alias("prev_rev_cents"),
        (
            (F.col("rev_cents") - prev).cast("double") / prev.cast("double")
        ).alias("mom_growth"),
    )


def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW vs RETURNING decomposition of daily active users — the
    growth-accounting split behind every DAU chart: per day, actives
    whose FIRST-ever activity is that day vs the rest. One distinct
    (user, day) frame, one first-day aggregate, one join; exact
    counts."""
    ev = _ev(spark, sf_dir)
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    first = days.groupBy("user_id").agg(F.min("day").alias("d0"))
    tagged = days.join(first, "user_id").select(
        "day", (F.col("day") == F.col("d0")).alias("is_new")
    )
    return tagged.groupBy("day").agg(
        F.count("*").cast("long").alias("dau"),
        F.sum(F.col("is_new").cast("long")).cast("long").alias("n_new"),
        F.sum((~F.col("is_new")).cast("long")).cast("long").alias("n_returning"),
    )


QUERIES["events_mom_growth"] = events_mom_growth
QUERIES["events_new_vs_returning"] = events_new_vs_returning

ORACLE_SQL["events_mom_growth"] = """
    WITH monthly AS (
        SELECT event_type,
               CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS DATE) AS month,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, month, n_events, rev_cents,
           lag(rev_cents) OVER w AS prev_rev_cents,
           CAST(rev_cents - lag(rev_cents) OVER w AS DOUBLE)
               / CAST(lag(rev_cents) OVER w AS DOUBLE) AS mom_growth
    FROM monthly
    WINDOW w AS (PARTITION BY event_type ORDER BY month)
"""

ORACLE_SQL["events_new_vs_returning"] = """
    WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    first AS (SELECT user_id, min(day) AS d0 FROM days GROUP BY 1)
    SELECT d.day,
           CAST(count(*) AS BIGINT) AS dau,
           CAST(sum(CASE WHEN d.day = f.d0 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN d.day <> f.d0 THEN 1 ELSE 0 END) AS BIGINT) AS n_returning
    FROM days d JOIN first f USING (user_id)
    GROUP BY 1
"""


BAND_PROBS = [0.1, 0.5, 0.9]


def events_daily_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAILY PERCENTILE BANDS: exact p10/p50/p90 of event value per day
    (operators/profile.py:exact_quantiles_by keyed on the calendar day)
    — the envelope-chart feed around the daily median."""
    from sfcrimedatapipeline_spark.operators.profile import exact_quantiles_by

    ev = _ev(spark, sf_dir)
    daily = ev.select(
        F.to_date("ts").cast("string").alias("day"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").cast("double").alias("cents"),
    )
    return exact_quantiles_by(daily, "day", "cents", BAND_PROBS)


def dq_event_id_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAPS-AND-ISLANDS integrity check: missing event_id RANGES via
    the classic ``id − row_number`` grouping trick — consecutive
    present ids share one island key, and each gap is the space
    between adjacent islands. The sequence-completeness audit for
    any monotonically keyed feed; one ordered window + one aggregate.
    Emits (gap_start, gap_end, n_missing) — empty when the sequence
    is complete, so the output IS the repair worklist. The testdata's
    ids are dense, so the gated scenario drops every 97th id first —
    the audit then has real holes to find (same stance as
    m7_stale_partitions' deterministic drift)."""
    from sfcrimedatapipeline_spark.operators.keys import dense_ids

    ev = (
        read_table(spark, sf_dir, "events")
        .select("event_id")
        .filter(F.pmod(F.col("event_id"), F.lit(97)) != 0)
        .distinct()
    )
    # both rankings are two-phase (ids and islands each scale with the
    # feed): the island key from dense_ids instead of a partition-less
    # row_number, and the LEAD via a rank self-join at rank+1 instead
    # of a partition-less lead window
    islands = dense_ids(ev, ["event_id"], "__rn").withColumn(
        "__isl", F.col("event_id") - F.col("__rn")
    )
    bounds = islands.groupBy("__isl").agg(
        F.min("event_id").alias("lo"), F.max("event_id").alias("hi")
    )
    ranked = dense_ids(bounds.select("lo", "hi"), ["lo"], "__rk")
    nxt = ranked.select(
        (F.col("__rk") - 1).alias("__rk"), F.col("lo").alias("__next_lo")
    )
    return (
        ranked.join(nxt, "__rk")
        .select(
            (F.col("hi") + 1).alias("gap_start"),
            (F.col("__next_lo") - 1).alias("gap_end"),
            (F.col("__next_lo") - F.col("hi") - 1).alias("n_missing"),
        )
    )


QUERIES["events_daily_value_bands"] = events_daily_value_bands
QUERIES["dq_event_id_gaps"] = dq_event_id_gaps

ORACLE_SQL["events_daily_value_bands"] = f"""
    WITH ranked AS (
        SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS g,
               CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS DOUBLE) AS v,
               ROW_NUMBER() OVER (PARTITION BY CAST(CAST(ts AS DATE) AS VARCHAR)
                                  ORDER BY CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS DOUBLE)) - 1 AS r,
               count(*) OVER (PARTITION BY CAST(CAST(ts AS DATE) AS VARCHAR)) AS n
        FROM events
    ),
    spine AS (
        SELECT g, n, CAST(unnest([{", ".join(repr(p) for p in BAND_PROBS)}]) AS DOUBLE) AS prob
        FROM (SELECT DISTINCT g, n FROM ranked) t
    ),
    pos AS (
        SELECT g, prob, prob * (n - 1) AS h,
               CAST(floor(prob * (n - 1)) AS BIGINT) AS lo,
               least(CAST(floor(prob * (n - 1)) AS BIGINT) + 1, n - 1) AS hi
        FROM spine
    )
    SELECT pos.g AS day, pos.prob,
           vlo.v + (vhi.v - vlo.v) * (pos.h - floor(pos.h)) AS value
    FROM pos
    JOIN ranked vlo ON vlo.g = pos.g AND vlo.r = pos.lo
    JOIN ranked vhi ON vhi.g = pos.g AND vhi.r = pos.hi
"""

ORACLE_SQL["dq_event_id_gaps"] = """
    WITH ids AS (SELECT DISTINCT event_id FROM events WHERE event_id % 97 <> 0),
    islands AS (
        SELECT event_id,
               event_id - row_number() OVER (ORDER BY event_id) AS isl
        FROM ids
    ),
    bounds AS (
        SELECT isl, min(event_id) AS lo, max(event_id) AS hi
        FROM islands GROUP BY 1
    )
    SELECT hi + 1 AS gap_start,
           lead(lo) OVER (ORDER BY lo) - 1 AS gap_end,
           lead(lo) OVER (ORDER BY lo) - hi - 1 AS n_missing
    FROM bounds
    QUALIFY lead(lo) OVER (ORDER BY lo) IS NOT NULL
"""


PATH_TOP_K = 15


def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 three-step user JOURNEYS: the most frequent consecutive
    (step1 → step2 → step3) event-type sequences across users — the
    sequential-pattern tier above events_markov_transitions' bigram
    matrix (a funnel DISCOVERED from data rather than declared). Two
    lead windows per user over the same (ts, event_id) total order —
    one sort, both leads ride it — then one map-side-combined count;
    the top-15 is a TakeOrderedAndProject (per-partition top-k, no
    global sort), count ties broken lexicographically so the cut is
    deterministic cross-engine."""
    from pyspark.sql import Window

    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    tri = (
        ev.select(
            F.col("event_type").alias("step1"),
            F.lead("event_type", 1).over(w).alias("step2"),
            F.lead("event_type", 2).over(w).alias("step3"),
        )
        .filter(F.col("step3").isNotNull())
        .groupBy("step1", "step2", "step3")
        .agg(F.count("*").cast("long").alias("n_paths"))
    )
    return tri.orderBy(
        F.col("n_paths").desc(),
        F.col("step1").asc(),
        F.col("step2").asc(),
        F.col("step3").asc(),
    ).limit(PATH_TOP_K)


QUERIES["events_path_trigrams"] = events_path_trigrams

ORACLE_SQL["events_path_trigrams"] = f"""
    WITH seq AS (
        SELECT event_type AS step1,
               lead(event_type, 1) OVER w AS step2,
               lead(event_type, 2) OVER w AS step3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS n_paths
    FROM seq WHERE step3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n_paths DESC, step1 ASC, step2 ASC, step3 ASC
    LIMIT {PATH_TOP_K}
"""


#: decay half-life: credit halves every 6 h of view->purchase age
DECAY_HALFLIFE_S = 6 * 3600
#: weights ride as integers scaled by 2^40 — dyadic rationals summed
#: exactly (a raw float 1/2^k sum is partition-order-dependent)
DECAY_SCALE_BITS = 40


def events_attribution_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay MULTI-touch attribution — the model between
    last-touch and linear: every view inside the 24 h lookback earns
    ``cents / 2^(age div 6h)`` of unnormalized credit, rolled up by
    view hour-of-day ("which hours' impressions drive revenue").

    Exactness: the decay weight is a POWER OF TWO kept as a scaled
    BIGINT (``1 << (40 - k)``), so per-pair credit is an exact integer
    and the rollup is a DECIMAL sum — no float accumulates across
    rows; one cast + one division at the end. The pair space is the
    binned range join (operators/temporal.py), 6 h bins = the
    half-life, with the same-user residual filter; the oracle is the
    brute-force theta join, validating the binning."""
    from sfcrimedatapipeline_spark.operators.temporal import US, binned_range_join

    ev = _ev(spark, sf_dir)
    mu = F.unix_micros(F.col("ts"))
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), mu.alias("v_mu")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        mu.alias("p_mu"),
        (mu - F.lit(ATTR_WINDOW_S).cast("long") * US).alias("lo_mu"),
        mu.alias("hi_mu"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    pairs = binned_range_join(
        views,
        purchases,
        ts="v_mu",
        lo="lo_mu",
        hi="hi_mu",
        bin_width_s=DECAY_HALFLIFE_S,
    ).filter(F.col("v_user") == F.col("p_user"))
    half_us = DECAY_HALFLIFE_S * US
    cs = F.expr(
        f"cents * (CAST(1 AS BIGINT) << ({DECAY_SCALE_BITS} - "
        f"CAST((p_mu - v_mu) DIV {half_us} AS INT)))"
    )
    hour = F.expr("(v_mu div 3600000000) % 24")
    return (
        pairs.groupBy(hour.alias("view_hour"))
        .agg(
            F.count("*").alias("n_touches"),
            F.sum(cs.cast("decimal(38,0)")).alias("__cs"),
        )
        .select(
            "view_hour",
            "n_touches",
            (
                F.col("__cs").cast("double")
                / F.lit(float(1 << DECAY_SCALE_BITS))
            ).alias("decay_credit"),
        )
    )


QUERIES["events_attribution_decay"] = events_attribution_decay

ORACLE_SQL["events_attribution_decay"] = f"""
    WITH v AS (
        SELECT user_id AS u, epoch_us(CAST(ts AS TIMESTAMP)) AS v_mu
        FROM events WHERE event_type = 'view'
    ),
    p AS (
        SELECT user_id AS u, epoch_us(CAST(ts AS TIMESTAMP)) AS p_mu,
               CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)
                   AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    pairs AS (
        SELECT v.v_mu, p.p_mu, p.cents
        FROM v JOIN p
          ON v.u = p.u
         AND v.v_mu >= p.p_mu - {ATTR_WINDOW_S * 1_000_000}
         AND v.v_mu < p.p_mu
    ),
    w AS (
        SELECT (v_mu // 3600000000) % 24 AS view_hour,
               cents * (CAST(1 AS BIGINT)
                        << ({DECAY_SCALE_BITS}
                            - CAST((p_mu - v_mu) // {DECAY_HALFLIFE_S * 1_000_000}
                                   AS INT))) AS cs
        FROM pairs
    )
    SELECT view_hour, count(*) AS n_touches,
           CAST(sum(cs) AS DOUBLE) / {float(1 << DECAY_SCALE_BITS)}
               AS decay_credit
    FROM w GROUP BY 1
"""


ACF_MAX_LAG = 8
ACF_BUCKET_S = 60


def events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of per-minute event counts at lags 1..8
    (operators/temporal.py:acf_pairwise): the load-memory correlogram,
    pairwise-complete Pearson from exact integer sufficient statistics
    — no global mean, no crossJoin, one bucket aggregate + one lag
    equi-join."""
    ev = _ev(spark, sf_dir)
    return temporal.acf_pairwise(
        ev, bucket_seconds=ACF_BUCKET_S, max_lag=ACF_MAX_LAG
    )


QUERIES["events_acf"] = events_acf

ORACLE_SQL["events_acf"] = f"""
    WITH s AS (
        SELECT epoch_us(ts) // {ACF_BUCKET_S * 1_000_000} AS b,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    l AS (SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS lag_buckets),
    p AS (
        SELECT l.lag_buckets, a.x AS x, c.x AS y
        FROM s a CROSS JOIN l
        JOIN s c ON a.b + l.lag_buckets = c.b
    ),
    m AS (
        SELECT lag_buckets,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sx2,
               sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sy2,
               sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy
        FROM p GROUP BY 1
    )
    SELECT CAST(lag_buckets AS INTEGER) AS lag_buckets, n_pairs,
           CASE WHEN (CAST(n_pairs AS DOUBLE) * CAST(sx2 AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * (CAST(n_pairs AS DOUBLE) * CAST(sy2 AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                THEN (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sx2 AS DOUBLE)
                                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (CAST(n_pairs AS DOUBLE) * CAST(sy2 AS DOUBLE)
                                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                ELSE NULL END AS acf
    FROM m ORDER BY lag_buckets
"""


MASE_SEASON_H = 168  # weekly seasonality on the hourly series
MASE_EVAL_H = 336    # last two weeks are the holdout


def events_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast evaluation: predict each holdout hour's
    event count with the same hour LAST WEEK, score with MASE (MAE of
    the seasonal model over MAE of the one-step random walk) — the
    standard scale-free forecast baseline every real model must beat,
    and the eval harness shape (split → predict → score) a forecasting
    pipeline runs daily.

    Exact arithmetic throughout: hourly counts are integers, both MAEs
    are exact-integer |Δ| sums divided once, MASE is one final divide.
    Scale shape: ONE map-side-combined hourly aggregate (time-bounded
    frame), two self-equi-joins on shifted hour keys, a 1-row max-hour
    broadcast for the holdout boundary, and a 1-row reduction."""
    ev = _ev(spark, sf_dir)
    hourly = ev.groupBy(
        F.expr("unix_micros(ts) div 3600000000").alias("h")
    ).agg(F.count("*").cast("long").alias("y"))
    mx = hourly.agg(F.max("h").alias("hmax"))  # 1-row broadcast
    holdout = (
        hourly.crossJoin(F.broadcast(mx))
        .filter(F.col("h") > F.col("hmax") - MASE_EVAL_H)
        .select("h", "y")
    )
    season = hourly.select((F.col("h") + MASE_SEASON_H).alias("h"),
                           F.col("y").alias("y_season"))
    prev = hourly.select((F.col("h") + 1).alias("h"), F.col("y").alias("y_prev"))
    joined = holdout.join(season, "h").join(prev, "h")
    base = joined.agg(
        F.count("*").cast("long").alias("n_hours"),
        F.sum(F.abs(F.col("y") - F.col("y_season"))).cast("long").alias("__am"),
        F.sum(F.abs(F.col("y") - F.col("y_prev"))).cast("long").alias("__an"),
    )
    # sparse fixtures can leave an empty or flat holdout — NULL, never
    # an ANSI divide error
    n = F.col("n_hours").cast("double")
    mae_m = F.when(F.col("n_hours") > 0, F.col("__am").cast("double") / n)
    mae_n = F.when(F.col("n_hours") > 0, F.col("__an").cast("double") / n)
    return base.select(
        "n_hours",
        mae_m.alias("mae_model"),
        mae_n.alias("mae_naive"),
        F.when(
            F.col("__an") > 0,
            F.col("__am").cast("double") / F.col("__an").cast("double"),
        ).alias("mase"),
    )


QUERIES["events_seasonal_naive_mase"] = events_seasonal_naive_mase

ORACLE_SQL["events_seasonal_naive_mase"] = f"""
    WITH hourly AS (
        SELECT epoch_us(ts) // 3600000000 AS h,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    mx AS (SELECT max(h) AS hmax FROM hourly),
    holdout AS (
        SELECT h, y FROM hourly, mx WHERE h > hmax - {MASE_EVAL_H}
    ),
    j AS (
        SELECT a.y, s.y AS y_season, p.y AS y_prev
        FROM holdout a
        JOIN hourly s ON s.h = a.h - {MASE_SEASON_H}
        JOIN hourly p ON p.h = a.h - 1
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_hours,
               CAST(sum(abs(y - y_season)) AS BIGINT) AS am,
               CAST(sum(abs(y - y_prev)) AS BIGINT) AS an
        FROM j
    )
    SELECT n_hours,
           CASE WHEN n_hours > 0
                THEN CAST(am AS DOUBLE) / CAST(n_hours AS DOUBLE) END
               AS mae_model,
           CASE WHEN n_hours > 0
                THEN CAST(an AS DOUBLE) / CAST(n_hours AS DOUBLE) END
               AS mae_naive,
           CASE WHEN an > 0
                THEN CAST(am AS DOUBLE) / CAST(an AS DOUBLE) END AS mase
    FROM m
"""


def events_acf_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACF correlogram over per-minute VALUE totals (cents) rather
    than counts — does revenue remember itself minute-over-minute?
    Same pairwise-complete estimator and exact sufficient statistics
    as events_acf (operators/temporal.py:acf_pairwise)."""
    ev = _ev(spark, sf_dir)
    return temporal.acf_pairwise(
        ev, value_col="value", bucket_seconds=ACF_BUCKET_S, max_lag=ACF_MAX_LAG
    )


QUERIES["events_acf_value"] = events_acf_value

ORACLE_SQL["events_acf_value"] = f"""
    WITH s AS (
        SELECT epoch_us(ts) // {ACF_BUCKET_S * 1_000_000} AS b,
               CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    l AS (SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS lag_buckets),
    p AS (
        SELECT l.lag_buckets, a.x AS x, c.x AS y
        FROM s a CROSS JOIN l
        JOIN s c ON a.b + l.lag_buckets = c.b
    ),
    m AS (
        SELECT lag_buckets,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sx2,
               sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sy2,
               sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy
        FROM p GROUP BY 1
    )
    SELECT CAST(lag_buckets AS INTEGER) AS lag_buckets, n_pairs,
           CASE WHEN (CAST(n_pairs AS DOUBLE) * CAST(sx2 AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * (CAST(n_pairs AS DOUBLE) * CAST(sy2 AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                THEN (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sx2 AS DOUBLE)
                                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (CAST(n_pairs AS DOUBLE) * CAST(sy2 AS DOUBLE)
                                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                ELSE NULL END AS acf
    FROM m ORDER BY lag_buckets
"""


def events_emd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample 1-D WASSERSTEIN-1 (earth mover's) distance between
    'click' and 'purchase' event values — the MAGNITUDE companion to
    events_ks_drift's max-deviation statistic (KS says whether the
    ECDFs separate; W1 says by how much, in cents of mass transport).

    Exactness: W1 = Σ over the distinct-cents spine of
    |cum1·n2 − cum2·n1| · (next_value − value), accumulated in
    DECIMAL(38,0) (products reach n1·n2·gap·cells — past 2^63), with
    ONE divide by n1·n2 at the end. The paired ECDFs ride the same
    two-phase running_totals as KS; the "next value" gap comes from a
    dense_ids rank self-join (rank+1), never a partition-less lead
    window. The spine's maximum value has cumdiff 0 by construction
    (both ECDFs have reached their totals), so the missing terminal
    gap contributes nothing.
    """
    from sfcrimedatapipeline_spark.operators.keys import dense_ids, running_totals

    ev = _ev(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    cells = ev.groupBy(cents.alias("c")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("k1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("k2"),
    )
    cum = running_totals(cells, [F.asc("c")], [("k1", "cum1"), ("k2", "cum2")])
    ranked = dense_ids(cum.select("c", "cum1", "cum2"), ["c"], "__r")
    nxt = ranked.select(
        (F.col("__r") - 1).alias("__r"), F.col("c").alias("c_next")
    )
    gapped = ranked.join(nxt, "__r")  # drops the max-c row (cumdiff 0 there)
    tot = cells.agg(
        F.sum("k1").cast("long").alias("n1"), F.sum("k2").cast("long").alias("n2")
    )
    j = gapped.crossJoin(F.broadcast(tot))
    term = (
        F.abs(
            F.col("cum1").cast("decimal(38,0)") * F.col("n2")
            - F.col("cum2").cast("decimal(38,0)") * F.col("n1")
        )
        * (F.col("c_next") - F.col("c")).cast("decimal(38,0)")
    )
    agg = j.agg(
        F.sum(term).alias("__w"),
        F.max("n1").cast("long").alias("n1"),
        F.max("n2").cast("long").alias("n2"),
    )
    w1 = F.col("__w").cast("double") / (
        F.col("n1").cast("double") * F.col("n2").cast("double")
    )
    return agg.select(
        F.col("n1").alias("n_click"),
        F.col("n2").alias("n_purchase"),
        w1.alias("w1_cents"),
    )


QUERIES["events_emd_drift"] = events_emd_drift

ORACLE_SQL["events_emd_drift"] = """
    WITH f AS (
        SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c, event_type
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    cells AS (
        SELECT c,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS k1,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS k2
        FROM f GROUP BY 1
    ),
    cum AS (
        SELECT c,
               CAST(sum(k1) OVER (ORDER BY c
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum1,
               CAST(sum(k2) OVER (ORDER BY c
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum2,
               lead(c) OVER (ORDER BY c) AS c_next
        FROM cells
    ),
    t AS (SELECT CAST(sum(k1) AS BIGINT) AS n1,
                 CAST(sum(k2) AS BIGINT) AS n2 FROM cells),
    m AS (
        SELECT sum(abs(CAST(cum1 AS DECIMAL(38,0)) * n2
                       - CAST(cum2 AS DECIMAL(38,0)) * n1)
                   * CAST(c_next - c AS DECIMAL(38,0))) AS w,
               max(n1) AS n1, max(n2) AS n2
        FROM cum CROSS JOIN t
        WHERE c_next IS NOT NULL
    )
    SELECT n1 AS n_click, n2 AS n_purchase,
           CAST(w AS DOUBLE)
               / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS w1_cents
    FROM m
"""


def orders_seasonal_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year SEASONAL INDICES of order revenue: each calendar
    month's share of an average month (index 1.0 = no seasonality) —
    the classical ratio-to-grand-mean decomposition a demand planner
    reads before any forecast. Exact: per-month cents sums and month
    counts are integers; the index is (month_total/month_n_years) /
    (grand_total/grand_n_months) rearranged into multiplies and TWO
    divides in fixed order. One aggregate + one 12-row reduction."""
    o = read_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    per = o.groupBy(
        F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
    ).agg(F.sum(cents).cast("long").alias("rev"))
    monthly = per.groupBy("m").agg(
        F.count("*").cast("long").alias("n_years"),
        F.sum("rev").cast("long").alias("total_cents"),
    )
    grand = per.agg(
        F.count("*").cast("long").alias("n_months"),
        F.sum("rev").cast("long").alias("grand_cents"),
    )
    j = monthly.crossJoin(F.broadcast(grand))
    idx = (
        F.col("total_cents").cast("double")
        * F.col("n_months").cast("double")
        / (
            F.col("n_years").cast("double")
            * F.col("grand_cents").cast("double")
        )
    )
    return j.select(
        F.col("m").alias("month"),
        "n_years",
        "total_cents",
        idx.alias("seasonal_index"),
    ).orderBy("month")


QUERIES["orders_seasonal_indices"] = orders_seasonal_indices

ORACLE_SQL["orders_seasonal_indices"] = """
    WITH per AS (
        SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
               CAST(sum(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS rev
        FROM orders GROUP BY 1, 2
    ),
    monthly AS (
        SELECT m, CAST(count(*) AS BIGINT) AS n_years,
               CAST(sum(rev) AS BIGINT) AS total_cents
        FROM per GROUP BY 1
    ),
    grand AS (SELECT CAST(count(*) AS BIGINT) AS n_months,
                     CAST(sum(rev) AS BIGINT) AS grand_cents FROM per)
    SELECT CAST(m AS INTEGER) AS month, n_years, total_cents,
           CAST(total_cents AS DOUBLE) * CAST(n_months AS DOUBLE)
               / (CAST(n_years AS DOUBLE) * CAST(grand_cents AS DOUBLE))
               AS seasonal_index
    FROM monthly CROSS JOIN grand
    ORDER BY month
"""


def events_active_users_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU per calendar day — THE product-health rollup:
    distinct active users on each day, in the trailing 7 days, and the
    trailing 30 days. Sliding DISTINCT counts don't decompose as plain
    window sums (a user active twice in a week must count once), so the
    scale shape is contribute-and-count: dedup events to distinct
    (user, day) rows — the frame every step after is bounded by, which
    is ≪ event count — then explode each user-day into the 7 (and 30)
    trailing window days it contributes to and take one
    map-side-combined count(DISTINCT user) per (window, day). Days with
    events define the output spine (a day with zero events has no
    row — the upstream distinct has nothing to contribute). Exact
    integers end to end."""
    ev = _ev(spark, sf_dir)
    ud = ev.select(
        F.col("user_id"), F.to_date("ts").alias("day")
    ).distinct()
    dau = ud.groupBy("day").agg(
        F.count("*").cast("long").alias("dau")
    )  # already distinct per (user, day)

    def rolling(days: int, name: str) -> DataFrame:
        contrib = ud.select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("day"), F.date_add(F.col("day"), days - 1)
                )
            ).alias("day"),
        )
        return contrib.groupBy("day").agg(
            F.count_distinct("user_id").cast("long").alias(name)
        )

    out = (
        dau.join(rolling(7, "wau"), "day")
        .join(rolling(30, "mau"), "day")
        # contribution windows extend past the last event day; keep the
        # observed-day spine only so every row has all three counts
        .join(ud.select("day").distinct(), "day", "left_semi")
    )
    return out.select("day", "dau", "wau", "mau")


def events_dau_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNBOUNDED-STATE streaming DAU — the complete-mode PARITY TWIN of
    :func:`events_dau_stream_wm` (the watermarked production shape,
    gated since round 9; VERDICT r8 #3 demoted this one to twin):
    streaming ``dropDuplicates(user, day)`` with no watermark feeding a
    complete-mode per-day count through the micro-batch harness. Sound
    gate, not best-effort: with unbounded dedup state and complete
    output, the final sink must equal the batch DISTINCT-then-count bit
    for bit, so the oracle is the same SQL as the batch DAU — it pins
    that the wm variant's eviction horizon changes NOTHING at gate
    scale (identical oracle) while the state contract differs. Not the
    100 TB shape: state grows with distinct (user, day) forever."""
    from sfcrimedatapipeline_spark.streaming.events import (
        cached_stream_fixture,
        run_stream_to_memory,
    )

    stream_dir = cached_stream_fixture(spark, sf_dir)

    def transform(stream: DataFrame) -> DataFrame:
        ud = stream.select(
            "user_id", F.to_date("ts").alias("day")
        ).dropDuplicates(["user_id", "day"])
        return ud.groupBy("day").agg(F.count("*").cast("long").alias("dau"))

    return run_stream_to_memory(
        spark,
        stream_dir,
        transform,
        query_name="events_dau_stream",
        output_mode="complete",
    )


def events_dau_stream_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DAU, PRODUCTION SHAPE (VERDICT r8 #3): the stateful
    stage is ``dropDuplicatesWithinWatermark(user, day)`` — state holds
    one entry per distinct (user, day) inside the watermark horizon and
    evicts once the watermark passes first-seen + delay, so memory is
    bounded by arrival rate × delay, never by corpus lifetime (the
    dedup_exact_stream_wm precedent; eviction semantics pinned by
    tests/test_streaming.py:test_wm_dau_overcounts_after_eviction).

    Gate soundness: the delay is COMPUTED to cover the whole fixture's
    event-time span (one min/max agg — the dedup_exact_stream_wm
    span-computation precedent), under which no key can evict before
    the stream drains, so the emitted (user, day) SET equals the batch
    DISTINCT exactly and the per-day count hash-gates against the same
    oracle as the unbounded twin. The count itself is a stateless
    rollup applied to the emitted set AFTER the stream completes:
    chaining a complete-mode aggregate behind dropDuplicatesWithin-
    Watermark is rejected by Spark (multiple stateful operators are
    append-only), and an append-mode event-time-window count would
    withhold every window still inside the horizon — emitting the
    deduped set and rolling it up is the shape a production job uses
    (dedup stream → per-day upsert sink)."""
    from sfcrimedatapipeline_spark.streaming.events import (
        cached_stream_fixture,
        run_stream_to_memory,
    )

    stream_dir = cached_stream_fixture(spark, sf_dir)
    span_s = (
        read_table(spark, sf_dir, "events")
        .agg(
            (
                F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
            ).alias("s")
        )
        .collect()[0][0]
        or 0
    )

    def transform(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", f"{int(span_s) + 3600} seconds")
            .select("user_id", F.to_date("ts").alias("day"), "ts")
            .dropDuplicatesWithinWatermark(["user_id", "day"])
            .select("user_id", "day")
        )

    deduped = run_stream_to_memory(
        spark,
        stream_dir,
        transform,
        query_name="events_dau_stream_wm",
        output_mode="append",
    )
    return deduped.groupBy("day").agg(
        F.count("*").cast("long").alias("dau")
    )


QUERIES["events_active_users_rolling"] = events_active_users_rolling
QUERIES["events_dau_stream"] = events_dau_stream
QUERIES["events_dau_stream_wm"] = events_dau_stream_wm

ORACLE_SQL["events_dau_stream"] = """
    SELECT day, CAST(count(*) AS BIGINT) AS dau
    FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events) ud
    GROUP BY day
"""

#: same oracle as the unbounded twin BY DESIGN — the wm variant's
#: horizon covers the fixture span, so eviction must change nothing
ORACLE_SQL["events_dau_stream_wm"] = ORACLE_SQL["events_dau_stream"]

ORACLE_SQL["events_active_users_rolling"] = """
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
    w AS (
        SELECT wday AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        FROM (SELECT user_id,
                     unnest([day + CAST(x AS INTEGER) for x in generate_series(0, 6)]) AS wday
              FROM ud) c
        GROUP BY 1
    ),
    m AS (
        SELECT mday AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        FROM (SELECT user_id,
                     unnest([day + CAST(x AS INTEGER) for x in generate_series(0, 29)]) AS mday
              FROM ud) c
        GROUP BY 1
    )
    SELECT dau.day, dau.dau, w.wau, m.mau
    FROM dau JOIN w USING (day) JOIN m USING (day)
    WHERE day IN (SELECT day FROM ud)
"""


def events_user_lifespan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USER LIFESPAN histogram: days between a user's first and last
    event (0 = single-day users), bucketed exactly — the engagement-
    duration distribution behind retention targets (the life-table
    query gives survival per day; this gives the closed-form spread).
    One map-side-combined min/max per user, one count per lifespan —
    both shuffles keyed far below event cardinality. Exact integers."""
    ev = _ev(spark, sf_dir)
    span = ev.groupBy("user_id").agg(
        F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts")))
        .cast("int")
        .alias("lifespan_days")
    )
    return (
        span.groupBy("lifespan_days")
        .agg(F.count("*").cast("long").alias("n_users"))
        .orderBy("lifespan_days")
    )


QUERIES["events_user_lifespan"] = events_user_lifespan

ORACLE_SQL["events_user_lifespan"] = """
    WITH span AS (
        SELECT user_id,
               CAST(date_diff('day', min(CAST(ts AS DATE)),
                              max(CAST(ts AS DATE))) AS INTEGER)
                   AS lifespan_days
        FROM events GROUP BY 1
    )
    SELECT lifespan_days, CAST(count(*) AS BIGINT) AS n_users
    FROM span GROUP BY 1 ORDER BY lifespan_days
"""


#: periodogram harmonics of the daily cycle (period 24/k hours)
PERIODOGRAM_HARMONICS = 4
#: trig-weight quantization: 2^20 integer weights make every product
#: y·w an EXACT BIGINT multiply — immune even to a fast-math-compiled
#: engine whose double multiply rounds off by an ulp (measured on this
#: container's DuckDB: 117 * cos(2π/24) rounds 103/128 ulp off — see
#: the round-9c periodogram note in PLANS.md)
PERIODOGRAM_WSCALE = 1 << 20


def _trig_tables() -> list[tuple[int, list[int], list[int]]]:
    """(k, cos table, sin table) per harmonic, QUANTIZED:
    w[hod] = round(cos/sin(2πk·hod/24)·2^20) as exact ints. Computed
    ONCE in Python and interpolated as INTEGER LITERALS into BOTH
    engines — no libm call and no inexact float multiply ever runs
    inside either engine (the literal IS the contract, and y·w stays
    an exact BIGINT for hourly counts up to 2^43)."""
    import math

    out = []
    s = PERIODOGRAM_WSCALE
    for k in range(1, PERIODOGRAM_HARMONICS + 1):
        cos_t = [
            int(round(math.cos(2.0 * math.pi * k * h / 24.0) * s))
            for h in range(24)
        ]
        sin_t = [
            int(round(math.sin(2.0 * math.pi * k * h / 24.0) * s))
            for h in range(24)
        ]
        out.append((k, cos_t, sin_t))
    return out


def events_periodogram24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal harmonic power of the hourly event series at the
    daily cycle's first 4 harmonics (periods 24/12/8/6 h):
    a_k = Σ_t y_t·cos(2πk·hod/24), b_k the sine twin, power = a²+b² —
    the quantitative "how 24-hourly is this signal" spectrum beside
    events_seasonality_profile's shape table and the MASE baseline.

    Determinism, the strongest tier in the repo: the trig weights are
    24-entry QUANTIZED INTEGER literal tables (2^20 — no runtime libm),
    every weighted sum is an exact BIGINT aggregate, the squares
    accumulate in DECIMAL(38,0), and the only float ops are final
    exact power-of-two scalings plus one integer→double cast — so the
    result is bit-identical even against an engine whose double
    MULTIPLY is fast-math-contracted (measured on this container, see
    PLANS.md). Scale shape: ONE map-side-combined hourly aggregate
    (time-bounded), then 4 scalar aggregates unioned into 4 rows.

    Cross-engine hour index (ADVICE r9): Spark side uses ``pmod(h,
    24)`` (always ≥ 0) while DuckDB ``%`` follows the dividend's sign,
    so the oracle applies the sign-safe ``((h % 24) + 24) % 24``. The
    remaining divergence is the hour-bucket division itself — Spark
    ``div`` truncates toward zero, DuckDB ``//`` floors — which only
    differs for PRE-EPOCH timestamps; the events fixture (and any
    sane event-log deployment) is post-1970, and for pre-epoch data
    the hod phases would shift coherently on both sides of each
    engine, leaving powers comparable but the cos/sin split
    engine-specific."""
    from functools import reduce

    ev = _ev(spark, sf_dir)
    hourly = (
        ev.groupBy(F.expr("unix_micros(ts) div 3600000000").alias("h"))
        .agg(F.count("*").cast("long").alias("y"))
        .withColumn("hod", F.pmod(F.col("h"), F.lit(24)).cast("int"))
    )
    ws = float(PERIODOGRAM_WSCALE)
    ws2 = float(PERIODOGRAM_WSCALE) * float(PERIODOGRAM_WSCALE)
    rows = []
    for k, cos_t, sin_t in _trig_tables():
        w_cos = F.element_at(F.lit(cos_t), F.col("hod") + 1).cast("long")
        w_sin = F.element_at(F.lit(sin_t), F.col("hod") + 1).cast("long")
        agg = hourly.agg(
            F.sum(F.col("y") * w_cos).cast("decimal(38,0)").alias("__sa"),
            F.sum(F.col("y") * w_sin).cast("decimal(38,0)").alias("__sb"),
        )
        rows.append(
            agg.select(
                F.lit(k).cast("int").alias("harmonic"),
                (F.col("__sa").cast("double") / F.lit(ws)).alias("cos_sum"),
                (F.col("__sb").cast("double") / F.lit(ws)).alias("sin_sum"),
                (
                    (
                        F.col("__sa") * F.col("__sa")
                        + F.col("__sb") * F.col("__sb")
                    ).cast("double")
                    / F.lit(ws2)
                ).alias("power"),
            )
        )
    return reduce(lambda x, y: x.unionByName(y), rows)


QUERIES["events_periodogram24"] = events_periodogram24


def _periodogram_oracle_sql() -> str:
    ws = repr(float(PERIODOGRAM_WSCALE))
    ws2 = repr(float(PERIODOGRAM_WSCALE) * float(PERIODOGRAM_WSCALE))
    parts = []
    for k, cos_t, sin_t in _trig_tables():
        cos_lit = "[" + ", ".join(str(v) for v in cos_t) + "]"
        sin_lit = "[" + ", ".join(str(v) for v in sin_t) + "]"
        parts.append(f"""
        SELECT CAST({k} AS INTEGER) AS harmonic,
               CAST(sa AS DOUBLE) / {ws} AS cos_sum,
               CAST(sb AS DOUBLE) / {ws} AS sin_sum,
               CAST(sa * sa + sb * sb AS DOUBLE) / {ws2} AS power
        FROM (
            SELECT CAST(sum(y * CAST({cos_lit}[hod + 1] AS BIGINT))
                        AS DECIMAL(38,0)) AS sa,
                   CAST(sum(y * CAST({sin_lit}[hod + 1] AS BIGINT))
                        AS DECIMAL(38,0)) AS sb
            FROM hourly
        ) s{k}""")
    return f"""
        WITH hourly AS MATERIALIZED (
            SELECT h, CAST(count(*) AS BIGINT) AS y,
                   CAST(((h % 24) + 24) % 24 AS INTEGER) AS hod
            FROM (
                SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h
                FROM events
            ) e GROUP BY h
        )
        {" UNION ALL ".join(parts)}
    """


ORACLE_SQL["events_periodogram24"] = _periodogram_oracle_sql()
