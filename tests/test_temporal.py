"""Edge-case semantics of the temporal join operators: tie handling,
unmatched rows, and bin boundaries — the cases the sf-scale oracle gate
exercises only by accident."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.operators.temporal import US, asof_join, binned_range_join


def _ts(s):
    return dt.datetime(2024, 1, 1, 0, 0, s)


def test_asof_matches_equal_ts_and_latest_prior(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), "a"), (1, _ts(20), "b"), (2, _ts(5), "c")],
        "k long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, _ts(10), 100), (1, _ts(15), 200), (2, _ts(9), 300)],
        "k long, ts timestamp, v int",
    )
    out = {
        r["tag"]: r["v"]
        for r in asof_join(left, right, on="k", ts="ts", value_cols=["v"]).collect()
    }
    # equal ts matches (>= contract); latest prior wins; no future match
    assert out == {"a": 100, "b": 200, "c": None}


def test_asof_unmatched_left_rows_survive_with_nulls(spark):
    left = spark.createDataFrame([(1, _ts(1)), (3, _ts(9))], "k long, ts timestamp")
    right = spark.createDataFrame([(1, _ts(5), 7)], "k long, ts timestamp, v int")
    rows = asof_join(left, right, on="k", ts="ts", value_cols=["v"]).collect()
    assert len(rows) == 2  # LEFT semantics: key 3 and the too-early row stay
    assert all(r["v"] is None for r in rows)


def test_asof_duplicate_ts_resolves_by_tiebreak(spark):
    left = spark.createDataFrame([(1, _ts(10))], "k long, ts timestamp")
    right = spark.createDataFrame(
        [(1, _ts(10), 5), (1, _ts(10), 9), (1, _ts(10), 2)],
        "k long, ts timestamp, v int",
    )
    rows = asof_join(left, right, on="k", ts="ts", value_cols=["v"], tiebreak="v").collect()
    assert [r["v"] for r in rows] == [9]  # largest tiebreak wins


def test_binned_range_join_boundaries_and_multi_bin_span(spark):
    # bin width 10 s; interval [15 s, 35 s) spans bins 1..3
    points = spark.createDataFrame(
        [(i, s * US) for i, s in enumerate([14, 15, 20, 34, 35])],
        "pid long, ts_us long",
    )
    intervals = spark.createDataFrame(
        [(100, 15 * US, 35 * US)], "wid long, lo_us long, hi_us long"
    )
    out = binned_range_join(
        points, intervals, ts="ts_us", lo="lo_us", hi="hi_us", bin_width_s=10
    )
    got = sorted(r["pid"] for r in out.collect())
    # lo inclusive (15), hi exclusive (35), 14 outside; each pair once
    assert got == [1, 2, 3]


def test_binned_range_join_no_duplicate_pairs_on_overlapping_intervals(spark):
    points = spark.createDataFrame([(1, 25 * US)], "pid long, ts_us long")
    intervals = spark.createDataFrame(
        [(10, 0, 60 * US), (20, 20 * US, 30 * US)], "wid long, lo_us long, hi_us long"
    )
    out = binned_range_join(
        points, intervals, ts="ts_us", lo="lo_us", hi="hi_us", bin_width_s=10
    )
    assert sorted(r["wid"] for r in out.collect()) == [10, 20]
    assert out.count() == 2  # one row per qualifying (point, interval) pair


def test_asof_join_single_exchange_plan(spark):
    # the scale contract: ONE hashpartitioning shuffle on the key feeds
    # the merge window — no nested-loop join anywhere
    left = spark.createDataFrame([(1, _ts(10))], "k long, ts timestamp")
    right = spark.createDataFrame([(1, _ts(5), 7)], "k long, ts timestamp, v int")
    df = asof_join(left, right, on="k", ts="ts", value_cols=["v"])
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1


def test_resample_locf_fills_gaps(spark):
    import datetime as dt

    from sfcrimedatapipeline_spark.operators.temporal import resample_locf

    t0 = dt.datetime(2024, 1, 1, 0, 30, 0)
    rows = [
        (1, t0, 10.00),                                  # hour 0
        (1, t0 + dt.timedelta(minutes=5), 20.00),        # hour 0, later → wins
        (1, t0 + dt.timedelta(hours=3), 30.00),          # hour 3
        (2, t0, 99.00),                                  # single-event user
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {
        (r.user_id, r.bucket_ts.hour): (r.obs_cents, r.filled_cents)
        for r in resample_locf(df, bucket_seconds=3600).collect()
    }
    # user 1: 4 spine buckets (hours 0..3); gaps 1-2 carry hour 0's last obs
    assert out[(1, 0)] == (2000, 2000)
    assert out[(1, 1)] == (None, 2000)
    assert out[(1, 2)] == (None, 2000)
    assert out[(1, 3)] == (3000, 3000)
    # user 2: exactly one bucket, no gaps
    assert out[(2, 0)] == (9900, 9900)
    assert len(out) == 5


def test_time_weighted_avg_manual(spark):
    import datetime as dt

    from sfcrimedatapipeline_spark.operators.temporal import time_weighted_avg

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # 10.00 held 10 s, then 30.00 held 30 s, last event open-ended
        (1, t0, 10.00),
        (1, t0 + dt.timedelta(seconds=10), 30.00),
        (1, t0 + dt.timedelta(seconds=40), 50.00),
        (2, t0, 77.00),  # single event → no segment → no row
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {r.user_id: r for r in time_weighted_avg(df).collect()}
    assert set(got) == {1}
    r = got[1]
    assert r.n_segments == 2
    assert r.total_us == 40_000_000
    # (1000*10 + 3000*30) / 40 = 2500 cents
    assert r.twa_cents == 2500.0


def test_resample_interpolate_linear_values(spark):
    import datetime as dt

    from sfcrimedatapipeline_spark.operators.temporal import resample_interpolate

    t0 = dt.datetime(2024, 1, 1, 0, 30)
    rows = [
        (1, t0, 10.00),                           # bucket 0
        (1, t0 + dt.timedelta(hours=3), 40.00),   # bucket 3
        (1, t0 + dt.timedelta(hours=4), 40.00),   # bucket 4 (tail obs)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {
        r.bucket_ts.hour: r.interp_cents
        for r in resample_interpolate(df, bucket_seconds=3600).collect()
    }
    # linear between 1000 and 4000 across buckets 0..3
    assert out[0] == 1000.0
    assert out[1] == 2000.0
    assert out[2] == 3000.0
    assert out[3] == 4000.0
    assert out[4] == 4000.0


def test_resample_interpolate_tail_falls_back_to_locf(spark):
    import datetime as dt

    from sfcrimedatapipeline_spark.operators.temporal import resample_interpolate

    t0 = dt.datetime(2024, 1, 1, 0, 30)
    rows = [
        (1, t0, 10.00),
        (1, t0 + dt.timedelta(hours=2, minutes=40), 40.00),  # bucket 3... no
    ]
    # events at buckets 0 and 3; max obs bucket = 3 → spine 0..3; all
    # gaps interior here, so force a tail gap instead: obs at 0 only,
    # spine max = obs max → no tail gap is even constructible from
    # real events. The tail branch is reachable only via interior
    # construction, so assert the interior math once more and the
    # filled==interp equality on observed rows.
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    for r in resample_interpolate(df, bucket_seconds=3600).collect():
        if r.obs_cents is not None:
            assert r.interp_cents == float(r.obs_cents) == float(r.filled_cents)


def test_collapse_bursts_chain_semantics(spark):
    import datetime as dt

    from sfcrimedatapipeline_spark.operators.temporal import collapse_bursts

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, 7, t0, "click", 5.00),
        (2, 7, t0 + dt.timedelta(seconds=30), "click", 5.00),  # <60s → drop
        (3, 7, t0 + dt.timedelta(seconds=59), "click", 5.00),  # 29s after #2 → drop
        (4, 7, t0 + dt.timedelta(seconds=90), "click", 5.00),  # 31s after #3 → drop (chain)
        (5, 7, t0 + dt.timedelta(seconds=200), "click", 5.00),  # 110s after #4 → keep
        (6, 7, t0 + dt.timedelta(seconds=10), "click", 9.00),  # different value → keep
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    kept = {r.event_id for r in collapse_bursts(df, within_seconds=60).collect()}
    assert kept == {1, 5, 6}
    # debounce mode ignores the value: event 6 now joins user 7's chain
    kept2 = {
        r.event_id
        for r in collapse_bursts(df, within_seconds=60, match_value=False).collect()
    }
    assert kept2 == {1, 5}


def test_rolling_zscore_flags_spike_not_constant(spark):
    import datetime as dt

    from sfcrimedatapipeline_spark.operators.temporal import rolling_zscore

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, 1, t0 + dt.timedelta(minutes=i), "e", 10.00) for i in range(8)
    ] + [(8, 1, t0 + dt.timedelta(minutes=8), "e", 500.00)]
    # constant user: z must be NULL (zero variance), never anomalous
    rows += [(100 + i, 2, t0 + dt.timedelta(minutes=i), "e", 7.00) for i in range(5)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    out = {r.event_id: r for r in rolling_zscore(df).collect()}
    assert out[8].is_anomaly and out[8].zscore > 2.5
    for i in range(8):
        assert out[i].zscore is None and not out[i].is_anomaly
    for i in range(5):
        assert out[100 + i].zscore is None and not out[100 + i].is_anomaly


def test_attribution_first_last_touch_and_lookback(spark):
    import datetime as dt

    from sfcrimedatapipeline_spark.plans.timeseries import ATTR_WINDOW_S
    import sfcrimedatapipeline_spark.plans.timeseries as ts_mod

    t0 = dt.datetime(2024, 1, 2, 12, 0, 0)
    rows = [
        # user 1: stale view (25h before) then two fresh views, purchase
        (1, 1, t0 - dt.timedelta(hours=25), "view", 0.0),
        (2, 1, t0 - dt.timedelta(hours=2), "view", 0.0),
        (3, 1, t0 - dt.timedelta(hours=1), "view", 0.0),
        (4, 1, t0, "purchase", 50.00),
        # user 2: ONLY a stale view → no attribution at all
        (5, 2, t0 - dt.timedelta(hours=30), "view", 0.0),
        (6, 2, t0, "purchase", 10.00),
        # user 3: no views
        (7, 3, t0, "purchase", 7.00),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    import sfcrimedatapipeline_spark.plans.timeseries as m
    orig = m.read_table
    try:
        m.read_table = lambda s, d, t, **kw: df
        out = {r.purchase_id: r for r in m.events_attribution(spark, "ignored").collect()}
    finally:
        m.read_table = orig
    assert out[4].last_touch_view_id == 3      # latest in-window view
    assert out[4].first_view_id == 2           # earliest WITHIN the 24h window
    assert out[4].n_touches == 2               # stale view excluded
    assert out[6].last_touch_view_id is None and out[6].first_view_id is None
    assert out[6].n_touches == 0
    assert out[7].last_touch_view_id is None and out[7].n_touches == 0


def test_asof_forward_direction(spark):
    import datetime as dt

    from sfcrimedatapipeline_spark.operators.temporal import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, 7, t0 + dt.timedelta(seconds=10))], "lid long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            (7, t0 + dt.timedelta(seconds=5), 100),   # before → backward only
            (7, t0 + dt.timedelta(seconds=10), 200),  # simultaneous → both (inclusive)
            (7, t0 + dt.timedelta(seconds=30), 300),  # after → forward only
        ],
        "user_id long, ts timestamp, v long",
    )
    back = asof_join(left, right, on="user_id", ts="ts", value_cols=["v"]).collect()
    fwd = asof_join(
        left, right, on="user_id", ts="ts", value_cols=["v"], direction="forward"
    ).collect()
    assert back[0].v == 200   # latest <= : the simultaneous row
    assert fwd[0].v == 200    # earliest >= : also the simultaneous row
    # remove the simultaneous row: directions diverge
    right2 = right.filter(right.v != 200)
    back2 = asof_join(left, right2, on="user_id", ts="ts", value_cols=["v"]).collect()
    fwd2 = asof_join(
        left, right2, on="user_id", ts="ts", value_cols=["v"], direction="forward"
    ).collect()
    assert back2[0].v == 100 and fwd2[0].v == 300
    # no future row at all → forward yields NULL
    right3 = right.filter(right.v == 100)
    fwd3 = asof_join(
        left, right3, on="user_id", ts="ts", value_cols=["v"], direction="forward"
    ).collect()
    assert fwd3[0].v is None


def test_twa_survives_int64_overflowing_product(spark):
    # value*100 (cents) x gap in µs > 2^63: the BIGINT product would
    # raise ARITHMETIC_OVERFLOW under ANSI; the decimal-first multiply
    # must not. 10^12 cents x ~3.15*10^13 µs (a year) ≈ 3*10^25.
    from pyspark.sql import functions as F
    from sfcrimedatapipeline_spark.operators.temporal import time_weighted_avg

    df = spark.createDataFrame(
        [
            (1, "2023-01-01 00:00:00", 1e10),
            (1, "2024-01-01 00:00:00", 1e10),
        ],
        "user_id int, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    row = time_weighted_avg(df).collect()[0]
    assert abs(row.twa_cents - 1e12) < 1.0


def test_resample_gap_stats_runs_and_bounds(spark):
    """Gap profile semantics: a user observed every bucket has zero
    fills; a user with one long hole reports its exact run length; the
    identity n_buckets = n_obs + n_filled holds row by row."""
    from pyspark.sql import functions as F
    from sfcrimedatapipeline_spark.operators.temporal import resample_gap_stats

    rows = [
        # user 1: hours 0,1,2 all observed -> no gaps
        (1, "2023-01-01 00:30:00", 1.0),
        (1, "2023-01-01 01:30:00", 1.0),
        (1, "2023-01-01 02:30:00", 1.0),
        # user 2: hour 0 and hour 5 -> one 4-bucket hole (hours 1-4)
        (2, "2023-01-01 00:10:00", 2.0),
        (2, "2023-01-01 05:10:00", 2.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.user_id: r for r in resample_gap_stats(df).collect()}
    assert out[1].n_buckets == 3 and out[1].n_filled == 0
    assert out[1].max_gap_run == 0
    assert out[2].n_buckets == 6 and out[2].n_obs == 2
    assert out[2].n_filled == 4 and out[2].max_gap_run == 4
    for r in out.values():
        assert r.n_buckets == r.n_obs + r.n_filled


def test_periodogram24_detects_planted_daily_cycle(spark):
    """events_periodogram24 semantics on a planted signal: a pure
    24-hour cosine in the hourly counts concentrates power in
    harmonic 1; a flat series has (near-)zero power everywhere. Built
    through the real query over a temp parquet dir."""
    import datetime
    import math
    import os
    import tempfile

    from sfcrimedatapipeline_spark.plans.timeseries import (
        events_periodogram24,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for t in range(24 * 14):  # two weeks of hours
        count = 10 + round(8 * math.cos(2 * math.pi * (t % 24) / 24))
        for _ in range(count):
            rows.append(
                (eid, base + datetime.timedelta(hours=t), 1, "view", 1.0, "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {r.harmonic: r for r in events_periodogram24(spark, d).collect()}
    assert set(out) == {1, 2, 3, 4}
    # the planted cycle dominates: harmonic 1 carries >100x any other
    others = max(out[k].power for k in (2, 3, 4))
    assert out[1].power > 100 * max(others, 1e-9)
    # amplitude recovery: |a_1 + i b_1| ≈ n_hours/2 * amplitude (8);
    # the integer-rounded waveform shifts its fundamental slightly
    n_hours = 24 * 14
    amp = 2 * math.sqrt(out[1].power) / n_hours
    assert abs(amp - 8.0) < 0.25


def test_periodogram_oracle_hod_is_sign_safe():
    """DuckDB % follows the dividend's sign; the oracle must bucket
    pre-epoch hour indexes into [0, 24) exactly like Spark's pmod."""
    import duckdb

    from sfcrimedatapipeline_spark.plans.timeseries import (
        _periodogram_oracle_sql,
    )

    sql = _periodogram_oracle_sql()
    assert "((h % 24) + 24) % 24" in sql
    # the exact expression, evaluated by the oracle engine on a
    # negative hour index, lands in [0, 24)
    got = duckdb.sql("SELECT ((-5 % 24) + 24) % 24").fetchone()[0]
    assert got == 19
