"""Semantics tests for the SQL-surface extensions (set ops, null-safe
join, exact quantiles) on adversarial mini-fixtures the driver testdata
doesn't contain (duplicate keys, NULL keys, fractional interpolation).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_except_distinct_semantics_with_duplicates(spark):
    # a key that appears TWICE on the left and once on the right must
    # vanish entirely under EXCEPT — exceptAll would keep one copy
    left = spark.createDataFrame([(1,), (1,), (2,)], "customer_id long")
    right = spark.createDataFrame([(1,)], "customer_id long")
    assert {r.customer_id for r in left.subtract(right).collect()} == {2}
    # and the buggy construction really does differ (regression guard
    # for why s8_set_ops uses subtract)
    assert {r.customer_id for r in left.exceptAll(right).collect()} == {1, 2}


def test_nullsafe_join_matches_null_keys(spark):
    left = spark.createDataFrame([(1, "a"), (2, None)], "id long, k string")
    dim = spark.createDataFrame([("a", 10), (None, 99)], "k string, v int")
    plain = left.join(dim, left.k == dim.k, "left").select("id", "v").collect()
    safe = left.join(dim, left.k.eqNullSafe(dim.k), "left").select("id", "v").collect()
    assert {(r.id, r.v) for r in plain} == {(1, 10), (2, None)}
    assert {(r.id, r.v) for r in safe} == {(1, 10), (2, 99)}


def test_exact_quantiles_interpolation(spark):
    from sfcrimedatapipeline_spark.operators.profile import exact_quantiles

    df = spark.createDataFrame([(float(v),) for v in (50, 10, 30, 20, 40)], "x double")
    out = {
        r.prob: r.value
        for r in exact_quantiles(df, "x", [0.0, 0.1, 0.25, 0.5, 1.0]).collect()
    }
    # sorted values [10,20,30,40,50]; h = p*(n-1)
    assert out[0.0] == 10.0
    assert out[0.1] == pytest.approx(10 + (20 - 10) * 0.4, abs=0)  # h=0.4
    assert out[0.25] == 20.0  # h=1.0 exactly
    assert out[0.5] == 30.0
    assert out[1.0] == 50.0


def test_rollup_levels_and_grouping_id(spark):
    df = spark.createDataFrame(
        [("A", "x", 1), ("A", "y", 2), ("B", "x", 3)], "s string, p string, v long"
    )
    rows = (
        df.rollup("s", "p")
        .agg(F.sum("v").alias("t"), F.grouping_id().cast("int").alias("gid"))
        .collect()
    )
    by_key = {(r.s, r.p, r.gid): r.t for r in rows}
    assert by_key[("A", "x", 0)] == 1
    assert by_key[("A", None, 1)] == 3  # subtotal over A
    assert by_key[(None, None, 3)] == 6  # grand total
    assert len(rows) == 3 + 2 + 1  # leaves + per-s subtotals + total


def test_moment_stats_partitioning_invariant(spark):
    # the point of exact-moment accumulation: identical DOUBLE bits no
    # matter how the rows are partitioned (built-in stddev/corr merge
    # partial states in partition order and cannot promise this)
    from sfcrimedatapipeline_spark.plans.tpch import s12_moment_stats
    from sfcrimedatapipeline_spark.sources.tables import read_table

    sf = "/root/testdata/sf0.001"
    a = {r["flag"]: r.asDict() for r in s12_moment_stats(spark, sf).collect()}

    li = read_table(spark, sf, "lineitem").repartition(13).cache()
    li.count()
    import sfcrimedatapipeline_spark.sources.tables as tables

    orig = tables.read_table
    try:
        tables.read_table = lambda s, d, t, **kw: li if t == "lineitem" else orig(s, d, t, **kw)
        import sfcrimedatapipeline_spark.plans.tpch as tpch_mod

        orig_tpch = tpch_mod.read_table
        tpch_mod.read_table = tables.read_table
        try:
            b = {r["flag"]: r.asDict() for r in s12_moment_stats(spark, sf).collect()}
        finally:
            tpch_mod.read_table = orig_tpch
    finally:
        tables.read_table = orig
        li.unpersist()
    assert a == b  # exact dict equality: every double bit-identical


def test_lateral_topk_is_per_customer_top2(spark):
    # LATERAL per-customer top-k: no customer exceeds 2 rows, and the
    # selected rows are exactly that customer's 2 priciest orders
    from sfcrimedatapipeline_spark.plans.sql_surface import s16_lateral_topk

    out = s16_lateral_topk(spark, "/root/testdata/sf0.001").collect()
    by_cust: dict[int, list] = {}
    for r in out:
        by_cust.setdefault(r.customer_id, []).append(r)
    assert max(len(v) for v in by_cust.values()) <= 2

    from sfcrimedatapipeline_spark.sources.tables import read_table

    orders = read_table(spark, "/root/testdata/sf0.001", "orders").collect()
    per_cust: dict[int, list] = {}
    for o in orders:
        cents = int(o.o_totalprice * 100 + 0.5)
        per_cust.setdefault(o.o_custkey, []).append((-cents, o.o_orderkey))
    for cust, rows in by_cust.items():
        want = sorted(per_cust[cust])[:2]
        got = sorted((-r.price_cents, r.order_key) for r in rows)
        assert got == want, cust


def test_locf_fills_forward_only(spark):
    # IGNORE NULLS last(): NULL observations take the latest prior
    # non-null per user; leading NULLs stay NULL (nothing to carry)
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.plans.sql_surface import w6_ignore_nulls_locf

    out = w6_ignore_nulls_locf(spark, "/root/testdata/sf0.001")
    # filled is never worse than obs: equal where obs non-null
    bad = out.filter(
        F.col("obs_cents").isNotNull() & (F.col("filled_cents") != F.col("obs_cents"))
    ).count()
    assert bad == 0
    # masked rows exist, and every non-leading masked row got a fill
    masked = out.filter(F.col("obs_cents").isNull())
    assert masked.count() > 0
    unfilled = masked.filter(F.col("filled_cents").isNull())
    # an unfilled row must also have no first_seen (i.e. truly leading)
    assert unfilled.filter(F.col("first_seen_cents").isNotNull()).count() == 0


def test_percentile_disc_returns_real_elements(spark):
    from sfcrimedatapipeline_spark.plans.sql_surface import a11_percentile_disc
    from sfcrimedatapipeline_spark.sources.tables import read_table

    sf = "/root/testdata/sf0.001"
    vals = {
        (r.o_orderpriority, r.o_totalprice)
        for r in read_table(spark, sf, "orders").collect()
    }
    for r in a11_percentile_disc(spark, sf).collect():
        for c in ("p25", "median", "p75"):
            assert (r.priority, r[c]) in vals, (r.priority, c)


def test_expectations_each_kind_counts_violations(spark):
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.operators.quality import (
        Expectation,
        check_expectations,
    )

    df = spark.createDataFrame(
        [
            (1, 10.0, "A", 100),
            (1, -5.0, "B", 200),     # dup key 1; negative value
            (2, None, "A", 999),     # NULL value; fk 999 missing
            (3, 5.0, "X", 100),      # bad status
        ],
        "k long, v double, s string, fk long",
    )
    parent = spark.createDataFrame([(100,), (200,)], "pk long")
    out = {
        r.rule: (r.n_violations, r.passed)
        for r in check_expectations(
            df,
            [
                Expectation("v_not_null", "not_null", column="v"),
                Expectation("k_unique", "unique", column="k"),
                Expectation("v_nonneg", "range", column="v", lo=0.0),
                Expectation("s_known", "accepted_values", column="s", values=["A", "B"]),
                Expectation("fk_ok", "referential", column="fk", parent=parent, parent_key="pk"),
                Expectation("k_lt_10", "custom", predicate=F.col("k") < 10),
            ],
        ).collect()
    }
    assert out == {
        "v_not_null": (1, False),
        "k_unique": (1, False),       # 2 rows of key 1 → 1 excess
        "v_nonneg": (1, False),       # NULL v is NOT a range violation
        "s_known": (1, False),
        "fk_ok": (1, False),
        "k_lt_10": (0, True),
    }


def test_missing_buckets_finds_exact_gap(spark):
    import datetime as dt

    from sfcrimedatapipeline_spark.operators.quality import missing_buckets

    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, t0), (2, t0 + dt.timedelta(hours=1)), (3, t0 + dt.timedelta(hours=4))]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    missing = sorted(
        r.missing_bucket_ts.hour
        for r in missing_buckets(df, bucket_seconds=3600).collect()
    )
    assert missing == [2, 3]


def test_write_audit_publish_gates_on_violations(spark, tmp_path):
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.operators.quality import (
        Expectation,
        write_audit_publish,
    )

    target = str(tmp_path / "published")
    good = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    rules = [Expectation("v_nonneg", "range", column="v", lo=0.0)]
    ok, report = write_audit_publish(good, target, rules)
    assert ok and {r.k for r in spark.read.parquet(target).collect()} == {1, 2}

    # a bad batch must NOT clobber the published data
    bad = spark.createDataFrame([(3, -1.0)], "k long, v double")
    ok2, report2 = write_audit_publish(bad, target, rules)
    assert not ok2
    assert report2.collect()[0].n_violations == 1
    assert {r.k for r in spark.read.parquet(target).collect()} == {1, 2}
    import os
    assert not os.path.exists(target + "__staging")


def test_pseudonymize_is_stable_joinable_and_null_safe(spark):
    from sfcrimedatapipeline_spark.operators.quality import pseudonymize

    a = spark.createDataFrame([("alice", 1), (None, 2)], "name string, v long")
    b = spark.createDataFrame([("alice", "x"), ("bob", "y")], "name string, tag string")
    pa = pseudonymize(a, ["name"])
    pb = pseudonymize(b, ["name"])
    ra = {r.v: r.name for r in pa.collect()}
    assert ra[2] is None
    assert ra[1].startswith("p_") and "alice" not in ra[1]
    # referential consistency: the token joins across tables
    joined = pa.join(pb, "name").collect()
    assert len(joined) == 1 and joined[0].tag == "x"
    # different salt → different token universe
    other = pseudonymize(a, ["name"], salt="other")
    assert {r.name for r in other.collect()} != {r.name for r in pa.collect()}


def test_expectations_composite_unique(spark):
    from sfcrimedatapipeline_spark.operators.quality import (
        Expectation,
        check_expectations,
    )

    df = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 2), (2, 1)], "a long, b long"
    )
    out = {
        r.rule: r.n_violations
        for r in check_expectations(
            df,
            [
                Expectation("a_unique", "unique", column="a"),
                Expectation("ab_unique", "unique", column=["a", "b"]),
            ],
        ).collect()
    }
    assert out["a_unique"] == 2   # key 1 has 3 rows → 2 excess
    assert out["ab_unique"] == 1  # (1,2) duplicated once


def test_expectations_empty_list_raises(spark):
    import pytest
    from sfcrimedatapipeline_spark.operators.quality import check_expectations

    df = spark.range(3)
    with pytest.raises(ValueError, match="no expectations"):
        check_expectations(df, [])


def test_approx_quantiles_epsilon_contract(spark):
    # rank-error contract: on values 0..n-1 the rank of a value IS the
    # value, so |approx - p*(n-1)| <= eps*n checks the GK guarantee
    from sfcrimedatapipeline_spark.operators.profile import approx_quantiles

    n, eps = 50_000, 0.001
    df = spark.range(n).selectExpr("cast(id as double) as v")
    probs = [0.01, 0.25, 0.5, 0.75, 0.99]
    got = {r.prob: r.value for r in approx_quantiles(df, "v", probs, eps).collect()}
    for p in probs:
        assert abs(got[p] - p * (n - 1)) <= eps * n + 1, (p, got[p])


def test_approx_quantiles_plan_has_no_sort_or_shuffle_join(spark):
    from sfcrimedatapipeline_spark.operators.profile import approx_quantiles

    df = spark.range(1000).selectExpr("cast(id as double) as v")
    plan = (
        approx_quantiles(df, "v", [0.5])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Sort" not in plan
    assert "partial_percentile_approx" in plan  # map-side combine


def test_dp_release_deterministic_bounded_and_true_values_hidden(spark):
    """The DP release replays identically under one seed, differs
    under another (fresh ε spend), never leaks a __n/__s column, and
    its noise is the documented discrete Laplace: zero-mass ≈ 1/3
    over many groups, every draw within the ±31 support."""
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.operators.quality import dp_release_counts

    df = spark.range(20000).select(
        (F.col("id") % 500).cast("string").alias("g"),
        (F.col("id") % 7).cast("double").alias("v"),
    )
    rel1 = dp_release_counts(df, ["g"], value_col="v", clamp_cents=300, seed="s1")
    assert set(rel1.columns) == {"g", "released_n", "released_sum_cents"}
    r1 = {r["g"]: (r["released_n"], r["released_sum_cents"]) for r in rel1.collect()}
    r1b = {
        r["g"]: (r["released_n"], r["released_sum_cents"])
        for r in dp_release_counts(
            df, ["g"], value_col="v", clamp_cents=300, seed="s1"
        ).collect()
    }
    assert r1 == r1b
    r2 = {
        r["g"]: (r["released_n"], r["released_sum_cents"])
        for r in dp_release_counts(
            df, ["g"], value_col="v", clamp_cents=300, seed="s2"
        ).collect()
    }
    assert r1 != r2

    exact = {
        r["g"]: (r["n"], r["s"])
        for r in df.groupBy("g")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.least(F.floor(F.col("v") * 100 + F.lit(0.5)).cast("long"), F.lit(300))
            ).alias("s"),
        )
        .collect()
    }
    count_noise = [r1[g][0] - exact[g][0] for g in exact]
    sum_noise = [(r1[g][1] - exact[g][1]) // 300 for g in exact]
    for ns in (count_noise, sum_noise):
        assert all(-62 <= x <= 62 for x in ns)
        zero_mass = sum(1 for x in ns if x == 0) / len(ns)
        assert 0.22 <= zero_mass <= 0.45  # P(0) = 1/3, 500 draws


def test_dp_sum_requires_contribution_bound(spark):
    import pytest
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.operators.quality import dp_release_counts

    df = spark.range(10).select(
        F.lit("a").alias("g"), F.col("id").cast("double").alias("v")
    )
    with pytest.raises(ValueError):
        dp_release_counts(df, ["g"], value_col="v")


def test_dp_key_threshold_suppresses_rare_private_keys(spark):
    """Stability-based selection: with k_threshold, only groups whose
    NOISY count clears the bar appear — rare (n=1) user-generated keys
    are overwhelmingly suppressed, big groups survive, and the
    predicate is post-processing (surviving rows identical to the
    unthresholded release)."""
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.operators.quality import dp_release_counts

    # 5 heavy groups (1000 rows each) + 200 singleton keys
    heavy = spark.range(5000).select(
        F.concat(F.lit("h"), (F.col("id") % 5).cast("string")).alias("g")
    )
    rare = spark.range(200).select(
        F.concat(F.lit("r"), F.col("id").cast("string")).alias("g")
    )
    df = heavy.unionByName(rare)
    full = {r["g"]: r["released_n"] for r in dp_release_counts(df, ["g"]).collect()}
    kept = {
        r["g"]: r["released_n"]
        for r in dp_release_counts(df, ["g"], k_threshold=20).collect()
    }
    assert all(g.startswith("h") for g in kept), sorted(kept)[:5]
    assert len(kept) == 5
    assert all(kept[g] == full[g] for g in kept)


def test_assoc_rules_oracles_interpolate_min_support():
    """Every basket-support HAVING clause in sql_surface.py must be
    interpolated from BASKET_MIN_SUPPORT, never a literal — a constant
    change that diverges Spark from the oracle is a gate time bomb."""
    import inspect
    import re

    from sfcrimedatapipeline_spark.plans import sql_surface

    src = inspect.getsource(sql_surface)
    for m in re.finditer(r"HAVING count\(\*\) >= ([^\s]+)", src):
        assert "BASKET_MIN_SUPPORT" in m.group(1), (
            f"hardcoded basket support in oracle SQL: {m.group(0)!r}"
        )
    # and the rendered oracle carries the current constant
    assert (
        f">= {sql_surface.BASKET_MIN_SUPPORT}"
        in sql_surface.ORACLE_SQL["orders_assoc_rules"]
    )
