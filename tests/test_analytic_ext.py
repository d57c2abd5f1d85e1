"""Edge-case + parity tests for the round-6 analytic extensions:
interval-overlap join (exactly-once pair emission across shared bins),
2-D skyline (band pruning never drops a frontier row), OLS trend
(numpy parity), and the HLL rollup's accuracy contract."""

from __future__ import annotations

import itertools
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.operators.profile import (
    skyline_2d,
    skyline_band_candidates,
)
from sfcrimedatapipeline_spark.operators.temporal import US, interval_overlap_join


def _brute_overlaps(ls, rs):
    return {
        (li, ri)
        for (li, llo, lhi), (ri, rlo, rhi) in itertools.product(ls, rs)
        if max(llo, rlo) < min(lhi, rhi)
    }


def test_interval_overlap_matches_brute_force_exactly_once(spark):
    rng = random.Random(7)
    # spans from sub-bin to multi-bin so pairs share 0..5 bins
    ls = [
        (i, lo := rng.randrange(0, 100 * US), lo + rng.randrange(1, 40 * US))
        for i in range(60)
    ]
    rs = [
        (i, lo := rng.randrange(0, 100 * US), lo + rng.randrange(1, 40 * US))
        for i in range(60)
    ]
    left = spark.createDataFrame(ls, "lid long, l_lo long, l_hi long")
    right = spark.createDataFrame(rs, "rid long, r_lo long, r_hi long")
    out = interval_overlap_join(
        left, right, "l_lo", "l_hi", "r_lo", "r_hi", bin_width_s=10
    ).collect()
    pairs = [(r["lid"], r["rid"]) for r in out]
    # exactly once: no canonical-bin duplicate survives
    assert len(pairs) == len(set(pairs))
    assert set(pairs) == _brute_overlaps(ls, rs)


def test_interval_overlap_touching_endpoints_do_not_match(spark):
    left = spark.createDataFrame([(1, 0, 10 * US)], "lid long, l_lo long, l_hi long")
    right = spark.createDataFrame(
        [(1, 10 * US, 20 * US), (2, 9 * US, 10 * US + 1)],
        "rid long, r_lo long, r_hi long",
    )
    out = interval_overlap_join(
        left, right, "l_lo", "l_hi", "r_lo", "r_hi", bin_width_s=60
    ).collect()
    # [0,10) vs [10,20): half-open — no overlap; rid=2 overlaps
    assert [r["rid"] for r in out] == [2]


def _brute_skyline(pts):
    out = []
    for p in pts:
        if not any(
            d[1] <= p[1] and d[2] >= p[2] and (d[1] < p[1] or d[2] > p[2])
            for d in pts
        ):
            out.append(p)
    return sorted(out)


def test_skyline_matches_brute_force_with_ties_and_bands(spark):
    rng = random.Random(3)
    pts = [(i, rng.randrange(0, 1000), rng.randrange(0, 50)) for i in range(300)]
    pts += [(1000, 5, 49), (1001, 5, 49)]  # exact duplicates: both survive
    df = spark.createDataFrame(pts, "id long, x long, y long")
    for band in (1, 7, 100, 10_000):  # incl. one-band and unit-band extremes
        got = sorted(
            (r["id"], r["x"], r["y"])
            for r in skyline_2d(df, "x", "y", band_width=band).collect()
        )
        assert got == _brute_skyline(pts), f"band={band}"


def test_skyline_band_prune_bound(spark):
    """The semantic bound tools/plan_audit.py records for skyline_parts
    (SEMANTIC_OK tier): the phase-2 broadcast anti-join runs over the
    band-pruned candidates, which must be O(frontier), not O(data).
    Pins both directions — no frontier row is pruned, and on a
    uniform-random cloud the candidate set is a small fraction of the
    input (here: ≤5% of 5000 rows at a frontier-step-sized band)."""
    rng = random.Random(11)
    n = 5000
    pts = [(i, rng.randrange(0, 100_000), rng.randrange(0, 10_000)) for i in range(n)]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    cand = sorted(
        (r["id"], r["x"], r["y"])
        for r in skyline_band_candidates(df, "x", "y", band_width=1000).collect()
    )
    frontier = _brute_skyline(pts)
    assert set(frontier) <= set(cand)  # pruning is lossless
    assert len(cand) <= n // 20, f"candidates {len(cand)} exceed 5% of {n}"


# 1/7/16: the hand example under each input partitioning. "range":
# 150k mostly-distinct values from spark.range — large enough that the
# branches of the prefix kernel disagree on partitions unless they read
# one range exchange (when each ran its own, the join back lost about
# half the rows).
@pytest.mark.parametrize("parts", [1, 7, 16, "range"])
def test_kruskal_wallis_matches_pure_python(spark, parts):
    from sfcrimedatapipeline_spark.operators.profile import kruskal_wallis

    if parts == "range":
        n_rows, mult, mod = 150_000, 2654435761, 1_000_003
        data = {
            g: [i * mult % mod for i in range(k, n_rows, 3)]
            for k, g in enumerate("abc")
        }
        df = spark.range(n_rows).select(
            F.substring(F.lit("abc"), (F.col("id") % 3 + 1).cast("int"), 1).alias(
                "grp"
            ),
            (F.col("id") * mult % mod).alias("v"),
        )
    else:
        data = {
            "a": [1, 2, 3, 3],
            "b": [2, 3, 4, 9],
            "c": [10, 11, 11, 2],
        }
        rows = [(g, v) for g, vs in data.items() for v in vs]
        df = spark.createDataFrame(rows, "grp string, v long").repartition(parts)
    got = kruskal_wallis(df, "v", "grp", ["a", "b", "c"]).collect()[0]

    # textbook reference: average ranks over the pooled sample
    pooled = sorted(v for vs in data.values() for v in vs)
    n = len(pooled)
    rank = {}
    i = 0
    while i < n:
        j = i
        while j < n and pooled[j] == pooled[i]:
            j += 1
        rank[pooled[i]] = (i + 1 + j) / 2.0
        i = j
    h = 12.0 / (n * (n + 1)) * sum(
        sum(rank[v] for v in vs) ** 2 / len(vs) for vs in data.values()
    ) - 3.0 * (n + 1)
    from collections import Counter

    ties = sum(t**3 - t for t in Counter(pooled).values())
    corr = 1.0 - ties / (n**3 - n)
    assert got.n_total == n and got.df == 2
    assert abs(got.h - h) < 1e-9
    assert abs(got.h_tie_corrected - h / corr) < 1e-9


def test_trend_ols_matches_numpy_polyfit():
    # same moment formulas as the query, checked against the reference
    # implementation on an exactly-representable integer series
    xs = np.arange(0, 40, dtype=np.float64)
    ys = (3_000 * xs + 123_456 + ((xs * 7) % 11) * 100).astype(np.float64)
    n = float(len(xs))
    sx, sx2 = xs.sum(), (xs * xs).sum()
    sy, sy2, sxy = ys.sum(), (ys * ys).sum(), (xs * ys).sum()
    slope = (n * sxy - sx * sy) / (n * sx2 - sx * sx)
    intercept = (sy - slope * sx) / n
    ref_slope, ref_intercept = np.polyfit(xs, ys, 1)
    assert abs(slope - ref_slope) < 1e-6
    assert abs(intercept - ref_intercept) < 1e-4


def test_hll_rollup_within_5pct_of_exact(spark):
    from sfcrimedatapipeline_spark.plans.analytic_ext import events_hll_rollup

    sf_dir = "/root/testdata/sf0.01"
    approx = {
        r["event_type"]: r["approx_users"]
        for r in events_hll_rollup(spark, sf_dir).collect()
    }
    from sfcrimedatapipeline_spark.sources.tables import read_table

    exact = {
        r["event_type"]: r["n"]
        for r in read_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for t, n in exact.items():
        assert abs(approx[t] - n) <= max(2, 0.05 * n), (t, approx[t], n)


def test_mwu_matches_pure_python_with_ties(spark):
    from sfcrimedatapipeline_spark.operators.profile import mann_whitney_u

    a = [3, 5, 5, 7, 9, 9, 9, 12]
    b = [1, 5, 6, 9, 10, 10]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v long")
    out = mann_whitney_u(df, "v", "g", "a", "b").collect()[0]

    # reference: average ranks over the pooled sample
    pooled = sorted(a + b)
    rank = {}
    i = 0
    while i < len(pooled):
        j = i
        while j < len(pooled) and pooled[j] == pooled[i]:
            j += 1
        for v in {pooled[i]}:
            rank[v] = (i + 1 + j) / 2  # average of ranks i+1..j
        i = j
    r1 = sum(rank[v] for v in a)
    u1 = r1 - len(a) * (len(a) + 1) / 2
    assert out["n_a"] == len(a) and out["n_b"] == len(b)
    assert abs(out["u_a"] - u1) < 1e-9
    assert abs(out["mu_u"] - len(a) * len(b) / 2) < 1e-9
    # tie-corrected sigma (textbook formula)
    from collections import Counter

    n, m = len(a), len(b)
    nn = n + m
    ties = sum(t**3 - t for t in Counter(pooled).values())
    sigma = (n * m / 12 * ((nn + 1) - ties / (nn * (nn - 1)))) ** 0.5
    assert abs(out["sigma_u"] - sigma) < 1e-9
    assert abs(out["z"] - (u1 - n * m / 2) / sigma) < 1e-9


def test_golden_record_deterministic_tie_rules(spark):
    from sfcrimedatapipeline_spark.operators.linkage import golden_record

    rows = [
        # cluster 1: name ties on length -> lexicographic max;
        # segment mode ties 2-2 -> larger value wins
        (1, "abc", 5.0, "AUTO"),
        (1, "abd", 7.0, "AUTO"),
        (1, "ab", 1.0, "FOOD"),
        (1, "xy", 2.0, "FOOD"),
        # cluster 2: singleton
        (2, "solo", 3.0, "HOME"),
    ]
    df = spark.createDataFrame(rows, "cid long, name string, bal double, seg string")
    out = {
        r["cid"]: r
        for r in golden_record(
            df, "cid", longest=["name"], maxes=["bal"], modes=["seg"]
        ).collect()
    }
    assert out[1]["name"] == "abd"  # longest (3) tie -> max lexicographic
    assert out[1]["bal"] == 7.0
    assert out[1]["seg"] == "FOOD"  # 2-2 tie -> larger value
    assert out[1]["n_members"] == 4
    assert out[2]["name"] == "solo" and out[2]["n_members"] == 1


def _brute_pip(px, py, ring):
    # pure-python ray cast, same half-open rule
    n = len(ring)
    c = 0
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if (y1 <= py) != (y2 <= py):
            num = (x1 - px) * (y2 - y1) + (x2 - x1) * (py - y1)
            if (num > 0) if y2 > y1 else (num < 0):
                c += 1
    return c % 2 == 1


def test_point_in_polygon_nonconvex_matches_brute_force(spark):
    import random

    from sfcrimedatapipeline_spark.operators.geo import point_in_polygon_counts

    ring = [(0, 0), (100, 0), (100, 100), (60, 100), (60, 40), (40, 40),
            (40, 100), (0, 100)]  # U-shape: concave notch at top
    edges = spark.createDataFrame(
        [(1, *ring[i], *ring[(i + 1) % len(ring)]) for i in range(len(ring))],
        "poly_id int, x1 long, y1 long, x2 long, y2 long",
    )
    rng = random.Random(11)
    pts = [(i, rng.randrange(-20, 121), rng.randrange(-20, 121))
           for i in range(400)]
    pdf = spark.createDataFrame(pts, "id long, x long, y long")
    got = {
        r["id"] for r in point_in_polygon_counts(pdf, edges).collect()
    }
    want = {i for i, x, y in pts if _brute_pip(x, y, ring)}
    assert got == want
    # the notch interior is outside
    assert not _brute_pip(50, 80, ring)


def test_repair_nulls_by_fd_unfillable_determinant_stays_null(spark):
    from sfcrimedatapipeline_spark.operators.quality import repair_nulls_by_fd

    df = spark.createDataFrame(
        [(1, "d1", "A"), (2, "d1", None), (3, "d1", "B"), (4, "d1", "B"),
         (5, "d2", None)],  # d2 has no non-null dependent anywhere
        "id long, det string, dep string",
    )
    out = {r["id"]: r for r in repair_nulls_by_fd(df, "det", "dep").collect()}
    assert out[2]["dep"] == "B" and out[2]["was_repaired"]  # mode (2x B)
    assert out[5]["dep"] is None and not out[5]["was_repaired"]
    assert not out[1]["was_repaired"]


def test_join_advisor_branches(spark):
    from sfcrimedatapipeline_spark.operators.joins import join_strategy_advisor

    big = spark.createDataFrame(
        [(i % 7, i) for i in range(1000)], "k long, v long"
    )
    skewed = spark.createDataFrame(
        [(0 if i < 900 else i, i) for i in range(1000)], "k long, v long"
    )
    small = spark.createDataFrame([(i, i) for i in range(10)], "k long, v long")
    r1 = join_strategy_advisor(big, small, "k", "k", broadcast_rows=100).collect()[0]
    assert r1["strategy"] == "broadcast_right"
    r2 = join_strategy_advisor(small, big, "k", "k", broadcast_rows=100).collect()[0]
    assert r2["strategy"] == "broadcast_left"
    r3 = join_strategy_advisor(
        skewed, big, "k", "k", broadcast_rows=10, skew_share=0.2
    ).collect()[0]
    assert r3["strategy"] == "salted_shuffle" and r3["hot_key_share"] == 0.9
    r4 = join_strategy_advisor(
        big, big, "k", "k", broadcast_rows=10, skew_share=0.5
    ).collect()[0]
    assert r4["strategy"] == "shuffle"


def test_holt_constant_series_forecasts_constant(spark):
    from sfcrimedatapipeline_spark.operators.temporal import holt_linear_forecast

    df = spark.createDataFrame(
        [("k", t, 42.0) for t in range(20)], "key string, ts long, v double"
    )
    rows = holt_linear_forecast(
        df, "key", "ts", "v", alpha=0.4, beta=0.2, horizon=5
    ).collect()
    assert len(rows) == 5
    for r in rows:
        assert abs(r["forecast"] - 42.0) < 1e-9
        assert abs(r["trend"]) < 1e-9


def test_holt_linear_series_extrapolates_exactly(spark):
    from sfcrimedatapipeline_spark.operators.temporal import holt_linear_forecast

    # y = 7t + 3: Holt stays exactly on the line for any alpha/beta
    df = spark.createDataFrame(
        [("a", t, 7.0 * t + 3.0) for t in range(30)]
        + [("b", t, -2.0 * t + 100.0) for t in range(15)],
        "key string, ts long, v double",
    )
    out = {
        (r["key"], r["h"]): r
        for r in holt_linear_forecast(
            df, "key", "ts", "v", alpha=0.7, beta=0.1, horizon=3
        ).collect()
    }
    for h in (1, 2, 3):
        assert abs(out[("a", h)]["forecast"] - (7.0 * (29 + h) + 3.0)) < 1e-6
        assert abs(out[("b", h)]["forecast"] - (-2.0 * (14 + h) + 100.0)) < 1e-6
    assert abs(out[("a", 1)]["trend"] - 7.0) < 1e-9


def test_t_closeness_hand_example(spark):
    from sfcrimedatapipeline_spark.operators.quality import t_closeness

    # global sv dist: A:4, B:2, C:2 (N=8). group g1 = {A,A,B,A} ->
    # p=(3/4, 1/4, 0); q=(1/2, 1/4, 1/4); t = 0.5*(1/4 + 0 + 1/4) = 0.25
    rows = [("g1", "A"), ("g1", "A"), ("g1", "B"), ("g1", "A"),
            ("g2", "A"), ("g2", "B"), ("g2", "C"), ("g2", "C")]
    df = spark.createDataFrame(rows, "g string, sv string")
    out = {r["g"]: r for r in t_closeness(df, ["g"], "sv").collect()}
    assert out["g1"]["n_g"] == 4
    assert abs(out["g1"]["t_closeness"] - 0.25) < 1e-12
    assert abs(out["g2"]["t_closeness"] - 0.25) < 1e-12


def test_pca_matches_numpy_cov_and_trace(spark):
    from sfcrimedatapipeline_spark.operators.similarity import pca_eigenvalues
    from sfcrimedatapipeline_spark.sources.tables import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    got = pca_eigenvalues(emb, k=64).collect()
    rows = emb.select("embedding").collect()
    m = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
    # quantize the reference exactly like the operator (2^20 grid)
    q = np.floor(m * (1 << 20) + 0.5) / (1 << 20)
    ref = np.linalg.eigvalsh(np.cov(q, rowvar=False))[::-1]
    for r in got:
        assert abs(r["eigenvalue"] - ref[r["component"] - 1]) < 1e-9
    trace = float(np.cov(q, rowvar=False).trace())
    assert abs(sum(r["eigenvalue"] for r in got) - trace) < 1e-9


def test_mmr_lambda_one_is_relevance_order_and_diversity_kicks_in(spark):
    from sfcrimedatapipeline_spark.operators.similarity import mmr_rerank

    # corpus: two tight clusters (ids 1,2 near e1; ids 3,4 near e2)
    vecs = [
        (1, [1.0, 0.0, 0.0]), (2, [0.99, 0.14, 0.0]),
        (3, [0.0, 1.0, 0.0]), (4, [0.1, 0.99, 0.0]),
    ]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cands = spark.createDataFrame(
        [(0, 1, 0.98), (0, 2, 0.97), (0, 3, 0.60), (0, 4, 0.59)],
        "query_id long, neighbor_id long, cosine double",
    )
    pure = mmr_rerank(cands, corpus, k=4, lamb=1.0).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in pure] == [1, 2, 3, 4]  # relevance order
    div = mmr_rerank(cands, corpus, k=2, lamb=0.5).orderBy("rank").collect()
    # first pick = most relevant (1); second pick jumps clusters (3 or 4),
    # never the near-duplicate 2
    assert div[0]["neighbor_id"] == 1
    assert div[1]["neighbor_id"] in (3, 4)


def test_burstiness_constant_series_is_poisson_floor(spark):
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.plans.analytic_ext import (
        events_burstiness_daily,
    )

    # constant daily counts → variance 0 → fano 0, burstiness -1
    # (the regular-process floor of the Goh-Barabási coefficient)
    import pandas as pd

    rows = []
    eid = 0
    for day in range(1, 6):
        for _ in range(4):
            rows.append((eid, f"2024-01-0{day} 12:00:00", 1, "tick", 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        )
    ).withColumn("ts", F.to_timestamp("ts"))
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        out = events_burstiness_daily(spark, d).collect()[0]
    assert out.n_days == 5 and out.n_events == 20
    assert out.fano == 0.0 and out.burstiness == -1.0


def test_cramers_v_bounds_on_driver_data(spark):
    from sfcrimedatapipeline_spark.plans.analytic_ext import orders_cramers_v

    row = orders_cramers_v(spark, "/root/testdata/sf0.001").collect()[0]
    assert row.n > 0 and row.dof == 8
    assert row.chi2 >= 0.0 and 0.0 <= row.cramers_v <= 1.0


def test_control_chart_flags_known_outlier(spark):
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.plans.analytic_ext import (
        orders_control_chart_monthly,
    )
    import pandas as pd
    import tempfile

    # 11 quiet months at ~100.00 and one 10x month: only that month
    # may exceed the 3-sigma band
    rows = []
    for m in range(1, 13):
        price = 1000.00 if m == 12 else 100.00
        rows.append((m, 1, "F", price, f"2024-{m:02d}-15", "1-URGENT"))
    df = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=[
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                "o_totalprice",
                "o_orderdate",
                "o_orderpriority",
            ],
        )
    ).withColumn("o_orderdate", F.to_date("o_orderdate"))
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/orders.parquet")
        out = {r.month: r for r in orders_control_chart_monthly(spark, d).collect()}
    assert out["2024-12"].out_of_control
    assert sum(1 for r in out.values() if r.out_of_control) == 1


def test_pca_rejects_degenerate_inputs(spark):
    """ADVICE r6: empty and single-row inputs raise a clear ValueError
    instead of IndexError / ZeroDivisionError deep in the assembly."""
    import pytest

    from sfcrimedatapipeline_spark.operators.similarity import pca_eigenvalues

    schema = "vec_id long, embedding array<float>"
    empty = spark.createDataFrame([], schema)
    with pytest.raises(ValueError, match=">= 2 vectors"):
        pca_eigenvalues(empty, dim=4)
    one = spark.createDataFrame([(1, [0.1, 0.2, 0.3, 0.4])], schema)
    with pytest.raises(ValueError, match=">= 2 vectors"):
        pca_eigenvalues(one, dim=4)


def test_ivf_imbalance_audit_conservation(spark):
    """The IVF audit's invariants: every corpus vector lands in exactly
    one list (sizes sum to the corpus), every query probes exactly
    n_probe lists (probe counts sum to n_queries*n_probe), shares sum
    to 1, and the spine covers all k trained centroids."""
    from sfcrimedatapipeline_spark.plans.llmops import (
        ANN_IVF_CENTROIDS,
        ANN_IVF_PROBE,
        ANN_N_QUERIES,
        ann_ivf_imbalance_audit,
    )
    from sfcrimedatapipeline_spark.sources.tables import read_table

    sf = "/root/testdata/sf0.001"
    rows = ann_ivf_imbalance_audit(spark, sf).collect()
    n_vecs = read_table(spark, sf, "embeddings").count()
    assert len(rows) == ANN_IVF_CENTROIDS
    assert sum(r.list_size for r in rows) == n_vecs
    assert sum(r.n_probing_queries for r in rows) == ANN_N_QUERIES * ANN_IVF_PROBE
    assert abs(sum(r.scan_share for r in rows) - 1.0) < 1e-12


def test_cluster_silhouette_separated_vs_boundary(spark):
    """Silhouette semantics on the planted geometry: with the fixture
    corpus every cluster's silhouette lies in [-1, 1], counts conserve,
    and mean_nearest >= mean_intra for every non-empty cluster (the
    second-nearest centroid is by construction no closer than the
    assigned one)."""
    from sfcrimedatapipeline_spark.plans.llmops import (
        ANN_IVF_CENTROIDS,
        emb_cluster_silhouette,
    )
    from sfcrimedatapipeline_spark.sources.tables import read_table

    sf = "/root/testdata/sf0.001"
    rows = emb_cluster_silhouette(spark, sf).collect()
    assert len(rows) == ANN_IVF_CENTROIDS
    n_vecs = read_table(spark, sf, "embeddings").count()
    assert sum(r.n for r in rows) == n_vecs
    for r in rows:
        if r.n == 0:
            assert r.silhouette is None
            continue
        assert -1.0 <= r.silhouette <= 1.0
        # assignment is argmax-cosine: distance to own centroid can
        # never exceed distance to the runner-up
        assert r.mean_nearest >= r.mean_intra
        assert r.silhouette >= 0.0


def test_mann_kendall_hand_computed(spark):
    """Mann-Kendall on hand-checked series via the operator's own
    query shape: strictly increasing daily values → S = n(n-1)/2,
    z > 0; a flat series → S = 0, tie term kills the variance → NULL
    var/z (the all-tied guard)."""
    import math

    from sfcrimedatapipeline_spark.plans.analytic_ext import (
        orders_mann_kendall,
    )

    # build a tiny orders table on the fly through the same pipeline
    # shape: one order per day, price = day index (strictly rising)
    import datetime

    rows = [
        (i, datetime.date(1995, 1, 1) + datetime.timedelta(days=i), float(i + 1))
        for i in range(6)
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date, o_totalprice double"
    )
    import tempfile, os
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
    r = orders_mann_kendall(spark, d).collect()[0]
    n = 6
    assert r.n_days == n
    assert r.s_statistic == n * (n - 1) // 2  # every pair ascending
    var = n * (n - 1) * (2 * n + 5) / 18.0
    assert abs(r.var_s - var) < 1e-12
    assert abs(r.z - (r.s_statistic - 1.0) / math.sqrt(var)) < 1e-15

    flat = spark.createDataFrame(
        [(i, datetime.date(1995, 1, 1) + datetime.timedelta(days=i), 5.0)
         for i in range(6)],
        "o_orderkey long, o_orderdate date, o_totalprice double",
    )
    d2 = tempfile.mkdtemp()
    flat.write.mode("overwrite").parquet(os.path.join(d2, "orders.parquet"))
    fr = orders_mann_kendall(spark, d2).collect()[0]
    assert fr.s_statistic == 0
    assert fr.var_s is None and fr.z is None  # all-tied variance guard


def test_ivf_assign_keep_cos_contract(spark):
    """ivf_assign(keep_cos=True) must expose the per-rank raw cosine
    the audits consume: ranks are 1..limit per vector, cosines
    non-increasing by rank, and the rank-1 centroid equals the
    keep_cos=False argmax path (the two code branches cannot drift)."""
    from sfcrimedatapipeline_spark.operators.similarity import ivf_assign

    vecs = [
        (i, [float((i * 7 + j * 3) % 5 - 2) for j in range(64)])
        for i in range(20)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cents = [(k, [float((k + 1) * (j % 3) - 1) for j in range(64)]) for k in range(4)]

    top2 = ivf_assign(df, cents, "vid", 2, keep_cos=True).collect()
    by_vid = {}
    for r in top2:
        by_vid.setdefault(r.vid, {})[r["__r"]] = r
    argmax = {
        r.vid: r.centroid_id
        for r in ivf_assign(df, cents, "vid", 1).collect()
    }
    for vid, ranks in by_vid.items():
        assert set(ranks) == {1, 2}
        assert ranks[1]["__ccos"] >= ranks[2]["__ccos"]
        assert ranks[1].centroid_id == argmax[vid]
