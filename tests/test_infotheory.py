"""Tests for the ln-unlocked information-theory family
(plans/infotheory.py, functions/fixedpoint.py, events_kmv_overlap).

The assumption-guard tests pin the module's load-bearing facts —
deterministic-log/exp bit-identity and fixed-point order-free
summation — so a platform change fails HERE, loudly, instead of
silently at the driver's hash gate. The rest are numeric parity checks
against numpy / pure-Python re-derivations (the trainer traces are
asserted EQUAL, not close).
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# assumption guards
# ---------------------------------------------------------------------------


def test_ln_det_bit_identity(spark):
    """The deterministic sqrt-chain log (functions/detmath.py) must be
    bit-identical Spark↔DuckDB — the foundation of every gated query in
    plans/infotheory.py. Raw ``ln`` is deliberately NOT used in gated
    fragments: it diverges in the last ulp on ~1% of arguments (as do
    2-arg ``log`` and ``%`` on doubles), which is why detmath exists."""
    from sfcrimedatapipeline_spark.functions.detmath import sql_ln_det

    frag = sql_ln_det("x")
    sdf = spark.sql(
        f"""SELECT x, {frag} AS l FROM (
              SELECT CAST(id AS DOUBLE) + 1.0 AS x FROM range(1, 20001)
              UNION ALL
              SELECT (CAST(id AS DOUBLE) + 1.0) / 1234567.0 FROM range(1, 20001)
            )"""
    ).toPandas()
    ddf = duckdb.connect().execute(
        f"""SELECT x, {frag} AS l FROM (
              SELECT CAST(range AS DOUBLE) + 1.0 AS x FROM range(1, 20001)
              UNION ALL
              SELECT (CAST(range AS DOUBLE) + 1.0) / 1234567.0 FROM range(1, 20001)
            )"""
    ).df()
    m = sdf.merge(ddf, on="x", suffixes=("_s", "_d"))
    assert len(m) == 40000
    bad = m[m.l_s != m.l_d]
    assert len(bad) == 0, f"ln_det diverged on {len(bad)} args: {bad.head()}"


def test_ln_det_accuracy():
    """ln_det must track math.log to ~1.4e-11 absolute over the full
    argument range the gated queries use."""
    from sfcrimedatapipeline_spark.functions.detmath import ln_det_py

    import random

    rng = random.Random(7)
    worst = 0.0
    for _ in range(20000):
        x = math.exp(rng.uniform(-21.0, 21.0))
        worst = max(worst, abs(ln_det_py(x) - math.log(x)))
    for n in range(1, 5000):
        worst = max(worst, abs(ln_det_py(float(n)) - math.log(n)))
    assert worst < 2e-11, worst
    assert ln_det_py(1.0) == 0.0


def test_fx_sum_cross_engine(spark):
    """floor(x·2^40) fixed-point sums must be exact and engine-identical
    regardless of aggregation order (positive and negative terms)."""
    from sfcrimedatapipeline_spark.functions.detmath import sql_ln_det
    from sfcrimedatapipeline_spark.functions.fixedpoint import sql_fx

    # the term MUST use the deterministic log: raw ln's last-ulp
    # divergence flips fx floors and was exactly the landmine this
    # module exists to remove
    term = f"CAST(id AS DOUBLE) * {sql_ln_det('CAST(id AS DOUBLE) + 1.0')}"
    s = (
        spark.range(1, 50001)
        .selectExpr(f"{sql_fx(term)} AS t", f"{sql_fx(f'-({term})')} AS tn")
        .groupBy()
        .agg(F.sum("t").alias("s"), F.sum("tn").alias("sn"))
        .collect()[0]
    )
    con = duckdb.connect()
    d, dn = con.execute(
        f"SELECT sum({sql_fx(term)}), sum({sql_fx(f'-({term})')}) "
        "FROM (SELECT CAST(range AS BIGINT) AS id FROM range(1, 50001))"
    ).fetchone()
    assert str(s["s"]) == str(d)
    assert str(s["sn"]) == str(dn)


def test_fx_quantization_error_bound():
    """unfx(fx(x)) is within 2^-40 below x — the documented floor bias."""
    from sfcrimedatapipeline_spark.functions.fixedpoint import FX_SCALE

    for x in [0.0, 1e-13, 3.14159, -2.71828, 1234.5678, -0.333333]:
        q = math.floor(x * FX_SCALE) / FX_SCALE
        assert q <= x < q + 1.0 / FX_SCALE + 1e-30


# ---------------------------------------------------------------------------
# numeric parity vs numpy
# ---------------------------------------------------------------------------


def _docs_pdf() -> pd.DataFrame:
    return duckdb.connect().execute(
        f"SELECT doc_id, text, lang, source FROM '{SF_SMALL}/documents.parquet'"
    ).df()


def _tokens(text: str) -> list[str]:
    return [t for t in text.lower().split() if t]


def test_zipf_fit_matches_numpy(spark):
    from sfcrimedatapipeline_spark.plans.infotheory import (
        ZIPF_TOP_RANKS,
        text_zipf_fit,
    )

    got = {r["lang"]: r for r in text_zipf_fit(spark, SF_SMALL).collect()}
    pdf = _docs_pdf()
    for lang, grp in pdf.groupby("lang"):
        counts: dict[str, int] = {}
        for text in grp["text"]:
            for t in _tokens(text):
                counts[t] = counts.get(t, 0) + 1
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        top = ranked[:ZIPF_TOP_RANKS]
        x = np.log(np.arange(1, len(top) + 1, dtype=float))
        y = np.log(np.array([n for _, n in top], dtype=float))
        slope, intercept = np.polyfit(x, y, 1)
        r = got[lang]
        assert r["n_ranks"] == len(top)
        assert abs(r["zipf_slope"] - slope) < 1e-6
        assert abs(r["intercept"] - intercept) < 1e-6
        assert -3.0 < r["zipf_slope"] < 0.0  # natural-ish text
        assert 0.0 <= r["r2"] <= 1.0 + 1e-12


def test_kl_divergence_matches_numpy_and_nonnegative(spark):
    from sfcrimedatapipeline_spark.plans.infotheory import (
        docs_source_kl_divergence,
    )

    got = {r["source"]: r for r in docs_source_kl_divergence(spark, SF_SMALL).collect()}
    pdf = _docs_pdf()
    corpus: dict[str, int] = {}
    per_src: dict[str, dict[str, int]] = {}
    for _, row in pdf.iterrows():
        d = per_src.setdefault(row["source"], {})
        for t in _tokens(row["text"]):
            corpus[t] = corpus.get(t, 0) + 1
            d[t] = d.get(t, 0) + 1
    vocab = sorted(corpus)
    V = len(vocab)
    T = sum(corpus.values())
    q = np.array([(corpus[t] + 1) / (T + V) for t in vocab])
    for src, cnts in per_src.items():
        n_s = sum(cnts.values())
        p = np.array([(cnts.get(t, 0) + 1) / (n_s + V) for t in vocab])
        kl = float(np.sum(p * (np.log(p) - np.log(q))))
        r = got[src]
        assert r["n_tokens"] == n_s
        assert r["vocab_used"] == len(cnts)
        assert abs(r["kl_nats"] - kl) < 1e-5, (src, r["kl_nats"], kl)
        assert r["kl_nats"] >= 0.0


def test_perplexity_histogram_matches_numpy(spark):
    from sfcrimedatapipeline_spark.plans.infotheory import (
        PPL_BUCKETS_PER_NAT,
        docs_perplexity_unigram,
    )

    got = {r["ce_bucket"]: r for r in docs_perplexity_unigram(spark, SF_SMALL).collect()}
    pdf = _docs_pdf()
    corpus: dict[str, int] = {}
    docs: list[list[str]] = []
    for text in pdf["text"]:
        toks = _tokens(text)
        docs.append(toks)
        for t in toks:
            corpus[t] = corpus.get(t, 0) + 1
    V, T = len(corpus), sum(corpus.values())
    buckets: dict[int, list[float]] = {}
    for toks in docs:
        if not toks:
            continue
        ce = -sum(math.log((corpus[t] + 1) / (T + V)) for t in toks) / len(toks)
        buckets.setdefault(int(math.floor(ce * PPL_BUCKETS_PER_NAT)), []).append(ce)
    assert set(got) == set(buckets)
    total_docs = sum(len(v) for v in buckets.values())
    assert sum(r["n_docs"] for r in got.values()) == total_docs
    for b, ces in buckets.items():
        r = got[b]
        assert r["n_docs"] == len(ces)
        assert abs(r["avg_ce"] - float(np.mean(ces))) < 1e-6
        # avg rides the Q40 fixed point, whose floor bias can push it up
        # to 2^-40 below min on singleton buckets
        assert r["min_ce"] - 2e-12 <= r["avg_ce"] <= r["max_ce"] + 2e-12


def test_markov_entropy_matches_numpy(spark):
    from sfcrimedatapipeline_spark.plans.infotheory import (
        RATE_ROW,
        events_markov_entropy,
    )

    rows = events_markov_entropy(spark, SF_SMALL).collect()
    ev = duckdb.connect().execute(
        f"SELECT user_id, ts, event_id, event_type FROM '{SF_SMALL}/events.parquet' "
        "ORDER BY user_id, ts, event_id"
    ).df()
    trans: dict[tuple[str, str], int] = {}
    for _, grp in ev.groupby("user_id"):
        types = list(grp["event_type"])
        for a, b in zip(types, types[1:]):
            trans[(a, b)] = trans.get((a, b), 0) + 1
    n = sum(trans.values())
    n_i: dict[str, int] = {}
    for (a, _), c in trans.items():
        n_i[a] = n_i.get(a, 0) + c
    expected_h = {
        a: -sum(
            (c / n_i[a]) * math.log(c / n_i[a])
            for (x, _), c in trans.items()
            if x == a
        )
        for a in n_i
    }
    expected_rate = -sum(
        (c / n) * math.log(c / n_i[a]) for (a, _), c in trans.items()
    )
    by_state = {r["from_type"]: r for r in rows}
    rate_row = by_state.pop(RATE_ROW)
    assert rate_row["n_transitions"] == n
    assert abs(rate_row["h_nats"] - expected_rate) < 1e-6
    for a, h in expected_h.items():
        assert by_state[a]["n_transitions"] == n_i[a]
        assert abs(by_state[a]["h_nats"] - h) < 1e-6
        # conditional entropy bounded by ln(#states)
        assert -1e-12 <= by_state[a]["h_nats"] <= math.log(len(n_i)) + 1e-9
    # rate is a convex combination of per-state entropies
    lo = min(expected_h.values()) - 1e-9
    hi = max(expected_h.values()) + 1e-9
    assert lo <= rate_row["h_nats"] <= hi


def test_trigram_novelty_bounds(spark):
    from sfcrimedatapipeline_spark.plans.infotheory import docs_trigram_novelty

    rows = docs_trigram_novelty(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["avg_novelty"] <= 1.0
        assert 0 <= r["n_fully_novel"] <= r["n_docs"]
        assert r["novel_grams"] <= r["distinct_grams"]


# ---------------------------------------------------------------------------
# KMV sketch
# ---------------------------------------------------------------------------


def test_kmv_exhaustive_sketch_is_exact(spark):
    """When every per-type user set fits in the sketch (n ≤ K), θ = 2^60
    and the estimates must equal the exact counts bit-for-bit."""
    from sfcrimedatapipeline_spark.plans.analytic_ext import (
        KMV_K,
        events_kmv_overlap,
    )

    rows = events_kmv_overlap(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        if r["n_exact_a"] <= KMV_K and r["n_exact_b"] <= KMV_K:
            assert r["est_union"] == float(r["exact_union"])
            assert r["est_inter"] == float(r["exact_inter"])


def test_kmv_estimation_accuracy_synthetic(spark):
    """On sets far larger than K, the KMV estimates must land within the
    theoretical relative-error band (~1/sqrt(K−1), tested at 5σ)."""
    from sfcrimedatapipeline_spark.plans.analytic_ext import KMV_K
    from sfcrimedatapipeline_spark.plans import analytic_ext

    n_a, overlap = 40_000, 20_000
    df = (
        spark.range(0, n_a)
        .selectExpr("'a' AS event_type", "id AS user_id")
        .unionAll(
            spark.range(overlap, overlap + n_a).selectExpr(
                "'b' AS event_type", "id AS user_id"
            )
        )
        .selectExpr("user_id", "event_type")
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as tmp:
        df.write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
        rows = analytic_ext.events_kmv_overlap(spark, tmp).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["exact_inter"] == n_a - overlap  # ids overlap..n_a-1 shared
    tol = 5.0 / math.sqrt(KMV_K - 1)
    assert abs(r["est_union"] - r["exact_union"]) <= tol * r["exact_union"]
    assert abs(r["est_inter"] - r["exact_inter"]) <= tol * r["exact_union"]


def test_lang_source_mi_matches_numpy(spark):
    from sfcrimedatapipeline_spark.plans.infotheory import docs_lang_source_mi

    r = docs_lang_source_mi(spark, SF_SMALL).collect()
    assert len(r) == 1
    r = r[0]
    pdf = _docs_pdf()
    n = len(pdf)
    cells = pdf.groupby(["lang", "source"]).size()
    nl = pdf.groupby("lang").size()
    ns = pdf.groupby("source").size()
    mi = sum(
        (c / n) * math.log((c * n) / (nl[l] * ns[s]))
        for (l, s), c in cells.items()
    )
    h_l = -sum((c / n) * math.log(c / n) for c in nl)
    h_s = -sum((c / n) * math.log(c / n) for c in ns)
    assert r["n_docs"] == n
    assert abs(r["mi_nats"] - mi) < 1e-8
    assert abs(r["h_lang"] - h_l) < 1e-8
    assert abs(r["h_source"] - h_s) < 1e-8
    assert abs(r["nmi"] - mi / math.sqrt(h_l * h_s)) < 1e-8
    # information-theory invariants
    assert -1e-10 <= r["mi_nats"] <= min(h_l, h_s) + 1e-10
    assert 0.0 <= r["nmi"] <= 1.0 + 1e-12


def test_token_entropy_matches_numpy(spark):
    from sfcrimedatapipeline_spark.plans.infotheory import text_token_entropy

    got = {r["lang"]: r for r in text_token_entropy(spark, SF_SMALL).collect()}
    pdf = _docs_pdf()
    for lang, grp in pdf.groupby("lang"):
        counts: dict[str, int] = {}
        for text in grp["text"]:
            for t in _tokens(text):
                counts[t] = counts.get(t, 0) + 1
        n_l = sum(counts.values())
        h = -sum((c / n_l) * math.log(c / n_l) for c in counts.values())
        r = got[lang]
        assert r["n_tokens"] == n_l
        assert r["vocab"] == len(counts)
        assert abs(r["h_nats"] - h) < 1e-7
        assert abs(r["redundancy"] - (1.0 - h / math.log(len(counts)))) < 1e-7
        assert -1e-10 <= r["h_nats"] <= math.log(len(counts)) + 1e-9


# ---------------------------------------------------------------------------
# deterministic exp + gated trainer
# ---------------------------------------------------------------------------


def test_exp_det_bit_identity_and_accuracy(spark):
    from sfcrimedatapipeline_spark.functions.detmath import (
        exp_det_py,
        sql_exp_det_wrap,
        with_exp_det,
    )

    sdf = spark.range(0, 20000).selectExpr(
        "(CAST(id AS DOUBLE) - 10000.0) / 400.0 AS x"
    )
    spdf = with_exp_det(sdf, "x", "e").toPandas()
    inner = "SELECT (CAST(range AS DOUBLE) - 10000.0) / 400.0 AS x FROM range(0, 20000)"
    ddf = duckdb.connect().execute(sql_exp_det_wrap(inner, "x", "e")).df()
    m = spdf.merge(ddf, on="x", suffixes=("_s", "_d"))
    assert len(m) == 20000
    assert (m.e_s == m.e_d).all()
    worst = max(
        abs(r.e_s - math.exp(r.x)) / math.exp(r.x) for r in m.itertuples()
    )
    assert worst < 2e-11, worst
    assert all(exp_det_py(r.x) == r.e_s for r in m.itertuples())
    assert exp_det_py(0.0) == 1.0


def _logreg_rows_py() -> list[tuple]:
    from sfcrimedatapipeline_spark.functions.text import STOPWORDS

    pdf = duckdb.connect().execute(
        f"SELECT n_chars, text FROM '{SF_SMALL}/documents.parquet'"
    ).df()
    en = set(STOPWORDS["en"])
    rows = []
    for _, r in pdf.iterrows():
        toks = _tokens(r["text"])
        ntok = len(toks)
        nvocab = len(set(toks))
        hits_en = sum(1 for t in toks if t in en)
        votes = (
            (1 if r["n_chars"] >= 330 else 0)
            + (1 if nvocab * 9 >= ntok * 4 else 0)
            + (1 if hits_en >= 4 else 0)
        )
        y = 1.0 if votes >= 2 else 0.0
        rows.append(
            (
                y,
                1.0,
                float(r["n_chars"]) / 1000.0,
                float(ntok) / 100.0,
                float(hits_en) / (float(ntok) + 1.0),
                float(nvocab) / (float(ntok) + 1.0),
            )
        )
    return rows


def test_logreg_trace_bit_exact_vs_python_twin(spark):
    """The gated trainer's weight trace must EQUAL the pure-Python twin
    bit for bit — the reproducibility guarantee, not a tolerance."""
    from sfcrimedatapipeline_spark.operators.mltrain import logreg_train_py
    from sfcrimedatapipeline_spark.plans.infotheory import (
        LOGREG_ITERS,
        LOGREG_LR,
        docs_logreg_train,
    )

    got = sorted(
        (tuple(r) for r in docs_logreg_train(spark, SF_SMALL).collect())
    )
    expected = sorted(logreg_train_py(_logreg_rows_py(), LOGREG_ITERS, LOGREG_LR))
    assert len(got) == LOGREG_ITERS + 1
    for g, e in zip(got, expected):
        assert g[0] == e[0]
        for a, b in zip(g[1:], e[1:]):
            assert a == b, (g[0], a, b)


def test_logreg_learns_separation():
    """At the final trace weights, mean sigmoid over English docs must
    exceed mean sigmoid over the rest — GD moved in the right
    direction on the fixture."""
    from sfcrimedatapipeline_spark.functions.detmath import exp_det_py
    from sfcrimedatapipeline_spark.operators.mltrain import logreg_train_py
    from sfcrimedatapipeline_spark.plans.infotheory import (
        LOGREG_ITERS,
        LOGREG_LR,
    )

    rows = _logreg_rows_py()
    trace = logreg_train_py(rows, LOGREG_ITERS, LOGREG_LR)
    w = trace[-1][1:]
    def sig(xs):
        z = sum(wj * xj for wj, xj in zip(w, xs))
        return 1.0 / (1.0 + exp_det_py(-z))

    en = [sig(r[1:]) for r in rows if r[0] == 1.0]
    other = [sig(r[1:]) for r in rows if r[0] == 0.0]
    assert en and other
    assert sum(en) / len(en) > sum(other) / len(other)


def test_kmeans_matches_numpy_twin(spark):
    """The gated k-means centroids must equal a numpy re-derivation of
    the same deterministic algorithm (fx-floored distances and means)
    to float tolerance, and basic Lloyd invariants must hold."""
    from sfcrimedatapipeline_spark.functions.fixedpoint import FX_SCALE
    from sfcrimedatapipeline_spark.plans.infotheory import (
        KMEANS_ITERS,
        KMEANS_K,
        emb_kmeans_train,
    )

    rows = emb_kmeans_train(spark, SF_SMALL).collect()
    assert len(rows) == KMEANS_K * 64
    emb = duckdb.connect().execute(
        f"SELECT vec_id, embedding FROM '{SF_SMALL}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchall()
    ids = [r[0] for r in emb]
    X = np.array([r[1] for r in emb], dtype=np.float64)
    cent = X[np.argsort(ids)[:KMEANS_K]].copy()
    n_members = np.zeros(KMEANS_K, dtype=int)
    for _ in range(KMEANS_ITERS):
        dist_fx = np.zeros((len(X), KMEANS_K), dtype=object)
        for c in range(KMEANS_K):
            d = (X - cent[c]) ** 2
            dist_fx[:, c] = np.floor(d * FX_SCALE).sum(axis=1)
        assign = np.argmin(dist_fx.astype(np.float64), axis=1)
        for c in range(KMEANS_K):
            members = X[assign == c]
            n_members[c] = len(members)
            if len(members):
                cent[c] = (
                    np.floor(members * FX_SCALE).sum(axis=0) / FX_SCALE
                ) / len(members)
    got = {(r["cluster"], r["dim"]): r for r in rows}
    for c in range(KMEANS_K):
        for d in range(64):
            r = got[(c, d + 1)]
            assert abs(r["centroid"] - cent[c][d]) < 1e-9, (c, d)
            assert r["n_members"] == n_members[c]
    assert sum(n_members) == len(X)


def test_power_iteration_bit_exact_twin_and_rayleigh(spark):
    """The gated power iteration must EQUAL a python twin of the same
    fixed-point algorithm bit for bit, keep an exactly unit-norm
    output, and report an eigenvalue estimate inside the true spectrum
    (the fixture\'s spectrum is nearly flat — l1/l2 = 1.07 — so 4
    rounds measure ANISOTROPY, not the converged top direction; the
    Rayleigh estimate must sit between the mean eigenvalue and the
    max)."""
    from sfcrimedatapipeline_spark.functions.fixedpoint import FX_SCALE
    from sfcrimedatapipeline_spark.plans.infotheory import (
        POWER_DIMS,
        POWER_ITERS,
        emb_power_iteration,
    )

    rows = {r["dim"]: r["loading"] for r in emb_power_iteration(spark, SF_SMALL).collect()}
    lam = rows.pop(0)
    v = [rows[d + 1] for d in range(POWER_DIMS)]

    emb = duckdb.connect().execute(
        f"SELECT vec_id, embedding FROM \'{SF_SMALL}/embeddings.parquet\'"
    ).fetchall()
    X = [list(map(float, r[1])) for r in emb]

    # python twin: same fx floors, same op order
    tv = [1.0 / 8.0] * POWER_DIMS
    tlam = 0.0
    for _ in range(POWER_ITERS):
        u = [
            float(sum(math.floor((row[d] * tv[d]) * FX_SCALE) for d in range(POWER_DIMS)))
            / FX_SCALE
            for row in X
        ]
        w = [
            float(sum(math.floor((X[i][d] * u[i]) * FX_SCALE) for i in range(len(X))))
            / FX_SCALE
            for d in range(POWER_DIMS)
        ]
        norm2 = float(sum(math.floor((wd * wd) * FX_SCALE) for wd in w)) / FX_SCALE
        s_ = math.sqrt(norm2)
        tv = [wd / s_ for wd in w]
        tlam = math.sqrt(norm2)
    assert lam == tlam
    for a, b in zip(v, tv):
        assert a == b

    # spectrum invariants
    Xn = np.array(X)
    evals = np.linalg.eigvalsh(Xn.T @ Xn)
    mean_ev = float(evals.mean())
    assert abs(np.linalg.norm(np.array(v)) - 1.0) < 1e-9
    assert mean_ev * 0.99 <= lam <= float(evals[-1]) * 1.001, (
        lam, mean_ev, float(evals[-1]),
    )


def test_docs_kmv_source_overlap_sane(spark):
    """Sketch-vs-exact sanity on the docs variant: exhaustive sketches
    degrade to exact, estimates stay within the theta error band."""
    from sfcrimedatapipeline_spark.operators.sketches import KMV_K
    from sfcrimedatapipeline_spark.plans.analytic_ext import (
        docs_kmv_source_overlap,
    )

    rows = docs_kmv_source_overlap(spark, SF_SMALL).collect()
    assert rows
    tol = 5.0 / math.sqrt(KMV_K - 1)
    for r in rows:
        assert r["exact_inter"] <= min(r["n_exact_a"], r["n_exact_b"])
        assert r["exact_union"] >= max(r["n_exact_a"], r["n_exact_b"])
        if r["n_exact_a"] <= KMV_K and r["n_exact_b"] <= KMV_K:
            assert r["est_union"] == float(r["exact_union"])
            assert r["est_inter"] == float(r["exact_inter"])
        else:
            assert abs(r["est_union"] - r["exact_union"]) <= tol * r["exact_union"]


def test_bigram_entropy_rate_invariants(spark):
    """Conditioning can only reduce entropy: per language the bigram
    rate must be ≤ the unigram entropy, and both in [0, ln vocab]."""
    from sfcrimedatapipeline_spark.plans.infotheory import (
        text_bigram_entropy_rate,
        text_token_entropy,
    )

    uni = {r["lang"]: r for r in text_token_entropy(spark, SF_SMALL).collect()}
    rate = {r["lang"]: r for r in text_bigram_entropy_rate(spark, SF_SMALL).collect()}
    assert set(uni) == set(rate)
    for lang in uni:
        h1 = uni[lang]["h_nats"]
        hr = rate[lang]["h_rate_nats"]
        assert -1e-9 <= hr <= h1 + 1e-9, (lang, hr, h1)


def test_markov_stationary_matches_numpy(spark):
    """π must solve πP = π (numpy eig of Pᵀ), sum to 1, and the
    stationary rate must be a convex combination of per-state
    entropies."""
    from sfcrimedatapipeline_spark.plans.infotheory import (
        RATE_ROW,
        events_markov_entropy,
        events_markov_stationary,
    )

    rows = {r["event_type"]: r["stationary_p"]
            for r in events_markov_stationary(spark, SF_SMALL).collect()}
    rate = rows.pop("__RATE__")
    states = sorted(rows)
    pi = np.array([rows[s] for s in states])
    assert abs(pi.sum() - 1.0) < 1e-9
    assert (pi > 0).all()
    # rebuild P from the fixture
    ev = duckdb.connect().execute(
        f"SELECT user_id, ts, event_id, event_type FROM '{SF_SMALL}/events.parquet' "
        "ORDER BY user_id, ts, event_id"
    ).df()
    trans: dict[tuple[str, str], int] = {}
    for _, grp in ev.groupby("user_id"):
        ts = list(grp["event_type"])
        for a, b in zip(ts, ts[1:]):
            trans[(a, b)] = trans.get((a, b), 0) + 1
    n_i: dict[str, int] = {}
    for (a, _), c in trans.items():
        n_i[a] = n_i.get(a, 0) + c
    P = np.zeros((len(states), len(states)))
    idx = {s: i for i, s in enumerate(states)}
    for (a, b), c in trans.items():
        P[idx[a], idx[b]] = c / n_i[a]
    resid = np.abs(pi @ P - pi).max()
    assert resid < 1e-6, resid
    # stationary rate bounded by the per-state entropies
    h_rows = {r["from_type"]: r["h_nats"]
              for r in events_markov_entropy(spark, SF_SMALL).collect()}
    h_rows.pop(RATE_ROW)
    assert min(h_rows.values()) - 1e-9 <= rate <= max(h_rows.values()) + 1e-9


def test_no_raw_transcendentals_in_any_oracle():
    """REPO-WIDE INVARIANT: no oracle may call raw ln/exp/log — their
    values differ between the JVM and libm in the last ulp on ~1% of
    arguments (the round-9 landmine), so any gated log/exp must compile
    to the detmath sqrt/squaring chains. This guard keeps a future
    'simplification' from re-arming the coin flip."""
    import os
    import re
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e

    pat = re.compile(r"(?<![a-zA-Z_])(ln|exp|log|log2|log10)\s*\(")
    offenders = {
        name: sorted(set(pat.findall(sql)))
        for name, sql in e.oracle_sql().items()
        if pat.search(sql)
    }
    assert not offenders, offenders


def test_pagerank_deterministic_bit_exact_twin(spark):
    """pagerank(deterministic=True) must equal a pure-Python fx twin of
    the same 5 rounds bit for bit — the upgrade that took
    pagerank_dup_graph from rows-only to value-hash gated."""
    from sfcrimedatapipeline_spark.functions.fixedpoint import FX_SCALE
    from sfcrimedatapipeline_spark.operators.graph import pagerank
    from sfcrimedatapipeline_spark.plans.corpus_queries import (
        PAGERANK_DAMPING,
        PAGERANK_ITERS,
        _dup_pairs,
    )

    got = {
        r["doc_id"]: r["rank"]
        for r in pagerank(
            _dup_pairs(spark, SF_SMALL),
            iters=PAGERANK_ITERS,
            damping=PAGERANK_DAMPING,
            deterministic=True,
        ).collect()
    }
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in _dup_pairs(spark, SF_SMALL).select("doc_a", "doc_b").collect()
    ]
    edges = pairs + [(b, a) for a, b in pairs]
    deg: dict[int, int] = {}
    for s_, _ in edges:
        deg[s_] = deg.get(s_, 0) + 1
    nodes = sorted(deg)
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    base = (1.0 - PAGERANK_DAMPING) / n
    for _ in range(PAGERANK_ITERS):
        agg: dict[int, int] = {}
        for s_, d_ in edges:
            agg[d_] = agg.get(d_, 0) + math.floor(
                (rank[s_] / float(deg[s_])) * FX_SCALE
            )
        rank = {
            v: base + PAGERANK_DAMPING * ((float(fx_) / FX_SCALE) + 0.0)
            for v, fx_ in agg.items()
        }
    assert set(got) == set(rank)
    for v in rank:
        assert got[v] == rank[v], (v, got[v], rank[v])
    assert abs(sum(rank.values()) - 1.0) < 1e-6


def test_spherical_kmeans_det_repeatable_and_sane(spark):
    """The deterministic spherical trainer must reproduce itself bit for
    bit across runs/partitionings and carry every corpus vector in
    exactly one cluster's mean path (sizes derived via a fresh
    assignment round sum to n)."""
    from sfcrimedatapipeline_spark.operators.mltrain import spherical_kmeans_det

    emb = duckdb.connect().execute(
        f"SELECT count(*) FROM '{SF_SMALL}/embeddings.parquet'"
    ).fetchone()
    sdf = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    a = spherical_kmeans_det(sdf, k=8, iters=3)
    b = spherical_kmeans_det(sdf.repartition(7), k=8, iters=3)
    assert len(a) == len(b) == 8
    for (ca, va), (cb, vb) in zip(a, b):
        assert ca == cb
        assert va == vb  # bit-exact across partitionings
    # centroids are finite, 64-dim, not all identical
    assert all(len(v) == 64 for _, v in a)
    assert len({tuple(v) for _, v in a}) > 1


def test_pq_kmeans_det_repeatable(spark):
    """The deterministic PQ-codebook trainer must be bit-identical
    across partitionings, with the m×k×sub shape pq_topk expects; so
    must the Lloyd trainer, which shares its loop."""
    from sfcrimedatapipeline_spark.operators.mltrain import (
        kmeans_train,
        pq_kmeans_det,
    )

    sdf = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    a = pq_kmeans_det(sdf, m=8, n_codes=16, iters=2)
    b = pq_kmeans_det(sdf.repartition(5), m=8, n_codes=16, iters=2)
    assert len(a) == 8 and all(len(cbk) == 16 for cbk in a)
    assert all(len(c) == 8 for cbk in a for c in cbk)
    for sa, sb in zip(a, b):
        for ca_, cb_ in zip(sa, sb):
            assert ca_ == cb_
    ka = kmeans_train(sdf, k=4, iters=3)
    assert len(ka) == 4 * 64
    assert kmeans_train(sdf.repartition(5), k=4, iters=3) == ka


@pytest.mark.parametrize("trainer", ["spherical", "pq", "lloyd"])
def test_det_trainers_refuse_int64_wrap(spark, trainer):
    """The trainers' in-batch fixed-point sums are int64: vectors large
    enough to wrap them raise instead of training on wrapped values,
    while large vectors that fit still train."""
    from sfcrimedatapipeline_spark.operators.mltrain import (
        kmeans_train,
        pq_kmeans_det,
        spherical_kmeans_det,
    )

    def train(scale):
        rng = np.random.default_rng(7)
        rows = [
            (i, [float(x) for x in rng.standard_normal(64) * scale]) for i in range(40)
        ]
        sdf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        if trainer == "spherical":
            return spherical_kmeans_det(sdf, k=4, iters=1)
        if trainer == "lloyd":
            return kmeans_train(sdf, k=4, iters=1)
        return pq_kmeans_det(sdf, m=8, n_codes=4, iters=1)

    # k=4 centroids, one codebook for each of the m=8 subspaces, or
    # one row per (cluster, dim)
    assert len(train(10.0)) == {"spherical": 4, "pq": 8, "lloyd": 4 * 64}[trainer]
    with pytest.raises(Exception, match="overflow int64"):
        train(1e4)
