"""operators/urls.py — URL canonicalization, URL dedup, domain cap,
and the composed web-disposition funnel (round 10, VERDICT r9 #4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.operators import urls


CANON_CASES = [
    # lowercase scheme + host
    ("HTTP://Site1.COM/a", "http://site1.com/a"),
    # strip fragment
    ("http://site1.com/a#frag", "http://site1.com/a"),
    # default ports stripped per scheme, non-default kept
    ("http://site1.com:80/a", "http://site1.com/a"),
    ("https://site1.com:443/a", "https://site1.com/a"),
    ("http://site1.com:8080/a", "http://site1.com:8080/a"),
    ("https://site1.com:80/a", "https://site1.com:80/a"),
    # leading www. stripped (any case), inner www kept
    ("http://WWW.site1.com/a", "http://site1.com/a"),
    ("http://www.www2.com/a", "http://www2.com/a"),
    # trailing slashes stripped, root collapses to no path
    ("http://site1.com/a///", "http://site1.com/a"),
    ("http://site1.com/", "http://site1.com"),
    # tracking params dropped, others kept in original order
    ("http://site1.com/a?utm_source=rss", "http://site1.com/a"),
    (
        "http://site1.com/a?b=2&utm_campaign=x&a=1",
        "http://site1.com/a?b=2&a=1",
    ),
    ("http://site1.com/a?fbclid=123&q=7", "http://site1.com/a?q=7"),
    ("http://site1.com/a?gclid=9#sec", "http://site1.com/a"),
    # everything at once
    (
        "HTTPS://Www.Site2.ORG:443/p/1/?utm_medium=m&id=5#x",
        "https://site2.org/p/1?id=5",
    ),
    # ADVICE r10: '?' INSIDE the fragment must not leak into the
    # canonical query key (SPA-style '#/route?tab=1' URLs)
    ("http://site1.com/p#x?y=1", "http://site1.com/p"),
    ("http://site1.com/p#/route?tab=1&utm_source=s", "http://site1.com/p"),
    # ADVICE r10: scheme-less / non-hierarchical inputs pass through
    # unchanged instead of degenerating to '://'
    ("a.com/p?q=1", "a.com/p?q=1"),
    ("mailto:x@y.com", "mailto:x@y.com"),
    # ADVICE r10: valueless and case-variant tracking params drop too
    ("http://site1.com/p?fbclid", "http://site1.com/p"),
    ("http://site1.com/p?UTM_Source=rss&a=1", "http://site1.com/p?a=1"),
    ("http://site1.com/p?gclid&b=2", "http://site1.com/p?b=2"),
]


def test_canonical_url_rules(spark):
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(CANON_CASES)],
        "doc_id long, url string",
    )
    got = {
        r.doc_id: r.c
        for r in df.select(
            "doc_id", urls.canonical_url(F.col("url")).alias("c")
        ).collect()
    }
    for i, (raw, want) in enumerate(CANON_CASES):
        assert got[i] == want, f"{raw!r}: {got[i]!r} != {want!r}"


def test_url_domain(spark):
    df = spark.createDataFrame(
        [(0, "HTTP://WWW.Site1.COM:80/a?x=1#f")], "doc_id long, url string"
    )
    assert df.select(urls.url_domain(F.col("url"))).first()[0] == "site1.com"


def test_url_exact_dedup_groups_on_canonical_form(spark):
    df = spark.createDataFrame(
        [
            (1, "http://a.com/x?utm_source=s"),
            (2, "HTTP://WWW.A.COM/x/"),
            (3, "http://a.com:80/x#frag"),
            (4, "http://b.com/y"),
        ],
        "doc_id long, url string",
    )
    rows = urls.url_exact_dedup(df).collect()
    assert len(rows) == 1
    assert rows[0].canonical_url == "http://a.com/x"
    assert rows[0].keep_id == 1 and rows[0].n_copies == 3


def test_domain_cap_keeps_lowest_ids_exactly(spark):
    rows = [(i, "hot.com") for i in range(40)] + [(100, "cold.com")]
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    # n_salts > 1 exercises the two-phase path; result must equal the
    # single-phase answer (the cap lowest ids per domain) exactly
    kept = urls.domain_cap(df, cap=7, n_salts=4).collect()
    hot = sorted(r.doc_id for r in kept if r.domain == "hot.com")
    assert hot == list(range(7))
    assert [r.doc_id for r in kept if r.domain == "cold.com"] == [100]
    with pytest.raises(ValueError, match="cap >= 1"):
        urls.domain_cap(df, cap=0)


def test_web_dispositions_partition_and_priority(spark):
    df = spark.createDataFrame(
        [
            (1, "http://bad.com/a"),  # blocked (even though also a dup)
            (2, "http://bad.com/a"),  # blocked
            (3, "http://ok.com/a"),  # kept (dup group min)
            (4, "http://ok.com/a?utm_source=x"),  # url_duplicate of 3
            (5, "http://ok.com/b"),  # kept
            (6, "http://ok.com/c"),  # domain_capped (cap=2)
        ],
        "doc_id long, url string",
    )
    out = urls.web_dispositions(df, blocklist=["bad.com"], cap=2)
    disp = {
        r["doc_id"]: r["__disp"]
        for r in out.select("doc_id", "__disp").collect()
    }
    assert disp == {
        1: "blocked_domain",
        2: "blocked_domain",
        3: "kept",
        4: "url_duplicate",
        5: "kept",
        6: "domain_capped",
    }
    # the labels partition the corpus
    assert out.count() == df.count()


def test_web_dispositions_null_domain_rows_bypass_block_and_cap(spark):
    """ADVICE r10: non-hierarchical URLs (NULL domain) must not lump
    into one pseudo-domain — they are never blocked, never capped,
    and dedup only on raw-string equality."""
    df = spark.createDataFrame(
        [
            (1, "mailto:x@y.com"),  # kept (unique raw string)
            (2, "mailto:x@y.com"),  # url_duplicate of 1 (raw equality)
            (3, "a.com/p?q=1"),  # kept — NOT merged with 1/2
            (4, "ftp.example/f"),  # kept — cap=1 must not hit NULL rows
            (5, "http://ok.com/a"),  # kept
        ],
        "doc_id long, url string",
    )
    out = urls.web_dispositions(df, blocklist=["bad.com"], cap=1)
    disp = {
        r["doc_id"]: r["__disp"]
        for r in out.select("doc_id", "__disp").collect()
    }
    assert disp == {
        1: "kept",
        2: "url_duplicate",
        3: "kept",
        4: "kept",
        5: "kept",
    }
    domains = {r["doc_id"]: r["domain"] for r in out.collect()}
    assert domains[1] is None and domains[3] is None and domains[4] is None
    assert domains[5] == "ok.com"


def test_planted_url_noise_canonicalizes_within_group(spark):
    """The fixture derivation: every URL_GROUP consecutive docs share
    one canonical target modulo the per-doc real param variant, so
    url-exact dedup must find duplicate groups at sf0.001."""
    from sfcrimedatapipeline_spark.plans import curation

    dups = curation.dedup_url_exact(spark, "/root/testdata/sf0.001")
    rows = dups.collect()
    assert len(rows) > 50
    assert all(r.n_copies >= 2 for r in rows)


def test_domain_token_cap_is_greedy_prefix(spark):
    """The token-budget cap keeps documents in doc_id order while the
    RUNNING total stays <= budget — a later small doc must NOT slip in
    after the budget is exhausted (greedy prefix, not knapsack)."""
    from sfcrimedatapipeline_spark.plans import curation

    rows = curation.docs_domain_token_cap(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert all(r.kept_tokens <= curation.DOMAIN_TOKEN_BUDGET for r in rows)
    assert any(r.n_kept < r.n_docs for r in rows)  # the cap has real work
    # spot-check the greedy semantics against a hand fold
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    detail = con.sql(f"""
        WITH u AS MATERIALIZED ({curation._url_sql()}),
        c AS (
            SELECT cc.doc_id, cc.domain,
                   len(list_filter(regexp_split_to_array(lower(d.text),
                       '\\s+'), t -> t <> '')) AS n
            FROM ({curation._canon_sql()}) cc
            JOIN documents d ON cc.doc_id = d.doc_id
        )
        SELECT domain, doc_id, n FROM c ORDER BY domain, doc_id
    """).fetchall()
    by_dom: dict = {}
    for dom, doc, n in detail:
        by_dom.setdefault(dom, []).append(n)
    want = {}
    for dom, toks in by_dom.items():
        acc = kept = kt = 0
        for n in toks:
            acc += n
            if acc <= curation.DOMAIN_TOKEN_BUDGET:
                kept += 1
                kt += n
        want[dom] = (kept, kt)
    got = {r.domain: (r.n_kept, r.kept_tokens) for r in rows}
    assert got == want


def test_corpus_web_e2e_stage_monotonicity(spark):
    """The composed web pipeline's per-domain counters must nest:
    unique_kept <= gopher_pass <= web_kept <= raw, chars_kept <=
    chars_raw, and blocked domains yield zero at every post-web
    stage."""
    from sfcrimedatapipeline_spark.plans import curation

    rows = curation.corpus_web_e2e(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert (
            r.n_unique_kept <= r.n_gopher_pass <= r.n_web_kept <= r.n_raw
        ), r
        assert 0 <= r.chars_kept <= r.chars_raw
        if r.domain in curation.URL_BLOCKLIST:
            assert r.n_web_kept == 0 and r.n_unique_kept == 0
    # the web stage agrees with the standalone funnel's kept count
    disp = {
        row.disposition: row.n_docs
        for row in curation.docs_web_curation(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert sum(r.n_web_kept for r in rows) == disp["kept"]


def test_url_decontamination_finds_cross_split_twin(spark):
    """Two cosmetic variants of one URL split across eval/train must
    pair; a train-only URL must not produce an eval row."""
    from sfcrimedatapipeline_spark.plans import curation

    rows = curation.docs_url_decontamination(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.eval_id % curation.URL_EVAL_MOD == curation.URL_EVAL_REM
        assert r.n_train_copies >= 1
        assert r.min_train_id % curation.URL_EVAL_MOD != curation.URL_EVAL_REM


def test_web_curation_codegen_compiles_after_clearcache(spark):
    """VERDICT r11 #1: the planted-url expression inlined into every
    canonicalizer reference grew web_dispositions' generated method
    past the JVM's 64 KB limit — Janino refused, Spark silently ran
    interpreted (the r11 driver bench tail). The fix materializes the
    planted frame behind a localCheckpoint barrier (plans/curation.py:
    _url_docs). fallback=false turns any regression back into a hard
    error; clearCache() first proves the barrier survives the gate's
    between-query cache clears (an SQL-cache barrier would vanish)."""
    from sfcrimedatapipeline_spark.plans import curation

    spark.catalog.clearCache()
    old = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        curation.docs_web_curation(
            spark, "/root/testdata/sf0.001"
        ).write.mode("overwrite").format("noop").save()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)
