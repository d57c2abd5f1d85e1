"""Tests of the benchmark's own code: seeded inputs, event-log
attribution and failure counting.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import compare, datagen, run, tracing, workloads  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def _null_counts(path: str) -> tuple[int, dict[str, int]]:
    with open(path, newline="") as fh:
        rows = list(csv.reader(fh, delimiter="|", quoting=csv.QUOTE_NONE))
    header, body = rows[0], rows[1:]
    return len(body), {c: sum(1 for r in body if r[i] == "") for i, c in enumerate(header)}


def test_staging_csv_is_a_pure_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / f"{n}.csv") for n in "abc")
    datagen.write_staging_csv(a, 2000, seed=7)
    datagen.write_staging_csv(b, 2000, seed=7)
    datagen.write_staging_csv(c, 2000, seed=8)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    rows_a, nulls_a = _null_counts(a)
    rows_c, nulls_c = _null_counts(c)
    assert rows_a == rows_c == 2000
    assert nulls_a == nulls_c
    for col, pct in datagen.STAGING_NULL_PCT.items():
        assert nulls_a[col] == 2000 * pct // 100, col
    assert list(nulls_a) == datagen.STAGING_COLUMNS


def test_corpus_is_a_pure_function_of_the_seed(tmp_path):
    dirs = {n: str(tmp_path / n) for n in "abc"}
    roots = {n: datagen.write_corpus(dirs[n], 200, 100, copies=3, seed=s) for n, s in (("a", 7), ("b", 7), ("c", 8))}
    for table in ("documents", "embeddings"):
        files = {n: os.path.join(d, f"{table}.parquet") for n, d in dirs.items()}
        assert _digest(files["a"]) == _digest(files["b"])
        assert _digest(files["a"]) != _digest(files["c"])
        assert pq.read_metadata(files["a"]).num_rows == pq.read_metadata(files["c"]).num_rows
    docs = pq.read_table(os.path.join(dirs["a"], "documents.parquet")).to_pandas()
    ra = roots["a"]
    assert len(docs) == len(ra) == 600 and docs.doc_id.is_unique
    # 5% of the base texts are copies carrying the near-duplicate marker
    assert docs.text[:200].str.endswith(" " + datagen.DUP_TOKEN).sum() == 10
    # copies keep the within-copy duplicate structure and add none across
    # copies: documents with one root lie in one copy, equal texts share
    # a root, and every copy has as many roots as the base
    assert all(len(set(np.flatnonzero(ra == r) // 200)) == 1 for r in set(ra))
    per_copy = [len(set(ra[i * 200:(i + 1) * 200])) for i in range(3)]
    assert per_copy[0] < 200 and len(set(per_copy)) == 1
    for _, ids in docs.groupby("text").doc_id:
        assert len(set(ra[ids.values])) == 1


def test_corpus_check_holds_outputs_to_the_planted_duplicates():
    wl = WORKLOADS["corpus_curation"]("unused", seed=1)
    # documents 0, 3 and 4 share a root; 3 and 4 are exact copies
    wl.planted = workloads._pairs_by_key([0, 1, 2, 0, 0, 5])
    wl.exact = {(3, 4)}
    wl.emb_true = workloads._cosine_pairs(
        np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 0.001]]), threshold=0.95
    )
    assert wl.planted == {(0, 3), (0, 4), (3, 4)} and wl.emb_true == {(0, 2)}
    cc = [(0, 0), (3, 0), (4, 0)]
    good = {"pairs": [(0, 3), (0, 4), (3, 4)], "cc_two_phase": cc, "cc_label_prop": cc, "emb_pairs": [(0, 2, 0.99)]}
    assert wl._check(good) == []
    assert workloads._components([(3, 4), (0, 3)]) == cc
    bad = [
        {**good, "pairs": [(0, 3), (0, 4), (3, 4), (1, 2)]},  # not planted
        {**good, "pairs": [(0, 3), (0, 4)]},  # misses the exact copy
        {**good, "cc_label_prop": [(0, 0), (3, 3), (4, 3)]},
        {**good, "emb_pairs": []},
    ]
    for out in bad:
        assert wl._check(out), out


def test_tracer_self_time_and_nesting():
    t = tracing.Tracer()
    t.spans = [
        {"name": "plans.fact", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "plans.fact.serve", "start": 2.0, "end": 5.0, "parent": 0},
        {"name": "plans.fact.serve", "start": 4.0, "end": 6.0, "parent": 0},
        {"name": "sources.csv", "start": 10.0, "end": 11.5, "parent": None},
    ]
    spans = t.with_self_time()
    assert spans[0]["self_s"] == pytest.approx(6.0)
    assert spans[3]["self_s"] == pytest.approx(1.5)
    assert t.wall("plans.fact") == pytest.approx(10.0)
    assert t.wall("plans.fact.serve") == pytest.approx(5.0)
    assert t.wall("plans") == pytest.approx(10.0)
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)


def test_failed_check_and_exception_count_as_failed_operations():
    cleaned = []

    def boom():
        raise ValueError("operation failed")

    ok = run.attempt(lambda: 1, lambda out: [], lambda: cleaned.append(1))
    bad_check = run.attempt(lambda: 1, lambda out: ["wrong row count"], lambda: cleaned.append(1))
    raised = run.attempt(boom, lambda out: [], lambda: cleaned.append(1))
    assert ok[1] == [] and bad_check[1] == ["wrong row count"]
    assert "ValueError" in raised[1][0]
    assert len(cleaned) == 3
    problems = [ok[1], bad_check[1], raised[1]]
    walls = {"traced": [], "untraced": [1.0, 2.0, 3.0]}
    e2e = run.end_to_end(5.0, walls, problems, items=100, peak_rss_bytes=2**30)
    assert e2e["failed"] == 2
    assert e2e["ops_failed_ratio"] == pytest.approx(2 / 3)
    assert e2e["ops_ok_ratio"] == pytest.approx(1 / 3)
    assert e2e["op_wall_s"] == 2.0 and e2e["rows_per_s"] == pytest.approx(50.0)
    assert e2e["peak_rss_mb"] == 1024.0


def test_undisturbed_clock_takes_out_the_stolen_share_slice_by_slice(monkeypatch):
    # (busy, stolen) CPU seconds: 10 of 40 stolen in the first 10 s, none
    # of the 40 in the next 10 s
    cpus = iter([(0.0, 0.0), (30.0, 10.0), (70.0, 10.0), (70.0, 10.0)])
    walls = iter([10.0, 20.0, 20.0])
    monkeypatch.setattr(run, "cpu_times", lambda: next(cpus))
    monkeypatch.setattr(run.time, "perf_counter", lambda: next(walls))
    clock = run.UndisturbedClock(start=0.0)
    assert clock.read() == pytest.approx(7.5)
    span = run.Interval(clock, from_clock_start=True).stop()
    assert span["wall_s"] == 20.0
    assert span["undisturbed_s"] == pytest.approx(17.5)
    assert span["steal_share"] == pytest.approx(10 / 80)
    assert run.stolen_share((5.0, 1.0), (5.0, 1.0)) == 0.0


@pytest.fixture(scope="module")
def toy_event_log(tmp_path_factory):
    """Event log of a session that ran two job groups with known task
    counts, one ungrouped job, and one Python (mapInPandas) job."""
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + log_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    tracer = tracing.Tracer(sc)

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    with tracer.span("a"):
        noop(spark.range(0, 30, 1, 3))
    with tracer.span("b"):
        noop(spark.range(0, 50, 1, 5))
        noop(spark.range(0, 50, 1, 5))
    noop(spark.range(0, 20, 1, 2))

    def identity(batches):  # nested, so workers unpickle it by value
        yield from batches

    with tracer.span("py"):
        noop(spark.range(0, 40, 1, 2).mapInPandas(identity, "id long"))
    spark.stop()
    return tracing.event_log_file(log_dir), tracer


def test_event_log_attributes_tasks_to_job_groups(toy_event_log):
    log, tracer = toy_event_log
    counters, job_spans = tracing.group_counters(log)
    assert counters["a"]["jobs"] == 1 and counters["a"]["tasks"] == 3
    assert counters["b"]["jobs"] == 2 and counters["b"]["tasks"] == 10
    assert counters[""]["tasks"] == 2
    assert counters["py"]["python_rows"] == 40
    assert counters["py"]["python_bytes_sent"] > 0
    assert counters["a"]["python_bytes_sent"] == 0
    total = tracing.traced_total(counters)
    assert total["tasks"] == 3 + 10 + 2 and total["jobs"] == 4
    assert len(job_spans["b"]) == 2
    assert [s["name"] for s in tracer.spans] == ["a", "b", "py"]


def test_benchmark_json_names_every_reported_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [m["unit"] for m in bench["end_to_end"]] == list(run.END_TO_END.values())
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        row[:3] for row in run.PER_LAYER
    ]
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)


def test_compare_refuses_runs_of_different_shape():
    meta = {"workload": "elt_refresh", "cpus": 4, "rows": 50_000, "copies": 1, "revision": "x", "seed": 1, "trace": 0}
    a = {"meta": meta, "end_to_end": {"rows_per_s": 10.0}}
    b = {"meta": {**meta, "seed": 2}, "end_to_end": {"rows_per_s": 12.0}}
    assert any("1.200x" in line for line in compare.compare(a, b))
    for key, value in (("cpus", 32), ("rows", 1_000_000), ("copies", 10)):
        with pytest.raises(ValueError, match=key):
            compare.compare(a, {**b, "meta": {**meta, key: value}})
