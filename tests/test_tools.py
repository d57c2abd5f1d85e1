"""The repo's own tools and driver contract: the correctness-gate
replica (tools/check_correctness.py), the bench regression diff
(tools/bench_diff.py), and the query ordering and oracle output types
of __spark_entry__.py."""

from __future__ import annotations

import builtins
import importlib.util
import json
import os
import subprocess
import sys
import textwrap

import numpy as np
import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_module(name: str, rel_path: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, rel_path)
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_current_round_tolerates_non_dict_progress_lines(monkeypatch, tmp_path):
    """__spark_entry__._current_round: a parseable non-dict line (bare
    number / string / array) in PROGRESS.jsonl must be skipped, never
    raise AttributeError — queries() must not fail on an I/O edge."""
    entry = _load_module("entry_under_test", "__spark_entry__.py")
    fake = tmp_path / "PROGRESS.jsonl"
    fake.write_text('42\n"a string"\n[1, 2]\nnull\n{"round": 7}\ntrue\n')
    real_open = builtins.open

    def redirect(path, *a, **k):
        if isinstance(path, str) and path.endswith("PROGRESS.jsonl"):
            return real_open(str(fake), *a, **k)
        return real_open(path, *a, **k)

    monkeypatch.setattr(builtins, "open", redirect)
    monkeypatch.setattr(entry, "_ROUND_SNAPSHOT", None)
    # the last parseable DICT line wins; the trailing `true` is skipped
    assert entry._current_round() == 7


def test_bench_diff_canary_correction_absorbs_uniform_shift(tmp_path):
    """A synthetic 1.3x uniform environment shift across every query
    (canaries included) must produce ZERO regression flags once
    bench_diff normalizes by the canary median ratio; a genuine 3x
    single-query regression on top of the same shift must still flag."""
    bd = _load_module("bench_diff_r10", "tools/bench_diff.py")
    base = {c: 0.5 for c in bd.CANARIES}
    base.update({"real_query_a": 2.0, "real_query_b": 4.0})
    shifted = {q: v * 1.3 for q, v in base.items()}
    old_p, new_p = tmp_path / "old.json", tmp_path / "new.json"
    old_p.write_text(json.dumps({"queries": base}))
    new_p.write_text(json.dumps({"queries": shifted}))
    repo_root = bd.__file__.rsplit("/tools/", 1)[0]
    r = subprocess.run(
        [sys.executable, bd.__file__, str(old_p), str(new_p)],
        capture_output=True, text=True, cwd=repo_root,
    )
    assert r.returncode == 0, r.stdout + r.stderr
    assert "REGRESSION" not in r.stdout
    assert "environment factor" in r.stdout

    shifted["real_query_b"] = 4.0 * 3.9  # real regression atop the shift
    new_p.write_text(json.dumps({"queries": shifted}))
    r2 = subprocess.run(
        [sys.executable, bd.__file__, str(old_p), str(new_p)],
        capture_output=True, text=True, cwd=repo_root,
    )
    assert r2.returncode == 1
    assert "REGRESSION real_query_b" in r2.stdout
    assert "REGRESSION real_query_a" not in r2.stdout


def test_bench_diff_canaries_are_gated_trivial_scans():
    """The canary set must be real, cheap, pure-scan queries that every
    bench run includes: declared in queries(), not deferred, not
    bench-skipped."""
    import __spark_entry__ as e

    bd = _load_module("bench_diff_r10b", "tools/bench_diff.py")
    bench = _load_module("bench_r10", "bench.py")
    qs = e.queries()
    assert len(bd.CANARIES) >= 3
    for c in bd.CANARIES:
        assert c in qs
        assert c not in bench.BENCH_SKIP


def test_rotation_puts_never_driver_seen_queries_first():
    """The rotating middle must sort queries absent from every
    published per-round driver artifact BEFORE already-verified ones,
    so the driver's ~50-query budget maximizes fresh cumulative
    coverage (VERDICT r9 #8 asks >=15 fresh in round 10's record)."""
    import __spark_entry__ as e

    qs = list(e.queries())
    seen = e._driver_seen()
    assert len(seen) >= 100  # r6-r9 cumulative record is present
    first50 = qs[:50]
    fresh = [q for q in first50 if q not in seen]
    # reference-first block (21) is always included and mostly seen;
    # the remaining ~29 rotation slots must all be unseen while any
    # unseen queries remain in the middle
    assert len(fresh) >= 15, fresh
    # round 11 added a _PIN_FIRST block between the reference series
    # and the rotating middle (VERDICT r10 #1/#7 driver-prove pins);
    # the unseen-first ordering invariant applies to the middle only
    pinned = [q for q in getattr(e, "_PIN_FIRST", []) if q in qs]
    n_head = len([q for q in e._REFERENCE_FIRST if q in qs]) + len(pinned)
    n_tail = len(
        [q for q in e._DEFERRED if q in qs and q not in pinned]
    )
    middle = qs[n_head : len(qs) - n_tail]
    unseen_flags = [q in seen for q in middle]
    # once a seen query appears, no unseen query may follow it
    if True in unseen_flags:
        assert all(unseen_flags[unseen_flags.index(True):])


def test_gate_rejects_unknown_query_name():
    """A bogus name must error (exit 2) BEFORE any Spark startup —
    never filter to zero queries and report a pass."""
    proc = subprocess.run(
        [
            sys.executable,
            f"{REPO}/tools/check_correctness.py",
            "/root/testdata/sf0.001",
            "no_such_query_xyz",
        ],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 2, proc.stdout + proc.stderr
    assert "unknown query name" in proc.stdout
    assert "ALL MATCH" not in proc.stdout


def test_gate_rejects_stray_flag_as_name():
    """The judge hit this live with ``--out``: a stray flag matched
    nothing and produced a vacuous green exit."""
    proc = subprocess.run(
        [
            sys.executable,
            f"{REPO}/tools/check_correctness.py",
            "/root/testdata/sf0.001",
            "--out",
        ],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 2, proc.stdout + proc.stderr
    assert "ALL MATCH" not in proc.stdout


def test_gate_zero_queries_exits_nonzero():
    """Backstop: even if the registry itself were empty (zero queries
    actually ran), the gate must exit non-zero, not print ALL MATCH."""
    script = textwrap.dedent(
        f"""
        import sys, types, importlib.util
        sys.path.insert(0, {REPO!r})
        fake = types.ModuleType("__spark_entry__")
        fake.queries = lambda: {{}}
        fake.oracle_sql = lambda: {{}}
        sys.modules["__spark_entry__"] = fake
        import sfcrimedatapipeline_spark.session as s
        s.get_spark = lambda **k: object()
        spec = importlib.util.spec_from_file_location(
            "cc_zero", {REPO + "/tools/check_correctness.py"!r}
        )
        cc = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(cc)
        sys.exit(cc.main())
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script, "/root/testdata/sf0.001"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 2, proc.stdout + proc.stderr
    assert "zero queries ran" in proc.stdout
    assert "ALL MATCH" not in proc.stdout


#: one consumer per former cross-query memo: dup graph (plain and
#: twice-read), star schema, URL frame, and the two on-disk indexes
MEMO_FREE_CONSUMERS = [
    "dedup_clusters",
    "graph_modularity_dup",
    "serve_initial_reports",
    "corpus_web_e2e",
    "docs_bm25_index_search",
    "ann_ivfpq_index_delta",
]


def test_gate_matches_memo_free_consumers():
    """The value-hash gate (Spark vs the DuckDB oracle) passes on one
    consumer of each input every query now derives per call. Runs the
    real gate script in a subprocess with a small driver heap beside
    the test session's JVM."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    env.pop("SPARK_GRAFT_CORRECTNESS_OUT", None)  # write no gate artifact
    proc = subprocess.run(
        [
            sys.executable,
            f"{REPO}/tools/check_correctness.py",
            "/root/testdata/sf0.001",
            *MEMO_FREE_CONSUMERS,
        ],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
    )
    assert proc.returncode == 0, proc.stdout[-4000:] + proc.stderr[-4000:]
    assert proc.stdout.rstrip().endswith("ALL MATCH"), proc.stdout[-4000:]


def test_workers_import_package_from_any_directory(tmp_path):
    """A driver started outside the checkout, with no PYTHONPATH, runs
    an Arrow operator whose worker function refers to package code:
    get_spark puts the package on the Python workers' module path."""
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from sfcrimedatapipeline_spark.operators import dedup
        from sfcrimedatapipeline_spark.session import get_spark

        spark = get_spark(cpus=1)
        emb = spark.createDataFrame(
            [(i, [1.0, float(i % 3), 0.5]) for i in range(6)],
            "vec_id long, embedding array<float>",
        )
        print(len(dedup.embedding_near_duplicates_lsh(emb, dim=3, threshold=0.5).collect()))
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert int(proc.stdout.split()[-1]) > 0


# ------------------------------------------- VERDICT r10 #2: replica gate
def test_replica_rejects_list_cells():
    """The driver's canonicalizer sorts result frames with pandas
    sort_values, which cannot hash list cells — the replica must FAIL
    such a frame (round 10 it green-lit docs_span_corruption while the
    driver crashed on it)."""
    cc = _load_module("cc_r11", "tools/check_correctness.py")
    bad = pd.DataFrame({"doc_id": [1, 2], "ids": [[1, 2], [3]]})
    with pytest.raises(TypeError, match="driver-unsortable"):
        cc.frame_sig(bad)


def test_replica_rejects_ndarray_cells():
    """DuckDB's pandas bridge yields np.ndarray cells for LIST columns
    — same driver-crash class, same rejection."""
    cc = _load_module("cc_r11", "tools/check_correctness.py")
    bad = pd.DataFrame({"k": [1], "v": [np.array([1, 2])]})
    with pytest.raises(TypeError, match="driver-unsortable"):
        cc.frame_sig(bad)


def test_replica_accepts_scalar_frames():
    cc = _load_module("cc_r11", "tools/check_correctness.py")
    ok = pd.DataFrame(
        {"doc_id": [2, 1], "ids": ["1 2", "3"], "x": [1.5, None]}
    )
    h, cols, n = cc.frame_sig(ok)
    assert n == 2 and len(cols) == 3 and len(h) == 16


def test_no_complex_typed_oracle_outputs():
    """One-off sweep the r10 judge ran by hand, now pinned: DESCRIBE
    every registered oracle — no output column may be LIST/STRUCT/MAP
    typed (the driver cannot sort them, so the Spark twin that must
    match the oracle's schema couldn't be driver-green either)."""
    import duckdb

    import __spark_entry__ as e

    con = duckdb.connect()
    sf = e.SMOKE_SF_DIR
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    offenders = []
    for name, sql in e.oracle_sql().items():
        desc = con.sql(f"DESCRIBE {sql}").df()
        for col, typ in zip(desc["column_name"], desc["column_type"]):
            if "[]" in typ or "STRUCT" in typ or "MAP(" in typ:
                offenders.append(f"{name}.{col}: {typ}")
    assert not offenders, f"complex-typed oracle outputs: {offenders}"
