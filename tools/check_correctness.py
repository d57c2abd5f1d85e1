"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given scale factor, then compares row count, column
names, column DTYPES, and an order-insensitive value hash (columns
sorted by name, rows sorted, exact value reprs — no float smoothing).

The comparison happens at the PANDAS level — ``sdf.toPandas()`` vs
duckdb ``rel.df()`` — because that is where the driver compares.
Round 2 proved this matters: the JVM-row compare used here previously
saw ``Decimal('50853905.90')`` on BOTH sides of a DECIMAL output column
and said ALL MATCH, while the driver's pandas bridge saw a Spark
object-dtype Decimal column vs a DuckDB float64 column and failed the
hash (VERDICT.md round 2, "What's wrong" #2). Dtypes and cell reprs are
hashed RAW — any normalization here is a way to green-light a query the
driver will fail.

(ADVICE r3 suggested the inverse: keep DECIMAL outputs on both engine
sides and coerce dtypes only in this checker, preserving its power to
catch decimal precision/scale regressions. That works for THIS script
but not for the driver, whose gate hashes the raw pandas dtypes and
can never match Spark's object-dtype Decimal column against DuckDB's
float64 — so the engine emits final aggregates as double and keeps the
decimal discipline internal, where tests/test_decimal_discipline.py
guards precision/scale instead.)

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
import pandas as pd

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v) -> str:
    """Raw, type-revealing repr of one pandas cell.

    The leading type name is the point: ``Decimal('1.10')`` and
    ``np.float64(1.1)`` must NOT collide, nor ``int`` vs ``np.int64``.
    Only genuine missing values collapse (None/NaN/NaT all print as
    pandas missing on both bridges).
    """
    try:
        if v is None or v is pd.NaT or (isinstance(v, float) and v != v):
            return "␀"
    except Exception:
        pass
    return f"{type(v).__name__}:{v!r}"


#: cell types pandas sort_values/factorize cannot hash — the driver's
#: canonicalizer dies on these (np.ndarray is checked separately).
_UNSORTABLE_CELLS = (list, dict, set, bytearray)


def assert_driver_sortable(df: pd.DataFrame) -> None:
    """Mirror the DRIVER's sort constraint: its canonicalizer sorts the
    result frame with pandas ``sort_values`` over all columns, whose
    hash-based ``factorize`` cannot hash container cells. Round 10's
    ``docs_span_corruption`` crashed the driver with ``TypeError:
    unhashable type: 'list'`` while this replica's joined-repr row sort
    tolerated the list cells and said ALL MATCH (VERDICT r10 #2 — a
    replica-fidelity hole). Any frame carrying such cells must FAIL
    here, before hashing, exactly as it would fail on the driver."""
    import numpy as np

    for c in df.columns:
        if df[c].dtype == object:
            for v in df[c]:
                if isinstance(v, _UNSORTABLE_CELLS) or isinstance(
                    v, np.ndarray
                ):
                    raise TypeError(
                        f"driver-unsortable cell type "
                        f"{type(v).__name__!r} in column {c!r} — the "
                        "driver's pandas sort_values/factorize cannot "
                        "hash it; serialize arrays at the plan boundary "
                        "(functions/text.py:ids_to_str / sql_ids_to_str)"
                    )


def frame_sig(df: pd.DataFrame) -> tuple[str, list[str], int]:
    """(value-hash, [col:dtype...], nrows) of a pandas frame, columns
    sorted by name, rows sorted — mirroring the driver's compare."""
    assert_driver_sortable(df)
    df = df.reindex(sorted(df.columns), axis=1)
    # Two divergences the driver demonstrably tolerates (green rows in
    # CORRECTNESS_r02/r03 across them), canonicalized here and ONLY here:
    # 1. datetime64 unit — Spark's bridge yields [ns], DuckDB's [us];
    #    cell values are pd.Timestamp on both sides, repr unit-free.
    # 2. DATE columns — Spark yields object(datetime.date), DuckDB
    #    yields datetime64 (p3_cast_date is driver-green across this).
    # Everything else (notably Decimal-vs-float64) stays raw — that is
    # the class the driver fails.
    for c in df.columns:
        if df[c].dtype == object:
            nonnull = df[c].dropna()
            if len(nonnull) and all(
                type(v).__name__ == "date" for v in nonnull
            ):
                df[c] = pd.to_datetime(df[c])
    typed_cols = [
        f"{c}:{str(df[c].dtype).replace('[us]', '[ns]')}" for c in df.columns
    ]
    lines = sorted(
        "|".join(norm_cell(v) for v in row)
        for row in df.itertuples(index=False, name=None)
    )
    h = hashlib.sha256(("|".join(typed_cols) + "\n" + "\n".join(lines)).encode())
    return h.hexdigest()[:16], typed_cols, len(df)


def main() -> int:
    import __spark_entry__ as e
    from sfcrimedatapipeline_spark.session import get_spark

    qs, oracles = e.queries(), e.oracle_sql()
    # VERDICT r11 "What's wrong" #1: an unknown name (or stray flag) in
    # ONLY used to silently filter to zero queries and print a vacuous
    # ALL MATCH with exit 0. Unknown names are now a hard error (before
    # Spark even starts), and a zero-query run exits non-zero below.
    unknown = sorted(ONLY - set(qs))
    if unknown:
        print(
            "ERROR: unknown query name(s): "
            + ", ".join(unknown)
            + " — not in __spark_entry__.queries()"
        )
        return 2

    spark = get_spark(app_name="correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    failures = []
    records: dict[str, dict] = {}
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            spark_pdf = sdf.toPandas()
        except Exception as ex:
            failures.append(name)
            records[name] = {"mode": "error", "err": str(ex)[:300]}
            print(f"✗ {name:28s} SPARK ERROR: {ex}")
            continue
        dt = time.time() - t0
        spark.catalog.clearCache()  # drop operator-persisted frames between queries
        try:
            # rows-only results pass through the driver's canonicalizer
            # too — the sortability constraint applies to every query
            assert_driver_sortable(spark_pdf)
        except TypeError as ex:
            failures.append(name)
            records[name] = {"mode": "error", "err": str(ex)[:300]}
            print(f"✗ {name:28s} UNSORTABLE: {ex}")
            continue
        if name not in oracles:
            records[name] = {
                "mode": "rows_only",
                "spark_rows": len(spark_pdf),
                "secs": round(dt, 2),
            }
            print(f"  {name:28s} rows-only: {len(spark_pdf):7d} rows  ({dt:.1f}s)")
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
            assert_driver_sortable(duck_pdf)
        except Exception as ex:
            failures.append(name)
            records[name] = {"mode": "hash", "err": f"oracle: {str(ex)[:300]}"}
            print(f"✗ {name:28s} ORACLE ERROR: {ex}")
            continue
        sh, scols, sn = frame_sig(spark_pdf)
        dh, dcols, dn = frame_sig(duck_pdf)
        ok = sn == dn and scols == dcols and sh == dh
        mark = "✓" if ok else "✗"
        if not ok:
            failures.append(name)
        records[name] = {
            "mode": "hash",
            "rows_match": sn == dn,
            "schema_match": scols == dcols,
            "hash_match": sh == dh,
            "spark_rows": sn,
            "oracle_rows": dn,
            "secs": round(dt, 2),
            "err": None,
        }
        print(
            f"{mark} {name:28s} spark={sn:7d} duck={dn:7d} "
            f"cols={'=' if scols == dcols else f'{scols} vs {dcols}'} "
            f"hash={'=' if sh == dh else f'{sh} vs {dh}'} ({dt:.1f}s)"
        )
        if not ok and sn == dn and scols == dcols:
            # show first differing row pair for debugging
            s_lines = sorted(
                "|".join(norm_cell(v) for v in row)
                for row in spark_pdf.reindex(sorted(spark_pdf.columns), axis=1)
                .itertuples(index=False, name=None)
            )
            d_lines = sorted(
                "|".join(norm_cell(v) for v in row)
                for row in duck_pdf.reindex(sorted(duck_pdf.columns), axis=1)
                .itertuples(index=False, name=None)
            )
            for a, b in zip(s_lines, d_lines):
                if a != b:
                    print(f"    spark: {a}\n    duck : {b}")
                    break
    out_path = os.environ.get("SPARK_GRAFT_CORRECTNESS_OUT")
    if out_path:
        # self-published complete artifact (VERDICT r5 #5: the driver's
        # own record caps at 50 queries) — full per-query map + totals
        n_hash = sum(1 for r in records.values() if r.get("mode") == "hash")
        payload = {
            "sf_dir": SF_DIR,
            "n_queries": len(records),
            "n_hash_gated": n_hash,
            "n_rows_only": sum(
                1 for r in records.values() if r.get("mode") == "rows_only"
            ),
            "n_failures": len(failures),
            "failures": failures,
            "all_match": not failures,
            "queries": records,
        }
        with open(out_path, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
        print(f"wrote {out_path}")
    if not records:
        print("ERROR: zero queries ran — refusing to report a vacuous pass")
        return 2
    print(("FAIL: " + ", ".join(failures)) if failures else "ALL MATCH")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
