"""Whole-stage-codegen compile audit (VERDICT r11 #1 / "What's wrong"
#3): a generated-code compile failure (Janino) makes Spark silently
fall back to INTERPRETED execution — correctness is unaffected, but an
expression-heavy query quietly loses its 3-5× codegen speedup, which
is precisely the class `tools/plan_audit.py`'s static explain sweep
cannot see (the plan LOOKS perfect; only execution compiles the code).

This audit EXECUTES every query with ``spark.sql.codegen.fallback=
false``, which turns the silent fallback into a hard error
(WholeStageCodegenExec.doExecute only swallows the Janino exception
when that conf is true), and records per-query compile status. A
failure row carries the error head so the offending expression can be
restructured (intermediate columns / split stages) or the fallback
whitelisted with a measured interpreted-vs-codegen cost.

Results go to CODEGEN_AUDIT.json (override with
SPARK_GRAFT_CODEGEN_OUT). Default SF is sf0.1 — the bench SF where the
r11 driver tail surfaced the Janino stack; codegen'd code depends on
the PLAN (schema + expressions + join strategies), and AQE can pick
different physical operators at different SFs, so audit at the SF you
bench at.

Out of scope: the huge-method fallback (maxMethodCodeSize >
spark.sql.codegen.hugeMethodLimit falls back to interpreted without
consulting the fallback conf). That path logs at INFO and triggers on
65 KB generated methods — none of this repo's plans approach it.

Usage: python tools/codegen_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
ONLY = set(sys.argv[2:])


def main() -> int:
    import __spark_entry__ as e
    from sfcrimedatapipeline_spark.session import get_spark

    qs = e.queries()
    unknown = sorted(ONLY - set(qs))
    if unknown:
        print("ERROR: unknown query name(s): " + ", ".join(unknown))
        return 2

    spark = get_spark(app_name="codegen-audit")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.codegen.fallback", "false")

    failures: dict[str, str] = {}
    n_ran = 0
    t_start = time.time()
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            # noop sink: materializes (and therefore COMPILES) every
            # stage executor-side with zero driver transfer
            fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
            status = "ok"
        except Exception as ex:
            msg = str(ex)
            kind = (
                "codegen-compile"
                if "janino" in msg.lower() or "compil" in msg.lower()
                else "other-error"
            )
            failures[name] = f"{kind}: {msg[:400]}"
            status = kind
        n_ran += 1
        spark.catalog.clearCache()
        print(f"{'✓' if status == 'ok' else '✗'} {name:32s} "
              f"{status} ({time.time() - t0:.1f}s)")
    if n_ran == 0:
        print("ERROR: zero queries ran")
        return 2
    out_path = os.environ.get(
        "SPARK_GRAFT_CODEGEN_OUT", os.path.join(REPO, "CODEGEN_AUDIT.json")
    )
    payload = {
        "sf_dir": SF_DIR,
        "n_queries": n_ran,
        "n_failures": len(failures),
        "failures": failures,
        "all_compiled": not failures,
        "method": (
            "every queries() entry executed to a noop sink under "
            "spark.sql.codegen.fallback=false — a Janino compile "
            "failure that silently falls back to interpreted in "
            "production raises here instead"
        ),
        "secs": round(time.time() - t_start, 1),
    }
    with open(out_path, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    print(f"wrote {out_path}")
    print("ALL COMPILED" if not failures
          else "FALLBACKS: " + ", ".join(sorted(failures)))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
