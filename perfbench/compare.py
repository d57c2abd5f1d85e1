"""Compare two benchmark artifacts written by ``run.py``.

    python3 perfbench/compare.py .perfbench/artifacts/A.json .perfbench/artifacts/B.json

Refuses (exit code 2) when the two runs differ in workload, cpus, input
rows or corpus copies: their numbers do not measure the same thing.
Otherwise prints every metric both artifacts carry, B relative to A.
When exactly one of the two was traced, it also prints the tracing
overhead: traced minus untraced median operation time, with the host's
steal taken out as in ``run.py``.
"""

from __future__ import annotations

import json
import statistics
import sys

MUST_MATCH = ("workload", "cpus", "rows", "copies")


def compare(a: dict, b: dict) -> list[str]:
    """Report lines; raises ValueError when the runs are not comparable."""
    diff = [k for k in MUST_MATCH if a["meta"].get(k) != b["meta"].get(k)]
    if diff:
        raise ValueError(
            "not comparable, they differ in "
            + ", ".join(f"{k} ({a['meta'].get(k)} vs {b['meta'].get(k)})" for k in diff)
        )
    lines = [f"A {a['meta']['revision']} seed {a['meta']['seed']}  vs  B {b['meta']['revision']} seed {b['meta']['seed']}"]
    for section in ("end_to_end", "per_layer"):
        for name, va in a.get(section, {}).items():
            vb = b.get(section, {}).get(name)
            if vb is None:
                continue
            ratio = f"{vb / va:.3f}x" if va else "-"
            lines.append(f"{name:45s} {va:14.6g} {vb:14.6g}  {ratio}")
    if a["meta"]["trace"] != b["meta"]["trace"]:
        traced, plain = (a, b) if a["meta"]["trace"] else (b, a)
        overhead = statistics.median(o["undisturbed_s"] for o in traced["ops"]["traced"]) - statistics.median(
            o["undisturbed_s"] for o in plain["ops"]["untraced"]
        )
        lines.append(f"{'tracing overhead (traced - untraced op)':45s} {overhead:14.6g} s")
    return lines


def _load(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (_load(p) for p in argv)
    try:
        print("\n".join(compare(a, b)))
    except ValueError as e:
        print(f"compare: {e}", file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
