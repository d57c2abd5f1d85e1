"""Compare two bench.py JSON outputs and report per-query regressions.

Usage: python tools/bench_diff.py OLD.json NEW.json [threshold_ratio]

Prints queries slower than threshold_ratio (default 1.5×) with ≥0.3 s
absolute growth — the same discipline BASELINE.md records manually:
totals on this host carry ±25% same-code noise, so only per-query
ratios with real absolute deltas are regression signals. Exits 1 if
any regression crosses the bar (CI-friendly).
"""

from __future__ import annotations

import json
import statistics
import sys

#: Environment canaries (VERDICT r9 #2): trivial pure-scan/projection
#: queries untouched since round 1 whose cost is dominated by the
#: parquet scan itself. The median NEW/OLD ratio over these defines
#: the host/VM environment correction factor — round 9 measured a
#: UNIFORM 1.33x cross-VM shift that consumed a verdict cycle; with
#: the correction, a uniform shift produces zero flags while a
#: genuine single-query regression still stands out.
CANARIES = [
    "p1_project_alias",
    "p2_null_default",
    "p3_cast_date",
    "p4_cast_time",
    "p5_in_filter",
    "a1_distinct_2col",
]

#: Distrust the canaries outside this range: a >2.5x "environment"
#: reading is itself a finding (wrong SF dir, broken host), not a
#: correction to silently apply.
FACTOR_CLAMP = (0.4, 2.5)


def load(path: str) -> dict[str, float]:
    """Accept a raw bench.py line, a driver BENCH_r{N}.json wrapper
    (whose per-query map may live in a TRUNCATED "tail" string), or
    any JSON with a "queries" key."""
    import re

    txt = open(path).read()
    i = txt.find('{"metric"')
    if i != -1:
        end = txt.find("\n", i)
        return json.loads(txt[i : end if end != -1 else len(txt)])["queries"]
    try:
        doc = json.loads(txt)
        if isinstance(doc, dict) and isinstance(doc.get("queries"), dict):
            return doc["queries"]
        txt = doc.get("tail", "") if isinstance(doc, dict) else ""
    except json.JSONDecodeError:
        pass
    # last resort: scrape "name": 1.23 pairs out of whatever text remains
    return {
        m.group(1): float(m.group(2))
        for m in re.finditer(r'"([A-Za-z0-9_]+)":\s*([0-9]+\.[0-9]+)', txt)
    }


def env_factor(
    old: dict[str, float],
    new: dict[str, float],
    canaries: list[str] = CANARIES,
    min_n: int = 3,
) -> float:
    """Median NEW/OLD ratio over the shared canaries (``min_n``
    required, else 1.0), clamped to FACTOR_CLAMP. Regression ratios
    are then computed on environment-corrected new readings
    (n / factor)."""
    ratios = [
        new[c] / old[c]
        for c in canaries
        if c in old and c in new and old[c] > 0
    ]
    if len(ratios) < min_n:
        return 1.0
    f = statistics.median(ratios)
    return max(FACTOR_CLAMP[0], min(FACTOR_CLAMP[1], f))


def main() -> int:
    old, new = load(sys.argv[1]), load(sys.argv[2])
    ratio_bar = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    abs_bar = 0.3
    shared = sorted(set(old) & set(new))
    factor = env_factor(old, new)
    print(f"shared queries: {len(shared)}  (old-only {len(set(old)-set(new))}, "
          f"new-only {len(set(new)-set(old))})")
    print(f"overlap totals: {sum(old[q] for q in shared):.1f}s -> "
          f"{sum(new[q] for q in shared):.1f}s")
    print(f"environment factor (canary median NEW/OLD, clamped): "
          f"{factor:.3f} over {sum(1 for c in CANARIES if c in old and c in new)} "
          f"canaries — per-query deltas corrected by it")
    regressions = [
        (n / max(o, 1e-9), q, o, n)
        for q in shared
        for o, n in [(old[q], new[q] / factor)]  # environment-corrected
        if n > o * ratio_bar and n - o >= abs_bar
    ]
    for r, q, o, n in sorted(regressions, reverse=True):
        # print BOTH the measured reading (greppable in the bench
        # artifact) and the environment-corrected one the ratio uses
        print(f"  REGRESSION {q}: {o:.2f}s -> {n * factor:.2f}s raw "
              f"/ {n:.2f}s corrected ({r:.1f}x)")
    # improvements get the SAME correction — under a 0.75x uniformly
    # faster VM nearly everything would read "improved" otherwise
    improvements = [
        (o / max(n, 1e-9), q, o, n_raw, n)
        for q in shared
        for o, n_raw, n in [(old[q], new[q], new[q] / factor)]
        if o > n * ratio_bar and o - n >= abs_bar
    ]
    for r, q, o, n_raw, n in sorted(improvements, reverse=True)[:10]:
        print(f"  improved {q}: {o:.2f}s -> {n_raw:.2f}s raw "
              f"/ {n:.2f}s corrected ({r:.1f}x)")
    return 1 if regressions else 0


if __name__ == "__main__":
    sys.exit(main())
