"""Deterministic cross-engine summation of real-valued terms.

Floating-point SUM is order-dependent, and Spark's partial-aggregation
order never matches DuckDB's — so a gated query may not hash a raw
``sum(double)`` (the repo's exact-integer discipline exists for this
reason). Real-valued TERMS are only gate-safe when their values are
themselves engine-identical: built-in ``ln``/``exp`` are NOT (measured
last-ulp divergence on ~1% of arguments — see functions/detmath.py,
which provides the deterministic sqrt-chain log consumers pair with
this module).

This module solves the summation half with Q*.40 fixed
point: ``floor(term * 2^40)`` is IEEE-exact (a power-of-two multiply
only shifts the exponent; floor and the decimal cast are exact), so
the per-term integers are bit-identical across engines and their
DECIMAL(38,0) sum is exact and order-free. The final statistic is one
double division of exact operands — deterministic everywhere.

Quantization granularity is 2^-40 ≈ 9e-13 per term (floor-biased,
documented in each consumer); for the information-theoretic statistics
built on it (cross-entropy, KL, entropy rate, log-log OLS) that is far
below any decision threshold. Both builders below derive from the same
constant so the Spark and DuckDB sides cannot drift.

At 100 TB this is all Catalyst built-ins inside whole-stage codegen —
no UDF, no extra shuffle beyond the aggregation itself.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: 2^40 — the fixed-point scale. Power of two, so ``x * FX_SCALE`` is
#: exact for any double with magnitude < ~1.6e268 (no mantissa change).
#: Headroom check: terms up to 1e6 quantize to ~1.1e18; a DECIMAL(38,0)
#: sum holds 1e20 such terms before overflow — far past 100 TB rows.
FX_BITS = 40
FX_SCALE = float(1 << FX_BITS)  # 1099511627776.0


def fx(term: Column) -> Column:
    """Spark side: one real-valued term → exact DECIMAL(38,0) fixed point."""
    return F.floor(term * F.lit(FX_SCALE)).cast("decimal(38,0)")


def fx_int64(terms, axis: int):
    """numpy side: ``floor(terms · 2^40)`` as int64, for vectorized
    passes that add the quantized terms in int64 along ``axis``. Raises
    ``OverflowError`` when a term, or the sum of the terms along
    ``axis``, could wrap int64 (checked in float64 against 2^62, a
    factor-2 margin for its rounding), instead of returning values
    whose sums wrap silently."""
    import numpy as np

    q = np.floor(terms * FX_SCALE)
    if q.size and np.abs(q).sum(axis=axis).max() >= 2.0**62:
        raise OverflowError(
            "fixed-point sums would overflow int64: terms up to "
            f"{np.abs(terms).max():.3g} are too large for the 2^40 scale"
        )
    return q.astype(np.int64)


def fx_sum(term: Column) -> Column:
    """Exact, order-free aggregate of ``fx(term)`` — still DECIMAL(38,0)."""
    return F.sum(fx(term))


def unfx(total: Column) -> Column:
    """Exact fixed-point total → double (one deterministic division)."""
    return total.cast("double") / F.lit(FX_SCALE)


def sql_fx(term_expr: str) -> str:
    """DuckDB side of :func:`fx` — same formula, same constant."""
    return f"CAST(floor(({term_expr}) * {FX_SCALE!r}) AS DECIMAL(38,0))"


def sql_unfx(total_expr: str) -> str:
    """DuckDB side of :func:`unfx`."""
    return f"(CAST({total_expr} AS DOUBLE) / {FX_SCALE!r})"
