"""Deterministic float aggregation helpers.

Floating-point sums depend on add order, which Spark does not fix across
partitionings — but the correctness gate hash-compares values against a
single-threaded DuckDB oracle. Routing sums through ``decimal`` makes the
aggregation exact (decimal addition is associative), so the result is
bit-identical regardless of parallelism, at both sf0.01 and 100 TB.

The same trick appears in the oracle SQL:
    CAST(SUM(CAST(x AS DECIMAL(30,s))) AS DOUBLE)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: Column | str, scale: int = 4) -> Column:
    """Order-independent sum of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(30,{scale})")).cast("double")


def davg(col: Column | str, scale: int = 4) -> Column:
    """Order-independent mean (exact decimal sum / count), as double."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c, scale) / F.count(c)


def dsum_expr(sql_expr: str, scale: int = 4) -> str:
    """Oracle-side (ANSI SQL) rendering of :func:`dsum`."""
    return f"CAST(SUM(CAST({sql_expr} AS DECIMAL(30,{scale}))) AS DOUBLE)"


def dmoney(col: Column | str, scale: int = 8) -> Column:
    """Order-independent money sum, cents-rounded, cast-exact.

    Sums exact decimals like :func:`dsum`, but rounds the DECIMAL to 2
    places before the double cast. Engines convert decimal→double
    differently (the JVM rounds the exact value once; DuckDB converts
    the unscaled int128 then divides by 10^scale — two roundings), so a
    sum whose unscaled value exceeds 2^53 can differ in the last ulp
    between engines (measured: q1's sum_charge at the 10× fixture,
    2.8e10 at scale 8 → 2.8e18 unscaled). A cents-rounded decimal keeps
    the unscaled value below 2^53 for sums up to ~9×10^13, where BOTH
    conversion paths are exact-then-one-correct-rounding — bit-identical
    everywhere. Use for large-group currency totals; plain dsum remains
    right for bounded-magnitude sums.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(f"decimal(30,{scale})")), 2).cast("double")


def dmoney_expr(sql_expr: str, scale: int = 8) -> str:
    """DuckDB twin of :func:`dmoney`."""
    return f"CAST(ROUND(SUM(CAST({sql_expr} AS DECIMAL(30,{scale}))), 2) AS DOUBLE)"


# ---------------------------------------------------------------------------
# Fast exact-sum variants (optimization round r16, guide §1.2 "per-task work")
#
# The generic dsum/dmoney quantize through decimal(30,s).  A sum whose buffer
# precision exceeds 18 digits leaves Spark's compact-long Decimal
# representation: every aggregate update allocates a BigDecimal — measured
# ~3× the cost of the whole q1 scan at sf0.1 (0.97 s vs 0.17 s with plain
# double sums).  Two exact alternatives below keep bit-identical results:
#
#  * dsum_narrow: when the VALUES provably fit decimal(p,s) with p ≤ 8,
#    Catalyst's DecimalAggregates rule rewrites sum(decimal(p≤8,s)) to a
#    pure LONG sum of UnscaledValue (verified: UnscaledValue appears in the
#    executed plan).  Quantization depends only on the scale, so the summed
#    values are identical to the decimal(30,s) path; the long sum is exact
#    until the group's unscaled sum exceeds the declared decimal(p+10,s) —
#    the same declared-precision contract the wide path has, just with a
#    narrower (documented per call site) headroom.
#
#  * limb_sums/…_from_limbs: for scale-8 money values that need ~14 digits
#    (products like price×(1−discount)), quantize per row into an unscaled
#    long u = value·10^s (exact: the decimal(int_digits+s, s) cast performs
#    the identical HALF_UP quantization as decimal(30,s)), then sum u in two
#    long limbs (lo = u mod 10^6, hi = (u − lo)/10^6).  The exact total
#    U = Σhi·10^6 + Σlo is reconstructed per GROUP, not per row.  Exact
#    while Σhi < 2^63: with |value| < 10^int_digits that is ≳9×10^13 in
#    value units per group — the same domain dmoney already documents
#    (its cents-rounded double is only bit-portable below ~9×10^13).
# ---------------------------------------------------------------------------


def dsum_narrow(col: Column | str, scale: int, int_digits: int) -> Column:
    """Exact order-independent sum as double, via the narrowest decimal.

    Caller asserts |value| < 10^int_digits (a DOMAIN bound, not a fixture
    observation — e.g. a TPC-H quantity ≤ 50, a price < 10^6).  A value
    outside the bound fails the query loudly: under the session's ANSI
    mode the decimal cast raises NUMERIC_VALUE_OUT_OF_RANGE, so the bound
    must hold at every scale.  int_digits + scale ≤ 8 engages the
    long-sum rewrite.
    """
    if int_digits + scale > 8:
        return dsum(col, scale)
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({int_digits + scale},{scale})")).cast("double")


def davg_narrow(col: Column | str, scale: int, int_digits: int) -> Column:
    """Order-independent mean via :func:`dsum_narrow` (exact sum / count)."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum_narrow(c, scale, int_digits) / F.count(c)


_LIMB = 1_000_000  # limb base: lo ∈ [0, 10^6), hi = u div 10^6


def limb_sums(value: Column, name: str, scale: int = 8, int_digits: int = 6) -> list[Column]:
    """Two aggregate columns (`{name}__hi`, `{name}__lo`) that together hold
    the exact decimal(·, scale) sum of ``value`` as long limbs.

    Per row: u = cast(value AS decimal(int_digits+scale, scale)) · 10^scale
    (exact long while int_digits + scale ≤ 18, enforced below), split at
    10^6.  A value outside ±10^int_digits fails the query loudly (the ANSI
    decimal cast raises NUMERIC_VALUE_OUT_OF_RANGE) — int_digits is a
    caller-asserted DOMAIN bound, the same contract :func:`dsum_narrow`
    documents.
    Combine with :func:`sum_from_limbs` / :func:`money_from_limbs`.

    r17 (ADVICE r16): ``hi`` is now true integer division (IntegralDivide —
    truncates toward zero, exactly the old (u − lo)/10^6 split for every
    long u).  The previous form divided through DOUBLE, which is exact only
    for |u| < 2^53 and silently produced a wrong limb for the scale=6 /
    int_digits=12 call sites (timeseries sums) whose u can reach 10^18.
    """
    if scale < 6:
        raise ValueError("limb sums support scale >= 6")
    if int_digits + scale > 18:
        raise ValueError("limb sums are exact only for int_digits + scale <= 18")
    u = (value.cast(f"decimal({int_digits + scale},{scale})") * (10**scale)).cast("long")
    lo = u % _LIMB
    hi = F.call_function("div", u, F.lit(_LIMB))
    return [F.sum(hi).alias(f"{name}__hi"), F.sum(lo).alias(f"{name}__lo")]


def sum_from_limbs(name: str, scale: int = 8) -> Column:
    """Exact double of the limb sum — bit-identical to
    ``CAST(SUM(CAST(x AS DECIMAL(30,scale))) AS DOUBLE)``.

    value = Σhi·10^(6−scale) + Σlo·10^(−scale), assembled through narrow
    decimals (decimal(19,0) × a power-of-ten literal stays well under
    precision 38, so no precision-loss rounding can occur).
    """
    if scale < 6:
        raise ValueError("limb sums support scale >= 6")
    hi_pow = scale - 6
    hi_lit = f"{10**-hi_pow:.{hi_pow}f}" if hi_pow else "1"
    lo_lit = f"{10**-scale:.{scale}f}"
    return F.expr(
        f"CAST(CAST({name}__hi AS DECIMAL(19,0)) * CAST({hi_lit} AS DECIMAL({max(hi_pow, 1)},{hi_pow}))"
        f" + CAST({name}__lo AS DECIMAL(19,0)) * CAST({lo_lit} AS DECIMAL({scale},{scale}))"
        f" AS DOUBLE)"
    )


def money_from_limbs(name: str) -> Column:
    """Cents-rounded double of a scale-8 limb sum — bit-identical to
    :func:`dmoney` for NON-NEGATIVE values (all money columns here).

    HALF_UP at 2 decimals over the exact unscaled total U = Σhi·10^6 + Σlo:
    cents = (U + 5·10^5) div 10^6 = Σhi + (Σlo + 5·10^5) div 10^6 — pure
    long arithmetic (the Σhi·10^6 term is exactly divisible, so the carry
    folds into the lo limb).  The final ×0.01 builds the same decimal(·,2)
    value dmoney rounds to, hence the same double.
    """
    cents = F.expr(f"{name}__hi + ({name}__lo + 500000) div 1000000")
    return (cents.cast("decimal(19,0)") * F.expr("CAST(0.01 AS DECIMAL(2,2))")).cast("double")
