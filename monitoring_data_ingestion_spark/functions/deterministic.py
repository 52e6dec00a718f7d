"""Deterministic float aggregation: one exact-sum API.

Floating-point sums depend on add order, which Spark does not fix across
partitionings — but the correctness gate hash-compares values against a
single-threaded DuckDB oracle. Routing sums through ``decimal`` makes the
aggregation exact (decimal addition is associative), so the result is
bit-identical regardless of parallelism, at both sf0.01 and 100 TB.

:func:`exact_sum` is the Spark side and :func:`exact_sum_sql` the oracle
side; both quantize each row HALF_UP to ``scale`` decimals and return the
double of the exact total.

Representation rule — picked from the declared domain alone
(``|value| < 10^int_digits``), never from the data:

* ``int_digits is None`` → ``sum(decimal(30,s))``. No domain is asserted;
  the decimal(38,s) sum buffer is exact up to 10^(38−s) per group.
* ``int_digits + scale ≤ 8`` → ``sum(decimal(int_digits+s, s))``. Catalyst's
  DecimalAggregates rule rewrites it to a long sum of UnscaledValue, exact
  up to 10^(int_digits+10) per group (the rule's decimal(p+10,s) result).
* ``scale ≥ 6`` and ``int_digits + scale ≤ 18`` → two long limbs. Per row
  the unscaled long u = value·10^s splits into lo = u mod 10^6 and
  hi = u div 10^6; the group total Σhi·10^6 + Σlo is reassembled once per
  group, inside the same aggregate column. Exact while |Σhi| < 2^63, i.e.
  up to ~9×10^(24−s) per group; past it the long sum fails under ANSI
  mode.
* otherwise → ``sum(decimal(int_digits+s, s))``, exact up to
  10^(min(int_digits+10, 38−s)) per group.

Every declared domain is enforced by the per-row cast: under the
session's ANSI mode a value outside ±10^int_digits raises
NUMERIC_VALUE_OUT_OF_RANGE instead of leaving the sum. Domains are
signed: negative values are exact in every representation.

One finish step for all: ``cents=True`` rounds the exact decimal total
HALF_UP (away from zero, as DuckDB's ROUND) to 2 places, then the result
casts to double. Engines convert decimal→double differently (the JVM
rounds the exact value once; DuckDB converts the unscaled int128 then
divides by 10^scale), so a total whose unscaled value exceeds 2^53 can
differ in the last ulp; a cents-rounded total stays below 2^53 up to
~9×10^13, where both conversions are exact-then-one-rounding. Use
``cents=True`` for large-group currency totals.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, WindowSpec
from pyspark.sql import functions as F

_LIMB = 1_000_000  # limb base: lo = u mod 10^6, hi = u div 10^6


def _representation(scale: int, int_digits: int | None) -> str:
    if int_digits is None:
        return "wide"
    if int_digits + scale <= 8:
        return "narrow"
    if scale >= 6 and int_digits + scale <= 18:
        return "limbs"
    return "bounded"


def exact_sum(
    col: Column | str,
    scale: int,
    int_digits: int | None = None,
    *,
    cents: bool = False,
    over: WindowSpec | None = None,
) -> Column:
    """Order-independent sum of ``col`` quantized to ``scale`` decimals, as
    double; ``int_digits`` declares the domain |value| < 10^int_digits and
    picks the representation (module docstring). ``over`` windows the
    inner aggregate(s). A mean is ``exact_sum(c, s) / F.count(c)``."""
    c = F.col(col) if isinstance(col, str) else col
    kind = _representation(scale, int_digits)
    precision = 30 if kind == "wide" else int_digits + scale
    per_row = c.cast(f"decimal({precision},{scale})")

    def agg(x: Column) -> Column:
        return F.sum(x) if over is None else F.sum(x).over(over)

    if kind == "limbs":
        u = (per_row * (10**scale)).cast("long")
        hi = agg(F.call_function("div", u, F.lit(_LIMB))).cast("decimal(19,0)")
        lo = agg(u % _LIMB).cast("decimal(19,0)")
        total = hi * F.lit(Decimal(1).scaleb(6 - scale)) + lo * F.lit(Decimal(1).scaleb(-scale))
    else:
        total = agg(per_row)
    if cents:
        total = F.round(total, 2)
    return total.cast("double")


def exact_sum_sql(expr: str, scale: int, *, cents: bool = False) -> str:
    """Oracle-side (DuckDB) twin of :func:`exact_sum`: the decimal(30,s)
    sum with the same finish step."""
    total = f"SUM(CAST({expr} AS DECIMAL(30,{scale})))"
    if cents:
        total = f"ROUND({total}, 2)"
    return f"CAST({total} AS DOUBLE)"
