"""Portable cross-engine rounding and exact money sums, each rule
defined once per engine (no other module spells one:
tests/test_rounding.py).

``round(double, n)`` disagrees between engines on half-way binary
values: Spark rounds the exact binary expansion (BigDecimal HALF_UP)
while DuckDB multiplies by 10^n first and rounds that product — e.g.
52298.924999999996 → Spark .92, DuckDB .93.  We standardize on ONE
rule executed identically (same IEEE ops, same order) on both engines:
scale by 10^n, add one half, floor, unscale (:func:`pround`), so value
hashes match bit for bit while |x|·10^n < 2^63 (Spark's floor returns
BIGINT).  Half goes toward +∞: unlike PG ROUND (half away from zero)
on negative half-way values — documented engine-wide choice.

Each rule is a Column (``pround``, ``dsum``, ...) with its DuckDB twin
as SQL text (``*_sql``, operand parenthesized) and, for plans built
with one ``F.expr`` parse, Spark SQL text (``pround_expr``, whose half
is ``0.5D``: Spark SQL reads a bare ``0.5`` as DECIMAL).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def half_up(col: Column) -> Column:
    """floor(x + ½): ``x`` rounded half toward +∞ to a whole number."""
    return F.floor(col + F.lit(0.5))


def half_up_sql(expr: str) -> str:
    """DuckDB twin of :func:`half_up`."""
    return f"floor(({expr}) + 0.5)"


def pround(col: Column, digits: int = 2) -> Column:
    """``col`` rounded half toward +∞ to ``digits`` decimals."""
    scale = 10 ** digits
    return half_up(col * F.lit(scale)) / F.lit(scale)


def pround_expr(expr: str, digits: int = 2) -> str:
    """:func:`pround` as Spark SQL text over the SQL expression ``expr``."""
    scale = 10 ** digits
    return f"floor(({expr}) * {scale} + 0.5D) / {scale}"


def pround_sql(expr: str, digits: int = 2) -> str:
    """DuckDB twin of :func:`pround`."""
    scale = 10 ** digits
    return f"{half_up_sql(f'({expr}) * {scale}')} / {scale}"


# ---------------------------------------------------------------------------
# Exact monetary aggregation.
#
# Summing 2-decimal money as double is ORDER-DEPENDENT: both engines
# produce values a few ulps apart, and because source data is exact
# cents, sums/averages land exactly on .xx5 halfway points where any
# rounding formula flips on 1-ulp noise.  The reference keeps money in
# DECIMAL (init.sql:53-54) — we do the same for aggregation: cast to
# decimal (exact, associative), sum, surface as double.  Deterministic
# on every engine and every partitioning, at any scale.
# ---------------------------------------------------------------------------

def dsum(col: Column, scale: int = 2) -> Column:
    """Exact decimal sum of a fixed-point column, surfaced as double."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def davg(col: Column, scale: int = 2) -> Column:
    """Exact-sum average: decimal sum ÷ non-null count, in double.
    Both engines divide the identical exact operands → identical bits."""
    return dsum(col, scale) / F.count(col)


def dsum_sql(expr: str, scale: int = 2, over: str | None = None) -> str:
    """DuckDB twin of :func:`dsum` (the text also parses as Spark SQL);
    ``over`` is a window spec, for a windowed sum."""
    win = f" OVER ({over})" if over else ""
    return f"CAST(sum(CAST({expr} AS DECIMAL(18,{scale}))){win} AS DOUBLE)"


def davg_sql(expr: str, scale: int = 2) -> str:
    """DuckDB twin of :func:`davg`."""
    return f"({dsum_sql(expr, scale)} / count({expr}))"


# ---------------------------------------------------------------------------
# Scaled-long exact aggregation — the fast path for fixed-point money.
#
# Decimal aggregation is exact but expensive: Spark's Decimal ops run
# outside the primitive-long fast lanes of whole-stage codegen, and a
# decimal sum measured ~3x the cost of the surrounding aggregation
# (sf0.1: product_metrics' revenue sum alone was 0.65 s of a 1.3 s
# query).  For 2-decimal money the same exactness is available in
# primitive space: snap each value to integer cents with the portable
# floor(x*100+0.5) (exact long, identical on both engines), sum as
# BIGINT (exact, associative → partition-order-independent), divide
# once at the end.  The one division is correctly rounded IEEE on both
# engines from identical operands, so the surfaced double is
# bit-identical cross-engine — same determinism guarantee as
# dsum/davg, ~3x cheaper.
#
# Bounds: the bigint sum is exact to 2^63 (9.2e18 cent-units — beyond
# any real revenue); the final long→double conversion rounds above
# 2^53, which is still deterministic cross-engine (both correctly
# round the same integer) — so hashes match at ANY scale, and values
# are semantically exact below 2^53 scaled units (~$90T at cents).
# Keep dsum for decimal-typed columns that must stay decimal.
# ---------------------------------------------------------------------------

def to_scaled_long(col: Column, scale: int = 2) -> Column:
    """``col`` in integer units of 10^-s (half toward +∞) as BIGINT —
    exact fixed-point snap, :func:`pround` in integer space."""
    return half_up(col * F.lit(10 ** scale)).cast("bigint")


def lsum(col: Column, scale: int = 2) -> Column:
    """Exact scaled-long sum of a fixed-point column, surfaced as
    double.  Bit-compatible with :func:`dsum` on 2-decimal inputs
    (verified cell-for-cell in tests), ~3× faster."""
    return (F.sum(to_scaled_long(col, scale))
            / F.lit(float(10 ** scale))).cast("double")


def lavg(col: Column, scale: int = 2) -> Column:
    """Exact-sum average on the scaled-long path (÷ non-null count)."""
    return lsum(col, scale) / F.count(col)


# ---------------------------------------------------------------------------
# Wide (hi/lo split) scaled-long sums — overflow headroom for PRODUCT
# terms.
#
# lsum's single BIGINT sum is exact to 2^63 scaled units, which is
# plenty for scale-2 cents but NOT for product terms: a scale-4 unit
# like cents·(100−disc) is ~1e9 per row (sum wraps at ~9e9 rows per
# group) and a scale-6 unit like cents·(100−disc)·(100+tax) is ~4e10
# per row (wraps at ~2.5e8 rows per group) — a 100 TB lineitem global
# aggregate is ~6e11 rows per group, far past both, and non-ANSI Spark
# sum(long) wraps SILENTLY while the DuckDB twin errors.  lsum_wide
# splits each term t into (t div 1e6, t mod 1e6), sums each half as
# its own exact BIGINT, and recombines in double at the end:
#
#     sum(t) = sum(hi)·1e6 + sum(lo)
#
# Both halves stay primitive longs inside codegen (two fast-lane sums
# instead of one); the NON-OVERFLOW ceiling becomes min(2^63/1e6 rows,
# 2^63·1e6/max_t) per group ≈ 9.2e12 rows for the scale-6 term —
# ~15× the global-group row count of a 100 TB corpus, and 37,000×
# the unsplit ceiling (which ABORTS under ANSI / wraps without).
# Semantic exactness is a separate, smaller bound and is the SAME as
# lsum's: the result is exact while the true total < 2^53 scaled
# units; past that the recombination — two long→double conversions +
# one multiply-add executed identically on both engines from
# identical exact integers — is still deterministic and bit-identical
# cross-engine (hashes always match), but carries double rounding of
# ~1 ulp, so at extreme totals the displayed cents can differ from
# the infinitely-precise sum by a cent.  Overflow-safety, not
# extended exactness, is what the split buys.  Per-row requirement:
# t < 2^53 so the (t−lo)/1e6 double division is exact — any
# fixed-point money product satisfies this by orders of magnitude.
# ---------------------------------------------------------------------------

_WIDE_SPLIT = 1_000_000


def wide_split(term: Column) -> tuple[Column, Column]:
    """The (hi, lo) BIGINT halves of a scaled-long term, to be summed
    separately: term = hi·1e6 + lo."""
    lo = term % F.lit(_WIDE_SPLIT)
    hi = ((term - lo) / F.lit(_WIDE_SPLIT)).cast("long")
    return hi, lo


def wide_total(hi_sum: Column, lo_sum: Column, scale_total: int) -> Column:
    """Recombine summed :func:`wide_split` halves in double, divided by
    10^scale_total.  Sums of partial sums give the same bits: integer
    addition is associative."""
    return ((hi_sum.cast("double") * F.lit(float(_WIDE_SPLIT))
             + lo_sum.cast("double"))
            / F.lit(float(10 ** scale_total)))


def lsum_wide(term: Column, scale_total: int) -> Column:
    """Exact sum of a scaled-long PRODUCT term via hi/lo split BIGINT
    sums, surfaced as double divided by 10^scale_total."""
    hi, lo = wide_split(term)
    return wide_total(F.sum(hi), F.sum(lo), scale_total)


def lsum_wide_sql(term: str, scale_total: int) -> str:
    """DuckDB twin of :func:`lsum_wide` (bit-identical recombination)."""
    t = f"({term})"
    lo = f"({t} % {_WIDE_SPLIT})"
    hi = f"CAST(({t} - {lo}) / {_WIDE_SPLIT} AS BIGINT)"
    return (f"((CAST(sum({hi}) AS DOUBLE) * {float(_WIDE_SPLIT)}"
            f" + CAST(sum({lo}) AS DOUBLE)) / {float(10 ** scale_total)})")


def to_scaled_long_sql(expr: str, scale: int = 2) -> str:
    return f"CAST({half_up_sql(f'({expr}) * {10 ** scale}')} AS BIGINT)"


def lsum_sql(expr: str, scale: int = 2) -> str:
    # CAST AS BIGINT: DuckDB sum(BIGINT) returns HUGEINT (registry
    # convention) — normalize before the double division
    return (f"(CAST(sum({to_scaled_long_sql(expr, scale)}) AS BIGINT)"
            f" / {float(10 ** scale)})")


def lavg_sql(expr: str, scale: int = 2) -> str:
    return f"({lsum_sql(expr, scale)} / count({expr}))"
