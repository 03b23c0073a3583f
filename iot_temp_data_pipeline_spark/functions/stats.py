"""Exact fixed-point statistics for fixed-decimal measure columns.

Problem: ``avg``/``stddev`` over doubles are summation-order dependent,
and means of 2-decimal data frequently land EXACTLY on rounding-boundary
halves (sum/count is rational, e.g. 38.36375), so no output rounding can
reconcile Spark with an oracle engine — the 4th-decimal digit genuinely
differs between HALF_UP and float-rounding engines.

Fix: temperatures are decimal(5,2)-validated (quality scores 1-decimal),
so scale to integers and aggregate integers — exact in ANY engine and
ANY order. The mean/stddev are then derived from the exact integer sums
with an identical sequence of double operations on both sides, making
every downstream float (z-scores, spans) bit-identical with the oracle.

This is also the numerically superior choice at 100 TB: integer sums
(decimal(38,0) in Spark, HUGEINT in DuckDB) cannot lose precision where
a 10^12-row double sum drifts; the textbook n·Σx²−(Σx)² form is EXACT
here because it is evaluated in integer arithmetic (no catastrophic
cancellation — that risk only exists in floating point).

The statistics themselves are unchanged: sample stddev, Postgres
``stddev`` ≡ ``stddev_samp`` semantics (NULL when n ≤ 1).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_DEC = "decimal(38,0)"

# Split-accumulator base: per-row quotient/remainder by 1e6, recombined
# in decimal on the FINAL aggregated row only.
_SPLIT = 1_000_000


def _scaled(col: Column, scale: int) -> Column:
    """2-decimal double → exact integer (×100). round() guards the 1-ulp
    error of double multiplication; exact .5 cases cannot occur because
    the scaled value is always within 1 ulp of an integer."""
    return F.round(col * scale).cast("long")


def exact_long_sum(col: Column) -> Column:
    """Exact Σ of a long expression as decimal(38,0) — same value as
    ``F.sum(col.cast("decimal(38,0)"))`` but ~2× faster: Spark decimals
    above precision 18 leave the codegen long fast-path and aggregate
    through BigDecimal per row. Instead, accumulate two LONG sums —
    r = col % 1e6 (remainder, dividend sign in both Spark and DuckDB)
    and q = (col − r)/1e6 (exact: |col| < 2⁵³ so the double division of
    an exactly-divisible value is exact) — and recombine q·1e6 + r in
    decimal once per GROUP, not per row.

    DuckDB oracles need no change: SUM(BIGINT) is HUGEINT-exact and
    equals this decimal bit-for-bit.

    Bounds (documented, checked at call sites): per-row |col| < 2⁵³;
    Σq and Σr must fit int64 — with money-scale rows (|col| ≤ ~10¹³)
    that holds to ~6·10¹¹ rows (100 TB lineitem) per group/partition.
    """
    r = col % _SPLIT
    q = ((col - r) / F.lit(_SPLIT)).cast("long")
    return F.sum(q).cast(_DEC) * _SPLIT + F.sum(r).cast(_DEC)


def exact_avg(col: Column, scale: int = 100) -> Column:
    ti = _scaled(col, scale)
    return (
        exact_long_sum(ti).cast("double") / F.lit(float(scale)) / F.count(col).cast("double")
    )


def exact_stddev(col: Column, scale: int = 100) -> Column:
    ti = _scaled(col, scale)
    n = F.count(col)
    s = exact_long_sum(ti)
    s2 = exact_long_sum(ti * ti)
    num = (n.cast(_DEC) * s2 - s * s).cast("double")
    nd = n.cast("double")
    return F.when(n > 1, F.sqrt(num / (nd * (nd - 1))) / F.lit(float(scale)))


def distinct_count(col: Column | str) -> Column:
    """Exact ``count(DISTINCT col)`` as a one-pass set aggregate: the size
    of ``collect_set`` (NULLs skipped, as count(DISTINCT) skips them),
    cast to long like ``countDistinct``.

    Catalyst rewrites ``countDistinct`` into an ``Expand`` (k+1 copies of
    every row) or a second aggregation level, each with its own shuffle.
    A set aggregate is an ordinary partial/final aggregate instead, so
    the query keeps ONE exchange however many distinct counts it has.

    Bound: one group's whole distinct set is held in one aggregation
    buffer (and shipped in its partial rows). Use it only for dimension
    columns whose per-group cardinality a dimension bounds — devices,
    locations, environment types, load ids, days per device. Row-id-like
    columns keep ``count(DISTINCT)``. The set makes it an
    ObjectHashAggregate, which turns sort-based past
    ``spark.sql.objectHashAggregate.sortBased.fallbackThreshold`` groups
    per task: still exact, one exchange.
    """
    return F.size(F.collect_set(col)).cast("long")


def sql_exact_avg(col: str, scale: int = 100) -> str:
    """DuckDB text equivalent of :func:`exact_avg` (SUM(BIGINT)→HUGEINT is
    automatically exact)."""
    return (
        f"CAST(SUM(CAST(ROUND({col} * {scale}) AS BIGINT)) AS DOUBLE)"
        f" / {scale}.0 / CAST(COUNT({col}) AS DOUBLE)"
    )


def sql_exact_stddev(col: str, scale: int = 100) -> str:
    ti = f"CAST(ROUND({col} * {scale}) AS BIGINT)"
    return (
        f"CASE WHEN COUNT({col}) > 1 THEN "
        f"sqrt(CAST(COUNT({col}) * SUM({ti} * {ti}) - SUM({ti}) * SUM({ti}) AS DOUBLE)"
        f" / (CAST(COUNT({col}) AS DOUBLE) * (CAST(COUNT({col}) AS DOUBLE) - 1)))"
        f" / {scale}.0 END"
    )


def bit_length_col(c: Column) -> Column:
    """floor(log2(x)) + 1 of a positive integer column, via base-2
    string length — the libm-free floor-log2 building block the
    surprisal operators share (exact and engine-portable: DuckDB's
    twin is length(bin(x)); a true log2 would ride libm, whose last
    bits differ across engines)."""
    return F.length(F.conv(c.cast("string"), 10, 2))
