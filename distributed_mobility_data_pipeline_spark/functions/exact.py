"""Exact (order-insensitive) arithmetic and grouped pair generation.

Summing doubles is non-associative, so a distributed sum's last bits
depend on partitioning — a different answer every run and a guaranteed
hash mismatch against any single-threaded oracle. The fix is to
accumulate in DECIMAL (exact, associative) and surface the result as
double. Source measures here carry ≤6 decimal digits, so the
double→decimal(18,6) cast is lossless; at 100 TB the decimal sum fits
decimal(38,12) with ~1e26 of headroom.

The same idiom appears in the DuckDB oracle SQL
(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE)) so both engines produce
bit-identical doubles with no rounding anywhere. Every decimal type
the package uses is named here, so the policy lives in one module.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,6)"  # ≤6-digit source measures, lifted losslessly
DEC_TOTAL = "decimal(28,6)"  # totals of measures: headroom to 1e22
DEC_ROUND = "decimal(28,8)"  # double terms (ln, PSI, errors) past libm ULP noise
DEC_FRAC = "decimal(28,12)"  # fractions: 1/n credit shares, dot products
DEC_PRODUCT = "decimal(37,12)"  # literal at discounted_price()'s scale
DEC_BIGINT = "decimal(19,0)"  # any bigint, exactly; a product fits 38 digits
DEC_INT = "decimal(38,0)"  # integer sums (digests) exact up to 1e38


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dec(c: Column | str) -> Column:
    """Lossless lift of a ≤6-decimal measure into exact decimal."""
    return _col(c).cast(DEC)


def exact_sum(c: Column | str) -> Column:
    """Order-insensitive sum surfaced as double."""
    return F.sum(dec(c)).cast("double")


def exact_avg(c: Column | str) -> Column:
    """Order-insensitive mean: exact decimal sum, one IEEE division."""
    return exact_sum(c) / F.count(_col(c))


def discounted_price() -> Column:
    """``l_extendedprice × (1 − l_discount)`` as an exact decimal
    product (a 2-decimal price × 4-decimal discount has ≤6 decimals)."""
    return dec("l_extendedprice") * (F.lit(1).cast(DEC) - dec("l_discount"))


def rounded(c: Column | str) -> Column:
    """A transcendental result rounded at ``DEC_ROUND``, as double."""
    return _col(c).cast(DEC_ROUND).cast("double")


def rounded_sum(c: Column | str) -> Column:
    """Order-insensitive sum of terms rounded at ``DEC_ROUND``."""
    return F.sum(_col(c).cast(DEC_ROUND)).cast("double")


def sorted_pairs(ds: Column | str) -> Column:
    """The C(d, 2) ``struct<doc_a, doc_b>`` pairs (doc_a < doc_b) of a
    sorted, duplicate-free array, emitted in-array and map-side instead
    of through a self-join on the group key. Quadratic in d: callers
    bound d or accept the hot-group cost."""
    return F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + 2, F.size(ds)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
