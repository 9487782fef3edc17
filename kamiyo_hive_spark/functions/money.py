"""Exact-decimal helpers for monetary / fixed-point math.

The reference does all token math in integer basis points and
fixed-decimal units (kamiyo-hive `lib/governance.ts:316`,
`packages/hive-sdk/src/swarmteams/burn.ts:65-72`, 6-decimal token units
`swarm-types.ts:409`). We mirror that discipline on Spark: every sum of
exact-decimal values (prices, balances, rates) runs either in a
``DecimalType`` accumulator or in integer sub-units, so it is exact and
therefore independent of partitioning and execution order — a
prerequisite both for DuckDB-oracle hash parity and for reproducible
results on a 1000-executor cluster where partial-aggregate order is
nondeterministic.

Final outputs are doubles. An integer-unit total becomes one in exactly
one place, :func:`finish_units`; a decimal total through
``CAST(... AS DOUBLE)``. Both round the exact value once, so they give
the same IEEE-754 value everywhere.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

# Precisions are deliberately small (money: 12 integer digits, rates:
# 2 fraction digits) so chained products stay within DECIMAL(38) in
# both Spark and DuckDB without precision-loss rounding.
MONEY = "decimal(14,2)"
RATE = "decimal(4,2)"


def dec(col: str | Column, typ: str = MONEY) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(typ)


def one_minus(col: str | Column) -> Column:
    """(1 - rate) as an exact decimal."""
    return F.lit(1).cast(RATE) - dec(col, RATE)


def one_plus(col: str | Column) -> Column:
    """(1 + rate) as an exact decimal."""
    return F.lit(1).cast(RATE) + dec(col, RATE)


def money_sum(expr: Column) -> Column:
    """Exact sum of a decimal expression in a decimal accumulator,
    exposed as double. Slower than :func:`exact_sum` (a ``sum`` over
    ``decimal(p,s)`` widens its buffer past the compact-long
    representation), but that buffer holds totals far past 2^63 units."""
    return F.sum(expr).cast("double")


def cents(col: str | Column, scale: int = 2) -> Column:
    """Exact integer sub-units (cents at scale 2, basis points at 4) of
    an exact-decimal double column — the reference's integer-basis-point
    discipline applied at the scan: one double multiply + round + cast
    in codegen, no per-row Decimal allocation. Exactness argument: the
    column contract (TESTDATA.md) is exact scale-``scale`` decimals, so
    ``x * 10^s`` lands within one ulp of an integer and never near a
    rounding boundary; ``round`` recovers the exact sub-unit count —
    identical to ``CAST(x AS DECIMAL(14,s)) * 10^s``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * (10**scale)).cast("long")


def rev_units(price: str | Column = "l_extendedprice",
              disc: str | Column = "l_discount") -> Column:
    """Scale-4 integer sub-units of the revenue expression
    ``price * (1 - disc)``: ``cents(price) * (100 - cents(disc))`` —
    pure long arithmetic in codegen, replacing the decimal(14,2) ×
    decimal(4,2) product whose interpreted decimal multiply+accumulate
    dominated the revenue aggregations. Exactness: both factors are
    exact integers (see :func:`cents`), so the product is the exact
    scale-4 integral value of the decimal product."""
    return cents(price) * (F.lit(100).cast("long") - cents(disc))


def finish_units(total: str | Column, scale: int) -> Column:
    """The one place a long total of scale-``scale`` integer units
    becomes a double: through ``decimal(38,0)``, times the exact decimal
    ``10^-scale``, then one decimal→double cast, which rounds correctly.
    The result is the double nearest the exact value for every long —
    the same double ``CAST(decimal_sum AS DOUBLE)`` gives. Dividing the
    long by ``10^s`` in doubles would round twice past 2^53 and drift
    by an ulp. A NULL total (empty or all-NULL group) stays NULL."""
    c = F.col(total) if isinstance(total, str) else total
    return (c.cast("decimal(38,0)") * F.lit(Decimal(1).scaleb(-scale))).cast("double")


def exact_sum(units: str | Column, scale: int) -> Column:
    """Exact SUM of scale-``scale`` integer units, as double.

    The sum runs on Spark's long codegen path instead of a decimal
    accumulator (``sum(decimal(p,2))`` widens its buffer to
    ``decimal(p+10,2)``, which leaves the compact-long representation —
    measured 3-4x slower per aggregate at sf0.1). Long addition is
    order-independent, so partial sums may be carried and re-summed
    (two-tier rollups, salted merges) as long as only
    :func:`finish_units` turns them into doubles.

    Contract: exact for any group total below 2^63 units; a total past
    it raises ARITHMETIC_OVERFLOW (``session.py`` pins ANSI mode) and
    never wraps."""
    return finish_units(F.sum(units), scale)


def rev_sum(price: str | Column = "l_extendedprice",
            disc: str | Column = "l_discount") -> Column:
    """Exact SUM(price*(1-disc)) as double via :func:`rev_units`."""
    return exact_sum(rev_units(price, disc), 4)


def money_sum_col(col: str | Column, scale: int = 2) -> Column:
    """Exact sum of a PLAIN money/rate column via :func:`cents`."""
    return exact_sum(cents(col, scale), scale)
