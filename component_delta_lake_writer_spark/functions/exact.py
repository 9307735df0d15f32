"""Exact fixed-point arithmetic: the one owner of Spark's decimal rules.

Determinism contract. A floating-point sum depends on the order its
terms arrive in, so a double aggregate can differ in the last bits
between two partition layouts of the same data. Every operator that
must be hash-stable across layouts instead rounds each term to ``k``
decimal digits, sums the fixed-point terms exactly as DECIMAL, and
casts the total to double only at the end. The total is then a pure
function of the multiset of rounded terms.

The functions take a column and a scale, never a precision: this
module picks every width so each result is exact under Spark's
``DecimalPrecision`` rules (ANSI mode):

* Rounding. Casting a number to ``decimal(p, k)`` rounds HALF_UP to
  ``k`` digits (a double is read through its shortest decimal
  representation). If the rounded value needs more than ``p - k``
  integer digits, ANSI mode raises an overflow error for that row.
* Sums. ``sum(decimal(p, k))`` is typed ``decimal(min(38, p + 10), k)``
  and raises on overflow. Only an input of ``p <= 8`` makes Spark
  accumulate in a long; every input here is wider, so the aggregation
  algorithm is the same for all of them.
* Products. ``decimal(p1, k1) * decimal(p2, k2)`` is typed
  ``decimal(p1 + p2 + 1, k1 + k2)``. Above 38 digits Spark keeps the
  integer digits and cuts the scale to ``max(38 - int_digits,
  min(k1 + k2, 6))`` (``allowPrecisionLoss``), so an exact product
  needs ``p1 + p2 + 1 <= 38``: the operands are ``decimal(19, k)`` and
  ``decimal(18, k)`` and the product ``decimal(38, 2k)``. (19 × 19
  would cut the scale; the DuckDB oracles spell the same mix because
  18 × 18 stays int64-backed there and overflows.)
* Quotients. ``decimal(p1, k1) / decimal(p2, k2)`` has scale
  ``max(6, k1 + p2 + 1)`` and integer digits ``p1 - k1 + k2``, cut the
  same way above 38 digits. A dividend of ``decimal(38 - k, k)`` over
  a divisor of ``decimal(38, k)`` leaves ``38 - k`` integer digits and
  so a scale of ``max(k, 6)``: the quotient of the rounded operands
  rounds HALF_UP straight to ``k`` digits (for ``k >= 6``).
* Integer products. A whole number is lifted to ``decimal(38, 0)``;
  multiplying it by a long (``decimal(20, 0)``) keeps ``decimal(38, 0)``
  with scale 0 and nothing cut, so sums of long products cannot wrap
  around as int64 would.
* Persisted sums. A running sum stored in a table keeps the type
  ``decimal(28, k)``: the sum type of an 18-digit term, so tables
  written before this module keep reading and merging.

Values therefore round to ``decimal(38, k)`` and overflow only past
``10**(38 - k)``. Product operands overflow past ``10**(19 - k)`` and
``10**(18 - k)``, a dividend past ``10**(38 - 2k)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

#: Spark's maximum decimal precision.
_MAX = 38
#: Precision of a persisted running sum.
_ACCUMULATOR = 28
#: Product operand widths: 19 + 18 + 1 = 38, the widest exact product.
_LEFT, _RIGHT = 19, 18


def _col(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


def quantize(x: Column | str, k: int) -> Column:
    """``x`` rounded HALF_UP to ``k`` decimal digits, as a fixed-point
    value; scale 0 gives an exact integer that long arithmetic
    multiplies without wrapping around."""
    return _col(x).cast(DecimalType(_MAX, k))


def exact_sum(x: Column | str, k: int) -> Column:
    """Exact sum of ``x`` rounded per row to ``k`` digits."""
    return F.sum(quantize(x, k))


def exact_sum_product(x: Column | str, y: Column | str, k: int) -> Column:
    """Exact sum of ``x * y`` with both rounded per row to ``k``
    digits: second moments (``x = y``) and co-moments, at scale
    ``2k``; at scale 0 the integer sum of long products."""
    return F.sum(
        _col(x).cast(DecimalType(_LEFT, k)) * _col(y).cast(DecimalType(_RIGHT, k))
    )


def ratio(x: Column | str, y: Column | str, k: int) -> Column:
    """``x / y`` with both rounded per row to ``k`` digits, rounded to
    ``k`` digits."""
    return quantize(
        _col(x).cast(DecimalType(_MAX - k, k)) / quantize(y, k), k
    )


def accumulator(x: Column | str, k: int) -> Column:
    """``x`` as a persisted running sum at scale ``k``,
    ``decimal(28, k)``; raises if it needs more than ``28 - k``
    integer digits."""
    return _col(x).cast(DecimalType(_ACCUMULATOR, k))
