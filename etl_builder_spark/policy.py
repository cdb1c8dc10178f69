"""Determinism policy helpers (SURVEY.md §7.2).

The driver hash-compares every declared query's values against DuckDB,
so cross-engine float nondeterminism must be engineered away:

- Every monetary/measure DOUBLE column in the corpus is an exact
  2-decimal value (measured: ``round(x,2) = x`` for all rows of all
  money columns at sf0.01). Casting to DECIMAL(18,2) is therefore
  lossless, decimal arithmetic is exact, and summation is order-free.
- An exact DECIMAL cast to DOUBLE rounds to nearest on both engines →
  bit-identical doubles. So the pattern for aggregates is:
  ``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`` on BOTH sides.
  CAVEAT (measured, round 8): this holds only while the decimal VALUE
  has ≲15 significant digits.  DuckDB's wide-decimal→double cast is
  not correctly rounded (1 ULP off Spark/BigDecimal at 18 digits,
  e.g. DECIMAL(38,4) '22690438304264.0110').  Sums of money stay well
  under the limit; sums of SQUARES do not — keep squared-magnitude
  accumulations in ratio space (round-then-decimal on shares, the
  agg_hhi_concentration pattern) instead of casting a Σx² decimal.
- Averages: decimal-sum → double, divided by the BIGINT count — an
  identical IEEE division on both engines. No rounding needed.
- Genuinely float-accumulating results (correlations over floats,
  cosine similarity, z-scores) are ROUND(x, 6) at the final projection,
  and anything ranked by such a value ranks on the ROUNDED value with a
  unique-key tiebreaker.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,2)"


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def money(c: str | Column) -> Column:
    """Lossless exact cast of a 2-dp money DOUBLE to DECIMAL(18,2)."""
    return _col(c).cast(DEC)


def money_sum(c: str | Column, alias: str) -> Column:
    """Order-free exact sum of a money column, emitted as DOUBLE.

    Oracle twin: ``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)``.
    """
    return F.sum(money(c)).cast("double").alias(alias)


def money_avg(c: str | Column, alias: str) -> Column:
    """Exact-decimal-sum average emitted as DOUBLE.

    Oracle twin: ``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / COUNT(x)``.
    """
    col = _col(c)
    return (F.sum(money(col)).cast("double") / F.count(col)).alias(alias)
