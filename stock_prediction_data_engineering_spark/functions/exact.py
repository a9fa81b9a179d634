"""Exact (engine-portable) floating-point aggregation.

Double-precision SUM/AVG depend on accumulation order, which differs
between engines and between runs (shuffle order). The testdata's
monetary/quantity columns carry at most 2 decimal places, so casting
to DECIMAL(18,4) is lossless; a decimal sum is exact and therefore
order-independent and bit-identical across Spark and the DuckDB
oracle. The final cast back to double is a single deterministic
conversion.

At 100 TB this costs nothing extra: Spark's decimal hash-aggregate is
still a map-side partial + final reduce, codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,4)"


def dsum(col: str | Column) -> Column:
    """Order-independent SUM of a <=4-decimal-place double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def davg(col: str | Column) -> Column:
    """Order-independent AVG: exact decimal sum / count, one double div."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double") / F.count(c)
