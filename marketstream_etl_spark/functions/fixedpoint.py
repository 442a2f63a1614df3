"""The one fixed-point quantizer: the quantum and the rounding rule.

A double sum depends on the order its partials are merged in, and Spark
merges per-partition partials in whatever order the tasks finish.  Every
order-independent sum in the package therefore quantizes each value to a
BIGINT first — round half up, ``floor(x·scale + 0.5)`` — and sums
integers, whose addition is associative and commutative.  The DuckDB
oracles spell the same expression, so both engines see bit-identical
doubles.

``FX`` is the package-wide quantum (1e-6).  Other scales are passed as the
``scale`` argument: cents ×100, text/changepoint/HLL ×1e4, entropy ×1e9,
the 1e12 variance sum.  A site whose operation order differs from
``half_up(x · scale)`` (multiplying in the middle, dividing by a count
before the quantum) calls ``half_up`` with ``float(FX)`` in its own order:
re-associating it could flip a bit at a rounding boundary.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

FX = 1_000_000  # 1e-6 fixed-point quantum (the repo-wide exact-sum scale)


def half_up(x: Column) -> Column:
    """Round a double column half up to BIGINT: ``floor(x + 0.5)``."""
    return F.floor(x + F.lit(0.5)).cast("long")


def half_up_np(x: np.ndarray) -> np.ndarray:
    """``half_up`` inside an Arrow kernel: float64 out, so a NaN survives
    for the caller's null mask."""
    return np.floor(x + 0.5)


def to_fx(x: Column, scale: int = FX) -> Column:
    """Quantize a double column to BIGINT fixed point at `scale`."""
    return half_up(x * F.lit(float(scale)))


def from_fx(c: Column, scale: int = FX) -> Column:
    """A BIGINT fixed-point column back to double."""
    return c.cast("double") / F.lit(float(scale))


def favg_fx(col: Column) -> Column:
    """Order-independent mean of a double column.

    Quantize each value to BIGINT fixed point (round-half-up), sum
    exactly, then divide once in double space.  The plain ``F.avg`` it
    replaces merges per-partition double partial sums in nondeterministic
    order, which can flip the last decimal at a ``round()`` boundary once
    the input is multi-partition (the r8 spread of the embedding scan made
    it so).  The DuckDB oracles call ``avg_fx_sql``, the identical
    expression.
    """
    n = F.count(F.lit(1))
    return F.sum(to_fx(col)).cast("double") / n / F.lit(float(FX))


def fsum_fx(col: Column, scale: int = FX) -> Column:
    """Order-independent sum of a double column (see favg_fx)."""
    return from_fx(F.sum(to_fx(col, scale)), scale)


def avg_fx_sql(expr: str) -> str:
    """DuckDB twin of favg_fx — identical op order, identical doubles."""
    return (
        f"CAST(sum(CAST(floor(({expr}) * {FX} + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / count(*) / {FX}"
    )


def sum_fx_sql(expr: str, scale: int = FX) -> str:
    """DuckDB twin of fsum_fx."""
    return (
        f"CAST(sum(CAST(floor(({expr}) * {scale} + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / {scale}"
    )
