"""Deterministic numeric aggregation helpers.

Group-by sums of doubles are summation-order-dependent (Spark's parallel
partial aggregation vs any single-threaded engine), so a `round(sum(x), 2)`
on doubles can land on opposite sides of a rounding boundary. The engine's
policy: cast the per-row value to DECIMAL first (exact — the inputs are
2-decimal monetary values whose products have ≤4 exact decimals), sum
exactly, round in decimal space, and cast back to double. This makes every
aggregate bit-identical regardless of partitioning, parallelism, or engine —
the property that actually matters on a 1000-executor cluster.

Window *prefix* sums (running totals) are evaluated in frame order by every
engine, so they stay plain doubles.

The reference's numeric story is `float()` casts on strings with
reject-on-invalid (`02_filter_by_CIN.py:233-243`); the engine writes that
as `try_cast(x AS DOUBLE)` at the point of use.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(expr: Column, scale: int = 2) -> Column:
    """Order-independent double sum: decimal-exact accumulate, then round."""
    return (
        F.round(F.sum(expr.cast("decimal(18,6)")), scale)
        .cast("double")
    )


def davg(expr: Column) -> Column:
    """Order-independent double average: exact decimal sum ÷ count."""
    return F.round(
        F.sum(expr.cast("decimal(18,4)")).cast("double") / F.count("*"), 6
    )

