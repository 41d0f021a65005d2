"""Exact (summation-order-independent) aggregation helpers.

``SUM(double)`` depends on accumulation order, which differs between Spark
and DuckDB and across partition counts — poison for a value-hash gate, and
nondeterministic run-to-run on a real cluster.

The scheme: quantize each addend to integer units via ``FLOOR(x * 10^scale)``
(IEEE multiply + floor of the *same* input double is bit-identical in every
engine — unlike half-up/half-even decimal rounding, which provably diverges
between Spark and DuckDB on the exact decimal ties this fixture data is full
of), sum the integers exactly in a DECIMAL accumulator, and divide back once
at the end. Results are bit-stable at any parallelism — at 100 TB the answer
does not change when AQE re-plans the shuffle — and the DECIMAL(28,0)
accumulator gives ~10^28 headroom before overflow.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def dsum(c: Column | str, scale: int = 4) -> Column:
    """Order-independent sum of a double column at fixed scale, as double."""
    quantized = F.floor(_col(c) * F.lit(float(10**scale))).cast("decimal(28,0)")
    return (F.sum(quantized).cast("double") / F.lit(float(10**scale))).alias("dsum")


def sql_dsum(expr: str, scale: int = 4) -> str:
    """DuckDB oracle fragment equivalent to :func:`dsum`."""
    factor = float(10**scale)
    return (
        f"(CAST(SUM(CAST(FLOOR(({expr}) * {factor!r}) AS DECIMAL(28,0))) AS DOUBLE)"
        f" / {factor!r})"
    )
