"""Numeric helpers with cross-engine deterministic semantics.

Floating-point SUM is order-dependent; Spark's partial aggregation over
many partitions and a single-threaded oracle will disagree in the last
ulp. For any aggregate that must hash-match an oracle we sum exactly in
decimal (order-independent) and cast once to double at the end. At
100 TB this costs nothing material: decimal(25,6) partial aggregation
is still map-side combinable and whole-stage-codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(25,6)"


def dsum(col: Column | str) -> Column:
    """Order-independent SUM: exact decimal accumulation, one final
    cast to double. Oracle form:
    ``CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def quantize(col: Column, digits: int = 4) -> Column:
    """Cross-engine deterministic rounding of a double.

    ROUND() itself diverges between engines: Spark rounds the shortest
    decimal string of the double (BigDecimal.valueOf), DuckDB rounds the
    binary value — e.g. 0.63554999… prints as "0.63555" and Spark says
    0.6356 while DuckDB says 0.6355. floor(x·10^d + 0.5)/10^d is pure
    IEEE arithmetic, bit-identical everywhere. Oracle fragment:
    ``CAST(floor(x * 1eD + 0.5) AS BIGINT) / CAST(1eD AS DOUBLE)``.
    """
    scale = float(10**digits)
    return F.floor(col * scale + F.lit(0.5)) / F.lit(scale)


def quantize_sql(expr: str, digits: int = 4) -> str:
    """DuckDB oracle fragment matching :func:`quantize`."""
    scale = float(10**digits)
    return (
        f"CAST(floor(({expr}) * {scale} + 0.5) AS BIGINT) / CAST({scale} AS DOUBLE)"
    )
