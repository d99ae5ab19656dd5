"""Cross-engine-deterministic expression helpers.

Floating-point aggregation is order-dependent, and Spark's partial
(map-side) aggregation sums in a different order than DuckDB's — so a
naive ``SUM(double)`` can differ in the last bits and break the driver's
value-hash compare.  The engine's convention for every money/measure
aggregate is therefore:

    SUM(CAST(x AS DECIMAL(18,6)))  →  CAST(result AS DOUBLE)

Decimal aggregation is exact and order-independent, and the final
decimal→double conversion is IEEE-defined, so both engines produce
bit-identical doubles.  AVG is expressed as exact-decimal SUM divided by
COUNT (double/long division is IEEE-exact too).

This costs nothing at scale: decimal sum is still a map-side partial
aggregate with whole-stage codegen; there is no extra shuffle.
The same helpers emit the matching DuckDB SQL text.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,6)"


def dec(col: Column | str) -> Column:
    """Exact-decimal view of a double column/expression."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def dsum(col: Column | str) -> Column:
    """Order-independent, cross-engine-exact sum of a double column."""
    return F.sum(dec(col)).cast("double")


def davg(col: Column | str) -> Column:
    """Exact average: decimal sum / non-null count, divided as doubles."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(dec(c)).cast("double") / F.count(c)


def ts_us(col: Column | str) -> Column:
    """Timestamp → epoch microseconds (BIGINT), matching DuckDB's
    ``epoch_us``.  Parquet naive timestamps load as TIMESTAMP_NTZ in
    Spark 4; with the session pinned to UTC the NTZ→TZ cast is the
    identity, so both engines see the same naive-UTC instant."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


# ---- matching DuckDB SQL fragments -------------------------------------

def sql_d2d(expr: str) -> str:
    """Decimal → double via VARCHAR.

    DuckDB's direct DECIMAL→DOUBLE cast is not correctly rounded (it
    scales the int128 by a binary power-of-ten approximation and can be
    off by an ulp); going through the decimal's exact string form uses
    strtod, which is correctly rounded and matches Spark's
    BigDecimal.doubleValue bit for bit."""
    return f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"


def sql_dsum(expr: str) -> str:
    return sql_d2d(f"SUM(CAST({expr} AS DECIMAL(18,6)))")


def sql_davg(expr: str) -> str:
    return f"{sql_dsum(expr)} / COUNT({expr})"
