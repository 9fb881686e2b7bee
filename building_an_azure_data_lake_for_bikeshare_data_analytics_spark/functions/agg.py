"""Aggregate helpers with cross-engine-deterministic numerics.

Floating-point ``sum``/``avg`` over doubles is order-dependent: a Spark
partial+final aggregation tree and a DuckDB aggregation will disagree in the
last ulps, which breaks value-hash comparison against the oracle and — more
importantly at 100 TB — makes results nondeterministic run-to-run as
partitioning shifts.

``exact_sum``/``exact_avg`` aggregate through an exact decimal: values are
cast to DECIMAL(18,2) (our money/measure columns carry 2-decimal data),
summed exactly (associative, order-independent), and only then cast back to
double. For avg we divide the exact double sum by the count ourselves so both
engines perform the identical single IEEE division. Spark's decimal sum is
still a JVM hash-aggregate with partial aggregation — no performance cliff.

The reference's decimal widening behavior (sum(decimal(10,0)) ->
decimal(20,0), avg -> decimal(14,4); SURVEY.md §2.4 A7) comes free from
Spark's promotion rules when callers aggregate true decimal columns directly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

#: DuckDB-side rendering of ``exact_sum`` at scale 2; format with the
#: column expression
EXACT_SUM_SQL = "CAST(sum(CAST({c} AS DECIMAL(18,2))) AS DOUBLE)"


def exact_sum(col: Column | str, alias: str, scale: int = 2) -> Column:
    """Order-independent sum of a fixed-decimal measure, returned as double.

    ``scale`` must cover the value's true decimal digits (2 for raw money
    columns; 4 for products of two 2-decimal columns) — then the double ->
    decimal conversion never lands on a rounding boundary and Spark's
    HALF_UP vs DuckDB's HALF_EVEN can't disagree.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DecimalType(18, scale))).cast("double").alias(alias)


#: DuckDB-side rendering of ``exact_avg``
EXACT_AVG_SQL = f"{EXACT_SUM_SQL}/count({{c}})"


def exact_avg(col: Column | str, alias: str) -> Column:
    """Order-independent mean of a fixed-decimal measure, returned as double.

    exact decimal sum -> double, divided by count of non-null values: one
    deterministic IEEE division, identical in any engine.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DecimalType(18, 2))).cast("double") / F.count(c)).alias(alias)
