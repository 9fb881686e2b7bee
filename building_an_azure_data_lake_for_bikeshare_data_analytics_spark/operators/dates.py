"""Generated date dimensions (time spines).

The reference builds its two date dims by (1) a min/max probe job on the fact
tables (A6, ipynb:L1185-1186), (2) f-string-interpolating those bounds into
``SELECT explode(sequence(...))`` SQL text registered as temp views
(F8/F9/S6, ipynb:L1194-1195), then (3) projecting attributes with SQL and
saving (cells 17/18, ipynb:L1578-1593, L1649-1661).

Here each dimension is one lazy plan: ``facts.agg(min, max)`` ->
``explode(sequence(lo, hi, step))`` -> attribute projection. The bounds
never leave the cluster, so building a dimension runs no Spark job; the
one-row aggregate is computed when the dimension itself is. The spine is
generated in ascending order from that single row, so it needs no sort.
Empty facts aggregate to a ``(null, null)`` row, whose null sequence
explodes to an empty dimension.

Spines are tiny (years of hours ~ 1e5 rows) so downstream fact⋈spine joins
must broadcast the spine — callers get that automatically under the 10 MB
threshold, and the query layer adds an explicit ``F.broadcast`` hint for the
100 TB posture.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.derive import day_of_week, time_of_day


def _spine(facts: DataFrame, key: Column, step: str, dtype: str, name: str) -> DataFrame:
    """One row per ``step`` from min(key) to max(key), keys cast to ``dtype``
    (ipynb:L1185-1186 bounds feeding the L1194-1195 sequences)."""
    k = key.cast(dtype)
    return facts.agg(F.min(k).alias("lo"), F.max(k).alias("hi")).select(
        F.explode(F.sequence("lo", "hi", F.expr(f"INTERVAL 1 {step}"))).alias(name)
    )


def payment_dates_dim(payments: DataFrame, date_col: str = "date_id") -> DataFrame:
    """Daily-grain dim: date_id, month, quarter, year (cell 18,
    ipynb:L1649-1661) over the payments fact's date range (cell 12)."""
    spine = _spine(payments, F.col(date_col), "DAY", "date", "date_id")
    return spine.select(
        F.col("date_id"),
        F.month("date_id").alias("month"),
        F.quarter("date_id").alias("quarter"),
        F.year("date_id").alias("year"),
    )


def trip_dates_dim(trips: DataFrame, ts_col: str = "time_id") -> DataFrame:
    """Hour-grain dim: time_id, day_of_week (1=Sun), time_of_day bucket
    (cell 17, ipynb:L1578-1593). ``time_id`` is cast to ``timestamp``
    because a ``timestamp_ntz`` source (events.ts) would otherwise make
    ``sequence`` yield ``timestamp_ntz``."""
    spine = _spine(trips, F.date_trunc("hour", ts_col), "HOUR", "timestamp", "time_id")
    return spine.select(
        F.col("time_id"),
        day_of_week("time_id").alias("day_of_week"),
        time_of_day("time_id").alias("time_of_day"),
    )
