"""Derived-column building blocks — the reference's enrichment expressions
(cell 10, ipynb:L1072-1101; cells 22/40/41) as pure Column factories.

All are native Column expressions (whole-stage-codegen'd, no Python in the
hot path). Each cites the reference line it reproduces.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def duration_seconds(start: str = "started_at", end: str = "ended_at") -> Column:
    """Trip duration in seconds.

    Reference: ``(col('ended_at') - col('started_at')).cast('long')``
    (ipynb:L1080). On Spark >=3.2 ts - ts yields DayTimeIntervalType whose
    long cast differs across versions; ``unix_timestamp`` subtraction is the
    stable equivalent (SURVEY.md §7.4 risk 2) and folds to the same codegen.
    """
    return (F.unix_timestamp(F.col(end)) - F.unix_timestamp(F.col(start))).cast("long")


def hour_truncated(ts: str) -> Column:
    """Hourly FK into the hour-grain date dimension: ``date_trunc('hour', ts)``
    (ipynb:L1081)."""
    return F.date_trunc("hour", F.col(ts))


def age_years(born: str, asof: Column | str) -> Column:
    """Age in whole years via ``datediff/365`` truncation — the reference's
    (slightly lossy) formula, reproduced verbatim, not fixed
    (ipynb:L1084 ``age_at_account_start``, L1094 ``age_at_ride_time``)."""
    asof_col = F.col(asof) if isinstance(asof, str) else asof
    return (F.datediff(asof_col, F.col(born)) / 365).cast("int")


def day_of_week(c: str) -> Column:
    """1=Sunday .. 7=Saturday (ipynb:L1581 SQL / L1851 DataFrame)."""
    return F.dayofweek(F.col(c))


def time_of_day(ts: str) -> Column:
    """Hour bucketing CASE from the trip_dates build (ipynb:L1582-1587):
    morning 5-11, afternoon 12-16, evening 17-21, else night."""
    h = F.hour(F.col(ts))
    return (
        F.when(h.between(5, 11), F.lit("morning"))
        .when(h.between(12, 16), F.lit("afternoon"))
        .when(h.between(17, 21), F.lit("evening"))
        .otherwise(F.lit("night"))
    )
