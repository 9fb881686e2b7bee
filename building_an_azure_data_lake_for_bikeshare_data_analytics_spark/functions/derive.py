"""Derived-column building blocks — the reference's enrichment expressions
(cell 10, ipynb:L1072-1101; cells 17/22/40/41), each defined once as SQL
expression text.

The ingest path splices the text into one ``selectExpr`` per projection
(``operators.pipeline.gold``, ``operators.dates``), the form the
reference's own SQL cells use. Catalyst gets the same plan as from
``Column`` builders, but the driver makes one ``selectExpr`` call per
projection instead of a py4j round trip per builder call (about a dozen
per derived column, most of them the call-site capture of each ``F.*``
function). Query plans that want a ``Column`` wrap the same text in
``F.expr``.

Arguments are SQL expressions; a plain column name is one. All are native
expressions (whole-stage-codegen'd, no Python in the hot path). Each cites
the reference line it reproduces.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def duration_sql(start: str = "started_at", end: str = "ended_at") -> str:
    """Trip duration in seconds.

    Reference: ``(col('ended_at') - col('started_at')).cast('long')``
    (ipynb:L1080). On Spark >=3.2 ts - ts yields DayTimeIntervalType whose
    long cast differs across versions; ``unix_timestamp`` subtraction is the
    stable equivalent (SURVEY.md §7.4 risk 2) and folds to the same codegen.
    """
    return f"CAST(unix_timestamp({end}) - unix_timestamp({start}) AS BIGINT)"


def hour_sql(ts: str) -> str:
    """Hourly FK into the hour-grain date dimension: ``date_trunc('hour', ts)``
    (ipynb:L1081)."""
    return f"date_trunc('hour', {ts})"


def age_sql(born: str, asof: str) -> str:
    """Age in whole years via ``datediff/365`` truncation — the reference's
    (slightly lossy) formula, reproduced verbatim, not fixed
    (ipynb:L1084 ``age_at_account_start``, L1094 ``age_at_ride_time``)."""
    return f"CAST(datediff({asof}, {born}) / 365 AS INT)"


def day_of_week_sql(d: str) -> str:
    """1=Sunday .. 7=Saturday (ipynb:L1581 SQL / L1851 DataFrame)."""
    return f"dayofweek({d})"


def time_of_day_sql(ts: str) -> str:
    """Hour bucketing CASE from the trip_dates build (ipynb:L1582-1587):
    morning 5-11, afternoon 12-16, evening 17-21, else night. The bounds
    are spelled ``>= AND <=``: SQL ``BETWEEN`` would wrap each in a
    common-subexpression node that ``Column.between`` does not make."""
    h = f"hour({ts})"
    return (
        f"CASE WHEN {h} >= 5 AND {h} <= 11 THEN 'morning'"
        f" WHEN {h} >= 12 AND {h} <= 16 THEN 'afternoon'"
        f" WHEN {h} >= 17 AND {h} <= 21 THEN 'evening'"
        " ELSE 'night' END"
    )


def duration_seconds(start: str = "started_at", end: str = "ended_at") -> Column:
    """``duration_sql`` as a Column."""
    return F.expr(duration_sql(start, end))


def age_years(born: str, asof: str) -> Column:
    """``age_sql`` as a Column."""
    return F.expr(age_sql(born, asof))
