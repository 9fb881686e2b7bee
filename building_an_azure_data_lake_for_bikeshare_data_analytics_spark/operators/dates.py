"""Generated date dimensions (time spines).

The reference builds its two date dims by (1) a min/max probe job on the fact
tables (A6, ipynb:L1185-1186), (2) f-string-interpolating those bounds into
``SELECT explode(sequence(...))`` SQL text registered as temp views
(F8/F9/S6, ipynb:L1194-1195), then (3) projecting attributes with SQL and
saving (cells 17/18, ipynb:L1578-1593, L1649-1661).

Here each dimension is one lazy plan of two SQL projections:
``explode(sequence(min(key), max(key), INTERVAL 1 step))`` over the facts
(a generator over a global aggregate), then the attribute projection. The
bounds never leave the cluster, so building a dimension runs no Spark job;
the one-row aggregate is computed when the dimension itself is. The spine
is generated in ascending order from that single row, so it needs no sort.
Empty facts aggregate to a ``(null, null)`` row, whose null sequence
explodes to an empty dimension. Both steps are ``selectExpr`` calls over
the reference's own SQL text: one JVM call each, where ``Column`` builders
cost a py4j round trip per function, cast and alias.

Spines are tiny (years of hours ~ 1e5 rows) so downstream fact⋈spine joins
must broadcast the spine — callers get that automatically under the 10 MB
threshold, and the query layer adds an explicit ``F.broadcast`` hint for the
100 TB posture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.derive import day_of_week_sql, hour_sql, time_of_day_sql


def _spine(facts: DataFrame, key: str, step: str, dtype: str, name: str) -> DataFrame:
    """One row per ``step`` from min(key) to max(key), keys cast to ``dtype``
    (ipynb:L1185-1186 bounds feeding the L1194-1195 sequences)."""
    k = f"CAST({key} AS {dtype})"
    return facts.selectExpr(f"explode(sequence(min({k}), max({k}), INTERVAL 1 {step})) AS {name}")


def payment_dates_dim(payments: DataFrame, date_col: str = "date_id") -> DataFrame:
    """Daily-grain dim: date_id, month, quarter, year (cell 18,
    ipynb:L1649-1661) over the payments fact's date range (cell 12)."""
    return _spine(payments, date_col, "DAY", "date", "date_id").selectExpr(
        "date_id", "month(date_id) AS month", "quarter(date_id) AS quarter", "year(date_id) AS year"
    )


def trip_dates_dim(trips: DataFrame, ts_col: str = "time_id") -> DataFrame:
    """Hour-grain dim: time_id, day_of_week (1=Sun), time_of_day bucket
    (cell 17, ipynb:L1578-1593). ``time_id`` is cast to ``timestamp``
    because a ``timestamp_ntz`` source (events.ts) would otherwise make
    ``sequence`` yield ``timestamp_ntz``."""
    return _spine(trips, hour_sql(ts_col), "HOUR", "timestamp", "time_id").selectExpr(
        "time_id",
        f"{day_of_week_sql('time_id')} AS day_of_week",
        f"{time_of_day_sql('time_id')} AS time_of_day",
    )
