"""DuckDB answers for the 22 dashboard queries (G1-G22), computed once per
run on the parquet lake the program wrote, and the comparison of a
collected Spark result against them.

Each entry is ``(sql, n_keys, metric_index, limit)``: the SQL returns the
query's columns in the Spark result's order, sorted like
``operators.analytics.grouped_metric`` (metric desc, then keys asc), with
``limit + _MARGIN`` rows so that a near-tie at the top-k boundary can be
told apart from a wrong answer.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import duckdb

_MARGIN = 10

_TRIPS = "read_parquet('{lake}/trips/*/*.parquet')"
_PAYMENTS = "read_parquet('{lake}/payments/*/*.parquet')"
_RIDERS = "read_parquet('{lake}/riders/*.parquet')"
_PAY_DATES = "read_parquet('{lake}/payment_dates/*.parquet')"


def _fact(key: str, agg: str) -> str:
    return f"SELECT {key} AS k, {agg} AS m FROM {_TRIPS} GROUP BY 1 ORDER BY 2 DESC, 1"


def _dim(fact: str, dim: str, key: str, agg: str, where: str = "") -> str:
    return (f"SELECT d.{key} AS k, {agg} AS m FROM {fact} f JOIN {dim} d USING (rider_id) "
            f"{where} GROUP BY 1 ORDER BY 2 DESC, 1")


def _pay(group: str, agg: str) -> str:
    return (f"SELECT d.{group} AS k, {agg}(f.amount) AS m FROM {_PAYMENTS} f "
            f"JOIN {_PAY_DATES} d USING (date_id) GROUP BY 1 ORDER BY 2 DESC, 1")


_DOW = "CAST(dayofweek(started_at) + 1 AS INTEGER)"  # DuckDB 0=Sunday, Spark 1=Sunday

QUERIES: dict[str, tuple[str, int, int, int]] = {
    "g01_avg_duration_by_dow": (_fact(_DOW, "avg(duration)"), 1, 1, 10),
    "g02_sum_duration_by_dow": (_fact(_DOW, "sum(duration)"), 1, 1, 10),
    "g03_avg_duration_by_start_time": (_fact("started_at", "avg(duration)"), 1, 1, 10),
    "g04_sum_duration_by_start_time": (_fact("started_at", "sum(duration)"), 1, 1, 10),
    "g05_avg_duration_by_start_station": (_fact("start_station_id", "avg(duration)"), 1, 1, 20),
    "g06_sum_duration_by_start_station": (_fact("start_station_id", "sum(duration)"), 1, 1, 20),
    "g07_avg_duration_by_end_station": (_fact("end_station_id", "avg(duration)"), 1, 1, 20),
    "g08_sum_duration_by_end_station": (_fact("end_station_id", "sum(duration)"), 1, 1, 20),
    "g09_sum_duration_by_age": (_dim(_TRIPS, _RIDERS, "age_at_account_start", "sum(f.duration)"), 1, 1, 10),
    "g10_avg_duration_by_age": (_dim(_TRIPS, _RIDERS, "age_at_account_start", "avg(f.duration)"), 1, 1, 10),
    "g11_avg_duration_by_membership": (_dim(_TRIPS, _RIDERS, "is_member", "avg(f.duration)"), 1, 1, 10),
    "g12_sum_duration_by_membership": (_dim(_TRIPS, _RIDERS, "is_member", "sum(f.duration)"), 1, 1, 10),
    "g13_sum_amount_by_month": (_pay("month", "sum"), 1, 1, 10),
    "g14_avg_amount_by_month": (_pay("month", "avg"), 1, 1, 10),
    "g15_sum_amount_by_quarter": (_pay("quarter", "sum"), 1, 1, 10),
    "g16_avg_amount_by_quarter": (_pay("quarter", "avg"), 1, 1, 10),
    "g17_sum_amount_by_year": (_pay("year", "sum"), 1, 1, 10),
    "g18_avg_amount_by_year": (_pay("year", "avg"), 1, 1, 10),
    "g19_member_avg_amount_by_age": (
        _dim(_PAYMENTS, _RIDERS, "age_at_account_start", "avg(f.amount)", "WHERE d.is_member"), 1, 1, 10),
    "g20_member_sum_amount_by_age": (
        _dim(_PAYMENTS, _RIDERS, "age_at_account_start", "sum(f.amount)", "WHERE d.is_member"), 1, 1, 10),
    "g21_member_spend_and_rides_per_month": (
        f"""SELECT t.rider_id, month(t.time_id) AS month, avg(p.amount) AS avg_amount,
                   count(t.trip_id) AS num_rides
            FROM {_TRIPS} t JOIN {_PAYMENTS} p ON t.rider_id = p.rider_id
            JOIN (SELECT rider_id FROM {_RIDERS} WHERE is_member) r ON t.rider_id = r.rider_id
            GROUP BY 1, 2 ORDER BY 4 DESC, 1, 2""", 2, 3, 10),
    "g22_member_spend_duration_per_minutes_month": (
        f"""SELECT t.rider_id, CAST(t.duration // 60 AS INTEGER) AS minutes,
                   month(t.started_at) AS month, avg(p.amount) AS avg_amount,
                   avg(t.duration) AS avg_duration
            FROM {_TRIPS} t JOIN {_RIDERS} r ON t.rider_id = r.rider_id AND r.is_member
            JOIN {_PAYMENTS} p ON t.rider_id = p.rider_id
            GROUP BY 1, 2, 3 ORDER BY 5 DESC, 1, 2, 3""", 3, 4, 10),
}


def expected(lake: str) -> dict[str, list[tuple]]:
    """Run every oracle query on the lake; rows are normalized tuples."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        out = {}
        for name, (sql, _keys, _metric, limit) in QUERIES.items():
            rows = con.execute(f"{sql.format(lake=lake)} LIMIT {limit + _MARGIN}").fetchall()
            out[name] = [tuple(_norm(v) for v in r) for r in rows]
        return out
    finally:
        con.close()


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    return v


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        # Spark averages a decimal(10,0) to decimal(14,4); DuckDB to double
        return abs(float(a) - float(b)) <= 1e-4 + 1e-9 * abs(float(b))
    return a == b


def matches(name: str, got_rows: list, want: list[tuple]) -> bool:
    """True when ``got_rows`` (Spark Rows) is a correct top-k answer: the
    right number of rows, every row equal to the oracle's row for its key,
    and the metric values those of the oracle's top k."""
    _sql, n_keys, metric, limit = QUERIES[name]
    got = [tuple(_norm(v) for v in r) for r in got_rows]
    if len(got) != min(limit, len(want)):
        return False
    by_key = {w[:n_keys]: w for w in want}
    for row in got:
        w = by_key.get(row[:n_keys])
        if w is None or len(w) != len(row) or not all(_close(a, b) for a, b in zip(row, w)):
            return False
    got_m = sorted((float(r[metric]) for r in got), reverse=True)
    want_m = [float(w[metric]) for w in want[: len(got)]]
    return all(_close(a, b) for a, b in zip(got_m, want_m))
