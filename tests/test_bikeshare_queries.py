"""Run all 22 reference queries (G1-G22) over the fixture lake and
cross-check a representative subset value-for-value against DuckDB running
directly on the written parquet star schema."""

import re

import duckdb
import pytest

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators import pipeline
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.bikeshare import (
    ALL_G_QUERIES,
)

from conftest import jobs_launched
from test_pipeline import csv_dir  # noqa: F401  (reuse the fixture)


@pytest.fixture(scope="module")
def star(spark, csv_dir, tmp_path_factory):  # noqa: F811
    lake = str(tmp_path_factory.mktemp("bikeshare_lake"))
    return pipeline.run(spark, csv_dir, lake), lake


def test_all_22_queries_run(spark, star):
    tables, _ = star
    assert len(ALL_G_QUERIES) == 22
    for name, fn in ALL_G_QUERIES.items():
        df = fn(tables)
        rows = df.collect()
        assert rows, name
        assert len(df.columns) >= 2, name


def test_g01_matches_duckdb_on_lake(spark, star):
    tables, lake = star
    got = {r["day_of_week"]: r["avg_duration"] for r in ALL_G_QUERIES["g01_avg_duration_by_dow"](tables).collect()}
    con = duckdb.connect()
    want = dict(
        con.execute(
            f"""SELECT CAST(dayofweek(started_at) + 1 AS INTEGER) AS dow, avg(duration) AS a
                FROM read_parquet('{lake}/trips/*/*.parquet') GROUP BY 1"""
        ).fetchall()
    )
    assert set(got) == set(want)
    for k in got:
        assert got[k] == pytest.approx(want[k], rel=1e-12)


def test_g12_membership_split_matches_duckdb(spark, star):
    tables, lake = star
    got = {r["is_member"]: r["sum_duration"] for r in ALL_G_QUERIES["g12_sum_duration_by_membership"](tables).collect()}
    con = duckdb.connect()
    want = dict(
        con.execute(
            f"""SELECT r.is_member, sum(t.duration)
                FROM read_parquet('{lake}/trips/*/*.parquet') t
                JOIN read_parquet('{lake}/riders/*.parquet') r USING (rider_id)
                GROUP BY 1"""
        ).fetchall()
    )
    assert got == want


def test_g21_fanout_counts_match_duckdb(spark, star):
    tables, lake = star
    got = {
        (r["rider_id"], r["month"]): r["num_rides"]
        for r in ALL_G_QUERIES["g21_member_spend_and_rides_per_month"](tables).collect()
    }
    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT t.rider_id, CAST(month(t.time_id) AS INTEGER) AS m, count(t.trip_id) AS n
            FROM read_parquet('{lake}/trips/*/*.parquet') t
            JOIN read_parquet('{lake}/payments/*/*.parquet') p ON t.rider_id = p.rider_id
            JOIN (SELECT rider_id FROM read_parquet('{lake}/riders/*.parquet') WHERE is_member) r
              ON t.rider_id = r.rider_id
            GROUP BY 1, 2 ORDER BY n DESC, t.rider_id, m LIMIT 10"""
    ).fetchall()
    want = {(r[0], r[1]): r[2] for r in rows}
    assert got == want  # fan-out multiplication identical


def test_g14_avg_amount_decimal_type(spark, star):
    tables, _ = star
    df = ALL_G_QUERIES["g14_avg_amount_by_month"](tables)
    # A7 widening: avg(decimal(10,0)) -> decimal(14,4) like the reference
    assert dict(df.dtypes)["amount_avg"] == "decimal(14,4)"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_g_queries_plan_no_shuffle(star):
    """``run()`` returns each small lake table as one partition, which
    satisfies every aggregate's and top-k's distribution: the only
    exchange left is the broadcast of a dimension."""
    tables, _ = star
    shuffles = {
        name: ex
        for name, fn in ALL_G_QUERIES.items()
        if set(ex := re.findall(r"\w*Exchange\b", _plan(fn(tables)))) - {"BroadcastExchange"}
    }
    assert not shuffles, shuffles


def test_g_queries_run_one_job_per_stage(spark, star):
    """With no shuffle stage, a G-query runs one job for its result plus
    one per broadcast dimension: G1-G8 read trips alone, G9-G20 join one
    dimension and G21/G22 two."""
    tables, _ = star
    got = {name: jobs_launched(spark, fn(tables).collect) for name, fn in ALL_G_QUERIES.items()}
    want = {name: 1 if int(name[1:3]) <= 8 else 2 if int(name[1:3]) <= 20 else 3 for name in got}
    assert got == want


def test_tables_above_the_open_cost_keep_their_scan_partitioning(spark, csv_dir, star, tmp_path):  # noqa: F811
    """The one-partition rule reads its threshold from the session's
    ``spark.sql.files.openCostInBytes``: with it at 1 byte no table is
    small, G5's aggregate shuffles by its key again, and every G-query
    returns the same rows as on the narrowed lake."""
    tables, _ = star
    g5 = ALL_G_QUERIES["g05_avg_duration_by_start_station"]
    assert "Exchange hashpartitioning" not in _plan(g5(tables))
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        wide = pipeline.run(spark, csv_dir, str(tmp_path / "lake"))
        assert "Exchange hashpartitioning" in _plan(g5(wide))
        got = {name: sorted(fn(wide).collect()) for name, fn in ALL_G_QUERIES.items()}
    finally:
        spark.conf.set(key, old)
    assert got == {name: sorted(fn(tables).collect()) for name, fn in ALL_G_QUERIES.items()}
