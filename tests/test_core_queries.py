"""Smoke + semantics tests for the reference-parity query registry.

The heavyweight value-for-value gate is the driver's DuckDB oracle at
sf=0.01 (tools/verify_oracle.py mirrors it); these tests pin schema shape
and a few hand-checkable invariants at sf=0.001 so regressions surface
before the oracle run.
"""

import duckdb
import pytest

import __spark_entry__ as entrymod
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import (
    ORACLES,
    QUERIES,
    REGISTRY,
)

from conftest import SF_SMOKE, jobs_launched


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["dow", "avg_price"]
    # dows are Spark convention 1..7
    assert all(1 <= r["dow"] <= 7 for r in rows)


def test_registry_complete():
    assert len(QUERIES) >= 35
    # every oracle key corresponds to a registered query
    assert set(ORACLES) <= set(QUERIES)
    # parity queries G1-G22 all present
    parity = [s for s in REGISTRY.values() if "parity" in s.tags]
    assert len(parity) >= 26


def test_all_queries_run_and_schemas_stable(spark):
    for name, fn in QUERIES.items():
        df = fn(spark, SF_SMOKE)
        assert df.columns, name
        df.limit(5).collect()


def test_q01_matches_duckdb_exactly(spark):
    got = {r["dow"]: r["avg_price"] for r in QUERIES["q01_avg_price_by_dow"](spark, SF_SMOKE).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{SF_SMOKE}/orders.parquet')"
    )
    want = dict(con.execute(ORACLES["q01_avg_price_by_dow"]).fetchall())
    assert got == want  # bit-exact: decimal-sum determinism contract


def test_topk_is_deterministic(spark):
    a = QUERIES["q05_avg_extprice_by_supp"](spark, SF_SMOKE).collect()
    b = QUERIES["q05_avg_extprice_by_supp"](spark, SF_SMOKE).collect()
    assert a == b


def test_fanout_join_multiplies_rows(spark):
    """J5 semantics (ipynb cells 40/41): the trips×payments join must fan
    out, not dedupe — num_rides counts (event, order) pairs."""
    rows = QUERIES["q21_member_spend_rides"](spark, SF_SMOKE).collect()
    assert rows, "fan-out join returned nothing"
    assert max(r["num_rides"] for r in rows) > 1


def test_rollup_has_grand_total(spark):
    rows = QUERIES["q30_status_priority_rollup"](spark, SF_SMOKE).collect()
    grand = [r for r in rows if r["o_orderstatus"] is None and r["o_orderpriority"] is None]
    assert len(grand) == 1
    total = sum(r["n_orders"] for r in rows if r["o_orderstatus"] is not None and r["o_orderpriority"] is not None)
    assert grand[0]["n_orders"] == total


@pytest.mark.parametrize("name", ["q24_payment_dates_dim", "q25_trip_dates_dim"])
def test_date_dims_are_contiguous(spark, name):
    df = QUERIES[name](spark, SF_SMOKE)
    n = df.count()
    assert n == df.select(df.columns[0]).distinct().count()  # spine keys unique
    assert n > 1


def test_date_dim_queries_build_without_jobs(spark):
    """q13-q18 join the generated daily dim and q24/q25 are the dims: the
    spine bounds stay inside the plan, so building them runs no job once
    the tables' parquet schemas are resolved (first build)."""
    names = [n for n in QUERIES if n.split("_")[0] in {"q13", "q14", "q15", "q16", "q17", "q18", "q24", "q25"}]
    assert len(names) == 8
    for name in names:
        QUERIES[name](spark, SF_SMOKE)
    assert jobs_launched(spark, lambda: [QUERIES[n](spark, SF_SMOKE) for n in names]) == 0


def test_approx_distinct_within_tolerance(spark):
    """q46's HLL estimate must sit within a loose band of q45's exact count
    (rsd=0.02 configured; allow 10% at tiny scale)."""
    exact = {r["event_type"]: r["n_users"] for r in QUERIES["q45_distinct_users_by_type"](spark, SF_SMOKE).collect()}
    approx = {r["event_type"]: r["n_users_approx"] for r in QUERIES["q46_approx_distinct_users"](spark, SF_SMOKE).collect()}
    assert set(exact) == set(approx)
    for k in exact:
        assert abs(approx[k] - exact[k]) <= max(2, 0.1 * exact[k])
