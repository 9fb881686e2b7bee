"""Interval operators (q202 overlap join / q203 sweep-line stacking):
exhaustive-equality, closed-interval edge semantics, and the plan
contract (bucketed equi-join, never a nested-loop theta join)."""

import datetime

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators.intervals import (
    interval_overlap_join,
    interval_stacking,
)
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.intervals import (
    _order_intervals,
)
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import QUERIES

from conftest import SF_SMOKE


def _exhaustive_pairs(rows):
    """Brute-force closed-interval overlap join over collected rows."""
    by_key = {}
    for r in rows:
        by_key.setdefault(r["o_custkey"], []).append(r)
    out = set()
    for k, ivs in by_key.items():
        for a in ivs:
            for b in ivs:
                if a["o_orderkey"] < b["o_orderkey"] and a["s"] <= b["e"] and b["s"] <= a["e"]:
                    out.add((k, a["o_orderkey"], b["o_orderkey"]))
    return out


def test_overlap_join_matches_exhaustive(spark):
    iv = _order_intervals(spark, SF_SMOKE)
    got = {
        (r["o_custkey"], r["id_a"], r["id_b"])
        for r in interval_overlap_join(
            iv, key="o_custkey", id_col="o_orderkey", start="s", end="e", bucket_days=30
        ).collect()
    }
    want = _exhaustive_pairs(iv.collect())
    assert got == want
    assert len(got) > 0  # the testdata actually exercises the operator


def test_overlap_join_bucket_width_invariant(spark):
    """The grid width is a cost lever, not a semantics lever: any width
    yields the identical pair set."""
    iv = _order_intervals(spark, SF_SMOKE)
    base = {
        (r["o_custkey"], r["id_a"], r["id_b"])
        for r in interval_overlap_join(
            iv, key="o_custkey", id_col="o_orderkey", start="s", end="e", bucket_days=30
        ).collect()
    }
    for width in (7, 365):
        got = {
            (r["o_custkey"], r["id_a"], r["id_b"])
            for r in interval_overlap_join(
                iv, key="o_custkey", id_col="o_orderkey", start="s", end="e", bucket_days=width
            ).collect()
        }
        assert got == base, width


def test_closed_interval_touching_endpoints_overlap(spark):
    """[.., d] and [d, ..] DO overlap (closed intervals), and the stacking
    sweep counts both open on day d — the +1-day close encodes exactly
    this edge (while adjacent intervals, whose shifted events collide,
    stay disjoint via the closes-first tie order)."""
    d = datetime.date
    iv = spark.createDataFrame(
        [
            (1, 10, d(2024, 1, 1), d(2024, 1, 5)),
            (1, 11, d(2024, 1, 5), d(2024, 1, 9)),  # touches 10 on Jan 5
            (1, 12, d(2024, 1, 10), d(2024, 1, 11)),  # disjoint from both
        ],
        "k long, iid long, s date, e date",
    )
    pairs = interval_overlap_join(iv, key="k", id_col="iid", start="s", end="e").collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(10, 11)}
    stack = interval_stacking(iv, key="k", start="s", end="e", at_least=1).collect()
    assert [(r["k"], r["max_concurrent"], r["n_intervals"]) for r in stack] == [(1, 2, 3)]


def test_stacking_matches_bruteforce(spark):
    """Per-key max concurrency equals the brute-force day-sweep over the
    collected intervals."""
    iv = _order_intervals(spark, SF_SMOKE)
    rows = iv.collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["o_custkey"], []).append((r["s"], r["e"]))
    want = {}
    for k, ivs in by_key.items():
        days = {s for s, _ in ivs}  # concurrency maxima occur at starts
        mx = max(sum(1 for s, e in ivs if s <= day <= e) for day in days)
        want[k] = (mx, len(ivs))
    got = {
        r["o_custkey"]: (r["max_concurrent"], r["n_intervals"])
        for r in interval_stacking(
            iv, key="o_custkey", start="s", end="e", at_least=1
        ).collect()
    }
    assert got == want
    assert any(mx >= 2 for mx, _ in got.values())


def test_overlap_join_plan_is_hash_join(spark):
    """The theta join must be planned as a (key, cell) equi-join — a
    BroadcastNestedLoopJoin or CartesianProduct here is the scale bug the
    operator exists to avoid."""
    df = QUERIES["q202_interval_overlap_join"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_stacking_single_shuffle_window(spark):
    """The sweep line is one hash-partitioned window per key + one agg —
    no join anywhere in the plan."""
    df = QUERIES["q203_interval_stacking"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Join" not in plan
    assert "Window" in plan
