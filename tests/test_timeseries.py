"""q205 gap-fill: brute-force equality, exact micro-fixture, plan shape."""

import datetime

from pyspark.sql import Row

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import QUERIES

from conftest import SF_SMOKE


def test_gap_fill_matches_bruteforce(spark):
    rows = QUERIES["q205_gap_fill_interpolate"](spark, SF_SMOKE).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], {})[r["day"]] = r
    n_interp = 0
    for u, days in by_user.items():
        ds = sorted(days)
        # contiguous per-user spine, endpoints observed
        assert (ds[-1] - ds[0]).days + 1 == len(ds)
        assert not days[ds[0]]["interpolated"] and not days[ds[-1]]["interpolated"]
        obs = [(d, days[d]["value_sum"]) for d in ds if not days[d]["interpolated"]]
        for d in ds:
            r = days[d]
            if r["interpolated"]:
                n_interp += 1
                (pd_, pv) = max((o for o in obs if o[0] < d), key=lambda o: o[0])
                (nd_, nv) = min((o for o in obs if o[0] > d), key=lambda o: o[0])
                frac = (d - pd_).days * 1.0 / (nd_ - pd_).days
                assert abs(r["value_sum"] - round(pv + (nv - pv) * frac, 6)) < 1e-9, (u, d)
    assert n_interp > 0  # the corpus actually has gaps


def test_gap_fill_micro_exact(spark):
    ts = lambda d, h=12: datetime.datetime(2024, 1, d, h)  # noqa: E731
    ev = spark.createDataFrame(
        [
            Row(event_id=1, ts=ts(1), user_id=7, event_type="x", value=1.0, props="{}"),
            Row(event_id=2, ts=ts(1, 13), user_id=7, event_type="x", value=0.0, props="{}"),
            Row(event_id=3, ts=ts(4), user_id=7, event_type="x", value=7.0, props="{}"),
        ]
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        got = {
            r["day"].day: (r["value_sum"], r["interpolated"])
            for r in QUERIES["q205_gap_fill_interpolate"](spark, d).collect()
        }
    assert got == {
        1: (1.0, False),
        2: (3.0, True),
        3: (5.0, True),
        4: (7.0, False),
    }


def test_gap_fill_plan_partitioned_windows_only(spark):
    """Both neighbor windows must be hash-partitioned by user — a global
    (unpartitioned) window over the spine would be the scale bug."""
    df = QUERIES["q205_gap_fill_interpolate"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Window" in plan
    import re

    for m in re.finditer(r"Arguments: .*?windowspecdefinition\((.*?), day", plan):
        assert "user_id" in m.group(1)
