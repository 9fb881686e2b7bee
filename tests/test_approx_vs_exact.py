"""Quantitative evidence for the two rows-only sketch heads (r11 verdict
hygiene item 2): q46/q81 have no DuckDB twin — sketch values are
engine-specific — so the driver's gate checks rows only. Their EXACT
counterparts (q45 distinct counts, q67 interpolated percentiles) are
fully oracled, so bounding the sketches' relative error against those
twins at sf0.01 closes the last evidence gap in the registry.

Tolerances are the algorithms' documented accuracy:

* ``approx_count_distinct(rsd=0.02)`` — HyperLogLog++ with a requested
  2% relative standard deviation; we allow 3 sigma (6%) plus a small
  absolute floor for tiny groups, where HLL is exact-ish anyway.
* ``percentile_approx(..., accuracy=10000)`` — Greenwald-Khanna with
  rank error <= 1/accuracy; on continuous-ish value distributions a 2%
  relative value error is far looser than the rank bound implies, and
  the exact twin interpolates (PERCENTILE_CONT) while the sketch picks
  an observed value, so the tolerance also absorbs the interpolation
  gap at sf0.01 group sizes.
"""


from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.registry import QUERIES

from conftest import SF_ORACLE


def _by_type(df):
    return {r["event_type"]: r for r in df.collect()}


def test_q46_hll_within_rsd_of_exact_q45(spark):
    approx = _by_type(QUERIES["q46_approx_distinct_users"](spark, SF_ORACLE))
    exact = _by_type(QUERIES["q45_distinct_users_by_type"](spark, SF_ORACLE))
    assert set(approx) == set(exact) and approx
    for et, row in exact.items():
        n, n_hat = row["n_users"], approx[et]["n_users_approx"]
        assert abs(n_hat - n) <= max(0.06 * n, 5), (
            f"{et}: HLL estimate {n_hat} vs exact {n} exceeds 3x the "
            "requested 2% rsd"
        )


def test_q81_gk_percentiles_within_tolerance_of_exact_q67(spark):
    approx = _by_type(QUERIES["q81_approx_value_percentiles"](spark, SF_ORACLE))
    exact = _by_type(QUERIES["q67_value_percentiles"](spark, SF_ORACLE))
    assert set(approx) == set(exact) and approx
    for et, row in exact.items():
        for q in ("50", "90", "99"):
            want, got = row[f"p{q}"], approx[et][f"p{q}_approx"]
            denom = max(abs(want), 1e-9)
            assert abs(got - want) / denom <= 0.02, (
                f"{et} p{q}: sketch {got} vs exact {want} exceeds 2% "
                "relative error"
            )
