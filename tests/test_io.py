"""IO-layer tests: headerless CSV scan (S1), format pipeline, safe
parquet self-overwrite (S2/S3 semantics without Delta)."""

import os

import pytest
from pyspark.sql import Row

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.schema import (
    format_bikeshare_table,
    raw_bikeshare_schema,
)
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources.readers import (
    load_star,
    read_csv_raw,
    read_parquet_table,
)
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources.writers import (
    overwrite_parquet_table,
)

from conftest import SF_SMOKE


def test_read_csv_raw_headerless(spark, tmp_path):
    p = str(tmp_path / "stations.csv")
    with open(p, "w") as f:
        f.write("525,Glenwood Ave & Touhy Ave,42.012701,-87.666058\n")
        f.write("KA1503000012,Clark St & Im Ave,41.8,-87.6\n")
    df = read_csv_raw(spark, p, raw_bikeshare_schema("stations"))
    # reference behavior: _c* names, all strings (ipynb:L250-253)
    assert df.columns == ["_c0", "_c1", "_c2", "_c3"]
    assert all(t == "string" for _, t in df.dtypes)
    formatted = format_bikeshare_table(df, "stations")
    assert formatted.columns == ["station_id", "name", "latitude", "longitude"]
    assert dict(formatted.dtypes)["latitude"] == "float"
    assert formatted.count() == 2


def test_read_parquet_table_and_load_star(spark):
    orders = read_parquet_table(spark, SF_SMOKE, "orders")
    assert orders.count() == 1500
    star = load_star(spark, SF_SMOKE, tables=("region", "nation"), register_views=True)
    assert set(star) == {"region", "nation"}
    assert spark.sql("SELECT count(*) c FROM region").first()["c"] == 5


def test_events_nanos_ts_converted(spark):
    """Spark 4 reads the INT64 TIMESTAMP(NANOS) ts column natively as
    TIMESTAMP_NTZ (micros truncation, matching DuckDB TIMESTAMP_NS -> TIMESTAMP)
    — never a raw bigint."""
    ev = read_parquet_table(spark, SF_SMOKE, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
    assert ev.where(ev.ts.isNull()).count() == 0


def test_overwrite_parquet_table_safe_self_overwrite(spark, tmp_path):
    """The reference reads a Delta table and overwrites it in one job
    (trips -> trips, ipynb:L1074->L1098), relying on snapshots; our parquet
    stage-and-swap must survive the same pattern."""
    path = str(tmp_path / "t")
    spark.createDataFrame([Row(a=1), Row(a=2)]).write.parquet(path)
    df = spark.read.parquet(path)
    df2 = df.selectExpr("a", "a * 10 AS b")
    overwrite_parquet_table(df2, path)
    out = spark.read.parquet(path).orderBy("a").collect()
    assert [(r["a"], r["b"]) for r in out] == [(1, 10), (2, 20)]
    assert not os.path.exists(path + ".__stage__")


def test_failed_overwrite_keeps_previous_table_and_no_stage(spark, tmp_path):
    """A write whose tasks raise must leave the previous table readable and
    no ``.__stage__`` directory behind."""
    path = str(tmp_path / "t")
    spark.createDataFrame([Row(a=1), Row(a=2)]).write.parquet(path)
    bad = spark.read.parquet(path).selectExpr(
        "CASE WHEN a > 1 THEN raise_error('boom') ELSE a END AS a"
    )
    with pytest.raises(Exception, match="boom"):
        overwrite_parquet_table(bad, path)
    assert not os.path.exists(path + ".__stage__")
    assert sorted(r["a"] for r in spark.read.parquet(path).collect()) == [1, 2]


def test_load_star_cache_facts(spark):
    """S9 (ipynb:L1182): cache_facts pins fact tables; is_cached observable."""
    star = load_star(spark, SF_SMOKE, tables=("orders", "nation"), cache_facts=True)
    try:
        assert star["orders"].is_cached
        assert not star["nation"].is_cached
        assert star["orders"].count() == 1500  # materializes the cache
    finally:
        star["orders"].unpersist()


def test_nanos_conf_restored_after_events_read(spark):
    """read_parquet_table never touches the nanosAsLong legacy conf of a
    caller-owned session (ADVICE r1): Spark 4 ignores it for the native
    nanos scan, so the caller's value survives the read."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    try:
        spark.conf.set(key, "false")
        df = read_parquet_table(spark, SF_SMOKE, "events")
        assert spark.conf.get(key) == "false"  # untouched / restored
        assert dict(df.dtypes)["ts"] in ("timestamp", "timestamp_ntz")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_bucketed_tables_join_without_exchange(spark):
    """The claim several plan docstrings make ('zero shuffles on a
    user-bucketed lake'), PROVEN: write events and a user dim bucketed
    by user_id into the warehouse catalog, join them, and the physical
    plan must contain NO Exchange — both sides' bucketing satisfies the
    join's distribution requirement, so the 100 TB fact-fact join runs
    entirely map-side. This is the layout decision that amortizes ONE
    bootstrap shuffle (the bucketed write) across every subsequent join
    on the key."""
    import pyspark.sql.functions as F

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    users = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    for name in ("bt_events", "bt_users"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    ev.write.bucketBy(8, "user_id").sortBy("user_id").mode("overwrite").saveAsTable("bt_events")
    users.write.bucketBy(8, "user_id").mode("overwrite").saveAsTable("bt_users")
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the partitioned-join regime: at 100 TB neither fact side
        # broadcasts, which is exactly when bucketing pays
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            spark.table("bt_events")
            .join(spark.table("bt_users"), "user_id")
            .groupBy("user_id")
            .agg(F.sum("value").alias("v"), F.min("n_events").alias("n"))
        )
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # and it actually runs: every user appears exactly once
        rows = joined.collect()
        assert len(rows) == users.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        for name in ("bt_events", "bt_users"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
