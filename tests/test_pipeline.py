"""End-to-end medallion pipeline test on a bikeshare-shaped fixture
(FIXTURES.md §A): headerless CSVs -> partitioned parquet star schema with
the reference's exact gold schemas (SURVEY.md §1.1 table)."""

import datetime as dt
import os
import random
import shutil

import pytest
from pyspark.sql import functions as F

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.schema import (
    BIKESHARE_RENAMES,
    raw_bikeshare_schema,
)
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.operators import pipeline

from conftest import jobs_launched, jvm_round_trips


@pytest.fixture(scope="module")
def csv_dir(tmp_path_factory):
    """Deterministic tiny bikeshare raw layer (seed 7)."""
    rng = random.Random(7)
    d = tmp_path_factory.mktemp("bikeshare_csv")

    stations = [
        ("525", "Glenwood Ave & Touhy Ave", 42.012701, -87.666058),
        ("KA1503000012", "Clark St & Lake St", 41.886021, -87.630876),
        ("TA1305000032", "Racine Ave & 18th St", 41.858166, -87.656495),
    ]
    with open(d / "stations.csv", "w") as f:
        for s in stations:
            f.write(",".join(map(str, s)) + "\n")

    riders = []
    with open(d / "riders.csv", "w") as f:
        for rid in range(1000, 1020):
            bday = dt.date(1960 + rng.randrange(45), 1 + rng.randrange(12), 1 + rng.randrange(28))
            start = dt.date(2017 + rng.randrange(5), 1 + rng.randrange(12), 1)
            end = "" if rng.random() < 0.5 else str(start + dt.timedelta(days=365))
            member = rng.random() < 0.8
            riders.append(rid)
            f.write(f"{rid},First{rid},Last{rid},{rid} Main St,{bday},{start},{end},{member}\n")

    with open(d / "trips.csv", "w") as f:
        for i in range(200):
            rid = rng.choice(riders)
            sta = rng.choice(stations)[0]
            end_sta = rng.choice(stations)[0]
            t0 = dt.datetime(2021, 2, 1) + dt.timedelta(
                days=rng.randrange(300), hours=rng.randrange(24), minutes=rng.randrange(60)
            )
            t1 = t0 + dt.timedelta(seconds=60 + rng.randrange(7200))
            kind = rng.choice(["classic_bike", "electric_bike"])
            f.write(f"{i:016X},{kind},{t0},{t1},{sta},{end_sta},{rid}\n")

    with open(d / "payments.csv", "w") as f:
        pid = 0
        for rid in riders:
            for m in range(6):
                pid += 1
                f.write(f"{pid},{dt.date(2021, 1 + m, 1)},9.5,{rid}\n")
    return str(d)


GOLD_TRIPS_SCHEMA = [
    ("trip_id", "string"), ("duration", "bigint"), ("rideable_type", "string"),
    ("age_at_ride_time", "int"), ("started_at", "timestamp"), ("ended_at", "timestamp"),
    ("start_station_id", "string"), ("end_station_id", "string"),
    ("time_id", "timestamp"), ("rider_id", "int"),
]
TRIP_DATES_DTYPES = [("time_id", "timestamp"), ("day_of_week", "int"), ("time_of_day", "string")]
PAYMENT_DATES_DTYPES = [("date_id", "date"), ("month", "int"), ("quarter", "int"), ("year", "int")]


def test_full_pipeline_schemas_and_semantics(spark, csv_dir, tmp_path):
    out = pipeline.run(spark, csv_dir, str(tmp_path / "lake"))

    # gold trips schema matches the reference star schema exactly (§1.1)
    trips = out["trips"].select(*[c for c, _ in GOLD_TRIPS_SCHEMA])
    assert [(c, t) for c, t in trips.dtypes] == GOLD_TRIPS_SCHEMA
    assert out["payments"].columns[:4] == ["payment_id", "amount", "date_id", "rider_id"]
    assert dict(out["payments"].dtypes)["amount"] == "decimal(10,0)"

    n_trips = out["trips"].count()
    assert n_trips == 200  # inner birthday join loses nothing (FK complete)

    # duration positive, time_id is the started_at hour
    bad = out["trips"].where("duration <= 0 OR time_id != date_trunc('hour', started_at)").count()
    assert bad == 0

    # decimal(10,0) semantics: 9.5 -> 10 (reference's bare-decimal rounding)
    amounts = {r["amount"] for r in out["payments"].select("amount").distinct().collect()}
    assert {int(a) for a in amounts} == {10}

    # date dims cover the fact ranges at the right grain
    td = out["trip_dates"]
    assert td.dtypes == TRIP_DATES_DTYPES
    assert td.count() == td.select("time_id").distinct().count()
    pd_dim = out["payment_dates"]
    assert pd_dim.dtypes == PAYMENT_DATES_DTYPES
    # every payment date joins (the reference's J4 join must not drop rows)
    joined = out["payments"].join(pd_dim, "date_id").count()
    assert joined == out["payments"].count()

    # the dims, built from the facts as written, span them exactly: one row
    # per hour / day from the first to the last key, and every fact row joins
    for dim, fact, key, step in (
        ("trip_dates", "trips", "time_id", 3600),
        ("payment_dates", "payments", "date_id", 86400),
    ):
        lo, hi = out[fact].agg(F.unix_timestamp(F.min(key)), F.unix_timestamp(F.max(key))).first()
        assert out[dim].count() == (hi - lo) // step + 1, dim
        assert out[fact].join(out[dim], key).count() == out[fact].count(), dim

    # the spine is generated ascending from one bounds row, so the written
    # dims read back in key order without a sort
    for name, key in (("trip_dates", "time_id"), ("payment_dates", "date_id")):
        keys = [r[0] for r in out[name].select(key).collect()]
        assert len(keys) > 1 and keys == sorted(keys), name


def _build_batch(spark, csv_dir):
    gold = pipeline.gold(pipeline.silver(pipeline.bronze(spark, csv_dir)))
    return pipeline.date_dims(spark, gold)


def test_building_stages_runs_no_spark_job(spark, csv_dir):
    """bronze -> silver -> gold -> date_dims only build plans: bronze's CSV
    scans get their all-string width from the registry instead of reading
    each file's first line, and the date spines keep their min/max bounds
    inside the plan instead of probing the facts."""
    assert jobs_launched(spark, lambda: _build_batch(spark, csv_dir)) == 0


def test_building_a_batch_makes_few_jvm_calls(spark, csv_dir):
    """Every projection of silver, gold and the date dims is one
    ``selectExpr`` over SQL text, so building the six frames costs a few
    py4j round trips per projection, not a dozen per column builder (171
    for the whole batch; 1,907 when each column was its own ``F.col`` /
    ``.cast`` / ``.alias`` / ``F.when`` chain)."""
    _build_batch(spark, csv_dir)  # first use of each JVM class is a one-off lookup
    assert jvm_round_trips(lambda: _build_batch(spark, csv_dir)) <= 300


@pytest.mark.parametrize(
    "table, column, bad",
    [
        pytest.param("payments", "date_id", "2021-13-45", id="date"),
        pytest.param("trips", "started_at", "2021-02-30 25:61:00", id="timestamp"),
        pytest.param("payments", "payment_id", "12x", id="int"),
        pytest.param("payments", "amount", "nine", id="decimal"),
        pytest.param("riders", "is_member", "maybe", id="boolean"),
    ],
)
def test_malformed_value_becomes_null(spark, csv_dir, tmp_path, table, column, bad):
    """A raw value that does not parse as its column's type becomes null,
    as in the reference (Spark 3.2, ANSI off), instead of failing the whole
    batch with CAST_INVALID_INPUT; every other row is unchanged."""
    d = tmp_path / "bad"
    shutil.copytree(csv_dir, d)
    rows = (d / f"{table}.csv").read_text().splitlines()
    fields = rows[3].split(",")
    fields[list(BIKESHARE_RENAMES[table].values()).index(column)] = bad
    rows[3] = ",".join(fields)
    (d / f"{table}.csv").write_text("\n".join(rows) + "\n")

    want = pipeline.silver(pipeline.bronze(spark, csv_dir))[table].collect()
    tables = pipeline.silver(pipeline.bronze(spark, str(d)))
    got = tables[table].collect()
    assert want[3][column] is not None and got[3][column] is None
    assert {**got[3].asDict(), column: None} == {**want[3].asDict(), column: None}
    assert got[:3] + got[4:] == want[:3] + want[4:]
    gold = pipeline.gold(tables)
    for name, df in {**gold, **pipeline.date_dims(spark, gold)}.items():
        assert df.collect(), name


def test_bronze_frames_have_the_registry_schema(spark, csv_dir):
    raw = pipeline.bronze(spark, csv_dir)
    for t, df in raw.items():
        want = raw_bikeshare_schema(t)
        assert df.columns == list(BIKESHARE_RENAMES[t]), t
        assert df.dtypes == [(f.name, f.dataType.simpleString()) for f in want], t
        assert {ty for _, ty in df.dtypes} == {"string"}, t


def test_raw_width_comes_from_the_registry_not_the_data(spark, csv_dir, tmp_path):
    """A truncated first row must not narrow the table: it gets nulls and
    every well-formed row still reaches gold. A row with an extra trailing
    field keeps its first 7 fields."""
    d = tmp_path / "ragged"
    d.mkdir()
    for t in ("payments", "riders", "stations"):
        shutil.copy(os.path.join(csv_dir, f"{t}.csv"), d / f"{t}.csv")
    with open(os.path.join(csv_dir, "trips.csv")) as f:
        rows = f.read().splitlines()
    good_ids = {r.split(",")[0] for r in rows}
    short = "SHORT,classic_bike,2021-03-01 10:00:00,2021-03-01 10:30:00,525"
    long_ = "LONG,classic_bike,2021-03-02 10:00:00,2021-03-02 10:30:00,525,525,1000,extra"
    (d / "trips.csv").write_text("\n".join([short, *rows, long_]) + "\n")

    raw = pipeline.bronze(spark, str(d))
    assert raw["trips"].columns == [f"_c{i}" for i in range(7)]
    got = {r["_c0"]: r for r in raw["trips"].collect()}
    assert len(got) == len(rows) + 2
    assert got["SHORT"]["_c4"] == "525"
    assert got["SHORT"]["_c5"] is None and got["SHORT"]["_c6"] is None
    assert got["LONG"]["_c6"] == "1000"

    gold = pipeline.gold(pipeline.silver(raw))
    ids = {r["trip_id"] for r in gold["trips"].select("trip_id").collect()}
    # the short row has no rider, so the inner birthday join drops it
    assert ids == good_ids | {"LONG"}


def test_empty_facts_give_empty_date_dims(spark, csv_dir):
    gold = pipeline.gold(pipeline.silver(pipeline.bronze(spark, csv_dir)))
    empty = {name: df.where(F.lit(False)) for name, df in gold.items()}
    dims = pipeline.date_dims(spark, empty)
    assert dims["trip_dates"].dtypes == TRIP_DATES_DTYPES
    assert dims["payment_dates"].dtypes == PAYMENT_DATES_DTYPES
    assert dims["trip_dates"].count() == 0
    assert dims["payment_dates"].count() == 0


@pytest.mark.parametrize("fact", ["payments", "trips"])
def test_empty_fact_file_lands_an_empty_table(spark, csv_dir, tmp_path, fact):
    """A monthly batch whose fact CSV is empty lands whole: the empty fact
    and its date dim reload with their dtypes (a parquet directory with no
    data file has no schema to infer), and the other four tables are
    those of the full batch."""
    d = tmp_path / f"no_{fact}"
    shutil.copytree(csv_dir, d)
    (d / f"{fact}.csv").write_text("")
    full = pipeline.run(spark, csv_dir, str(tmp_path / "full"))
    got = pipeline.run(spark, str(d), str(tmp_path / "lake"))
    dim = {"payments": "payment_dates", "trips": "trip_dates"}[fact]
    for name, df in got.items():
        assert df.dtypes == full[name].dtypes, name
        if name in (fact, dim):
            assert df.count() == 0, name
        else:
            assert sorted(df.collect()) == sorted(full[name].collect()), name


def test_pipeline_is_idempotent(spark, csv_dir, tmp_path):
    lake = str(tmp_path / "lake2")
    a = pipeline.run(spark, csv_dir, lake)["trips"].count()
    b = pipeline.run(spark, csv_dir, lake)["trips"].count()  # re-run over same out_dir
    assert a == b


def test_trips_partitioned_by_month(spark, csv_dir, tmp_path):
    lake = str(tmp_path / "lake3")
    pipeline.run(spark, csv_dir, lake)
    parts = [p for p in os.listdir(os.path.join(lake, "trips")) if p.startswith("started_month=")]
    assert len(parts) > 5  # hive-partitioned fact -> partition pruning at scale


def test_partition_pruning_on_lake(spark, csv_dir, tmp_path):
    """The partitioned fact write must enable partition pruning: a month
    filter on trips should show PartitionFilters and scan fewer files."""
    lake = str(tmp_path / "lake_prune")
    pipeline.run(spark, csv_dir, lake)
    df = spark.read.parquet(f"{lake}/trips").where("started_month = '2021-03'")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters: [isnotnull(started_month" in plan
    assert df.count() > 0
