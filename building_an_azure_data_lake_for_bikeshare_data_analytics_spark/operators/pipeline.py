"""The reference's full medallion pipeline (bronze -> silver -> gold), as an
engine module: raw headerless CSVs -> typed tables -> enriched star schema ->
generated date dimensions (ipynb cells 3-18; SURVEY.md §0 flow diagram).

Stage map (reference cites):
  bronze  : CSV scan, `_c*` strings              (cell 4,  ipynb:L250-264),
            widths declared by the registry, so no column-count job
  silver  : rename + cast via format_columns     (cell 8,  ipynb:L960-997)
  gold    : duration/time_id/ages enrichment     (cell 10, ipynb:L1072-1101)
  dims    : trip_dates / payment_dates spines    (cells 12/17/18), each a
            lazy min/max -> sequence plan with no probe job

Every projection is one ``selectExpr`` over SQL expression text
(``functions.derive``): building a batch's six frames then costs a few
JVM calls per projection rather than a py4j round trip per column builder,
which at monthly-batch size dominated the batch's driver time.

Scale posture (deliberate deltas from the reference, SURVEY.md §7.4.8):
* facts are written partitioned by a date column (`started_month` for trips,
  `year` of date_id for payments) — the reference writes unpartitioned
  Delta, which forfeits partition pruning at 100 TB;
* the riders birthday join for `age_at_ride_time` broadcasts the projected
  (rider_id, birthday) dim exactly like the reference's manual `.select`
  narrow-then-join (J3, ipynb:L1093);
* every stage is DataFrame -> DataFrame and runs no Spark job; writes
  happen only in `run()`, so the DAG is testable without IO;
* `run()` returns each table whose written files total no more than
  `spark.sql.files.openCostInBytes` (4 MB) as ONE partition
  (`functions.parallelism.narrow`). The G-queries' aggregates, top-ks and
  the date dims' global bounds then plan no shuffle: at dashboard scale
  every Spark stage is one task of fixed cost, and this removes one stage
  per exchange (2.73 -> 1.73 jobs per G-query). Above 4 MB (the
  reference's trips are ~230 MB) the frames keep their scan partitioning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.derive import age_sql, duration_sql, hour_sql
from ..functions.parallelism import narrow
from ..functions.schema import format_bikeshare_table, raw_bikeshare_schema
from ..sources.readers import parquet_files, read_csv_raw
from ..sources.writers import overwrite_parquet_table
from .dates import payment_dates_dim, trip_dates_dim


def bronze(spark: SparkSession, csv_dir: str) -> dict[str, DataFrame]:
    """Raw ingestion: 4 headerless CSVs -> all-string `_c*` frames (cell 4)."""
    return {
        t: read_csv_raw(
            spark, os.path.join(csv_dir, f"{t}.csv"), schema=raw_bikeshare_schema(t)
        )
        for t in ("payments", "trips", "riders", "stations")
    }


def silver(raw: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Typed tables via the rename/cast registry (cell 8)."""
    return {t: format_bikeshare_table(df, t) for t, df in raw.items()}


def gold(tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Enrichment (cell 10, ipynb:L1072-1101):

    * trips += duration (seconds), time_id (hour-truncated started_at),
      age_at_ride_time (rider birthday join J3);
    * riders += age_at_account_start;
    * payments pruned to its 4 final columns (P3).
    """
    riders = tables["riders"].selectExpr(
        "*", f"{age_sql('birthday', 'account_start_date')} AS age_at_account_start"
    )
    birthdays = riders.selectExpr("rider_id", "birthday")  # J3 narrow dim (L1093)
    trips = tables["trips"].join(F.broadcast(birthdays), "rider_id").selectExpr(
        "trip_id", f"{duration_sql()} AS duration", "rideable_type",
        f"{age_sql('birthday', 'to_date(started_at)')} AS age_at_ride_time",
        "started_at", "ended_at", "start_station_id", "end_station_id",
        f"{hour_sql('started_at')} AS time_id", "rider_id",
    )
    payments = tables["payments"].selectExpr("payment_id", "amount", "date_id", "rider_id")
    return {
        "trips": trips,
        "payments": payments,
        "riders": riders,
        "stations": tables["stations"],
    }


def date_dims(spark: SparkSession, gold_tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Generated dimensions (cells 12/17/18). ``spark`` is unused: the
    spines are derived from the gold facts alone."""
    return {
        "trip_dates": trip_dates_dim(gold_tables["trips"], "time_id"),
        "payment_dates": payment_dates_dim(gold_tables["payments"], "date_id"),
    }


def run(spark: SparkSession, csv_dir: str, out_dir: str) -> dict[str, DataFrame]:
    """Full pipeline: ingest -> format -> enrich -> dims -> partitioned
    parquet star schema under ``out_dir``. Returns the written frames
    (re-read from storage, like the reference's reload cell 20). The date
    dims are derived from the facts as written, so their bounds come from
    a parquet scan rather than a second CSV scan, cast and rider join."""

    def land(name: str, df: DataFrame, part: str | None = None, value: str | None = None) -> DataFrame:
        """Write one table, partitioned by ``part`` = SQL ``value`` when
        given, and reload it with the partition column dropped: with the
        schema just written, so an empty batch (no data file to infer a
        schema from) reloads as an empty table, and narrowed to one
        partition when its files are small (``parallelism.narrow``)."""
        path = os.path.join(out_dir, name)
        by = [part] if part else None
        if part:
            df = df.selectExpr("*", f"{value} AS {part}")
        overwrite_parquet_table(df, path, partition_by=by)
        back = spark.read.schema(df.schema).parquet(path)
        back = back.drop(part) if part else back
        return narrow(back, sum(os.path.getsize(f) for f in parquet_files(path)))

    g = gold(silver(bronze(spark, csv_dir)))
    out = {
        "trips": land("trips", g["trips"], "started_month", "date_format(started_at, 'yyyy-MM')"),
        "payments": land("payments", g["payments"], "pay_year", "year(date_id)"),
        "riders": land("riders", g["riders"]),
        "stations": land("stations", g["stations"]),
    }
    for name, df in date_dims(spark, out).items():
        out[name] = land(name, df)
    return out
