"""Sinks with the reference's overwrite semantics, made safe without Delta.

The reference writes every table as Delta with ``mode('overwrite')`` and
``option('overwriteSchema', True)`` (S2/S3: ipynb:L263-264, L982, L1087-1101)
and relies on Delta snapshot isolation to read a table and overwrite it in
the same job (SURVEY.md §3.4). Plain parquet self-overwrite would delete the
input mid-scan, so the parquet writer stages to ``<path>.__stage__`` and
swaps — same observable semantics (full overwrite incl. schema change),
no snapshot dependency.

At 100 TB: writers accept ``partition_by`` (the reference writes facts
unpartitioned — SURVEY.md §4 flags this as the first thing to fix at scale)
so fact tables land partitioned by a date column and downstream queries get
partition pruning.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def overwrite_table(
    df: DataFrame,
    name: str,
    partition_by: list[str] | None = None,
) -> None:
    """Managed-table overwrite: the engine equivalent of the reference's
    ``df.write.format('delta').mode('overwrite')
    .option('overwriteSchema', True).saveAsTable(name)`` (S2/S3), written
    as parquet; a full overwrite replaces the schema too."""
    w = df.write.format("parquet").mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.saveAsTable(name)


def overwrite_parquet_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
) -> None:
    """Path-based overwrite that is safe even when ``df`` reads from ``path``
    (stage-and-swap; Delta gets this from snapshots, parquet needs help).
    A write that raises leaves the previous table as it was and no stage
    directory behind."""
    stage = path.rstrip("/") + ".__stage__"
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    try:
        w.parquet(stage)
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    if os.path.exists(path):
        shutil.rmtree(path)
    os.rename(stage, path)


def drop_table_if_exists(spark: SparkSession, name: str) -> None:
    """Idempotent re-run hygiene (S5, ipynb:L191-194, cell 3)."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def overwrite_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed managed table: pre-shuffles rows into ``n_buckets`` by hash
    of ``bucket_cols`` at write time so joins/aggregations on those columns
    need NO runtime exchange (SortMergeJoin over co-located buckets).

    The 100 TB pattern for repeatedly-joined fact pairs (e.g. trips and
    payments bucketed by rider_id): pay the shuffle once at ingest, never
    again per query. The reference writes unpartitioned, unbucketed Delta —
    SURVEY.md §4 lists this as the first scale gap."""
    w = df.write.format("parquet").mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(name)
