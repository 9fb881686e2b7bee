"""Source readers.

Reference behaviors reproduced (SURVEY.md §2.1):

* S1  headerless CSV scan producing all-string ``_c0.._cN`` columns
      (ipynb:L250-253, cell 4), with the all-string width declared by the
      registry instead of counted from each file's first line.
* S4  catalog/table scan (``spark.read.table``, ipynb:L973/L1074-1076/L1750)
      — here parameterized over a storage root so local parquet dirs,
      ``abfss://`` containers, or a metastore all interchange; the
      reference's Azure coupling is only path strings.
* S9  ``cache()`` of hot fact tables (ipynb:L1182, cell 12) as an option.

Scale notes: readers never infer schemas on big data (inference = an extra
full scan), and never coalesce; Catalyst handles split planning from
``spark.sql.files.maxPartitionBytes``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: the driver-testdata star schema (TESTDATA.md) + extension tables
STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_csv_raw(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Headerless comma-separated scan: every column arrives as a string
    named ``_c<i>`` (ipynb:L250-253). ``schema`` is the registry's
    all-string ``functions.schema.raw_bikeshare_schema``, so creating the
    frame runs no job and the width cannot drift."""
    return spark.read.format("csv").option("header", "false").schema(schema).load(path)


def read_parquet_table(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Path-based table scan: ``<root>/<name>.parquet`` (driver testdata
    layout) or ``<root>/<name>`` directory. Columnar, predicate/column
    pushdown free via the vectorized parquet reader.

    INT64 TIMESTAMP(NANOS) columns (events.ts in the driver testdata) read
    natively as ``timestamp_ntz`` with micros truncation — the same values
    DuckDB gets casting TIMESTAMP_NS to TIMESTAMP."""
    file_path = os.path.join(root, f"{name}.parquet")
    dir_path = os.path.join(root, name)
    path = file_path if os.path.exists(file_path) else dir_path
    return spark.read.parquet(path)


def parquet_files(path: str) -> list[str]:
    """The data files of the parquet table at ``path``: the file itself, or
    every ``*.parquet`` under the directory, partition subdirectories
    included (``_``/``.``-prefixed markers skipped). Lists afresh on every
    call; a caller that reads immutable data memoizes the result."""
    if os.path.isfile(path):
        return [path]
    return [
        os.path.join(root, n)
        for root, _dirs, names in os.walk(path)
        for n in names
        if n.endswith(".parquet") and not n.startswith(("_", "."))
    ]


def load_star(
    spark: SparkSession,
    root: str,
    tables: tuple[str, ...] = STAR_TABLES,
    cache_facts: bool = False,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Load the star schema from ``root``; optionally register temp views
    (S6, ipynb:L1194-1195) and cache the fact tables (S9, ipynb:L1182)."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = read_parquet_table(spark, root, name)
        if cache_facts and name in {"orders", "lineitem", "events"}:
            df = df.cache()
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
