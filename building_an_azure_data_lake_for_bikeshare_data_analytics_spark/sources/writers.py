"""The lake sink: the reference's overwrite semantics, made safe without Delta.

The reference writes every table as Delta with ``mode('overwrite')`` and
``option('overwriteSchema', True)`` (S2/S3: ipynb:L263-264, L982, L1087-1101)
and relies on Delta snapshot isolation to read a table and overwrite it in
the same job (SURVEY.md §3.4). Plain parquet self-overwrite would delete the
input mid-scan, so the parquet writer stages to ``<path>.__stage__`` and
swaps — same observable semantics (full overwrite incl. schema change),
no snapshot dependency.

At 100 TB: the writer accepts ``partition_by`` (the reference writes facts
unpartitioned — SURVEY.md §4 flags this as the first thing to fix at scale)
so fact tables land partitioned by a date column and downstream queries get
partition pruning.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame


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

