"""Query-registry plumbing shared by the plan modules.

Each named query is a ``(spark, sf_dir) -> DataFrame`` callable plus an
optional DuckDB oracle SQL string (the driver's correctness gate — see
``/root/repo/__spark_entry__.py``). Registration happens at import via the
``@query`` decorator; ``plans.registry`` aggregates all modules.

Determinism rules every query follows (SURVEY.md §7.4):
* aggregate doubles through ``exact_sum``/``exact_avg`` (order-independent);
* every top-k sort carries a total tie-break over the group columns;
* oracle SQL casts date-part/bigint outputs to match Spark's types;
* DuckDB ``dayofweek`` is 0=Sun — oracle adds +1 to match Spark.
"""

from __future__ import annotations

import os

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..sources.readers import parquet_files, read_parquet_table

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => driver does rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    #: a FIXTURE is a superseded formulation kept only as evidence for its
    #: oracle-twin kernel (row-equality pinned in tests): it stays callable
    #: and oracle-verifiable, but the gate-rotation scheduler never spends
    #: a slot on it and the bench suite skips it — the kernel twin carries
    #: the identical oracle SQL and IS the deployment path (r5 verdict
    #: item 6).
    fixture: bool = False


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str | None,
    tags: tuple[str, ...] = (),
    fixture: bool = False,
):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QuerySpec(name, fn, oracle, tags, fn.__doc__ or "", fixture)
        return fn

    return deco


#: per-session scan-handle memo: a DataFrame is just an analyzed plan, and
#: the testdata directories are immutable, so re-listing files + re-reading
#: parquet footers for every query in a 60-query suite is pure overhead
_SCAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _SCAN_CACHE.get(key)
    if df is None:
        if len(_SCAN_CACHE) > 256:
            _SCAN_CACHE.clear()
        df = read_parquet_table(spark, sf_dir, name)
        _SCAN_CACHE[key] = df
    return df


#: memoized table file layout: (realpath(sf_dir), name) -> (total_bytes,
#: n_files). The testdata directories are immutable, so one file listing per
#: table per process replaces the r12 per-call df.rdd.getNumPartitions()
#: JVM round-trip (~40-60 ms x ~85 call sites — a measured slice of the
#: suite's per-query driver floor).
_TABLE_LAYOUT: dict[tuple[str, str], tuple[int, int]] = {}

#: Spark's scan-packing constants (spark.sql.files.maxPartitionBytes /
#: openCostInBytes defaults) — used only to ESTIMATE the split count for
#: the is-the-scan-narrow decision; an over-estimate merely skips the
#: fanout, never adds an exchange at scale.
_MAX_SPLIT_BYTES = 128 * 1024 * 1024
_OPEN_COST_BYTES = 4 * 1024 * 1024


def _table_layout(sf_dir: str, name: str) -> tuple[int, int]:
    key = (os.path.realpath(sf_dir), name)
    hit = _TABLE_LAYOUT.get(key)
    if hit is None:
        files = parquet_files(os.path.join(sf_dir, f"{name}.parquet")) or parquet_files(
            os.path.join(sf_dir, name)
        )
        total = sum(os.path.getsize(f) for f in files)
        hit = (total, max(1, len(files)))
        if files:  # an empty listing may be a table whose files come later
            _TABLE_LAYOUT[key] = hit
    return hit


def _est_scan_partitions(total_bytes: int, n_files: int, cores: int) -> int:
    """Estimate of Spark's scan split count from the file listing (the
    FileSourceScanExec packing formula with default confs): files are
    charged openCostInBytes and bin-packed into splits of
    min(maxPartitionBytes, max(openCost, charged_total / cores))."""
    charged = total_bytes + n_files * _OPEN_COST_BYTES
    max_split = min(_MAX_SPLIT_BYTES, max(_OPEN_COST_BYTES, charged // max(1, cores)))
    return max(1, -(-charged // max_split))


def _ts(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *cols: str,
    fan: bool = False,
) -> DataFrame:
    """``_t`` + column-prune, plus an OPT-IN scan-parallelism floor
    (``functions/parallelism.spread``): the driver testdata writes each
    table as ONE file with ONE row group — Spark's minimum split — so
    every scan is a single task and expensive per-row work layered on it
    (tokenize/shingle explodes, regex batteries, Arrow kernels)
    serializes on one core. ``fan=True`` applies the guide's input-skew
    rule (repartition immediately after the read) with a COST-BASED
    width — one task per ``parallelism.DENSE_BYTES_PER_TASK`` of compressed input, capped
    at the core count — and only below an estimated-split threshold, so
    the exchange never exists at deployment scale.

    ``fan`` defaults to False because the r12 round measured the
    unconditional fanout REGRESSING every head whose downstream per-row
    work was too cheap to amortize the extra tasks (q92 +1.6 s at 32
    cores, q83 +0.6 s, a broad per-query drag); a site opts in with
    measured evidence (OPTIMIZATION_r13.md has the per-site table).

    The prune select sits BELOW the exchange, so ``ReadSchema`` stays
    narrow and the exchange ships only the named columns. Heavy
    derivations (``tokens(...)`` etc.) belong ABOVE the returned frame —
    projecting them here would compute them map-side of the exchange,
    single-task again."""
    df = _t(spark, sf_dir, name)
    if cols:
        df = df.select(*cols)
    if not fan:
        return df
    from ..functions.parallelism import spread

    total, n_files = _table_layout(sf_dir, name)
    cores = spark.sparkContext.defaultParallelism
    return spread(
        df, est_bytes=total, est_partitions=_est_scan_partitions(total, n_files, cores)
    )
