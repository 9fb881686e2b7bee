"""Parallelism primitives: partition width decided from a byte estimate
(cost-based scan-fanout for unsplittable inputs, and its mirror, one
partition for small lake tables) and overlapped independent Spark jobs
(r12 optimization round, re-tuned in r13).

Two distinct idle-core problems measured in the r12 profile
(``tools/profile_stages.py``), with the two standard remedies from the
optimization playbook, plus the opposite case, where the cores are busy
with fixed per-stage cost rather than with data:

* **spread** — the driver testdata writes each table as ONE parquet file
  with ONE row group. A row group is Spark's minimum split, so every scan
  is a single task and all per-row compute downstream of it (tokenize +
  shingle explode, embedding folds, Arrow kernels) serializes on one core
  while the other 31 idle: q186's two tokenize stages ran 8.0 s and 7.5 s
  as single tasks. The playbook's input-skew rule ("one huge unsplittable
  file — repartition immediately after the read") applies: one cheap
  round-robin exchange of the NARROW scanned rows (documents = 0.6 MB
  compressed at sf0.1) buys full-width execution of the expensive
  downstream stage.

  r13 re-tuning (the r12 verdict's finding): the r12 form repartitioned to
  the FULL core count whenever the scan was narrower, which at local[32]
  multiplied 32-task scheduling overhead over ~1 MB inputs and made a
  dozen cheap-downstream heads SLOWER (q92 0.36 -> 2.01 s, q83 0.76 ->
  1.40 s, the index builds +8 s, and a broad per-query drag). Two fixes:

  1. **Cost-based width.** The fanout target is ``ceil(est_bytes /
     DENSE_BYTES_PER_TASK)`` capped at the core count — one task per
     16 KiB of compressed input, not one per core. 16 KiB is calibrated
     from the r12 profile of the compute-dense heads (0.59 MB of
     documents cost ~8 s of tokenize single-task, so 16 KiB ~ 0.2 s of
     downstream work per task); sites whose per-byte work is lighter
     skip the fanout entirely (``plans/base._ts`` defaults to NO fanout —
     a site opts in with ``fan=True`` plus measured evidence).
  2. **No JVM round-trip.** The r12 form called
     ``df.rdd.getNumPartitions()`` at plan-construction time — a full
     Catalyst translation per call (~40-60 ms), ~85 call sites, a
     measurable slice of the suite's per-query floor — and with AQE it
     would eagerly materialize shuffle-bearing inputs during planning.
     Callers pass ``est_bytes``/``est_partitions`` derived from the
     memoized FILE LISTING (``plans/base._table_layout``); both are
     required, so there is no RDD fallback.

  The repartition stays CONDITIONAL on the estimated scan split count, so
  it never fires at deployment scale — a 100 TB table scans as thousands
  of row-group splits and ``spread`` is the identity there; the exchange
  exists only in the regime where the input layout, not the plan, is the
  parallelism bound.

* **narrow** — the mirror image of ``spread``, for the star lake that
  ``operators.pipeline.run`` returns. Under AQE every shuffle is a stage
  of its own and every stage a job, and at dashboard scale each of those
  is one task of fixed cost: a 1,000-row ``groupBy`` + top-k costs
  62-127 ms on a 4-core container whatever the data. A frame with ONE partition satisfies every
  clustered or all-tuples requirement, so ``EnsureRequirements`` plans
  the aggregates, top-ks and window functions above it with no
  ``Exchange`` at all (*Shark*, SIGMOD 2013: each stage boundary of
  partial DAG execution costs the same at any size). The rule narrows a
  table to one partition when its files total no more than the session's
  ``spark.sql.files.openCostInBytes`` (4 MB): the size below which
  Spark's own split packing reads a one-file table as one split anyway,
  so the parallelism given up is at most one open's worth of bytes.
  Above the threshold it is the identity, so at the reference's scale
  (trips ~230 MB) and at 100 TB the plans do not change.

* **run_parallel** — lifecycle heads (q239/q252/q245/...) materialize
  several INDEPENDENT store artifacts; each ``write_version`` /
  ``localCheckpoint`` is a driver-blocking action, so the head paid every
  job's driver tail (planning, parquet commit, manifest write) serially
  — q252 ran ~17 back-to-back actions. Spark's scheduler happily runs
  several jobs at once inside one application; submitting independent
  actions from a small thread pool lets one job's tasks back-fill
  executors idled by another job's driver-side phases (the playbook's
  "overlap independent jobs" pattern, FIFO scheduling = exactly the
  back-fill behaviour wanted). Store CONTENTS are unchanged — only the
  wall-clock overlap changes; each store still serializes its own commits
  behind the per-store writer lock.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark.sql import DataFrame

#: compressed input bytes per fanout task for compute-DENSE downstream
#: work (tokenize + shingle explode, regex batteries, Arrow kernels):
#: calibrated from the r12 single-task profile (~13 s of downstream work
#: per compressed MB of documents => ~0.2 s per 16 KiB task, enough to
#: amortize task scheduling). Sites with lighter per-byte work pass a
#: larger value or skip the fanout.
DENSE_BYTES_PER_TASK = 16 * 1024


def spread(df: DataFrame, est_bytes: int, est_partitions: int) -> DataFrame:
    """Cost-based round-robin fanout of a narrow scan — the
    unsplittable-input fix. Identity when the scan already has enough
    splits (every real-scale deployment: ``est_partitions`` >= cores) or
    when the input is too small to amortize the extra tasks (the fanout
    target is one task per ``DENSE_BYTES_PER_TASK`` of input, capped at the
    core count — never "cores because cores").

    ``est_bytes``/``est_partitions`` come from the caller's file listing
    (``plans/base._table_layout``) so the decision costs no JVM call.
    Both are required: without a byte estimate there is no cost to weigh.

    Round-robin (keyless) repartition is deterministic under retries
    (sort-before-repartition is on by default) and none of the engine's
    relational results depend on physical row placement, so output values
    are unchanged — pinned by the untouched oracle hashes.
    """
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    if est_partitions >= cores:
        return df
    target = min(cores, max(1, -(-est_bytes // DENSE_BYTES_PER_TASK)))
    if target <= est_partitions:
        return df
    return df.repartition(target)


def narrow(df: DataFrame, est_bytes: int) -> DataFrame:
    """One partition for a table whose files total ``est_bytes`` <= the
    session's ``spark.sql.files.openCostInBytes``; the identity above it.
    ``coalesce(1)`` is a narrow dependency: it merges the scan's splits in
    one task and adds no exchange of its own."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    return df.coalesce(1) if est_bytes <= conf.filesOpenCostInBytes() else df


def run_parallel(*thunks: Callable[[], Any], max_workers: int = 6) -> list[Any]:
    """Run independent driver-blocking actions as overlapping Spark jobs.

    Each thunk must be independent of the others (different stores /
    different lineages); results return in thunk order. Job submission
    from plain threads is supported by Spark (job descriptions are
    thread-local; the engine does not set them outside the bench).

    Failure semantics (r13, the r12 advice item): the first failure
    CANCELS every not-yet-started sibling, so a lifecycle head stops
    committing further stores once one artifact has failed — the same
    stop-at-first-failure window the serial code had (an already-RUNNING
    sibling cannot be interrupted and still completes; each store's own
    commit stays atomic behind its writer lock either way). Every root
    cause that did occur is surfaced: one exception re-raises as itself,
    several raise as a BaseExceptionGroup (an ExceptionGroup when all of
    them are Exceptions), each with its own type and traceback.
    """
    if len(thunks) == 1:
        return [thunks[0]()]
    import threading
    from concurrent.futures import as_completed

    stop = threading.Event()

    class _Skipped(Exception):
        pass

    def _guard(t: Callable[[], Any]) -> Callable[[], Any]:
        def run():
            # the failing worker sets `stop` BEFORE its thread frees, so
            # a thunk the pool dequeues after a sibling failure is
            # deterministically skipped (no further store commits start)
            if stop.is_set():
                raise _Skipped()
            try:
                return t()
            except BaseException:
                stop.set()
                raise

        return run

    with ThreadPoolExecutor(max_workers=min(max_workers, len(thunks))) as pool:
        futures = [pool.submit(_guard(t)) for t in thunks]
        errors: list[BaseException] = []
        for f in as_completed(futures):
            if f.cancelled():
                continue
            exc = f.exception()
            if exc is not None and not isinstance(exc, _Skipped):
                errors.append(exc)
                for g in futures:
                    g.cancel()
        if errors:
            if len(errors) == 1:
                raise errors[0]
            raise BaseExceptionGroup("run_parallel: multiple thunks failed", errors)
        return [f.result() for f in futures]
