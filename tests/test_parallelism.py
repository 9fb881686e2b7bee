"""Focused tests for functions/parallelism (r13): the cost-based spread
width and run_parallel's stop-at-first-failure semantics (r12 advice —
a failed lifecycle artifact must stop sibling store commits that have
not started, and every root cause must surface)."""

from __future__ import annotations

import threading
import time

import pytest

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.functions.parallelism import (
    DENSE_BYTES_PER_TASK,
    run_parallel,
    spread,
)
from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.plans.base import (
    _est_scan_partitions,
)


def test_run_parallel_results_in_thunk_order():
    assert run_parallel(lambda: 1, lambda: 2, lambda: 3) == [1, 2, 3]


def test_run_parallel_single_thunk_runs_inline():
    assert run_parallel(lambda: "only") == ["only"]


def test_run_parallel_first_failure_cancels_unstarted_siblings():
    ran: list[str] = []
    gate = threading.Event()

    def slow_ok():
        gate.wait(5)
        ran.append("slow")
        return "slow"

    def boom():
        # let the single other worker pick up slow_ok first, then fail
        time.sleep(0.05)
        raise ValueError("boom")

    def never():
        ran.append("never")

    # max_workers=2: slow_ok and boom start immediately, `never` queues;
    # boom's failure must cancel it before a worker frees up
    with pytest.raises(ValueError, match="boom"):
        try:
            run_parallel(slow_ok, boom, never, max_workers=2)
        finally:
            gate.set()
    assert "never" not in ran


def test_run_parallel_multiple_failures_raise_exception_group():
    # both thunks START before either fails (barrier), so both failures
    # really occur and both root causes must surface
    barrier = threading.Barrier(2)

    def a():
        barrier.wait(5)
        raise ValueError("a")

    def b():
        barrier.wait(5)
        raise KeyError("b")

    with pytest.raises(ExceptionGroup) as ei:
        run_parallel(a, b, max_workers=2)
    kinds = {type(e) for e in ei.value.exceptions}
    assert kinds == {ValueError, KeyError}


def test_run_parallel_keeps_base_exceptions_intact():
    # a BaseException (KeyboardInterrupt-style) failing alongside a
    # ValueError must come back as itself, not wrapped in an Exception
    class Abort(BaseException):
        pass

    barrier = threading.Barrier(2)
    abort = Abort("stop")

    def a():
        barrier.wait(5)
        raise abort

    def b():
        barrier.wait(5)
        raise ValueError("b")

    with pytest.raises(BaseExceptionGroup) as ei:
        run_parallel(a, b, max_workers=2)
    assert not isinstance(ei.value, ExceptionGroup)
    got = [e for e in ei.value.exceptions if isinstance(e, Abort)]
    assert got == [abort] and got[0].__traceback__ is not None
    assert {type(e) for e in ei.value.exceptions} == {Abort, ValueError}


def test_spread_width_is_cost_based(spark):
    df = spark.range(10)
    # tiny input: one 16 KiB unit -> no exchange even though 1 < cores
    assert spread(df, est_bytes=1_000, est_partitions=1) is df
    # wide-enough scan: identity regardless of bytes
    cores = spark.sparkContext.defaultParallelism
    assert spread(df, est_bytes=10**12, est_partitions=cores) is df
    # dense mid-size input: ceil(bytes/16KiB) capped at cores
    out = spread(df, est_bytes=5 * DENSE_BYTES_PER_TASK, est_partitions=1)
    want = min(cores, 5)
    assert out.rdd.getNumPartitions() == want
    # values unchanged — round-robin placement only
    assert sorted(r.id for r in out.collect()) == list(range(10))


def test_est_scan_partitions_matches_packing_regimes():
    # one small file -> one split
    assert _est_scan_partitions(600_000, 1, 32) <= 2
    # a 100 TB table scans wide: far more splits than cores
    assert _est_scan_partitions(100 * 1024**4, 800_000, 32) >= 32
