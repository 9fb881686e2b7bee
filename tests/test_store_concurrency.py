"""Concurrent-writer safety on the versioned store: the _CURRENT flip is
a CAS under a per-store writer lock, appends reparent (commute) over a
racing commit, and vacuum's grace window protects in-flight delta
parts."""

import os
import threading
import time

import pytest

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.sources import versioned as V


def _ids(spark, lo, hi):
    return spark.createDataFrame([(i,) for i in range(lo, hi)], ["id"])


def _all_ids(spark, p):
    return sorted(r["id"] for r in V.read_current(spark, p).collect())


def test_write_version_cas_conflict_raises(spark, tmp_path):
    """write_version based on a stale version must raise (flipping would
    silently discard the interleaved commit) and clean its staging."""
    p = str(tmp_path / "cas")
    V.write_version(_ids(spark, 0, 5), p)
    V.append_version(_ids(spark, 5, 8), p)  # v2 lands after base capture
    with pytest.raises(V.ConcurrentWriteError):
        V.write_version(_ids(spark, 50, 55), p, expected_base=1)
    assert _all_ids(spark, p) == list(range(8))  # store untouched
    assert not [d for d in os.listdir(p) if d.startswith("_staging_")]


def test_concurrent_appends_both_survive(spark, tmp_path):
    """Two appends racing from threads: unique part names + reparent-at-
    commit mean both batches land, whatever the interleaving."""
    p = str(tmp_path / "thr")
    V.write_version(_ids(spark, 0, 10), p)
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)
    barrier = threading.Barrier(2)
    errs = []

    def appender(lo):
        try:
            df = _ids(spark, lo, lo + 10)
            barrier.wait()
            V.append_version(df, p)
        except Exception as e:  # pragma: no cover - surfaced via assert
            errs.append(e)

    ts = [threading.Thread(target=appender, args=(lo,)) for lo in (100, 200)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    assert V.current_version(p) == 3
    assert _all_ids(spark, p) == (
        list(range(10)) + list(range(100, 110)) + list(range(200, 210))
    )


def test_writer_lock_blocks_then_times_out(tmp_path):
    p = str(tmp_path / "lk")
    with V.writer_lock(p):
        t0 = time.monotonic()
        with pytest.raises(TimeoutError):
            with V.writer_lock(p, timeout=0.3):
                pass
        assert time.monotonic() - t0 >= 0.3


def test_writer_lock_dead_holder_does_not_block(tmp_path):
    """A crashed writer's leftover lockfile carries no flock (the kernel
    dropped it with the process), so acquisition is immediate — no
    staleness window to wait out, no takeover protocol to race."""
    p = str(tmp_path / "stale")
    os.makedirs(p)
    lock = os.path.join(p, "_LOCK")
    with open(lock, "w") as f:
        f.write("dead\n")
    os.utime(lock, (time.time() - 3600, time.time() - 3600))
    t0 = time.monotonic()
    with V.writer_lock(p, timeout=1.0):
        pass  # acquired despite the dead holder's lockfile
    assert time.monotonic() - t0 < 0.5
    # the lockfile persists by design: unlink-on-release would reopen the
    # flock ghost-inode race (two holders)
    assert os.path.exists(lock)


def test_writer_lock_live_holder_never_usurped(tmp_path):
    """The r11-advice hole in the mtime protocol: a live holder whose
    critical section outlasted the staleness window was usurped mid-hold.
    With flock a live holder blocks waiters regardless of hold duration —
    the waiter times out instead of stealing the lock."""
    p = str(tmp_path / "live")
    with V.writer_lock(p):
        with pytest.raises(TimeoutError):
            with V.writer_lock(p, timeout=0.4):
                pass


def test_orphan_version_dir_does_not_wedge_rewrites(spark, tmp_path):
    """A writer that crashes between materializing _v{k+1} and flipping
    the pointer leaves an orphan directory; version allocation must skip
    past it (renaming staging onto a non-empty dir raises OSError and
    would wedge every subsequent full rewrite — r11 advice)."""
    p = str(tmp_path / "orphan")
    V.write_version(_ids(spark, 0, 5), p)  # v1, _CURRENT = 1
    # simulate the crash: _v2 exists with data, pointer still says 1
    _ids(spark, 90, 95).write.parquet(os.path.join(p, "_v2"))
    assert V.current_version(p) == 1
    v = V.write_version(_ids(spark, 10, 15), p)  # must not collide with _v2
    assert v == 3
    assert _all_ids(spark, p) == list(range(10, 15))
    # the orphan ages out of the keep window once newer versions exist
    V.write_version(_ids(spark, 20, 25), p)
    V.write_version(_ids(spark, 30, 35), p)
    removed = V.vacuum(p, keep=2, grace_seconds=0)
    assert 2 in removed and not os.path.exists(os.path.join(p, "_v2"))


def test_append_expected_base_cas_conflict_raises(spark, tmp_path):
    """A derived append (rows computed FROM store state, the packed-store
    posture) pins the version it read as expected_base: if another commit
    lands first, the append must raise — never silently land rows derived
    from a superseded base (the r11 double-fill finding)."""
    p = str(tmp_path / "dcas")
    V.write_version(_ids(spark, 0, 5), p)  # v1 — the derived batch's base
    V.append_version(_ids(spark, 5, 8), p)  # interleaved commit -> v2
    with pytest.raises(V.ConcurrentWriteError):
        V.append_version(_ids(spark, 100, 105), p, expected_base=1)
    assert _all_ids(spark, p) == list(range(8))  # store untouched
    # the staged delta part was cleaned up, not leaked: everything left in
    # _parts/ is referenced by the current manifest
    pdir = os.path.join(p, V._PARTS_DIR)
    on_disk = {os.path.join(V._PARTS_DIR, n) for n in os.listdir(pdir)}
    referenced = set(V._parts_of(p, V.current_version(p)))
    assert on_disk <= referenced


def test_append_revalidates_schema_after_concurrent_evolution(spark, tmp_path):
    """TOCTOU (r11 advice): batch validated against v_k, then an evolved
    append adds a column before the commit. The locked commit phase must
    re-validate and reject the now-incomplete batch instead of landing
    rows that read back silently null-filled."""
    p = str(tmp_path / "toctou")
    V.write_version(_ids(spark, 0, 5), p)  # v1: schema (id)
    validated = V.current_version(p)
    # the racing batch's delta part is already on disk (pre-lock phase done)
    part_rel = os.path.join(V._PARTS_DIR, "p2_toctou")
    batch = _ids(spark, 5, 10)
    batch.write.parquet(os.path.join(p, part_rel))
    # concurrent EVOLVED append commits first: schema grows to (id, score)
    from pyspark.sql import functions as F

    V.append_version(
        _ids(spark, 10, 12).withColumn("score", F.lit(1.0)),
        p,
        allow_new_columns=True,
    )
    with pytest.raises(ValueError, match="missing column"):
        V._commit_append(p, part_rel, batch, False, validated)
    assert not os.path.exists(os.path.join(p, part_rel))  # part cleaned up
    # a batch CARRYING the evolved schema still lands fine
    V.append_version(_ids(spark, 20, 22).withColumn("score", F.lit(2.0)), p)


def test_vacuum_grace_protects_inflight_part(spark, tmp_path):
    """An unreferenced-but-fresh _parts dir is exactly what an in-flight
    append looks like between its data write and its manifest commit —
    the default grace window must leave it alone; grace 0 reclaims."""
    p = str(tmp_path / "gr")
    V.write_version(_ids(spark, 0, 5), p)
    pending = os.path.join(p, V._PARTS_DIR, "p2_inflight")
    _ids(spark, 5, 10).write.parquet(pending)
    V.vacuum(p, keep=1)  # default grace: part survives
    assert os.path.isdir(pending)
    V.vacuum(p, keep=1, grace_seconds=0)
    assert not os.path.exists(pending)


def test_failed_writes_leave_the_store_as_it_was(spark, tmp_path):
    """A write whose job raises leaves the store's directory tree as it
    was: no ``_staging_*`` snapshot from write_version and no ``_parts``
    delta part from append_version (vacuum would reclaim either only
    after its grace period)."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "failed")
    V.write_version(_ids(spark, 0, 5), p)
    V.append_version(_ids(spark, 5, 8), p)

    def tree():
        return sorted(
            os.path.relpath(os.path.join(d, n), p)
            for d, dirs, files in os.walk(p)
            for n in dirs + files
        )

    before = tree()
    bad = _ids(spark, 10, 15).select(
        F.when(F.col("id") == 12, F.raise_error(F.lit("bad row")))
        .otherwise(F.col("id"))
        .alias("id")
    )
    for write in (V.write_version, V.append_version):
        with pytest.raises(Exception, match="bad row"):
            write(bad, p)
        assert tree() == before, write.__name__
    assert _all_ids(spark, p) == list(range(8))
