"""Versioned parquet table store — the engine's stand-in for the two Delta
capabilities the reference actually relies on (SURVEY.md §3.4):

1. **snapshot-isolated self-overwrite**: the reference reads table X and
   overwrites X in the same job (trips -> trips, ipynb:L1074 -> L1098),
   which only works because Delta snapshots the read version. Here each
   write lands in a fresh ``_v<k>`` directory and a tiny ``_CURRENT``
   pointer file flips atomically afterwards — readers of v(k-1) are never
   disturbed, so read-transform-overwrite is always safe.
2. **time travel**: any retained version is addressable for audit /
   reproducibility (``read_version``), with ``vacuum`` to reclaim space.

This is deliberately a minimal log-structured design (one pointer, numbered
snapshot dirs), not a Delta reimplementation: no transaction log. At 100 TB
each version directory is a normal (optionally partitioned) parquet dataset;
the pointer flip is O(1) regardless of data size.

**Concurrent writers** (Delta's optimistic-concurrency posture, scaled to
the manifest store): data materializes OUTSIDE any lock (staging dirs /
uniquely-named delta parts), then the metadata commit — manifest write +
pointer flip — runs under a per-store ``O_EXCL`` lockfile with stale-lock
takeover, and validates against the version the writer based its work on:

* ``append_version`` **commutes**: its manifest is rebuilt from whatever
  ``_CURRENT`` names at commit time, so an append racing another commit
  is never lost — it reparents onto the latest version.
  Appends whose rows were DERIVED from store state (the packed-sequence
  store continues per-shard offsets read from the current version) do NOT
  commute semantically: they pass ``expected_base`` and get the same CAS
  refusal ``write_version`` gives — never a silent double-fill.
* ``write_version`` is a read-transform-OVERWRITE: if another commit
  landed after the writer captured its base version, flipping would
  silently discard that commit, so it raises
  ``ConcurrentWriteError`` (Delta's ConcurrentAppendException posture) —
  the caller re-reads and retries.
* ``vacuum`` runs under the same lock, and its unreferenced-``_parts``
  sweep skips directories younger than ``grace_seconds`` — an in-flight
  append writes its delta part BEFORE taking the lock, so a racing vacuum
  must not reap a part whose manifest commit is seconds away.

The lock is a kernel-arbitrated ``fcntl.flock`` on a persistent ``_LOCK``
file, which assumes a POSIX-coherent filesystem (local disk, NFSv4) —
the store's stated scope. A holder that dies releases automatically (the
kernel drops flocks with the process), so there is no stale-lock window
to tune and no takeover protocol to race.

The pointer-plus-manifest commit is the lock-serialized form of Delta
Lake's log-record commit: one atomic metadata write names the data files
of the new version. It is the store's only backend.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import tempfile
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_POINTER = "_CURRENT"
_PREFIX = "_v"
_LOCK = "_LOCK"
_UNSET = object()


class ConcurrentWriteError(RuntimeError):
    """A snapshot commit lost its CAS check: another writer committed a
    version after this writer captured its base. Re-read the table and
    retry the transform (Delta's optimistic-concurrency posture)."""


@contextmanager
def writer_lock(path: str, timeout: float = 120.0):
    """Per-store writer mutex: an ``fcntl.flock`` exclusive lock on a
    persistent ``_LOCK`` file inside the store directory, held only
    across the metadata critical section (manifest write + pointer flip
    — never across data materialization).

    flock is kernel-arbitrated and dropped automatically when the holder
    dies, so there is no staleness concept and no takeover protocol. The
    mtime-based takeover this replaces (r11 advice) had two holes: two
    waiters could both stat a stale lockfile and the second unlink would
    remove the first winner's FRESH ``O_EXCL`` lock (two concurrent
    holders), and a LIVE holder whose critical section outlasted the
    window was usurped mid-hold. Here a live holder simply blocks
    waiters until it releases; ``timeout`` bounds that wait.

    The lockfile persists between holds — release never unlinks it.
    Unlink-on-release would reopen the classic flock race: a waiter that
    opened the old inode acquires the lock on an UNLINKED file while a
    newcomer creates and locks a fresh one — two holders again. A
    leftover ``_LOCK`` from a dead process is just an unlocked file.

    Scope: POSIX-coherent filesystems (local disk, NFSv4 — flock maps to
    byte-range leases there). flock is per open-file-description, so threads
    within one process exclude each other too (each hold opens its own
    fd)."""
    import fcntl

    os.makedirs(path, exist_ok=True)
    lock = os.path.join(path, _LOCK)
    deadline = time.monotonic() + timeout
    fd = os.open(lock, os.O_CREAT | os.O_RDWR)
    try:
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except (BlockingIOError, InterruptedError):
                if time.monotonic() >= deadline:
                    raise TimeoutError(
                        f"writer_lock: {lock} held by a live writer past {timeout}s"
                    )
                time.sleep(0.05)
        os.ftruncate(fd, 0)
        os.write(fd, f"{os.getpid()}\n".encode())  # debuggability only
        yield
    finally:
        os.close(fd)  # releases the flock


def _flip_pointer(path: str, version: int) -> None:
    tmp = os.path.join(path, _POINTER + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(path, _POINTER))  # atomic pointer flip


def _write_manifest(path: str, version: int, parts: list[str]) -> None:
    vdir = os.path.join(path, f"{_PREFIX}{version}")
    os.makedirs(vdir, exist_ok=True)
    tmp_man = os.path.join(vdir, _MANIFEST + ".tmp")
    with open(tmp_man, "w") as f:
        f.write("\n".join(parts) + "\n")
    os.replace(tmp_man, os.path.join(vdir, _MANIFEST))


def _versions(path: str) -> list[int]:
    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        if name.startswith(_PREFIX) and name[len(_PREFIX):].isdigit():
            out.append(int(name[len(_PREFIX):]))
    return sorted(out)


def _next_version(path: str, cur: int | None) -> int:
    """Allocate the next version number: one past BOTH the pointer and any
    on-disk ``_v`` directory. A writer that crashed between materializing
    ``_v{k+1}`` (manifest write / staging rename) and flipping the pointer
    leaves an orphan directory; allocating ``cur + 1`` would then
    ``os.rename`` onto a non-empty directory and wedge every subsequent
    full rewrite until manual cleanup (r11 advice). An orphan allocated
    PAST is just an unreferenced version: it ages out of vacuum's
    newest-``keep`` window and is reclaimed there. Call under the writer
    lock."""
    return max(_versions(path) + [cur or 0]) + 1


def current_version(path: str) -> int | None:
    ptr = os.path.join(path, _POINTER)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return int(f.read().strip())


def _write_staged(df: DataFrame, target: str, partition_by: list[str] | None) -> None:
    """Materialize ``df`` as parquet at ``target``, a staging directory or
    delta part that no version references yet. A write that raises
    removes ``target``, so a failed write leaves the store as it was.

    A partitioned write takes a REBALANCE on its keys first (r12
    hash-distribute, upgraded r13 to the AQE rebalance — the guide §6
    "REBALANCE hint before the write"): without any distribution every
    write task emits one file per partition key it holds, so file count
    scales as tasks x keys — the r12 scan fanout turned a ~4-task x
    16-band signature write into 32 x 16 = 512 tiny files per version.
    The r12 plain ``repartition(*keys)`` fixed the file count but pinned
    the write at the static shuffle-partition count (32 near-empty write
    tasks per store version at local[32] — q252's profile); REBALANCE
    keys the same exchange but lets AQE size the write stage from the
    actual bytes: batch-sized appends coalesce to a task or two, and at
    deployment scale a skewed partition key is SPLIT across tasks instead
    of serializing its whole directory into one (splits only add files
    per directory, never move rows across directories, so partition
    pruning is unchanged)."""
    w = df.write
    if partition_by:
        w = df.hint("rebalance", *partition_by).write.partitionBy(*partition_by)
    try:
        w.mode("overwrite").parquet(target)
    except BaseException:
        shutil.rmtree(target, ignore_errors=True)
        raise


def write_version(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    expected_base=_UNSET,
) -> int:
    """Write ``df`` as the next version of the table and flip the pointer.

    Safe even when ``df`` reads from the table's current version: the new
    snapshot is fully materialized in its own (staging) directory before
    the pointer moves (write-then-flip, the essence of snapshot
    isolation).

    Concurrency: the snapshot commit is a CAS on ``_CURRENT`` — the flip
    happens only if the pointer still names ``expected_base`` (by default
    the version current when this call started, i.e. the version ``df``
    was derived from). If another writer committed meanwhile, flipping
    would silently discard that commit, so ``ConcurrentWriteError`` is
    raised and the staging output removed; re-read and retry. Callers
    whose ``df`` reads an EARLIER pinned version pass that version as
    ``expected_base`` explicitly."""
    os.makedirs(path, exist_ok=True)
    base = current_version(path) if expected_base is _UNSET else expected_base
    staging = os.path.join(path, f"_staging_{uuid.uuid4().hex[:12]}")
    _write_staged(df, staging, partition_by)
    with writer_lock(path):
        cur = current_version(path)
        if cur != base:
            shutil.rmtree(staging, ignore_errors=True)
            raise ConcurrentWriteError(
                f"write_version at {path}: based on v{base} but _CURRENT is "
                f"now v{cur} — another writer committed; re-read and retry"
            )
        version = _next_version(path, cur)
        os.rename(staging, os.path.join(path, f"{_PREFIX}{version}"))
        _flip_pointer(path, version)
    return version


_MANIFEST = "_PARTS"
_PARTS_DIR = "_parts"


def _parts_of(path: str, version: int) -> list[str]:
    """The data directories (relative to the table root) composing one
    version: a full snapshot IS its own directory; an appended version
    carries a manifest listing inherited parts + its own delta part."""
    vdir = os.path.join(path, f"{_PREFIX}{version}")
    man = os.path.join(vdir, _MANIFEST)
    if os.path.exists(man):
        with open(man) as f:
            return [ln.strip() for ln in f if ln.strip()]
    return [f"{_PREFIX}{version}"]


def append_version(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    allow_new_columns: bool = False,
    expected_base=_UNSET,
) -> int:
    """Write ``df`` as the next version WITHOUT rewriting existing data:
    only the new rows are physically written; the new version is a
    manifest referencing the previous version's data directories plus
    the new delta part. read_version/read_current resolve manifests
    transparently, so v(k) still reads as the full logical table.

    This is the lakehouse append the maintenance lifecycles
    (q245/q246-q249) need at 100 TB: ``write_version(current ∪ batch)``
    is snapshot-correct but pays an O(corpus) physical rewrite per
    batch — measured in the r9 lexical soak as the bulk of the append
    wall — while this path pays O(batch) IO with identical read-back
    semantics (row-multiset equal, pinned in tests/test_versioned.py).

    Requires an existing current version (an append with nothing to
    append to is a full write — use write_version) and an
    append-compatible schema: columns are resolved BY NAME across parts
    (``spark.read.parquet`` over multiple part directories matches by
    column name). Column REMOVALS are rejected loudly — always (a batch
    silently missing a column would null-corrupt the table). Column
    ADDITIONS are schema evolution: with ``allow_new_columns=True`` the
    batch may carry columns older parts lack; reads null-fill them in
    the older rows (``unionByName(allowMissingColumns=True)``), so a
    statistic added later costs an O(batch) append, not the O(corpus)
    ``write_version`` rewrite.

    Concurrency: PURE appends commute, so by default this path never
    loses the race — the delta part lands under a unique name outside
    the lock, and the manifest is rebuilt at commit time from whatever
    ``_CURRENT`` names THEN (reparenting over any commit that landed
    while this batch materialized). Appends whose rows were
    DERIVED from store state do NOT commute: the packed-sequence store
    continues per-shard offsets read from the current version, so two
    such appends racing from the same base would silently double-fill
    the same (shard, seq_id) — the read finalizer SUMS them, no error
    surfaces. Those callers pass ``expected_base`` (the version their
    rows were derived from): if ``_CURRENT`` moved past it,
    ``ConcurrentWriteError`` is raised and the staged part removed —
    re-derive from the new current and retry (see ``packed_append``'s
    bounded-retry loop). If the store moved
    but the caller did NOT pin a base (a commuting append racing an
    evolved append), the schema contract is RE-validated against the new
    current inside the lock — without this a batch missing a just-added
    column would land and silently null-fill (r11 advice TOCTOU)."""
    cur = current_version(path)
    if cur is None:
        raise FileNotFoundError(
            f"append_version: no committed version at {path} (use write_version)"
        )
    _validate_append_schema(df, path, allow_new_columns)
    # unique part name: concurrent appends must not clobber each other's
    # data directories (both would otherwise guess the same p<k+1>)
    part_rel = os.path.join(_PARTS_DIR, f"p{cur + 1}_{uuid.uuid4().hex[:8]}")
    _write_staged(df, os.path.join(path, part_rel), partition_by)
    return _commit_append(path, part_rel, df, allow_new_columns, cur, expected_base)


def _commit_append(
    path: str,
    part_rel: str,
    df: DataFrame,
    allow_new_columns: bool,
    validated: int,
    expected_base=_UNSET,
) -> int:
    """The locked commit phase of ``append_version``: CAS check for
    derived appends, schema re-validation when the store moved since the
    pre-write check, manifest reparent, pointer flip. Split out so the
    race windows (a commit landing between part materialization and this
    commit) are directly testable."""
    with writer_lock(path):
        cur = current_version(path)  # reparent onto whatever is current NOW
        if cur is None:
            shutil.rmtree(os.path.join(path, part_rel), ignore_errors=True)
            raise FileNotFoundError(
                f"append_version: store at {path} vanished during the append"
            )
        if expected_base is not _UNSET and cur != expected_base:
            shutil.rmtree(os.path.join(path, part_rel), ignore_errors=True)
            raise ConcurrentWriteError(
                f"append_version at {path}: rows derived from v{expected_base} "
                f"but _CURRENT is now v{cur} — another writer committed; "
                "re-derive from the new current and retry"
            )
        if cur != validated:
            # TOCTOU guard (r11 advice): an evolved append may have added a
            # column between the pre-write validation and this commit — a
            # batch missing it would land and read back silently
            # null-filled. Pure pyarrow footer reads, no Spark job.
            try:
                _validate_append_schema(df, path, allow_new_columns)
            except ValueError:
                shutil.rmtree(os.path.join(path, part_rel), ignore_errors=True)
                raise
        version = _next_version(path, cur)
        _write_manifest(path, version, _parts_of(path, cur) + [part_rel])
        _flip_pointer(path, version)
    return version


def _part_columns(path: str, rel: str) -> set[str]:
    """Column names of one manifest part without a Spark job: one parquet
    footer (all files of a part share a schema — single write) plus the
    hive partition keys encoded in the directory path (partitioned
    writes do NOT store the partition column in the footer)."""
    import pyarrow.parquet as pq

    root = os.path.join(path, rel)
    for dirpath, _dirs, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                cols = set(pq.read_schema(os.path.join(dirpath, f)).names)
                for seg in os.path.relpath(dirpath, root).split(os.sep):
                    if "=" in seg:
                        cols.add(seg.split("=", 1)[0])
                return cols
    return set()  # empty partitioned part: no data files at all


def _validate_append_schema(df: DataFrame, path: str, allow_new_columns: bool) -> None:
    """Write-time schema contract for appends: removals always loud, new
    columns only behind the evolution flag. Validated at WRITE time
    because the read path null-fills by name — without this check a
    batch missing a column would silently corrupt the table.

    Cost discipline: pure footer reads (one per part, via pyarrow — ~ms
    each, no Spark job); a per-append ``read_current`` would pay O(parts)
    DataFrame construction and made long unpoliced chains quadratic
    (measured: 24 appends 15.6 s -> 37.7 s before this fast path)."""
    have: set[str] = set()
    for rel in _parts_of(path, current_version(path)):
        have |= _part_columns(path, rel)
    if not have:
        return  # nothing committed carries data yet — any schema is fine
    got = set(df.columns)
    missing = have - got
    if missing:
        raise ValueError(
            f"append_version at {path}: batch is missing column(s) "
            f"{sorted(missing)} — a column removal is not an append; "
            "rewrite through write_version"
        )
    new = got - have
    if new and not allow_new_columns:
        raise ValueError(
            f"append_version at {path}: batch adds column(s) {sorted(new)}; "
            "pass allow_new_columns=True to evolve the schema (older rows "
            "read back null-filled)"
        )


def read_current(spark: SparkSession, path: str) -> DataFrame:
    v = current_version(path)
    if v is None:
        raise FileNotFoundError(f"no committed version at {path}")
    return read_version(spark, path, v)


def read_version(spark: SparkSession, path: str, version: int) -> DataFrame:
    """Time travel: read a specific retained snapshot."""
    vdir = os.path.join(path, f"{_PREFIX}{version}")
    if not os.path.isdir(vdir):
        raise FileNotFoundError(f"version {version} not found (or vacuumed) at {path}")
    parts = _parts_of(path, version)
    # one scan per manifest part, unioned BY NAME: each part directory is
    # its own partition-discovery root, so hive-style partition columns
    # (band=…/cell=…) resolve per part — a single multi-path read would
    # refuse the differing _v<k>/ vs _parts/ depths
    # (CONFLICTING_DIRECTORY_STRUCTURES). Catalyst pushes filters through
    # the union into every scan, so partition pruning works per part.
    # A PARTITIONED write of an empty batch emits no data files at all
    # (no partition directories) — skip such parts; an unpartitioned
    # empty write still emits a schema-carrying empty file and reads fine.
    def _has_data(rel: str) -> bool:
        for root, _dirs, names in os.walk(os.path.join(path, rel)):
            if any(n.endswith(".parquet") and not n.startswith(("_", ".")) for n in names):
                return True
        return False

    live = [p for p in parts if _has_data(p)] or parts
    dfs = [spark.read.parquet(os.path.join(path, p)) for p in live]
    out = dfs[0]
    for d in dfs[1:]:
        # allowMissingColumns: older parts null-fill columns added by a
        # later evolved append; write-time validation keeps removals loud
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def vacuum(path: str, keep: int = 2, grace_seconds: float = 300.0) -> list[int]:
    """Drop all but the newest ``keep`` versions (never the current one).
    Returns the removed version numbers.

    Runs under the store's writer lock, and the unreferenced-``_parts``
    sweep skips directories modified within ``grace_seconds``: an
    in-flight ``append_version`` materializes its delta part BEFORE
    taking the lock, so a part can be legitimately unreferenced for the
    seconds between its write and its manifest commit. Pass
    ``grace_seconds=0`` only when no concurrent writers exist (tests,
    single-threaded maintenance)."""
    with writer_lock(path):
        cur = current_version(path)
        vs = _versions(path)
        keep_set = set(vs[-max(keep, 1):])
        if cur is not None:
            keep_set.add(cur)
        # appended versions reference earlier data directories (older full
        # snapshots and _parts/ deltas) through their manifests — anything a
        # KEPT version references must survive, whatever its own version
        # number; unreferenced _parts/ deltas are garbage-collected.
        referenced: set[str] = set()
        for v in keep_set:
            referenced.update(_parts_of(path, v))
        removed = []
        doomed: list[str] = []
        for v in vs:
            if v not in keep_set and f"{_PREFIX}{v}" not in referenced:
                doomed.append(os.path.join(path, f"{_PREFIX}{v}"))
                removed.append(v)
        pdir = os.path.join(path, _PARTS_DIR)
        if os.path.isdir(pdir):
            for name in os.listdir(pdir):
                rel = os.path.join(_PARTS_DIR, name)
                if rel in referenced:
                    continue
                full = os.path.join(pdir, name)
                try:
                    if time.time() - os.path.getmtime(full) < grace_seconds:
                        continue  # possibly an in-flight append's part
                except OSError:
                    continue
                doomed.append(full)
        # staging dirs are either in-flight (younger than grace) or orphans
        # from a writer that died before its CAS commit
        for name in os.listdir(path):
            if name.startswith("_staging_"):
                full = os.path.join(path, name)
                try:
                    if time.time() - os.path.getmtime(full) < grace_seconds:
                        continue
                except OSError:
                    continue
                doomed.append(full)
    # the DECISION runs under the lock; the deletes run after release.
    # rmtree of whole version trees is the one store operation whose wall
    # scales with data size — holding the mutex across it would block every
    # concurrent commit for the duration (r11 advice). Deferred deletion is
    # safe: everything in ``doomed`` is unreferenced by every kept version,
    # version numbers are never reused (``_next_version`` allocates past
    # orphans), and a new commit only references parts of the version it
    # reparents onto — nothing can re-reference a doomed path.
    # threaded (r13): version trees delete independently, and rmtree wall
    # is filesystem-latency-bound, so overlapping them cuts the lifecycle
    # heads' per-call vacuum tail (every maintenance head vacuums 1-2
    # stores per run)
    if len(doomed) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(doomed))) as pool:
            list(pool.map(lambda d: shutil.rmtree(d, ignore_errors=True), doomed))
    else:
        for d in doomed:
            shutil.rmtree(d, ignore_errors=True)
    return removed


_CLEANUP_REGISTERED: set[str] = set()


def session_store(spark: SparkSession, kind: str) -> str:
    """Path of the per-session scratch store ``kind``:
    ``<tempdir>/spark_graft_<kind>_<applicationId>``. The path and its
    ``<path>_<suffix>`` siblings (a head's derived stores) are removed at
    interpreter exit.

    The maintenance heads' stores (q239's component table, q245's
    signature table, ...) are unique per application, so sessions never
    read each other's versions, while repeated runs within a session
    append versions. Without the exit cleanup a long-lived host running
    many sessions would accumulate one directory per application (r8
    advice). A deployment that wants a store to PERSIST names its own
    path."""
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_{kind}_{spark.sparkContext.applicationId}"
    )
    if path not in _CLEANUP_REGISTERED:
        _CLEANUP_REGISTERED.add(path)
        atexit.register(_remove_store, path)
    return path


def _remove_store(path: str) -> None:
    for p in [path, *glob.glob(glob.escape(path) + "_*")]:
        shutil.rmtree(p, ignore_errors=True)
