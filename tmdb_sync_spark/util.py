"""Small shared utilities."""

from __future__ import annotations

import atexit
import json
import os
import shutil
import tempfile
import threading
import time

from pyspark.sql import DataFrame, SparkSession

_SCRATCH: list[str] = []
atexit.register(
    lambda: [shutil.rmtree(p, ignore_errors=True) for p in _SCRATCH])


class ConcurrentWriterError(RuntimeError):
    """A second writer tried to enter a directory another writer holds."""


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True          # exists, owned by someone else
    return True


def acquire_dir_lock(
    target_dir: str, lock_name: str, *, wait_s: float = 0.0
) -> str:
    """Single-writer lock file for a directory-protocol table.

    Real table formats serialize writers through optimistic concurrency
    on a commit log; the moral equivalent for a plain directory is a lock
    file (underscore-prefixed, so Spark's file listing ignores it like
    ``_SUCCESS``). A second concurrent writer fails LOUDLY
    (:class:`ConcurrentWriterError`) — or, with ``wait_s``, polls until
    the holder releases — rather than corrupting the directory; a lock
    left by a crashed writer (dead pid, or unreadable contents) is
    reclaimed under a short-lived ``O_EXCL`` reclaim MUTEX that
    re-validates staleness before unlinking. The earlier claim-by-rename
    reclaim had a TOCTOU the contention stress test caught red-handed:
    a contender acting on a stale read could rename away the FRESH lock
    a faster reclaimer had already installed, yielding two live holders.
    Under the mutex the unlink provably removes the stale inode: while
    the stale lock file exists no acquirer can ``os.link`` over it, only
    the single mutex-holding reclaimer may remove it, and a lock
    re-read as live is never touched.

    The lock appears WITH its pid payload in one atomic step
    (``os.link`` from a pre-written temp file, the create-exclusive that
    carries content): an ``O_EXCL``-create-then-write would expose an
    empty lock for a moment, and a contender reading that window would
    take the garbled-lock branch and reclaim a live writer's lock. The
    temp name carries the THREAD id too — on pid alone, a second thread
    of the same process would reopen (truncate) the very inode the first
    thread's lock hard-links, recreating the empty-lock window
    in-process.

    Known limitation, shared with every pid-liveness lock: a crashed
    holder whose pid the OS later recycles onto an unrelated long-lived
    process makes the lock look held forever. The failure is LOUD (every
    writer raises, with the lock's age in the message) and operable —
    remove the lock file after verifying the pid is not a writer;
    age-based auto-expiry is deliberately NOT done, because reclaiming a
    slow-but-alive writer corrupts the directory, while a stuck table
    merely pages someone.
    """
    os.makedirs(target_dir, exist_ok=True)
    lock_path = os.path.join(target_dir, lock_name)
    tmp_path = f"{lock_path}.tmp.{os.getpid()}.{threading.get_ident()}"
    deadline = time.monotonic() + wait_s
    # payload: "pid held_since tid" — tid lets release_dir_lock verify
    # in-process ownership too (two threads of one pid are distinct
    # holders); readers of fields[0]/[1] are unaffected by the third field
    with open(tmp_path, "wb") as fh:
        fh.write(
            f"{os.getpid()} {time.time():.3f} {threading.get_ident()}\n"
            .encode()
        )
    try:
        while True:
            try:
                os.link(tmp_path, lock_path)
                return lock_path
            except FileExistsError:
                pass
            pid = held_since = None
            try:
                with open(lock_path, "rb") as fh:
                    fields = fh.read().split()
                    pid = int(fields[0])
                    held_since = float(fields[1])
            except (OSError, ValueError, IndexError):
                pass                      # vanished or garbled → reclaimable
            if pid is not None and _pid_alive(pid):
                if time.monotonic() < deadline:
                    time.sleep(0.05)
                    continue
                age = (
                    f"{time.time() - held_since:.0f}s"
                    if held_since is not None else "unknown time"
                )
                raise ConcurrentWriterError(
                    f"writer pid {pid} has held {lock_name} in "
                    f"{target_dir!r} for {age}; concurrent writers are not "
                    "supported — retry after the holder finishes. If that "
                    "pid is NOT a writer (a crashed holder's pid was "
                    "recycled), verify and remove the lock file"
                ) from None
            # stale lock: reclaim under the O_EXCL reclaim mutex, and
            # RE-VALIDATE while holding it — our first read may predate
            # a faster reclaimer's fresh lock
            mutex = f"{lock_path}.reclaim"
            try:
                st = os.stat(mutex)
                # a reclaimer's critical section is microseconds; a
                # mutex this old was abandoned by a crash — remove it
                # (concurrent removers: second unlink is a no-op)
                if time.time() - st.st_mtime > 10.0:
                    try:
                        os.unlink(mutex)
                    except FileNotFoundError:
                        pass
            except FileNotFoundError:
                pass
            try:
                rfd = os.open(mutex, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                time.sleep(0.01)          # another reclaimer is working
                continue
            try:
                # Validate through an open fd so the inode we judge stale
                # is provably the inode we unlink. The mutex narrows the
                # race; the inode pin closes the residue the 10 s
                # abandoned-mutex sweep reopens: a reclaimer paused past
                # the sweep can have its mutex swept, a second reclaimer
                # finishes and a NEW writer locks — the resumed first
                # reclaimer must not unlink that fresh lock.
                try:
                    lfd = os.open(lock_path, os.O_RDONLY)
                except FileNotFoundError:
                    continue              # released/reclaimed already
                try:
                    pid2 = None
                    try:
                        pid2 = int(os.read(lfd, 256).split()[0])
                    except (OSError, ValueError, IndexError):
                        pass              # still garbled → reclaimable
                    if pid2 is not None and _pid_alive(pid2):
                        continue          # fresh live lock appeared — back off
                    stale_ino = os.fstat(lfd).st_ino
                finally:
                    os.close(lfd)
                try:
                    if os.stat(mutex).st_ino != os.fstat(rfd).st_ino:
                        continue          # our mutex was swept — lost the section
                    if os.stat(lock_path).st_ino != stale_ino:
                        continue          # a different (fresh) lock replaced it
                    os.unlink(lock_path)
                except FileNotFoundError:  # pragma: no cover - benign race
                    pass
            finally:
                # remove only OUR mutex inode — after a sweep, the name may
                # belong to a later reclaimer whose section is live
                try:
                    if os.stat(mutex).st_ino == os.fstat(rfd).st_ino:
                        os.unlink(mutex)
                except FileNotFoundError:  # pragma: no cover - stale sweep
                    pass
                os.close(rfd)
    finally:
        try:
            os.unlink(tmp_path)
        except FileNotFoundError:         # pragma: no cover - defensive
            pass


def release_dir_lock(lock_path: str) -> None:
    """Release a lock from :func:`acquire_dir_lock` — ONLY if its payload
    identifies the calling thread as the holder. Quiet if already gone.

    A blind unlink has a real failure mode (ADVICE r5): if an outside
    actor removed our lock mid-run (a crashed sweep, a directory-clearing
    actor) and ANOTHER writer has since installed a fresh lock, the blind
    unlink deletes that live writer's lock and silently admits a third
    writer. Verifying pid+tid from the payload means we can only ever
    remove a lock we provably hold; a garbled or foreign lock is left for
    the acquire-side reclaim protocol.

    The payload is read through an open fd and the fd's inode compared
    to the path's immediately before the unlink (the same inode pin the
    acquire-side reclaim uses): a read-by-path + unlink-by-path pair has
    its own verify→unlink window in which an external removal plus a
    fresh writer's install would hand the unlink a lock we never
    verified. The pin shrinks that window from "payload read → unlink"
    to "stat → unlink" (two adjacent syscalls); closing it entirely
    needs the reclaim mutex, which is not worth taking here — only an
    actor violating the protocol (nothing in-engine removes a live-pid
    lock) can open the window at all, and the residual failure needs it
    to strike twice in those few instructions."""
    try:
        fd = os.open(lock_path, os.O_RDONLY)
    except OSError:
        return
    try:
        try:
            fields = os.read(fd, 256).split()
            pid = int(fields[0])
            tid = int(fields[2]) if len(fields) > 2 else None
        except (OSError, ValueError, IndexError):
            return                  # garbled → not provably ours
        if pid != os.getpid():
            return
        if tid is not None and tid != threading.get_ident():
            return
        try:
            if os.stat(lock_path).st_ino != os.fstat(fd).st_ino:
                return              # replaced since we verified — not ours
            os.unlink(lock_path)
        except FileNotFoundError:
            pass
    finally:
        os.close(fd)


def fsync_dir(path: str) -> None:
    """fsync a DIRECTORY so a just-completed rename inside it survives
    power loss, not merely process crash. ``fsync`` on the renamed file
    alone persists its CONTENT; the rename itself lives in the directory
    entry, which is its own inode with its own dirty state — the
    distinction every commit-log implementation (and SQLite/Postgres WAL
    lore) handles. Quiet on platforms/filesystems that refuse directory
    fds (the rename is still process-crash-safe there)."""
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


def write_json_atomic(path: str, doc) -> None:
    """Publish ``doc`` as JSON at ``path``, atomic and power-loss
    durable: a pid-unique tmp file (two writers never share one) is
    fsynced, renamed over ``path`` with ``os.replace``, and the
    directory holding the rename is fsynced (:func:`fsync_dir`). A crash
    leaves either the old file or the new one, never a torn one."""
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        # one write: json.dump streams every list item as its own write,
        # which dominates the cost of a table record's long key lists
        fh.write(json.dumps(doc))
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)
    fsync_dir(os.path.dirname(path) or ".")


def literal_rows(spark, ddl: str, rows) -> DataFrame:
    """``rows`` (tuples in ``ddl`` column order) cast to the ``ddl``
    schema, as one inlined array of literal structs over a one-partition
    range: zero rows for an empty list, and the ``ddl`` schema (nullable
    columns) for every row count. ``createDataFrame`` over a Python list
    would ship the rows as a pickled RDD, and every job that scans it (a
    moderation MERGE scans its source twice) paid ~0.3 s more for it on
    a 4-vCPU host."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, StructType

    schema = StructType.fromDDL(ddl)
    return spark.range(1, numPartitions=1).select(F.inline(
        F.array(*[
            F.struct(*[F.lit(v).cast(f.dataType).alias(f.name)
                       for f, v in zip(schema.fields, r)])
            for r in rows
        ]).cast(ArrayType(schema))
    ))


def fsync_tree(root: str) -> None:
    """fsync every regular file and directory under ``root`` (and ``root``
    itself) — the content half of a power-loss-durable commit.

    :func:`fsync_dir` makes a commit-point RENAME durable, but a journal
    or version pointer that survives power loss while the staged parquet
    it promises does not would have recovery roll TORN data forward over
    the good copy (review finding): Spark's committer renames task files
    into place without fsyncing them, so their pages can still be
    dirty-cache-only when the journal hits disk. Called once, right
    before the commit-point write, on the staged tree it promises.
    Best-effort per entry (unreadable entries are the read path's error
    to raise, not the sync's)."""
    for dirpath, _dirnames, filenames in os.walk(root):
        for fn in filenames:
            try:
                fd = os.open(os.path.join(dirpath, fn), os.O_RDONLY)
            except OSError:
                continue
            try:
                os.fsync(fd)
            except OSError:
                pass
            finally:
                os.close(fd)
        fsync_dir(dirpath)


def scratch_dir(prefix: str) -> str:
    """mkdtemp + removal at interpreter exit.

    Used for intra-query materializations (streaming sink/checkpoint
    dirs, signature temp tables): repeated query invocations in a
    long-lived session must not accumulate /tmp state.
    """
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH.append(d)
    return d


# ONE lock for every session-conf shuffle-partitions window in the
# engine (components fixpoint loop, winnow verify stage): two windows
# guarded by DIFFERENT locks could interleave their set/restore pairs
# and pin the wrong value permanently. The conf is session-scoped, so a
# window is visible to anything else planning on the session — see the
# contextmanager docstring.
_SHUFFLE_CONF_LOCK = threading.Lock()


class shuffle_partitions_window:
    """``with shuffle_partitions_window(spark, n):`` — set
    ``spark.sql.shuffle.partitions`` to ``n`` for the block, restore on
    exit, serialized against every other window in the engine.

    The mechanism of record for sizing a bounded sub-computation's
    exchanges to its OWN data volume (the components A/B in COVERAGE.md
    r12 measured the two scoped alternatives — AQE-policy-only and
    plan-local repartition — ~2× slower: coalescing happens after each
    exchange is already planned and scheduled at the session count, and
    a repartition pins only its own exchange). The conf is
    SESSION-scoped: any unrelated query planned on the same session
    during the window plans its shuffles at ``n`` — acceptable under
    this engine's serial execution model; callers interleaving large
    independent shuffles on the same session should plan them outside.

    If the session's current value is not an integer (exotic conf), the
    window is a no-op — the caller's plan simply keeps the session
    shape.
    """

    def __init__(self, spark, n: int) -> None:
        self._spark = spark
        self._n = n
        self._prev: str | None = None

    def __enter__(self) -> "shuffle_partitions_window":
        conf_key = "spark.sql.shuffle.partitions"
        prev = self._spark.conf.get(conf_key)
        try:
            int(prev)
        except (TypeError, ValueError):
            return self   # exotic conf value — leave it untouched
        _SHUFFLE_CONF_LOCK.acquire()
        self._prev = prev
        self._spark.conf.set(conf_key, str(self._n))
        return self

    def __exit__(self, *exc) -> None:
        if self._prev is not None:
            try:
                self._spark.conf.set(
                    "spark.sql.shuffle.partitions", self._prev
                )
            finally:
                _SHUFFLE_CONF_LOCK.release()


def file_fingerprint(path: str) -> tuple:
    """Cheap content-version stamp for a parquet file (or dir of parts):
    fold into ``materialize_once`` cache keys for any input whose CONTENT
    can be rewritten in place (the driver regenerates /root/testdata
    between rounds), so a regeneration misses the cache instead of
    silently serving results computed from the previous corpus. Missing
    path → a None stamp; the read that follows raises the real error."""
    try:
        if os.path.isdir(path):
            stats = [
                e.stat() for e in os.scandir(path)
                if e.name.endswith(".parquet")
            ]
            return (
                len(stats),
                max((s.st_mtime_ns for s in stats), default=0),
                sum(s.st_size for s in stats),
            )
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return (None,)


class _Materialization:
    """Per-key placeholder: the registering thread writes, later callers
    wait on ``done`` — so first-call materializations of UNRELATED keys
    run concurrently instead of serializing behind one global lock."""

    __slots__ = ("done", "path", "error")

    def __init__(self) -> None:
        self.done = threading.Event()
        self.path: str | None = None
        self.error: BaseException | None = None


_MAT_CACHE: dict[tuple, _Materialization] = {}
_MAT_LOCK = threading.Lock()   # guards the dict only, never held over I/O


def _write_parquet(df: DataFrame, path: str) -> None:
    # seam for tests to gate/observe the write without touching Spark
    df.write.mode("overwrite").parquet(path)


def materialize_once(df: DataFrame, cache_key: tuple, prefix: str) -> DataFrame:
    """Write ``df`` to a scratch parquet dir once per (application,
    cache_key) and hand back a reader over it — the staging-table pattern.

    Versus ``persist()``: nothing is retained in executor storage, so a
    fanned-out intermediate (a minhash signature read by three join
    branches) is computed exactly once with no lazily-filled-cache race
    and no storage-memory pressure at 100 TB — the cluster equivalent is
    a bucketed staging table between pipeline stages. Versus a fresh
    scratch dir per invocation: repeated calls in a long-lived session
    reuse ONE materialization instead of accumulating unbounded /tmp
    state.

    ``cache_key`` IS the invalidation contract: it must capture every
    input the frame depends on. The immutable driver test tables keyed
    by sf_dir qualify; a path whose CONTENT can be rewritten mid-session
    does not — derive the key from a version/mtime in that case, or call
    :func:`reset_materialization_cache` after rewriting. Concurrent first
    calls for the SAME key materialize once (later callers wait on the
    owner's placeholder); a failed write is forgotten so a later call can
    retry.
    """
    spark = df.sparkSession
    key = (spark.sparkContext.applicationId, *cache_key)
    with _MAT_LOCK:
        entry = _MAT_CACHE.get(key)
        owner = entry is None
        if owner:
            entry = _MAT_CACHE[key] = _Materialization()
    if owner:
        try:
            path = scratch_dir(prefix)
            _write_parquet(df, path)
            entry.path = path
        except BaseException as e:
            entry.error = e
            with _MAT_LOCK:
                if _MAT_CACHE.get(key) is entry:
                    del _MAT_CACHE[key]
            raise
        finally:
            entry.done.set()   # waiters wake to a path or an error
    else:
        entry.done.wait()
        if entry.error is not None:
            raise RuntimeError(
                f"materialization of {key} failed in the owning thread"
            ) from entry.error
    return spark.read.parquet(entry.path)


def release_materialization(spark: SparkSession, cache_key: tuple) -> None:
    """Drop one ``materialize_once`` entry and delete its scratch dir —
    for a single-use staging table (a sync batch's feed) that no later
    call will hit, so a long-lived process does not keep one dir per
    batch until exit. Frames read from it are dead afterwards."""
    _release((spark.sparkContext.applicationId, *cache_key))


def _release(key: tuple) -> None:
    # an entry still being written has no path: its dir waits for exit
    with _MAT_LOCK:
        entry = _MAT_CACHE.pop(key, None)
    if entry is not None and entry.path is not None:
        shutil.rmtree(entry.path, ignore_errors=True)
        _SCRATCH.remove(entry.path)


# Extra caches to flush alongside _MAT_CACHE: any module-level memo of
# table-derived driver-side state registers its clear() here so one reset
# call covers the whole engine.
_RESET_HOOKS: list = []


def register_reset_hook(fn) -> None:
    _RESET_HOOKS.append(fn)


def reset_materialization_cache() -> None:
    """Release every cached materialization (its scratch dir too) and
    clear every registered memo — callers rewriting a source table in
    place call it to drop all table-derived driver-side state
    (fingerprinted memos could still alias on mtime-granularity
    rewrites). Frames read from a released entry are dead afterwards,
    so a reset must not run while another thread still uses a
    materialized frame (a ``materialize_once`` waiter, a sync batch
    reading its staged feed)."""
    with _MAT_LOCK:
        keys = list(_MAT_CACHE)
    for key in keys:
        _release(key)
    for fn in _RESET_HOOKS:
        fn()


def newest_tree_mtime(path: str) -> float:
    """Newest mtime anywhere under ``path`` — the path itself, every
    nested dir, every file. The LIVENESS signal for staging-dir sweeps:
    a directory's own mtime only changes when a DIRECT child is added,
    so a live writer streaming part files into a nested task dir looks
    frozen at the top level; any write anywhere in the tree must count
    as a heartbeat before an age-based sweep may rmtree it (r8 advice).
    Raises OSError if ``path`` itself is unstatable; entries that
    vanish mid-walk (a writer moving files) are treated as activity
    cheaply by being skipped — the surviving entries' times suffice."""
    newest = os.path.getmtime(path)
    for root, _dirs, files in os.walk(path):
        try:
            newest = max(newest, os.path.getmtime(root))
        except OSError:
            continue
        for fn in files:
            try:
                newest = max(newest, os.path.getmtime(os.path.join(root, fn)))
            except OSError:
                pass
    return newest


def count_bucket_files(index_path: str, prefix: str) -> tuple[int, int]:
    """``(total data files, max files in any one bucket dir)`` over a
    hive-partitioned index whose partition dirs start with ``prefix``
    (``bb=`` / ``bucket=``) — the compaction-need signal shared by the
    incremental-index family: appends add ≥1 file per touched bucket per
    drop, so the per-bucket max is what turns a probe file-open-bound."""
    total, worst = 0, 0
    if not os.path.isdir(index_path):
        return 0, 0
    for e in os.scandir(index_path):
        if e.is_dir() and e.name.startswith(prefix):
            n = sum(
                1 for f in os.listdir(e.path)
                if not f.startswith(("_", ".")) and f.endswith(".parquet")
            )
            total += n
            worst = max(worst, n)
    return total, worst


def check_store_contract(
    path: str, expected: dict, what: str, record: bool = True
) -> None:
    """Validate (or record, on first use) a persisted store's identity
    constants — the guard for the "store outlives the code" hazard
    (r8 review sweep): a signature index probed with different band
    definitions, or a bucket layout read with a different modulus,
    MISSES silently — matches just stop happening, which no schema
    check catches. The contract file (``_store_contract.json``) is
    written by atomic rename on first use and every later use must
    present identical constants, or this raises.

    ``record=False`` marks a READ-ONLY probe (e.g. contamination check,
    ``dedup_against_index(update_index=False)``): an existing contract
    is still validated, but a missing one is a no-op — a probe must
    never create the store directory or pin key-space constants for a
    store that was never built, which would refuse a later builder
    running different (legitimate) constants (r8 advice).

    Call with the constants that define the store's key space (hash
    counts, band counts, bucket moduli, dims, quantization ids) —
    NEVER tunables that only affect the current query.
    """
    import json as _json

    f = os.path.join(path, "_store_contract.json")
    if not record and not os.path.exists(f):
        return
    os.makedirs(path, exist_ok=True)
    if os.path.exists(f):
        with open(f) as fh:
            rec = _json.load(fh)
        if rec != expected:
            raise ValueError(
                f"{what}: store contract mismatch at {path!r} — written "
                f"with {rec}, code now uses {expected}; probing would "
                "silently miss (rebuild the store or run the matching "
                "code version)"
            )
        return
    write_json_atomic(f, expected)
