"""materialize_once concurrency semantics (staging-table helper)."""

from __future__ import annotations

import atexit
import os
import threading

import pytest

import tmdb_sync_spark.util as util


@pytest.fixture(autouse=True)
def _clean_cache():
    util.reset_materialization_cache()
    yield
    util.reset_materialization_cache()


def test_same_key_concurrent_first_calls_write_once(spark, monkeypatch):
    writes: list[str] = []
    real = util._write_parquet

    def counting(df, path):
        writes.append(path)
        real(df, path)

    monkeypatch.setattr(util, "_write_parquet", counting)
    df = spark.range(10)
    results = []

    def call():
        results.append(
            util.materialize_once(df, ("same-key-test",), "util_test_").count()
        )

    threads = [threading.Thread(target=call) for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert results == [10] * 6
    assert len(writes) == 1   # one materialization, five waiters


def test_unrelated_keys_do_not_serialize(spark, monkeypatch):
    """A slow first-call write of key A must not block key B's (they used
    to serialize behind one global lock held across the Spark write)."""
    gate = threading.Event()
    real = util._write_parquet

    def gated(df, path):
        if "slow" in path:
            assert gate.wait(60)
        real(df, path)

    monkeypatch.setattr(util, "_write_parquet", gated)
    df = spark.range(5)
    a_done = threading.Event()

    def slow_a():
        util.materialize_once(df, ("key-a",), "util_test_slow_")
        a_done.set()

    t = threading.Thread(target=slow_a)
    t.start()
    # while A's owner is stuck inside its write, B completes end-to-end
    assert util.materialize_once(df, ("key-b",), "util_test_").count() == 5
    assert not a_done.is_set()
    gate.set()
    t.join(60)
    assert a_done.is_set()


def test_failed_write_propagates_to_waiters_and_allows_retry(
    spark, monkeypatch
):
    entered = threading.Event()
    release = threading.Event()
    real = util._write_parquet

    def failing(df, path):
        entered.set()
        assert release.wait(60)
        raise OSError("disk full")

    monkeypatch.setattr(util, "_write_parquet", failing)
    df = spark.range(3)
    errors: list[BaseException] = []

    def owner():
        try:
            util.materialize_once(df, ("key-f",), "util_test_")
        except BaseException as e:
            errors.append(e)

    t_owner = threading.Thread(target=owner)
    t_owner.start()
    assert entered.wait(60)

    # instrument the placeholder so we KNOW the waiter is parked on it
    # before letting the owner fail (otherwise the waiter could arrive
    # after the failed key is forgotten and become a second owner)
    key = (spark.sparkContext.applicationId, "key-f")
    entry = util._MAT_CACHE[key]
    waiting = threading.Event()

    class SignalingEvent(threading.Event):
        def wait(self, timeout=None):
            waiting.set()
            return super().wait(timeout)

    sig = SignalingEvent()
    entry.done = sig

    def waiter():
        try:
            util.materialize_once(df, ("key-f",), "util_test_")
        except BaseException as e:
            errors.append(e)

    t_wait = threading.Thread(target=waiter)
    t_wait.start()
    assert waiting.wait(60)
    release.set()
    t_owner.join(60)
    t_wait.join(60)
    assert len(errors) == 2
    assert any(isinstance(e, OSError) for e in errors)          # the owner
    assert any(isinstance(e, RuntimeError) for e in errors)     # the waiter
    # the failure was forgotten: a later call retries and succeeds
    monkeypatch.setattr(util, "_write_parquet", real)
    assert util.materialize_once(df, ("key-f",), "util_test_").count() == 3


def test_codebook_memo_detects_table_rewrite(spark, sf_dir, tmp_path):
    """ADVICE r4: the IVF codebook memo must not serve stale centroid
    literals after an in-place table rewrite within one application —
    the memo key carries the embeddings parquet fingerprint
    (mtime+size), so a rewrite misses the memo without any caller
    calling reset_materialization_cache."""
    import os
    import shutil

    from tmdb_sync_spark.functions import similarity as sim

    d = tmp_path / "sfx"
    d.mkdir()
    emb = d / "embeddings.parquet"
    shutil.copy(f"{sf_dir}/embeddings.parquet", emb)
    sfd = str(d)

    sim._CODEBOOK_MEMO.clear()
    sim.ann_ivf_topk(spark, sfd)          # plan build collects the codebook
    fp1 = sim._embeddings_fingerprint(sfd)
    key = next(k for k in sim._CODEBOOK_MEMO if k[1] == sfd)
    assert sim._CODEBOOK_MEMO[key][0] == fp1

    st = os.stat(emb)
    os.utime(emb, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    fp2 = sim._embeddings_fingerprint(sfd)
    assert fp2 != fp1
    sim.ann_ivf_topk(spark, sfd)
    # the rewrite REPLACES the entry (fingerprint lives in the value):
    # no dead codebook accumulates per rewrite over a driver's lifetime
    keys = [k for k in sim._CODEBOOK_MEMO if k[1] == sfd]
    assert keys == [key]
    assert sim._CODEBOOK_MEMO[key][0] == fp2
    sim._CODEBOOK_MEMO.clear()


def test_materialize_once_under_contention(monkeypatch):
    """8 threads × 40 rounds hammering materialize_once: same-key callers
    coalesce to EXACTLY one write per key per generation, distinct keys
    write independently, and a failed write is retryable — the
    placeholder/Event protocol under real contention, not just the
    two-thread happy path."""
    import time
    from collections import Counter

    writes = Counter()
    lock = threading.Lock()

    def fake_write(df, path):
        with lock:
            writes[path] += 1
        time.sleep(0.001)

    monkeypatch.setattr(util, "_write_parquet", fake_write)
    # spark.read.parquet is reached via df.sparkSession — fake the chain
    class FakeRead:
        def parquet(self, path):
            return path

    class FakeSession:
        class sparkContext:
            applicationId = "app-stress"

        read = FakeRead()

    class DF:
        sparkSession = FakeSession()

    util.reset_materialization_cache()
    errors = []

    def worker(tid):
        try:
            for i in range(40):
                assert util.materialize_once(
                    DF(), ("stress", i % 5), "stress_"
                ) is not None
        except BaseException as e:  # pragma: no cover - diagnostic
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not errors, errors
    # 5 distinct keys → exactly 5 writes total across 320 calls
    assert sum(writes.values()) == 5
    util.reset_materialization_cache()


def test_release_dir_lock_only_removes_own_lock(tmp_path):
    """ADVICE r5: release must verify the payload identifies the caller
    — a blind unlink could remove a successor writer's live lock after
    ours was externally cleared."""
    import os
    import threading

    from tmdb_sync_spark import util

    d = str(tmp_path)
    lock = util.acquire_dir_lock(d, "_t.lock")
    # 1. foreign-pid lock is left alone
    os.unlink(lock)
    with open(lock, "wb") as fh:
        fh.write(b"999999 123.0 1\n")      # not our pid
    util.release_dir_lock(lock)
    assert os.path.exists(lock), "released a lock we do not hold"
    # 2. same pid, different thread id → still refused
    with open(lock, "wb") as fh:
        fh.write(
            f"{os.getpid()} 123.0 {threading.get_ident() + 1}\n".encode()
        )
    util.release_dir_lock(lock)
    assert os.path.exists(lock), "released another thread's lock"
    # 3. garbled payload → left for the acquire-side reclaim protocol
    with open(lock, "wb") as fh:
        fh.write(b"not-a-pid\n")
    util.release_dir_lock(lock)
    assert os.path.exists(lock)
    os.unlink(lock)
    # 4. our own lock IS released
    lock2 = util.acquire_dir_lock(d, "_t.lock")
    util.release_dir_lock(lock2)
    assert not os.path.exists(lock2)
    # 5. already-gone lock: quiet no-op
    util.release_dir_lock(lock2)


def test_reset_calls_every_registered_hook(monkeypatch):
    """One reset clears the staged intermediates and every registered
    memo (the IVF codebook and audit-index memos included)."""
    calls: list[str] = []
    monkeypatch.setattr(util, "_RESET_HOOKS", [])
    util.register_reset_hook(lambda: calls.append("a"))
    util.register_reset_hook(lambda: calls.append("b"))

    util.reset_materialization_cache()
    assert calls == ["a", "b"]


def test_release_frees_one_materialization(spark, monkeypatch):
    """A released entry leaves no cache key, scratch path or dir behind,
    and emptying the scratch list registers no further exit hook."""
    monkeypatch.setattr(util, "_SCRATCH", [])
    df = util.materialize_once(spark.range(3), ("rel_t",), "rel_t_")
    path = util._SCRATCH[0]
    assert df.count() == 3
    util.release_materialization(spark, ("rel_t",))
    assert not os.path.exists(path) and util._SCRATCH == []
    assert not any("rel_t" in k for k in util._MAT_CACHE)
    util.release_materialization(spark, ("rel_t",))     # no-op

    monkeypatch.setattr(atexit, "register", lambda fn: pytest.fail(
        "scratch_dir registered another exit hook"))
    os.rmdir(util.scratch_dir("rel_t_"))


def test_reset_frees_finished_materializations(spark, monkeypatch):
    """A reset deletes each finished entry's scratch dir and drops its
    scratch path, as a release does: a long-lived process that resets
    after in-place table rewrites keeps no dir per staged query."""
    monkeypatch.setattr(util, "_SCRATCH", [])
    df = util.materialize_once(spark.range(3), ("reset_t",), "reset_t_")
    path = util._SCRATCH[0]
    assert df.count() == 3 and os.path.isdir(path)
    util.reset_materialization_cache()
    assert not os.path.exists(path) and util._SCRATCH == []
    assert not any("reset_t" in k for k in util._MAT_CACHE)
