"""ST6 async launch + status poll over the real ingest loop."""

from __future__ import annotations

from tmdb_sync_spark.streaming.ingest import CURSOR_KEY, run_sync_top
from tmdb_sync_spark.streaming.jobs import JobRunner
from tmdb_sync_spark.util import scratch_dir


def test_launch_returns_immediately_and_status_converges(spark):
    d = scratch_dir("jobs_test_")
    runner = JobRunner()
    job_id = runner.launch(
        run_sync_top, spark, d, max_pages=3, resume=True
    )
    # 202 semantics: the id is available before the job finishes
    assert runner.status(job_id)["state"] in ("running", "done")

    final = runner.wait(job_id, timeout=300)
    assert final["state"] == "done"
    # pages 1-3 → ids 1..60, no injected failures in that range
    assert final["result"] == {"page": 3, "inserted": 60, "updated": 0}

    # durable progress: the committed cursor row agrees with the result
    status = runner.status(
        job_id, spark, cursors_path=f"{d}/cursors", cursor_key=CURSOR_KEY
    )
    assert status["cursor"]["page"] == 3
    assert status["cursor"]["inserted"] == 60


def test_failed_job_surfaces_error(spark):
    runner = JobRunner()

    def boom():
        raise RuntimeError("upstream exploded")

    job_id = runner.launch(boom)
    final = runner.wait(job_id, timeout=30)
    assert final["state"] == "failed"
    assert "upstream exploded" in final["error"]


def test_unknown_job_id_is_not_found_not_an_exception(spark):
    """The reference's status endpoint returns 404/empty for unknown ids
    (app/main.py:64-138) — a poller must get a status shape, not a
    KeyError."""
    runner = JobRunner()
    assert runner.status("deadbeef")["state"] == "not_found"
    assert runner.wait("deadbeef", timeout=1)["state"] == "not_found"


def test_terminal_records_are_bounded(spark):
    """A long-lived runner must not grow without bound: once the record
    count exceeds max_records, the oldest TERMINAL jobs are dropped;
    running jobs are never evicted."""
    import threading

    runner = JobRunner(max_records=5)
    gate = threading.Event()
    running = runner.launch(gate.wait, 60)
    done = [runner.launch(lambda: None) for _ in range(8)]
    for jid in done:
        runner.wait(jid, timeout=30)
    # one more launch triggers pruning past the cap
    last = runner.launch(lambda: None)
    runner.wait(last, timeout=30)
    assert len(runner._jobs) <= 5
    assert runner.status(running)["state"] == "running"   # never evicted
    assert runner.status(done[0])["state"] == "not_found"  # oldest dropped
    gate.set()
    assert runner.wait(running, timeout=30)["state"] == "done"


def test_wait_on_already_evicted_id_is_not_found(spark):
    """wait() on a record that was pruned BEFORE the call gets the same
    not-found shape as status() — never a KeyError / AttributeError."""
    runner = JobRunner(max_records=2)
    first = runner.launch(lambda: None)
    runner.wait(first, timeout=30)
    for _ in range(4):                      # push `first` out of the window
        runner.wait(runner.launch(lambda: None), timeout=30)
    assert runner.status(first)["state"] == "not_found"
    assert runner.wait(first, timeout=1)["state"] == "not_found"


def test_wait_delivers_outcome_pruned_mid_wait(spark):
    """If the record is evicted between wait()'s join and its snapshot,
    the outcome still belongs to the waiting caller (wait snapshots the
    record it joined, not a re-lookup)."""
    import threading

    runner = JobRunner(max_records=4)
    gate = threading.Event()
    jid = runner.launch(lambda: (gate.wait(30), {"answer": 7})[1])
    with runner._lock:
        rec = runner._jobs[jid]
        real = rec["thread"]

    class EvictingJoin:
        # stand-in thread whose join() completes the job, then prunes the
        # record before wait() can snapshot it — the exact race window
        def join(self, timeout=None):
            gate.set()
            real.join(timeout)
            with runner._lock:
                runner._jobs.pop(jid, None)

    with runner._lock:
        rec["thread"] = EvictingJoin()
    out = runner.wait(jid, timeout=30)
    assert out["state"] == "done" and out["result"] == {"answer": 7}
    assert runner.status(jid)["state"] == "not_found"


def test_unread_results_survive_eviction_of_read_ones(spark):
    """A launcher that hasn't polled its finished job yet must not lose
    the result to a flood of later, already-polled jobs — polled terminal
    records evict first."""
    import time

    runner = JobRunner(max_records=4)
    mine = runner.launch(lambda: {"answer": 42})
    # let it finish WITHOUT polling (wait() would mark it read)
    for _ in range(100):
        with runner._lock:
            if runner._jobs[mine]["state"] != "running":
                break
        time.sleep(0.05)
    for _ in range(8):                      # flood with polled jobs
        runner.wait(runner.launch(lambda: None), timeout=30)
    final = runner.wait(mine, timeout=30)
    assert final["state"] == "done" and final["result"] == {"answer": 42}


def test_resync_stages_a_fresh_feed_per_run(spark):
    """ADVICE r5: within one application, a resume=False re-sync over
    the same pages must MISS the staged-feed cache (per-run token in the
    key) — against a live API the old behavior silently replayed the
    previous run's discover snapshot."""
    from tests.test_sync_feed_end import staged_keys

    d = scratch_dir("resync_test_")
    with staged_keys("ingest_feed") as new1:
        run_sync_top(spark, d, max_pages=2, resume=False)
    assert new1, "first run staged no feed"
    with staged_keys("ingest_feed") as new2:
        run_sync_top(spark, d, max_pages=2, resume=False)
    # the second run staged its OWN feed (fresh token) instead of
    # replaying the first run's snapshot
    assert len(new2) == len(new1) > 0 and not set(new1) & set(new2), \
        "re-sync served the previous run's feed"
