"""Measurement plumbing shared by every workload: op timing, spans,
Spark job-group counts, process-tree memory and process clean-up.

Nothing here imports the package under test; the workloads hand it the
callables they time.
"""

from __future__ import annotations

import itertools
import os
import statistics
import subprocess
import threading
import time
from collections import defaultdict


# --- op records and end-to-end statistics ---------------------------------


class OpLog:
    """Every attempted op of one measured window: (kind, start, end, ok)."""

    def __init__(self) -> None:
        self.ops: list[tuple] = []

    def add(self, kind: str, t0: float, t1: float, ok: bool) -> None:
        self.ops.append((kind, t0, t1, ok))

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if not o[3])

    def latencies_ms(self, kinds=None) -> list[float]:
        return [(t1 - t0) * 1e3 for k, t0, t1, ok in self.ops
                if ok and (kinds is None or k in kinds)]

    def mean_ms(self, pred) -> float:
        """Mean latency of the completed ops whose kind satisfies
        ``pred``. Over whole cycles this is the time a cycle spends on
        those kinds divided by their count, so a change to any one of
        them moves it in proportion to its share."""
        xs = [(t1 - t0) * 1e3 for k, t0, t1, ok in self.ops
              if ok and pred(k)]
        return sum(xs) / len(xs) if xs else float("nan")

    def ops_per_s(self) -> float:
        """Completed ops / the span they took (first start to last end).
        Dividing by that span, not by the nominal window, keeps the
        figure free of the whole-op quantisation a fixed window imposes
        on slow ops."""
        if not self.ops:
            return 0.0
        span = self.ops[-1][2] - self.ops[0][1]
        done = sum(1 for o in self.ops if o[3])
        return done / span if span > 0 else 0.0


CYCLE_END = (None, None)


def run_window(deck, seconds: float, log: OpLog, tracer) -> float:
    """Run one closed-loop client. ``deck`` is an iterator of ``(kind,
    callable)`` that yields :data:`CYCLE_END` after each whole cycle; the
    client starts its next op only after the previous one returned,
    never retries, and stops at the first cycle end after ``seconds``.
    Whole cycles keep the op mix of every run identical, so runs differ
    in speed, not in what they measured. ``callable`` returns normally
    on success; any exception counts as one failed op. Returns the
    window's wall time."""
    t_start = time.perf_counter()
    deadline = t_start + seconds
    for kind, fn in deck:
        if kind is None:
            if time.perf_counter() >= deadline:
                break
            continue
        t0 = time.perf_counter()
        try:
            tracer.op(kind, fn)
            ok = True
        except Exception as e:  # noqa: BLE001 - counted, not retried
            ok = False
            print(f"op failed: kind={kind}: {type(e).__name__}: "
                  f"{str(e)[:300]}", flush=True)
        log.add(kind, t0, time.perf_counter(), ok)
    return time.perf_counter() - t_start


# --- spans ----------------------------------------------------------------


class Tracer:
    """In-memory span recorder. A span is (op id, span id, parent span
    id, name, start, end); spans of one op share its op id. Layer counts
    recorded at the same boundaries go to :meth:`count`. The tracer also
    times its own work inside each op (job-group calls, span bookkeeping,
    count hooks) into :attr:`op_cost`, the overhead it adds to the op."""

    def __init__(self, spark) -> None:
        self.spans: list[tuple] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op_jobs: list[tuple] = []       # (kind, jobs, tasks)
        self.op_cost: list[float] = []       # seconds per op
        self._ids = itertools.count(1)
        self._op = None                      # id of the running op
        self._stack: list[int] = []          # open span ids
        self._cost = None                    # tracer time in the op
        self._spark = spark

    # op scope: one closed-loop op, one Spark job group
    def op(self, kind: str, fn):
        t = time.perf_counter()
        op_id = next(self._ids)
        sc = self._spark.sparkContext
        group = f"perfbench-op-{op_id}"
        sc.setJobGroup(group, kind)
        self._op = op_id
        self._cost = time.perf_counter() - t
        try:
            return self.span(f"op.{kind}", fn)
        finally:
            t = time.perf_counter()
            self._op = None
            sc.setJobGroup(f"perfbench-idle-{op_id}", "idle")
            self._record_jobs(kind, group)
            self.op_cost.append(self._cost + time.perf_counter() - t)
            self._cost = None

    def _record_jobs(self, kind: str, group: str) -> None:
        st = self._spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (list(info.stageIds) if info else []):
                stage = st.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        self.op_jobs.append((kind, len(jobs), tasks))

    def _charge(self, seconds: float) -> None:
        """Add tracer time to the running op's cost (none outside ops)."""
        if self._cost is not None:
            self._cost += seconds

    def span(self, name: str, fn, *args, **kwargs):
        t_in = time.perf_counter()
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append((self._op, sid, parent, name, t0, t1))
            self._charge(t0 - t_in + time.perf_counter() - t1)

    def reset(self) -> None:
        self.spans.clear()
        self.counts.clear()
        self.op_jobs.clear()
        self.op_cost.clear()

    def count(self, name: str, value: float = 1.0) -> None:
        self.counts[name] += value

    def wrap(self, name: str, fn, after=None):
        """``fn`` traced as span ``name``; ``after(result, args, kwargs)``
        records counts once the call returned."""

        def traced(*args, **kwargs):
            out = self.span(name, fn, *args, **kwargs)
            if after is not None:
                t = time.perf_counter()
                after(out, args, kwargs)
                self._charge(time.perf_counter() - t)
            return out

        traced.__wrapped__ = fn
        return traced

    # derived figures
    def busy(self, name: str) -> float:
        return sum(t1 - t0 for *_, n, t0, t1 in self.spans if n == name)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s[3] == name)

    def self_time(self, prefix: str) -> float:
        """Summed self time of spans named ``prefix*``: each span's
        duration minus the part of it its direct children cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s[2] is not None:
                children[s[2]].append((s[4], s[5]))
        total = 0.0
        for _, sid, _, name, t0, t1 in self.spans:
            if not name.startswith(prefix):
                continue
            covered, end = 0.0, t0
            for c0, c1 in sorted(children[sid]):
                c0, c1 = max(c0, end), min(c1, t1)
                if c1 > c0:
                    covered += c1 - c0
                    end = c1
            total += (t1 - t0) - covered
        return total

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(dict(zip(
                    ("op", "span", "parent", "name", "start", "end"), s))))
                fh.write("\n")


class NullTracer:
    """Stand-in when tracing is off: calls straight through."""

    def span(self, name, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    def op(self, kind, fn):
        return fn()


def patch(target, attr: str, new, undo: list) -> None:
    undo.append((target, attr, getattr(target, attr)))
    setattr(target, attr, new)


def unpatch(undo: list) -> None:
    while undo:
        target, attr, old = undo.pop()
        setattr(target, attr, old)


# --- process tree ----------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for e in os.listdir("/proc"):
        if not e.isdigit():
            continue
        try:
            with open(f"/proc/{e}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(e))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PssSampler:
    """Peak proportional set size of this process and all descendants
    (Spark JVM, Python workers), sampled on a background thread. One
    sample walks ``/proc`` and costs ~30 ms of this process's time (and
    its GIL), so samples are taken once a second."""

    def __init__(self, period_s: float = 1.0) -> None:
        self.peak_kb = 0
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        kb = sum(_pss_kb(p) for p in [me, *descendants(me)])
        self.peak_kb = max(self.peak_kb, kb)

    def _run(self) -> None:
        while not self._stop.wait(self._period):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, close the gateway JVM and wait until it and
    every process it started have exited."""
    from pyspark import SparkContext

    # Python workers are the JVM's children: once it exits they are
    # re-parented, so remember every descendant before stopping
    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout_s)
    SparkContext._gateway = None
    SparkContext._jvm = None

    def running(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    def alive():
        return [p for p in started if running(p)]

    deadline = time.monotonic() + timeout_s
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in alive():
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass
    while alive() and time.monotonic() < deadline + timeout_s:
        time.sleep(0.1)


def median(xs):
    return statistics.median(xs) if xs else float("nan")
