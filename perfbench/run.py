"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog_moderate --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a source tree. Starts one local Spark session sized
to this machine's CPUs, sets the workload up, runs its closed-loop
client in whole cycles for at least ``--seconds``, checks the outputs
and prints one JSON object as the last stdout line. ``--trace 1`` runs
the same ops with spans recorded around every layer's entry points and
reports the per-layer metrics instead of the end-to-end ones. Everything
a run writes lives under ``.perfbench_work/`` in the tree and is removed
at exit; a traced run leaves its spans in
``.perfbench_spans/``. ``perfbench/README.md`` describes the workloads
and metrics.
"""

from __future__ import annotations

import argparse
import inspect
import json
import os
import shlex
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("catalog_moderate", "sync_ingest")
API_FNS = ("search_movies", "get_movie", "movies_by_ids", "meta_sync_status",
           "reports_stats", "report_frame", "mark_incorrect_frames",
           "unmark_incorrect_frames")
# op kind -> the API function the op calls
OP_API = {"search": "search_movies", "get_movie": "get_movie",
          "by_ids": "movies_by_ids", "meta": "meta_sync_status",
          "mark": "mark_incorrect_frames", "get_after_mark": "get_movie",
          "unmark": "unmark_incorrect_frames", "report": "report_frame",
          "stats": "reports_stats"}


def _configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``
    and let Spark's Python workers import the package from any cwd."""
    for d in ("tmp", "spark-local", "jvm-tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/jvm-tmp"
    # spark-submit first runs a small launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in (
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={work}/warehouse",
        "--driver-java-options", java_opts,
        "pyspark-shell",
    ))
    sys.path.insert(0, ROOT)


def _install_tracing(tr, undo: list) -> None:
    """Wrap each layer's entry points at the module attributes their
    callers look up: module-level imports in the ingest, function-local
    imports of ``plans.partitioned`` in the API, and the benchmark's own
    calls."""
    from harness import patch
    from tmdb_sync_spark.plans import partitioned
    from tmdb_sync_spark.streaming import ingest, state

    def lookup_parts(df, args, kwargs):
        dirs = {os.path.dirname(f) for f in df.inputFiles()}
        tr.count("read_for_key.lookups")
        tr.count("read_for_key.parts", len(dirs))

    merge_sig = inspect.signature(partitioned.merge_into_partitioned)

    def merge_counts(res, args, kwargs):
        a = merge_sig.bind(*args, **kwargs).arguments
        target, pcol = a["target_dir"], a["partition_col"]
        tr.count("merge.calls")
        tr.count("merge.touched", len(res["touched"]))
        tr.count("merge.probe", len(res["probe_partitions"]))
        counts = res["counts"]
        if counts is not None:
            rows = counts.get("insert", 0) + counts.get("update", 0)
        else:
            sc = a["spark"].sparkContext
            group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup("perfbench-trace", "trace")
            rows = a["source"].count()
            if group is not None:
                sc.setJobGroup(group, "op")
        tr.count("merge.rows", rows)
        for v in res["touched"]:
            pdir = os.path.join(target, f"{pcol}={v}")
            for dirpath, _, files in os.walk(pdir):
                tr.count("merge.bytes", sum(
                    os.path.getsize(os.path.join(dirpath, f))
                    for f in files if f.endswith(".parquet")))

    read = tr.wrap("partitioned.read", partitioned.read_partitioned)
    read_key = tr.wrap("partitioned.read_for_key",
                       partitioned.read_partitioned_for_key, lookup_parts)
    merge = tr.wrap("partitioned.merge", partitioned.merge_into_partitioned,
                    merge_counts)
    write = tr.wrap("partitioned.write", partitioned.write_partitioned)
    patch(partitioned, "read_partitioned", read, undo)
    patch(partitioned, "read_partitioned_for_key", read_key, undo)
    patch(partitioned, "merge_into_partitioned", merge, undo)
    patch(partitioned, "write_partitioned", write, undo)
    patch(ingest, "merge_into_partitioned", merge, undo)
    patch(ingest, "write_partitioned", write, undo)
    patch(ingest, "materialize_once",
          tr.wrap("sources.stage_feed", ingest.materialize_once), undo)
    patch(state, "read_cursor",
          tr.wrap("state.read_cursor", state.read_cursor), undo)
    patch(state, "write_cursor",
          tr.wrap("state.write_cursor", state.write_cursor), undo)


def _per_layer(tr, log, writes, session_s: float,
               setup_write_s: float) -> dict:
    from analytics import QUERY_NAMES
    from harness import median

    c = tr.counts

    def ratio(a, b):
        return c[a] / c[b] if c[b] else 0.0

    m = {"session.start_s": (session_s, "s")}
    for fn in API_FNS:
        kinds = [k for k, f in OP_API.items() if f == fn]
        jobs = [j for k, j, _ in tr.op_jobs if k in kinds]
        m[f"api.{fn}.calls"] = (tr.calls(f"api.{fn}"), "count")
        m[f"api.{fn}.busy_s"] = (tr.busy(f"api.{fn}"), "s")
        m[f"api.{fn}.jobs_per_call"] = (
            sum(jobs) / len(jobs) if jobs else 0.0, "jobs")
        m[f"api.{fn}.failed"] = (
            sum(1 for o in log.ops if o[0] in kinds and not o[3]), "count")
    m["partitioned.read.busy_s"] = (tr.busy("partitioned.read"), "s")
    m["partitioned.read_for_key.busy_s"] = (
        tr.busy("partitioned.read_for_key"), "s")
    m["partitioned.read_for_key.parts_per_lookup"] = (
        ratio("read_for_key.parts", "read_for_key.lookups"), "parts")
    m["partitioned.merge.busy_s"] = (tr.busy("partitioned.merge"), "s")
    m["partitioned.merge.touched_parts"] = (
        ratio("merge.touched", "merge.calls"), "parts")
    m["partitioned.merge.probe_parts"] = (
        ratio("merge.probe", "merge.calls"), "parts")
    m["partitioned.merge.bytes_written_per_row"] = (
        ratio("merge.bytes", "merge.rows"), "B/row")
    m["partitioned.write.busy_s"] = (
        setup_write_s + tr.busy("partitioned.write"), "s")
    m["sources.stage_feed.busy_s"] = (tr.busy("sources.stage_feed"), "s")
    m["ingest.self_s"] = (tr.self_time("ingest."), "s")
    # every merge of a sync workload is a sync micro-batch, and no other
    # workload syncs
    syncs = any(s[3].startswith("ingest.") for s in tr.spans)
    m["ingest.items_per_batch"] = (
        ratio("merge.rows", "merge.calls") if syncs else 0.0, "items")
    m["state.read_cursor.busy_s"] = (tr.busy("state.read_cursor"), "s")
    m["state.write_cursor.busy_s"] = (tr.busy("state.write_cursor"), "s")
    jobs = tr.op_jobs
    m["spark.jobs_per_op"] = (
        sum(j for _, j, _ in jobs) / len(jobs) if jobs else 0.0, "jobs")
    m["spark.tasks_per_op"] = (
        sum(t for *_, t in jobs) / len(jobs) if jobs else 0.0, "tasks")
    for name in QUERY_NAMES:
        jobs = [j for k, j, _ in tr.op_jobs if k == f"query.{name}"]
        calls = tr.calls(f"query.{name}")
        m[f"query.{name}.warm_s"] = (
            tr.busy(f"query.{name}") / calls if calls else 0.0, "s")
        m[f"query.{name}.jobs"] = (
            sum(jobs) / len(jobs) if jobs else 0.0, "jobs")
    m["trace.read_mean_ms"] = (log.mean_ms(lambda k: k not in writes), "ms")
    m["trace.write_mean_ms"] = (log.mean_ms(lambda k: k in writes), "ms")
    m["trace.overhead_ms"] = (
        median([1e3 * s for s in tr.op_cost]), "ms")
    return m


def _end_to_end(log, writes, setup_s: float, peak_kb: int) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (log.ops_per_s(), "ops/s"),
        "read_mean_ms": (log.mean_ms(lambda k: k not in writes), "ms"),
        "write_mean_ms": (log.mean_ms(lambda k: k in writes), "ms"),
        "peak_rss_mb": (peak_kb / 1024.0, "MB"),
    }


def _describe(log, label: str) -> None:
    """Informational lines: per-kind medians and the op counts."""
    from harness import median

    kinds = sorted({o[0] for o in log.ops})
    parts = [f"{k}={median(log.latencies_ms([k])):.1f}ms"
             f"(n={len(log.latencies_ms([k]))})" for k in kinds]
    print(f"{label}: p50 by kind: {' '.join(parts)}", flush=True)
    print(f"{label}: attempted={log.attempted} failed={log.failed}",
          flush=True)


def run(args, work: str, ncpu: int) -> dict:
    from harness import (NullTracer, OpLog, PssSampler, Tracer, run_window,
                         stop_spark, unpatch)

    undo: list = []
    spark = None
    with PssSampler() as pss:
        try:
            t0 = time.perf_counter()
            from tmdb_sync_spark.session import get_spark

            spark = get_spark("perfbench", cpus=str(ncpu),
                              shuffle_partitions=str(ncpu))
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            tr = Tracer(spark) if args.trace else None
            if tr is not None:
                _install_tracing(tr, undo)
            if args.workload == "sync_ingest":
                import sync as workload

                target = workload.Sync(spark, work, args.seed)
            else:
                import catalog as workload

                target = workload.Catalog(spark, work, args.seed)
                target.build()
            target.warm()
            setup_s = time.perf_counter() - t0

            active = NullTracer()
            if tr is not None:
                setup_write_s = tr.busy("partitioned.write")
                # the per-layer figures cover the window only
                tr.reset()
                active = tr
            target.tr = active
            log = OpLog()
            wall = run_window(target.deck(), args.seconds, log, active)
            label = f"window ({'traced' if tr else 'untraced'})"
            print(f"{label}: {wall:.2f}s", flush=True)
            _describe(log, label)
            unpatch(undo)
            mismatches = target.check()
            for msg in mismatches:
                print(f"MISMATCH: {msg}", flush=True)
            peak_kb = pss.peak_kb
        finally:
            unpatch(undo)
            if spark is not None:
                stop_spark(spark)

    if tr is not None:
        spans = os.path.join(ROOT, ".perfbench_spans",
                             f"{args.workload}-seed{args.seed}.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        tr.dump(spans)
        print(f"spans: {spans}", flush=True)
        metrics = _per_layer(tr, log, workload.WRITE_KINDS, session_s,
                             setup_write_s)
    else:
        metrics = _end_to_end(log, workload.WRITE_KINDS, setup_s, peak_kb)
    return {
        "correct": not mismatches,
        "attempted": log.attempted,
        "failed": log.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "tmdb_sync_spark")):
        print(f"perfbench: no tmdb_sync_spark package in {ROOT}; run from "
              "the root of a source tree", file=sys.stderr)
        return 2
    ncpu = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    _configure_env(work)
    try:
        result = run(args, work, ncpu)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(f"cpus={ncpu} workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}", flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
