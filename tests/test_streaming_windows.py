"""Session-conf hygiene of the finite streaming harness
(streaming/windows.py:_run_to_parquet)."""

from __future__ import annotations

import threading

import tmdb_sync_spark.all_queries  # noqa: F401  (populates the registry)
from tmdb_sync_spark.registry import QUERIES

SF = "/root/testdata/sf0.001"


def test_concurrent_streaming_runs_restore_session_conf(spark):
    """Overlapping driver-thread streaming runs must leave the main
    session's shuffle-partition and no-data-micro-batch confs exactly as
    found. The streaming confs now live on per-run sub-sessions
    (``_events_stream``), so the main session is never written at all —
    this pins that isolation (and that concurrent runs both complete)."""
    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    before_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled")
    errors: list[Exception] = []
    counts: list[int] = []

    def run(name: str) -> None:
        try:
            counts.append(QUERIES[name](spark, SF).count())
        except Exception as e:  # surfaced below; a hang would time out
            errors.append(e)

    threads = [
        threading.Thread(target=run, args=(n,))
        for n in ("st_tumbling_window", "st_session_window")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not errors
    assert len(counts) == 2 and all(c > 0 for c in counts)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_parts
    assert spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled") == before_nodata


def test_user_state_fn_all_null_chunk_does_not_poison_extrema():
    """MAX/MIN skip NULLs: an all-null first chunk must leave the running
    extrema unset (pandas returns NaN there, and max(nan, x) stays nan —
    folding it in would poison the state permanently), and a NULL-only
    user must emit NULL extrema like the batch oracle."""
    import pandas as pd

    from tmdb_sync_spark.streaming.windows import _user_state_fn

    class FakeState:
        exists = False

        def update(self, v):
            self.get, self.exists = v, True

    ts = pd.Timestamp("2026-01-01")
    allnull = pd.DataFrame({"value": [None, None], "ts": [ts, ts]})
    real = pd.DataFrame({"value": [2.0, 5.0], "ts": [ts, ts]})

    st = FakeState()
    out = pd.concat(_user_state_fn(("u1",), iter([allnull, real]), st))
    r = out.iloc[0]
    assert r["n_events"] == 4                   # COUNT(*) includes NULLs
    assert r["max_value"] == 5.0 and r["min_value"] == 2.0

    st2 = FakeState()
    out2 = pd.concat(_user_state_fn(("u2",), iter([allnull]), st2))
    r2 = out2.iloc[0]
    assert r2["n_events"] == 2
    assert r2["max_value"] is None and r2["min_value"] is None


def test_user_state_fn_all_null_ts_chunk_does_not_poison_first_last():
    """The timestamp twin of the extrema guard (review finding): an
    all-NULL-ts chunk yields NaT from pandas min()/max(), and Python's
    min(NaT, real) KEEPS NaT (every NaT comparison is False) — without
    the isna guard one such micro-batch chunk poisons first_ts/last_ts
    permanently and the emitted profile depends on batch slicing,
    diverging from the oracle's NULL-skipping MIN(ts)/MAX(ts). Invisible
    in single-chunk runs (the in-chunk skip masks it), so the test feeds
    the chunks separately."""
    import pandas as pd

    from tmdb_sync_spark.streaming.windows import _user_state_fn

    class FakeState:
        exists = False

        def update(self, v):
            self.get, self.exists = v, True

    t1, t2 = pd.Timestamp("2026-01-01"), pd.Timestamp("2026-01-02")
    null_ts = pd.DataFrame({"value": [1.0], "ts": [pd.NaT]})
    real = pd.DataFrame({"value": [2.0, 3.0], "ts": [t1, t2]})

    st = FakeState()
    out = pd.concat(_user_state_fn(("u1",), iter([null_ts, real]), st))
    r = out.iloc[0]
    assert r["n_events"] == 3                   # NULL-ts row still counts
    assert r["first_ts"] == t1 and r["last_ts"] == t2

    # a NULL-ts-only user emits NULL first/last, like MIN/MAX over NULLs
    st2 = FakeState()
    out2 = pd.concat(_user_state_fn(("u2",), iter([null_ts]), st2))
    r2 = out2.iloc[0]
    assert pd.isna(r2["first_ts"]) and pd.isna(r2["last_ts"])


def test_events_stream_reads_directory_layout(spark, tmp_path):
    """events.parquet as a DIRECTORY of part files (the layout the batch
    reader supports) must stream every row: the file-source glob of
    'events.parquet' matches no part-* leaf inside a directory, so the
    source must load the dir directly (review finding — the glob form
    silently streamed zero rows)."""
    from tmdb_sync_spark.io import table
    from tmdb_sync_spark.streaming.windows import st_tumbling_window

    src = "/root/testdata/sf0.001"
    batch = table(spark, src, "events")
    # rewrite events as a directory of part files in a scratch sf dir
    d = str(tmp_path)
    batch.repartition(3).write.parquet(f"{d}/events.parquet")
    assert len(
        [f for f in __import__("os").listdir(f"{d}/events.parquet")
         if f.endswith(".parquet")]
    ) >= 2

    out = st_tumbling_window(spark, d)
    ref = st_tumbling_window(spark, src)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, ref.collect())
    )


def test_watermark_evicts_state_across_micro_batches(spark, tmp_path):
    """r5 verdict item 6: the windows run real readStream but as one-shot
    AvailableNow drains — this proves the watermark actually EVICTS state
    on a multi-trigger run. Three files (one event-hour each, an hour
    apart) fed one-per-trigger with a 10-minute watermark: event time
    advances past each previous hour's windows, so append mode emits them
    finalized and the state store drops their rows. Asserted from the
    query's own progress telemetry (stateOperators numRowsRemoved /
    numRowsTotal), and every emitted window equals the batch aggregate."""
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    src_dir = tmp_path / "stream_src"
    src_dir.mkdir()
    rows_per_hour = 30
    all_rows = []
    for h in range(3):
        # minutes 0,2,..,58 — both half-hour windows of each hour get rows
        rows = [
            (int(h * rows_per_hour + m), f"2024-01-01 0{h}:{2 * m:02d}:00")
            for m in range(rows_per_hour)
        ]
        all_rows += rows
        df = spark.createDataFrame(rows, "user_id BIGINT, ts_s STRING").select(
            "user_id", F.col("ts_s").cast("timestamp").alias("ts")
        )
        stage = tmp_path / f"stage{h}"
        df.coalesce(1).write.parquet(str(stage))
        part = next(
            p for p in os.listdir(stage) if p.endswith(".parquet")
        )
        dst = src_dir / f"{h}.parquet"
        shutil.move(str(stage / part), str(dst))
        # FileStreamSource orders by (modTime, path): make arrival order
        # explicit so each trigger sees exactly one advancing hour
        os.utime(dst, (time.time() + h, time.time() + h))

    sub = spark.newSession()
    sub.conf.set("spark.sql.shuffle.partitions", "4")
    sub.conf.set("spark.sql.session.timeZone", "UTC")
    stream = (
        sub.readStream.schema("user_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def sink(batch_df, _epoch):
        batch_df.write.mode("append").parquet(out)

    q = (
        agg.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    progresses = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(progresses) >= 3, "one micro-batch per file"
    state = [p["stateOperators"][0] for p in q.recentProgress]
    removed = sum(s["numRowsRemoved"] for s in state)
    assert removed > 0, "watermark never evicted any state rows"
    # finalized hours are gone from the store: far fewer rows than the
    # 6 half-hour windows the data holds
    assert state[-1]["numRowsTotal"] < 6

    # append mode must emit EXACTLY the finalizable windows (end ≤ final
    # watermark = global max event time − 10 min; the trailing no-data
    # micro-batch flushes them), each equal to the batch aggregate
    emitted = {
        (r["ws"], r["n"])
        for r in spark.read.parquet(out).collect()
    }
    batch_df = spark.createDataFrame(
        all_rows, "user_id BIGINT, ts_s STRING"
    ).select(F.col("ts_s").cast("timestamp").alias("ts"))
    max_ts = batch_df.agg(F.max("ts")).first()[0]
    expect = {
        (r["ws"], r["n"])
        for r in batch_df.groupBy(
            F.window("ts", "30 minutes").alias("w")
        ).agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "n")
        .collect()
        if (max_ts - r["we"]).total_seconds() >= 600
    }
    assert len(expect) >= 4, "hours 0 and 1 (4 windows) must be finalizable"
    assert emitted == expect, (
        "append-mode emissions diverge from the finalizable batch windows"
    )


def test_repeat_windows_match_oracle_in_non_utc_session(
    spark, sf_dir, monkeypatch
):
    """The stream's sub-session must be UTC on EVERY query, not only on
    the first one (the one that fills the stream-schema memo): a driver
    session outside UTC hands out sub-sessions in its own zone, and the
    stream's NTZ event times would then shift the window boundaries."""
    import pandas as pd
    from pyspark.sql import SparkSession

    from tests.test_oracle_parity import canon, duck
    from tmdb_sync_spark.registry import ORACLES
    from tmdb_sync_spark.streaming import windows

    zone = "America/New_York"
    real_new_session = SparkSession.newSession

    def non_utc_session(self):
        sub = real_new_session(self)
        sub.conf.set("spark.sql.session.timeZone", zone)
        return sub

    monkeypatch.setattr(SparkSession, "newSession", non_utc_session)
    monkeypatch.setattr(windows, "_STREAM_SCHEMA_CACHE", {})
    before = spark.conf.get("spark.sql.session.timeZone")
    oracle = canon(duck(sf_dir).execute(ORACLES["st_tumbling_window"]).df())
    try:
        for _ in range(2):
            spark.conf.set("spark.sql.session.timeZone", zone)
            got = windows.st_tumbling_window(spark, sf_dir).toPandas()
            pd.testing.assert_frame_equal(canon(got), oracle)
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)
