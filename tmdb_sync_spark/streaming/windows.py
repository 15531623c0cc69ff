"""Event-time windowed aggregations over ``events`` (SURVEY §2.10 stretch).

The reference has no event-time processing; these are the streaming
operators a Spark-native engine provides for free and the driver's
``events`` table exists to exercise (TESTDATA.md). Three shapes:

All three are REAL Structured Streaming runs — ``readStream`` file
source over the parquet, watermark, windowed aggregate, ``availableNow``
trigger, ``foreachBatch`` into a parquet sink — with batch-equivalent
SQL as the oracle, proving stream/batch unification:

- ``st_tumbling_window`` — 1-hour tumbling windows.
- ``st_sliding_window`` — overlapping windows (10 min, slide 5 min); the
  oracle reproduces Spark's window semantics by unioning the two covering
  slide buckets per event. Streams a per-user pre-aggregate (distinct
  counts aren't streamable) and rolls up over the sink.
- ``st_session_window`` — gap-based sessionization (30 min) merged in the
  state store; the oracle is the classic gaps-and-islands rewrite
  (lag → new-session flag → cumulative-sum session id).

Scale notes: tumbling/sliding aggs are partial-agg + one Exchange on
(window, key); sessions shuffle on user_id then sort within partitions —
both the shapes Spark's streaming state store handles incrementally with
watermark-bounded state. All streaming results land in parquet sinks via
``foreachBatch`` and are read back — never a driver-side memory sink
(round-1 verdict finding 3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from tmdb_sync_spark.io import _events_ts_is_nanos, events_ts_norm, table
from tmdb_sync_spark.operators.scalars import NAN_VALUE_SQL, nan_to_null
from tmdb_sync_spark.registry import register
from tmdb_sync_spark.util import file_fingerprint, scratch_dir

# NaN-measure convention: operators.scalars.NAN_VALUE_SQL, interpolated
# (not copied) so the one definition cannot drift per operator
_SUM = f"CAST(SUM(CAST({NAN_VALUE_SQL} AS DECIMAL(18,6))) AS DOUBLE)"

# (events path, content fingerprint) -> the stream reader's explicit
# schema (batch schema with ts at its raw on-disk type). Pure file
# METADATA, same class as io.register_views' memo (r12 §6): deriving it
# ran TWO spark.read analyses per query construction (~0.1–0.2 s each
# rep of every streaming slot); the fingerprint keys invalidation on
# any in-place testdata rewrite.
_STREAM_SCHEMA_CACHE: dict[tuple, StructType] = {}


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the batch-equivalent schema.

    The file stream source needs an explicit schema; reuse the batch
    reader's (post ts normalization) schema for everything except ``ts``,
    which keeps its raw on-disk type (TIMESTAMP(NANOS)-as-long or
    TIMESTAMP(MICROS)-as-NTZ depending on the testdata generation) and is
    normalized with the same expression the batch reader uses.

    The stream is built on its OWN ``newSession()`` (shared SparkContext,
    session-scoped SQLConf), carrying the two streaming confs:

    - ``spark.sql.shuffle.partitions`` =
      ``SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS`` (default 8): every
      micro-batch loads and commits one state store PER shuffle
      partition — a fixed per-trigger cost — so the right number tracks
      keyed-state cardinality, not the batch-side default. Measured
      in-session at sf0.1: 32→8 cuts each window query ~30%.
    - no-data micro-batches off: these finite runs emit in complete /
      NoTimeout-append modes, which never need the watermark-advance
      batch (~0.2 s/query of state-store reloads saved).

    Session isolation replaces the previous set/restore-under-lock:
    concurrent streaming runs no longer serialize on a conf lock, and a
    batch query planned by another driver thread can never observe the
    streaming values.
    """
    # The CALLER's session still needs the UTC pin: the streaming result
    # is read back and collected on it (spark.read.parquet(out)), and a
    # driver-provided session without a pinned zone would render the
    # window timestamps in local time, off from the naive-UTC oracle.
    # Previously table(spark, ...) here had that side effect; keep it
    # explicitly now that the stream builds on the sub-session.
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    sub = spark.newSession()
    sub.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", "8"),
    )
    sub.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    # pin the sub-session too: newSession() seeds its SQLConf from the
    # SparkContext conf, not the caller's runtime conf, and the stream
    # casts NTZ event times in the session zone
    sub.conf.set("spark.sql.session.timeZone", "UTC")
    # State-store provider knob. Default = Spark's in-heap HDFS-backed
    # store: fastest at the bench's state sizes (≤ ~200k rows). At the
    # 64× events ramp (~13M pre-agg state rows) the in-heap store hits
    # the single-JVM heap wall — 32 state partitions OOMed outright —
    # while RocksDB (off-heap, the production choice for large state)
    # ran it at any partition count and ~10% faster at 8
    # (COVERAGE.md round-6 ramp notes). Set to 'rocksdb' when keyed
    # state per executor outgrows the heap.
    if os.environ.get("SPARK_GRAFT_STREAM_STATE_PROVIDER", "").lower() == (
        "rocksdb"
    ):
        sub.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    # nanosAsLong must be pinned on the SUB session before its reads —
    # table() used to do it as a side effect; with the schema memo the
    # conf set happens explicitly so a memo hit still applies it (the
    # footer sniff itself is cached per content stamp in io.py)
    events_path = os.path.join(sf_dir, "events.parquet")
    if _events_ts_is_nanos(events_path):
        sub.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema_key = (events_path, file_fingerprint(events_path))
    raw_schema = _STREAM_SCHEMA_CACHE.get(schema_key)
    if raw_schema is None:
        batch = table(sub, sf_dir, "events")
        raw_ts = sub.read.parquet(events_path).schema["ts"].dataType
        raw_schema = StructType(
            [StructField("ts", raw_ts, True) if f.name == "ts" else f
             for f in batch.schema.fields]
        )
        _STREAM_SCHEMA_CACHE[schema_key] = raw_schema
    raw_ts = raw_schema["ts"].dataType
    # events.parquet may be a single FILE beside the other tables (the
    # driver's layout — glob-filter it out of sf_dir) or a DIRECTORY of
    # part files (the layout the batch reader supports); a glob of
    # 'events.parquet' over a directory layout matches zero part-* leaf
    # files and would silently stream nothing.
    reader = sub.readStream.schema(raw_schema).format("parquet")
    if os.path.isdir(events_path):
        stream = reader.load(events_path)
    else:
        stream = reader.option(
            "pathGlobFilter", "events.parquet"
        ).load(sf_dir)
    return stream.withColumn("ts", events_ts_norm(raw_ts))


def _run_to_parquet(agg: DataFrame, mode: str) -> str:
    """Execute a finite streaming query into a parquet dir via foreachBatch.

    ``foreachBatch`` + overwrite/append keeps results distributed (executor
    writes), unlike the memory sink which collects into the driver; the
    checkpoint dir bounds replay exactly as on an unbounded stream.

    The streaming confs (state shuffle partitions, no-data micro-batch)
    live on the plan's own sub-session — see ``_events_stream`` — so this
    runner needs no conf set/restore and no lock: concurrent streaming
    runs execute genuinely in parallel and never leak conf into batch
    planning on the main session.
    """
    out = scratch_dir("st_out_")
    ckpt = scratch_dir("st_ckpt_")
    write_mode = "overwrite" if mode == "complete" else "append"

    def sink(batch_df: DataFrame, _epoch: int) -> None:
        batch_df.write.mode(write_mode).parquet(out)

    q = (
        agg.writeStream.foreachBatch(sink)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return out


@register(
    "st_tumbling_window",
    oracle=f"""
    -- event-time windows REQUIRE an event time: Structured Streaming
    -- drops NULL-event-time rows before windowing, so the batch oracle
    -- must too, or the NULL-window group diverges (hostile-events probe)
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {_SUM} AS sum_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def st_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows as a genuine Structured Streaming run.

    readStream(parquet file source) → withWatermark(1h) → tumbling window
    agg → foreachBatch parquet overwrite, Trigger.AvailableNow, complete
    mode (every window emitted at the final trigger, so the batch oracle
    matches exactly). The watermark bounds state retention exactly as it
    would on an unbounded stream; complete-mode emission makes the finite
    run comparable. The identical logic as a pure batch plan is one
    ``groupBy(window(ts, '1 hour'), event_type)`` — stream/batch
    unification is the point of this query.
    """
    agg = (
        _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(nan_to_null(F.col("value")).cast("decimal(18,6)")).cast("double")
             .alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"),
                "event_type", "n_events", "sum_value")
    )
    return spark.read.parquet(_run_to_parquet(agg, "complete"))


@register(
    "st_sliding_window",
    oracle=f"""
    WITH slides AS (
        SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start, *
        FROM events WHERE ts IS NOT NULL
        UNION ALL
        SELECT time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE, *
        FROM events WHERE ts IS NOT NULL
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           {_SUM} AS sum_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM slides
    GROUP BY 1, 2
    """,
)
def st_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (10 min / slide 5 min) as a REAL streaming run.

    Each event lands in exactly two windows; Spark materializes that
    expansion inside the window operator, the oracle does it with an
    explicit two-bucket union. ``COUNT(DISTINCT)`` is unsupported in a
    streaming aggregation, so the stream pre-aggregates per
    ``(window, event_type, user_id)`` — the standard scalable distinct
    rewrite; per-user partials also shrink the state rows that cross
    micro-batches — and the finishing roll-up over the parquet sink
    counts one row per distinct user. Decimal partial sums re-sum
    exactly, so two-level == one-level aggregation bit-for-bit.
    """
    pre = (
        _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"),
                 "event_type", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(nan_to_null(F.col("value")).cast("decimal(18,6)")).alias("sv"),
        )
    )
    per_user = spark.read.parquet(_run_to_parquet(pre, "complete"))
    return (
        per_user.groupBy("w", "event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("sv").cast("double").alias("sum_value"),
            # count the user COLUMN, not rows: a NULL-user pre-aggregate
            # group must not count, matching COUNT(DISTINCT user_id)
            F.count("user_id").alias("n_users"),
        )
        .select(F.col("w.start").alias("window_start"),
                "event_type", "n_events", "sum_value", "n_users")
    )


@register(
    "st_session_window",
    oracle=f"""
    WITH o AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        -- NULL event times belong to no window (streaming drops them),
        -- and PRE-EPOCH events are late-on-arrival for the session
        -- merge: Structured Streaming's initial watermark is the epoch
        -- (0), and the merge drops events whose session end precedes it
        -- (hostile-events probe: a 1900 event emitted from the tumbling
        -- window, which does no late filtering in complete mode, but
        -- never from the session merge). Event-time sessionization's
        -- supported domain is post-epoch timestamps.
        WHERE ts IS NOT NULL
          AND ts + INTERVAL 30 MINUTE > TIMESTAMP '1970-01-01 00:00:00'
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
        SELECT *, SUM(new_s) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS sid
        FROM o
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           {_SUM} AS sum_value
    FROM s
    GROUP BY user_id, sid
    """,
)
def st_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity gap) per user, as a
    REAL streaming run: readStream → watermark → ``session_window``
    merge in the state store → foreachBatch parquet sink. Session state
    shuffles on user_id and merges overlapping windows incrementally —
    the streaming shape the batch gaps-and-islands oracle specifies."""
    agg = (
        _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(nan_to_null(F.col("value")).cast("decimal(18,6)")).cast("double")
             .alias("sum_value"),
        )
        .select("user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events", "sum_value")
    )
    return spark.read.parquet(_run_to_parquet(agg, "complete"))


STATE_OUT_SCHEMA = (
    "user_id BIGINT, n_events BIGINT, max_value DOUBLE, min_value DOUBLE, "
    "first_ts TIMESTAMP, last_ts TIMESTAMP"
)
STATE_SCHEMA = (
    "n BIGINT, mx DOUBLE, mn DOUBLE, first_ts TIMESTAMP, last_ts TIMESTAMP"
)


def _user_state_fn(key, pdfs, state):
    """applyInPandasWithState kernel: per-user running aggregate.

    The state tuple survives across micro-batches in the state store;
    min/max/count/first/last are order-independent, so the emitted row is
    deterministic regardless of partitioning or batch slicing (the reason
    this operator avoids floating-point *sums*)."""
    import pandas as pd

    (user_id,) = key
    n, mx, mn, first_ts, last_ts = (
        state.get if state.exists else (0, None, None, None, None)
    )
    for pdf in pdfs:
        if not len(pdf):
            continue
        n += len(pdf)
        # NULL-value rows count toward n (COUNT(*)) but never toward the
        # extrema (MAX/MIN skip NULLs): pandas max() skips NaN but
        # returns NaN for an ALL-null chunk, and folding that NaN in
        # would poison the running extrema permanently (max(nan, x) is
        # nan) — so fold only non-NaN chunk results.
        bmx, bmn = pdf["value"].max(), pdf["value"].min()
        if not pd.isna(bmx):
            mx = float(bmx) if mx is None else max(mx, float(bmx))
        if not pd.isna(bmn):
            mn = float(bmn) if mn is None else min(mn, float(bmn))
        # Same guard for the timestamps: pandas min()/max() skip NaT
        # within a chunk but return NaT for an ALL-null chunk, and
        # Python's min(NaT, real_ts) keeps NaT (every comparison with
        # NaT is False) — one all-NULL-ts micro-batch chunk would
        # otherwise poison first/last permanently AND make the result
        # depend on batch slicing, breaking the kernel's
        # order-independence contract (found by review; invisible on
        # single-chunk runs, where the in-chunk skip masks it).
        bfirst, blast = pdf["ts"].min(), pdf["ts"].max()
        if not pd.isna(bfirst):
            first_ts = bfirst if first_ts is None else min(first_ts, bfirst)
        if not pd.isna(blast):
            last_ts = blast if last_ts is None else max(last_ts, blast)
    state.update((n, mx, mn, first_ts, last_ts))
    yield pd.DataFrame(
        [{"user_id": user_id, "n_events": n, "max_value": mx,
          "min_value": mn, "first_ts": first_ts, "last_ts": last_ts}]
    )


@register(
    "st_stateful_user_agg",
    oracle=f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           MAX({NAN_VALUE_SQL}) AS max_value,
           MIN({NAN_VALUE_SQL}) AS min_value,
           MIN(ts) AS first_ts,
           MAX(ts) AS last_ts
    FROM events
    GROUP BY user_id
    """,
)
def st_stateful_user_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``.

    A genuinely stream-executed per-user running profile: readStream file
    source → groupBy(user_id) → arbitrary Python state (count / extrema /
    first-last timestamps) kept in the state store across micro-batches →
    distributed parquet sink via ``foreachBatch`` (``_run_to_parquet``)
    under availableNow. The oracle is the batch GROUP BY — stream/batch
    equivalence for a hand-rolled stateful operator.

    Scale notes: state is one tiny tuple per user partitioned by the
    group key; only extrema/counters cross batches (order-independent —
    deliberately no double summation, SURVEY §5 determinism rules). The
    kernel emits one row per user per micro-batch (running profile); the
    final read keeps the LAST emission per user (``max_by`` on
    ``n_events``, which grows monotonically and only on batches where the
    user has data) — so the result is independent of how the source files
    were sliced into micro-batches (maxFilesPerTrigger, multiple
    part-files, …).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    # Project to exactly the kernel's inputs BEFORE the stateful op
    # (guide §4.1): applyInPandasWithState is opaque to Catalyst, so
    # without the select every column — event_id, event_type, props,
    # ~half the table's bytes — is read from parquet AND shipped through
    # the state-shuffle and the Arrow boundary per micro-batch, only to
    # be ignored by the kernel.
    out = (
        _events_stream(spark, sf_dir)
        .select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_state_fn,
            outputStructType=STATE_OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    emitted = spark.read.parquet(_run_to_parquet(out, "append"))
    row = F.struct("n_events", "max_value", "min_value", "first_ts", "last_ts")
    return (
        emitted.groupBy("user_id")
        .agg(F.max_by(row, "n_events").alias("r"))
        .select("user_id", "r.n_events", "r.max_value", "r.min_value",
                "r.first_ts", "r.last_ts")
    )
