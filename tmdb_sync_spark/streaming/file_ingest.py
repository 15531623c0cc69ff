"""Streaming file ingest (JSONL/CSV): a watched drop directory MERGEd
into a partitioned table, with per-batch dead-lettering.

The file-boundary twin of the HTTP cursor ingest (ingest.py): corpora
that arrive as JSONL drops (the delivery shape of crawled / vendored
training data) land in the same crash-safe partitioned-MERGE tables the
API sync maintains, with the same never-lose-a-payload error-table
discipline.

Shape, and why it holds at 100 TB:

- ``readStream.text`` file source — Spark's file-source tracking is
  the exactly-once cursor: each drop file is processed in ONE
  micro-batch ever (checkpointed), so re-runs pick up only NEW files;
  no hand-rolled manifest. Line parsing is THE batch parser
  (sources/files.py ``parse_jsonl_lines``) — the dead-letter semantics
  cannot drift between the batch and streaming boundary.
- ``foreachBatch`` → partitioned MERGE — each micro-batch rewrites
  only the partitions its keys touch (plans/partitioned.py), waits
  bounded on the table writer lock like the sync jobs
  (``MERGE_LOCK_WAIT_S``), so a JSONL ingest interleaves with a
  concurrent API sync on the same table.
- Duplicate keys WITHIN one batch are folded deterministically before
  the merge (``max_by`` of the full row over itself — lexicographically
  greatest row wins) because the MERGE's in-plan contract guard
  rejects multi-row sources per key; ACROSS batches, later drops
  simply MERGE-update earlier rows. A redelivered file full of
  already-seen keys is therefore idempotent on the table.
- Dead letters append to ``{state_dir}/errors_files`` with the raw
  line verbatim plus the batch id — bounded (|malformed lines|), and
  replayable downstream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tmdb_sync_spark.plans.partitioned import (
    create_partitioned,
    merge_into_partitioned,
    read_partitioned,
    table_exists,
)
from tmdb_sync_spark.registry import register_retired
from tmdb_sync_spark.sources.files import parse_jsonl_lines
from tmdb_sync_spark.streaming.ingest import MERGE_LOCK_WAIT_S

FILE_ERROR_SCHEMA = "raw_record STRING, batch_id BIGINT"


def ingest_file_stream(
    spark: SparkSession,
    src_dir: str,
    schema: StructType | str,
    state_dir: str,
    *,
    keys: list[str],
    partition_col: str,
    table_name: str = "corpus",
    dedup_index_path: str | None = None,
    fmt: str = "jsonl",
    csv_sep: str = ",",
    profile_path: str | None = None,
    profile_dims: tuple = ("source", "lang"),
    profile_size_col: str = "n_chars",
    normalize_form: str | None = None,
    max_files_per_batch: int | None = None,
) -> dict:
    """One ``availableNow`` pass over the drop directory: every file
    not yet seen by the checkpoint is parsed, cleaned, folded, and
    MERGEd; malformed lines dead-letter. Returns
    ``{"table_path", "errors_path", "batches", "dead"}``.

    Call again after new drops arrive — the checkpoint (kept under
    ``state_dir``) resumes exactly where the last pass stopped, the
    availableNow analog of a continuously-running trigger.

    ``dedup_index_path`` composes the incremental near-dup index
    (functions/dedup_index.py) into the batch: after parsing, each
    micro-batch is filtered against the index (and within itself)
    BEFORE the merge, and survivors' signatures are appended — the
    full operational corpus pipeline in one call: drop → parse →
    dead-letter → near-dup-filter → MERGE. Requires ``doc_id`` and
    ``text`` columns; near-dup drop COUNTS ride the returned stats
    (``near_dups``) while the drop-id detail is the index module's
    per-call API. One stats quirk, by design: a crash-REPLAYED batch
    re-counts its docs as near-dups (they match their own indexed
    signatures, which is exactly what makes the replay converge on the
    table and index — see the replay test), so ``near_dups`` is a
    per-run observation, not a durable corpus metric.

    ``fmt``: ``"jsonl"`` (default) or ``"csv"`` (header lines dropped
    per line — safe across files and micro-batches; ``csv_sep`` sets
    the separator). Both route through the shared batch parsers, so
    dead-letter semantics are identical across boundary and format.

    ``profile_path`` composes the incremental corpus profile
    (functions/stats.py): after each batch's MERGE commits, the
    batch's parsed arrivals are folded into one immutable drop-state
    partition per SOURCE FILE (id = hash of the file path). The file
    — not the epoch — is the unit that stays stable under
    re-batching, which is what makes the accounting exactly-once by
    construction: a crash-replayed epoch, a checkpoint-wiped redrain
    that coalesces old files into new batches, and a second feed
    sharing the profile path (whose epochs restart at 0) all re-merge
    idempotently and then hit the drop-immutability filter for files
    already recorded (counted in ``profile_replays``); genuinely new
    files always record. Writing profile state BEFORE the merge would
    instead record rows a crash could prevent from ever landing.
    Profile n_docs counts ARRIVALS — clean parsed rows per file,
    before key-folding and near-dup filtering — while the HLL
    distinct tracks keys; the gap between them is the report's
    built-in re-delivery visibility, not drift.

    ``normalize_form`` (r8): Unicode-normalize the ``text`` column of
    every clean row ("NFC" is the dedup-correct choice) BEFORE folding,
    near-dup filtering, and the MERGE — canonically-equal texts with
    different codepoint sequences are invisible to every hash-based
    stage downstream (functions/normalize.py), and the ingest boundary
    is the one place normalization can run exactly once per document.
    When the schema carries ``n_chars``, it is recomputed from the
    normalized text so size accounting stays true.

    ``max_files_per_batch``: bound one micro-batch to N source files
    (Spark's ``maxFilesPerTrigger``, honored by ``availableNow``). An
    unbounded sweep folds EVERY pending drop into one batch — the right
    default (each batch pays a fixed index-scan + journaled-swap +
    profile-write constant, measured ~8 s at sf0.1 in
    scripts/exp_ingest_drops.py at cb774a3, so fewer batches = cheaper) —
    but a multi-TB backlog swept as one batch is a memory cliff; the bound
    restores bounded-batch processing at the cost of one fixed constant
    per N files. Exactly-once is unchanged either way (each batch
    commits through the same checkpoint + idempotent sinks)."""
    if fmt not in ("jsonl", "csv"):
        raise ValueError(f"ingest_file_stream: fmt {fmt!r} not in "
                         "('jsonl', 'csv')")
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    need = (*keys, partition_col) if dedup_index_path is None else (
        *keys, partition_col, "doc_id", "text"
    )
    if profile_path is not None:
        need = (*need, "doc_id", profile_size_col, *profile_dims)
    if normalize_form is not None:
        need = (*need, "text")
    for c in need:
        if c not in schema.fieldNames():
            raise ValueError(
                f"ingest_file_stream: {c!r} not in schema "
                f"{schema.fieldNames()}"
            )
    table_path = os.path.join(state_dir, table_name)
    errors_path = os.path.join(state_dir, f"errors_{table_name}")
    ckpt = os.path.join(state_dir, f"_ckpt_{table_name}")

    if not table_exists(table_path):
        # re-checked under the writer lock: a racing creator no-ops
        create_partitioned(table_path, schema, partition_col, key=keys[0],
                           lock_wait_s=MERGE_LOCK_WAIT_S)

    stats = {"batches": 0, "dead": 0, "near_dups": 0, "profile_replays": 0}
    row = F.struct(*[F.col(c) for c in schema.fieldNames()])

    # file provenance rides the clean side: the profile's unit of
    # idempotency is the SOURCE FILE (a "drop"), which is stable under
    # re-batching — an epoch id is not (a checkpoint-wipe replay
    # coalesces files into new batches; a second feed restarts epochs
    # at 0 — review finding). _metadata only resolves on the SOURCE
    # frame, so it is selected pre-writeStream, not in the sink.
    carry = ("_src_file",) if profile_path is not None else ()

    def sink(batch_lines: DataFrame, epoch: int) -> None:
        from pyspark.storagelevel import StorageLevel

        if fmt == "csv":
            from tmdb_sync_spark.sources.files import parse_csv_lines

            clean, dead = parse_csv_lines(
                batch_lines, schema, header=True, sep=csv_sep,
                carry=carry,
            )
        else:
            clean, dead = parse_jsonl_lines(batch_lines, schema, carry)
        if normalize_form is not None:
            from tmdb_sync_spark.functions.normalize import (
                normalize_text,
            )

            clean = normalize_text(clean, form=normalize_form)
            if "n_chars" in schema.fieldNames():
                clean = clean.withColumn(
                    "n_chars",
                    F.length("text").cast(schema["n_chars"].dataType),
                )
        # Pin the parse ONCE per batch (r9, measured in
        # scripts/exp_ingest_drops.py at cb774a3): the sink's consumers —
        # dead count + write, the key fold, the index probe, the MERGE, the
        # index append, the profile write — are separate actions, and
        # without a pin EVERY one re-reads the batch's source files and
        # re-runs from_json (+ the Arrow normalize pass when enabled).
        # MEMORY_AND_DISK: a backlog sweep's batch may outgrow the
        # fraction of the heap the block manager grants — spill, never
        # recompute 6×; max_files_per_batch is the caller's bound when
        # even spilled batches are too big. Safe to persist (unlike the
        # index survivors, dedup_index.py): neither frame's plan reads
        # a path the sink later writes, so no refreshByPath recache can
        # bite. Unpersisted at sink end — batches must not accumulate
        # blocks across a long drain.
        arrivals = clean.persist(StorageLevel.MEMORY_AND_DISK)
        dead = dead.persist(StorageLevel.MEMORY_AND_DISK)
        clean = arrivals.drop("_src_file") if carry else arrivals
        n_dead = dead.count()
        if n_dead:
            # idempotent BY BATCH (dynamic partition overwrite, the
            # HTTP ingest's dead-letter discipline): a crash-replayed
            # epoch replaces exactly its own rows — an append would
            # double every malformed line on replay
            (
                dead.withColumn("batch_id", F.lit(int(epoch)).cast("long"))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(errors_path)
            )
        # fold in-batch duplicate keys deterministically (the MERGE's
        # unique-source-key contract): greatest full row wins. Pinned
        # like the parse: the MERGE and the index probe/append each
        # evaluate it (the index survivors stay LAZY on purpose — their
        # plan reads the index path the append later writes, exactly
        # the refreshByPath recache hazard dedup_index.py pins around —
        # so the fold shuffle is the deepest safely-cacheable node).
        folded = (
            clean.groupBy(*keys)
            .agg(F.max_by(row, row).alias("_r"))
            .select("_r.*")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        pins = (arrivals, dead, folded)
        try:
            survivors_for_index = None
            if dedup_index_path is not None:
                from tmdb_sync_spark.functions.dedup_index import (
                    dedup_against_index,
                )

                # update_index=False: the index append happens AFTER
                # the merge (below). Appending first loses the whole
                # batch on crash-replay — the replayed docs match their
                # OWN signatures and never reach the table; after-the-
                # merge, a replay re-dedups against a pre-batch index,
                # re-merges idempotently, and appends once.
                res = dedup_against_index(
                    spark, folded, dedup_index_path, update_index=False
                )
                folded = res["survivors"]
                survivors_for_index = folded
                stats["near_dups"] += (
                    res["n_dropped_vs_index"] + res["n_dropped_in_batch"]
                )
            merge_into_partitioned(
                spark, table_path, folded,
                keys=keys, partition_col=partition_col,
                lock_wait_s=MERGE_LOCK_WAIT_S,
            )
            if survivors_for_index is not None:
                from tmdb_sync_spark.functions.dedup_index import (
                    append_docs_to_index,
                )

                append_docs_to_index(
                    spark, dedup_index_path, survivors_for_index
                )
            if profile_path is not None:
                from tmdb_sync_spark.functions.stats import (
                    profile_drop_state,
                    write_profile_drops,
                )

                # one drop-state row set per SOURCE FILE, all files of
                # the batch in one aggregation + one partitioned write;
                # files whose drop id is already recorded are skipped by
                # the immutability filter (crash replays and re-batched
                # redrains re-merge idempotently above and no-op here)
                prof = arrivals.withColumn(
                    "_drop",
                    F.concat(
                        F.lit("f"),
                        F.substring(
                            F.sha1(F.col("_src_file").cast("binary")), 1, 16
                        ),
                    ),
                ).drop("_src_file")
                res_p = write_profile_drops(
                    profile_drop_state(
                        prof, ("_drop", *profile_dims),
                        size_col=profile_size_col,
                    ),
                    profile_path,
                    "_drop",
                )
                stats["profile_replays"] += len(res_p["skipped"])
            stats["batches"] += 1
            stats["dead"] += n_dead
        finally:
            for p in pins:
                p.unpersist()

    reader = spark.readStream.format("text")
    if max_files_per_batch is not None:
        if int(max_files_per_batch) < 1:
            raise ValueError(
                f"ingest_file_stream: max_files_per_batch "
                f"{max_files_per_batch!r} must be >= 1"
            )
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_batch))
    stream = reader.load(src_dir)
    if carry:
        stream = stream.select(
            "value", F.col("_metadata.file_path").alias("_src_file")
        )
    q = (
        stream
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {
        "table_path": table_path,
        "errors_path": errors_path,
        **stats,
    }


# Back-compat alias from when the ingest was JSONL-only; ``fmt`` made
# the generic name the honest one.
ingest_jsonl_stream = ingest_file_stream


# ---------------------------------------------------------------------------
# Oracle-pinned row (r12): the drop-directory ingest's final table state
# IS a batch answer. The feed is constructed from ``orders`` so the
# DuckDB twin needs only the base table:
#
# - every key with ``o_orderkey % 97 <> 0`` gets one GOOD JSONL line;
# - keys ``% 5 == 0`` additionally get a DECOY variant line IN THE SAME
#   FILE whose ``o_custkey`` is -1 — strictly less than the real row
#   under the fold's full-struct order (keys equal, custkey decides), so
#   the in-batch ``max_by(row, row)`` fold must elect the REAL row; a
#   broken fold direction surfaces as ``o_custkey = -1`` and the oracle
#   catches it (same-file placement makes the fold, not cross-batch
#   MERGE order, the deciding rule);
# - keys ``% 3 == 0`` are REDELIVERED as bit-identical lines in a
#   second file — cross-batch MERGE-idempotency; identical copies make
#   the file-processing order invisible;
# - keys ``% 97 == 0`` appear ONLY as malformed lines (unparseable
#   JSON) — they must dead-letter and stay absent from the table.
#
# ``maxFilesPerTrigger=1`` forces a genuinely multi-micro-batch drain.
# Timestamps are serialized to 'yyyy-MM-dd HH:mm:ss' STRINGS before
# JSON (cross-engine-exact; JSON timestamp rendering is not), and the
# partition column is the derived ``o_year`` int.

_FI_SCHEMA = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate STRING, o_year INT"
)
_FI_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_year",
]


@register_retired(
    "st_file_drop_ingest",
    oracle="""
    SELECT o_orderkey,
           o_custkey,
           o_orderstatus,
           o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
           CAST(year(o_orderdate) AS INT) AS o_year
    FROM orders
    WHERE o_orderkey % 97 <> 0
    """,
)
def st_file_drop_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL drop-directory ingest drained end-to-end (file-source
    exactly-once tracking → shared JSONL parser → dead-letter →
    in-batch key fold → partitioned MERGE), pinned against the one
    SELECT its final table state must equal. The eviction/replay and
    profile/index compositions stay pinned in
    tests/test_file_ingest_stream.py (not SQL-expressible)."""
    from tmdb_sync_spark.io import table
    from tmdb_sync_spark.util import scratch_dir

    base = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
            "o_orderdate"
        ),
        F.year("o_orderdate").cast("int").alias("o_year"),
    )
    good = base.where(F.col("o_orderkey") % 97 != 0)
    line = F.to_json(F.struct(*[F.col(c) for c in _FI_COLS]))
    decoy = good.where(F.col("o_orderkey") % 5 == 0).withColumn(
        "o_custkey", F.lit(-1).cast("long")
    )
    redeliver = good.where(F.col("o_orderkey") % 3 == 0)
    malformed = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 97 == 0)
        .select(
            F.concat(
                F.lit('{"o_orderkey": '),
                F.col("o_orderkey").cast("string"),
                F.lit(", BROKEN"),
            ).alias("value")
        )
    )

    src = scratch_dir("st_fi_src_")
    state = scratch_dir("st_fi_state_")
    drop_a = good.select(line.alias("value")).unionByName(
        decoy.select(line.alias("value"))
    )
    drop_b = redeliver.select(line.alias("value")).unionByName(malformed)
    drop_a.repartition(1).write.mode("overwrite").text(src)
    drop_b.repartition(1).write.mode("append").text(src)

    res = ingest_file_stream(
        spark,
        src,
        _FI_SCHEMA,
        state,
        keys=["o_orderkey"],
        partition_col="o_year",
        max_files_per_batch=1,
    )
    out = read_partitioned(spark, res["table_path"])
    return out.select(
        *(
            F.col(c).cast("int").alias(c) if c == "o_year" else F.col(c)
            for c in _FI_COLS
        )
    )
