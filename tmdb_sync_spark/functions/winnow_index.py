"""Persisted winnow-fingerprint index — incremental substring
contamination at corpus scale.

``functions/winnow.py`` answers "does this eval paragraph appear in
that corpus frame" with a full fingerprint pass over the corpus — fine
once per release, wrong as the STANDING contamination gate: every eval
drop would re-fingerprint 100 TB. This module is the third member of
the engine's incremental-index family (minhash bands —
``dedup_index.py``; quantized vectors — ``vector_index.py``): corpus
winnow fingerprints are persisted ONCE, partitioned by a hash bucket of
the fingerprint (``bb = pmod(xxhash64(fp), 64)``), and an eval set
probes only the buckets its own fingerprints hash into — a
bucket-pruned scan + one equi-join, never a corpus pass.

Same operational contracts as the sibling indexes, deliberately:

- **store contract** (``_store_contract.json``): K / W / bucket modulus
  / digest are the index's KEY SPACE — probing an index built under
  different constants silently misses, so first write records them and
  every later use must match (read-only probes validate but never
  create — r8 advice).
- **single-writer lock**: appends take the table's ``_merge.lock``
  (shared with compaction's journaled rewrite), so concurrent writers
  serialize or fail loudly.
- **append-only + compaction**: drops append one file per touched
  bucket; ``compact_fp_index`` rewrites to one file per bucket through
  ``plans.partitioned.write_partitioned`` (staging + journaled swap —
  a crash leaves the old index or the new one, never a torn one),
  locally sorted by ``fp`` so row-group stats serve the probe join.
- **a missing index RAISES** from the contamination check: scanning
  nothing and reporting "clean" is the worst failure mode.

Scale shape of the probe: the eval side is small by definition —
its distinct fingerprints broadcast (size-gated like the band index's
probe); the index scan reads only the probed ``bb=`` partitions; the
boilerplate df-cap is computed over the SAME pruned scan (document
frequency per fingerprint is complete within its bucket, since a
fingerprint lives in exactly one bucket); match rows aggregate per
(eval doc, corpus doc) with the positional span riding min/max.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tmdb_sync_spark.functions.winnow import (
    HOT_FP_DOC_CAP,
    MIN_SHARED_FPS,
    WINNOW_K,
    WINNOW_W,
    doc_fingerprints,
    winnow_fingerprints,
)

N_FP_BUCKETS = 64

# Probe-side broadcast gate (same discipline as dedup_index's
# BROADCAST_PROBE_MAX_ROWS): an "eval set" large enough to blow the
# broadcast ceiling should shuffle, not OOM an executor.
BROADCAST_PROBE_MAX_ROWS = 2_000_000

# Auto-compaction threshold (shared policy with the sibling indexes —
# dedup_index.AUTO_COMPACT_FILES_PER_BUCKET is the canonical value):
# when an append leaves any bucket dir holding more than this many data
# files, the append compacts the index before releasing its writer
# lock. See dedup_index.py for the policy rationale.
from tmdb_sync_spark.functions.dedup_index import (  # noqa: E402
    AUTO_COMPACT_FILES_PER_BUCKET,
)


def _check_contract(index_path: str, what: str, record: bool = True) -> None:
    from tmdb_sync_spark.util import check_store_contract

    check_store_contract(
        index_path,
        {"kind": "winnow_fp_index", "k": WINNOW_K, "w": WINNOW_W,
         "n_fp_buckets": N_FP_BUCKETS, "digest": "md5-hex32",
         "tie": "leftmost"},
        what,
        record=record,
    )


def _index_writer_lock(index_path: str, wait_s: float):
    from tmdb_sync_spark.plans.partitioned import MERGE_LOCK_NAME
    from tmdb_sync_spark.util import acquire_dir_lock

    return acquire_dir_lock(index_path, MERGE_LOCK_NAME, wait_s=wait_s)


def _bb(col) -> F.Column:
    return F.pmod(F.xxhash64(col), F.lit(N_FP_BUCKETS))


def fp_index_exists(index_path: str) -> bool:
    return os.path.isdir(index_path) and any(
        e.startswith("bb=") for e in os.listdir(index_path)
    )


def append_fingerprints_to_index(
    spark: SparkSession,
    index_path: str,
    docs: DataFrame,
    *,
    lock_wait_s: float = 60.0,
    auto_compact_files_per_bucket: int | None = AUTO_COMPACT_FILES_PER_BUCKET,
) -> None:
    """Append ``docs``' winnow fingerprints — ``(doc_id, fp, min_pos,
    max_pos, n_pos, bb)`` — to the index. Caller contract mirrors the
    sibling indexes: ``doc_id``s must be NEW to the index (the drop
    cursor's discipline) — a re-appended doc duplicates its rows, which
    inflates the probe's per-fp document-frequency counts toward the
    boilerplate cap. Order AFTER your table commit, exactly like
    ``append_docs_to_index``.

    Auto-compaction (same policy as the sibling indexes): when this
    append leaves any bucket past ``auto_compact_files_per_bucket``
    data files, the index is compacted before the writer lock is
    released — probes stay file-open-bound-free across unbounded drop
    counts with no manual ``compact_fp_index`` call. ``None`` disables
    (callers owning a maintenance window)."""
    from tmdb_sync_spark.util import count_bucket_files, release_dir_lock

    _check_contract(index_path, "append_fingerprints_to_index")
    lock = _index_writer_lock(index_path, lock_wait_s)
    try:
        (
            doc_fingerprints(docs)
            .withColumn("bb", _bb(F.col("fp")))
            # one file per touched bucket, not a sliver per shuffle
            # partition (the band index's append discipline)
            .repartition("bb")
            .write.mode("append")
            .partitionBy("bb")
            .parquet(index_path)
        )
        if (
            auto_compact_files_per_bucket is not None
            and count_bucket_files(index_path, "bb=")[1]
            > auto_compact_files_per_bucket
        ):
            _compact_fp_locked(spark, index_path)
    finally:
        release_dir_lock(lock)


def substring_contamination_check(
    spark: SparkSession,
    index_path: str,
    eval_docs: DataFrame,
    *,
    min_shared: int = MIN_SHARED_FPS,
    df_cap: int = HOT_FP_DOC_CAP,
) -> DataFrame:
    """Which eval documents share a SUBSTRING (≥ K+W-1 chars, winnowing
    guarantee) with the indexed corpus?

    ``eval_docs`` is ``(doc_id, text, ...)``. Returns one row per
    detected pair — ``(doc_id, corpus_doc_id, n_shared_fps,
    c_span_chars)`` — lazy and composable (anti-join for the clean
    subset, join back for eval metadata). Sensitivity: ``min_shared``
    distinct fingerprints after the ``df_cap`` boilerplate drop; the
    complement of ``dedup_index.contamination_check`` (whole-document
    near-match) and ``vector_index`` (semantic match) — this one sees
    the copied PARAGRAPH inside an otherwise-novel eval document.

    A missing index raises; a read never records or creates the store.
    """
    if not fp_index_exists(index_path):
        raise ValueError(
            f"substring_contamination_check: no fingerprint index at "
            f"{index_path!r} — build one with append_fingerprints_to_index"
        )
    _check_contract(index_path, "substring_contamination_check",
                    record=False)
    # Pin the probe ONCE (eager localCheckpoint — executor-distributed
    # blocks the ContextCleaner frees when the returned frame is GC'd):
    # it feeds the bucket-list collect, the row-count gate, and both
    # match joins — unpinned, every contamination audit fingerprinted
    # the eval set three times over (r9 advice).
    probe = (
        winnow_fingerprints(eval_docs)
        .select("doc_id", "fp").distinct()
        .withColumn("bb", _bb(F.col("fp")))
        .localCheckpoint(eager=True)
    )
    # bounded driver-side bucket list (≤ N_FP_BUCKETS rows) → partition
    # pruning on the index read
    bbs = sorted(r["bb"] for r in probe.select("bb").distinct().collect())
    idx = spark.read.parquet(index_path)
    if len(bbs) < N_FP_BUCKETS:
        idx = idx.where(F.col("bb").isin(bbs))
    # ONE broadcast decision for BOTH probe-side joins: the distinct-fp
    # set is ≤ the (doc, fp) probe by construction, so the shared gate is
    # conservative for it — and an eval set past the ceiling now shuffles
    # on BOTH joins instead of force-broadcasting the fp set into the
    # same executor OOM the gate exists to prevent (r9 verdict #2: the
    # fp broadcast was unconditional while the pair join was gated).
    n_probe = probe.count()
    may_broadcast = n_probe <= BROADCAST_PROBE_MAX_ROWS
    p = probe.select(F.col("doc_id"), "fp")
    fps = probe.select("fp").distinct()
    if may_broadcast:
        p = F.broadcast(p)
        fps = F.broadcast(fps)
    # Scale shape — fp semi-join FIRST, df-cap on the sliver: the
    # broadcast of the probed fps makes `cand` ONE map-side pass over
    # the pruned index (zero index shuffle), bounded by the probed fps'
    # total document frequency. The df-cap is then a count window over
    # the sliver — COMPLETE per probed fp (every index row with that fp
    # is in `cand`, one row per (corpus doc, fp) by construction) —
    # instead of a full-index aggregation per audit. Total movement:
    # one sliver shuffle (the window) + the pair aggregation.
    from pyspark.sql import Window

    cand = idx.select(
        F.col("doc_id").alias("corpus_doc_id"), "fp", "min_pos", "max_pos",
    ).join(fps, "fp")
    kept = (
        cand.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        )
        .where(F.col("_df") <= df_cap)
        .drop("_df")
    )
    return (
        kept.join(p, "fp")
        .groupBy("doc_id", "corpus_doc_id")
        .agg(
            F.count_distinct("fp").alias("n_shared_fps"),
            (F.max("max_pos") - F.min("min_pos") + F.lit(WINNOW_K))
            .cast("long").alias("c_span_chars"),
        )
        .where(F.col("n_shared_fps") >= min_shared)
    )


def compact_fp_index(
    spark: SparkSession, index_path: str, *, lock_wait_s: float = 60.0,
) -> dict:
    """Rewrite the append-only fingerprint index into one file per
    bucket (sorted by ``fp`` for tight row-group stats on the probe
    join). Crash safety delegates to ``write_partitioned_locked``
    (staging + journaled swap).

    The writer lock is acquired FIRST, before the snapshot read — the
    earlier shape (snapshot, then let write_partitioned lock) had a
    window where an append committing between the listing and the
    rewrite was silently dropped by the compaction (r9 advice; same
    latent shape fixed in the sibling compactions this round)."""
    if not fp_index_exists(index_path):
        raise ValueError(f"compact_fp_index: no index at {index_path!r}")
    _check_contract(index_path, "compact_fp_index")
    lock = _index_writer_lock(index_path, lock_wait_s)
    try:
        return _compact_fp_locked(spark, index_path)
    finally:
        from tmdb_sync_spark.util import release_dir_lock

        release_dir_lock(lock)


def _compact_fp_locked(spark: SparkSession, index_path: str) -> dict:
    """Compaction body — caller holds the index writer lock (so the
    snapshot read below cannot race an append; also the auto-compaction
    entry point from inside the append's own held lock)."""
    from tmdb_sync_spark.plans.partitioned import write_partitioned_locked
    from tmdb_sync_spark.util import count_bucket_files

    before, _ = count_bucket_files(index_path, "bb=")
    # the session FileStatusCache may hold a pre-lock listing of this
    # path — refresh so the snapshot sees every committed append
    spark.catalog.refreshByPath(index_path)
    idx = spark.read.parquet(index_path)
    rows = idx.count()
    write_partitioned_locked(idx, index_path, "bb", cluster_by=("fp",))
    after, _ = count_bucket_files(index_path, "bb=")
    return {"files_before": before, "files_after": after, "rows": rows}
