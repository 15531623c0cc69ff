"""Incremental embedding near-dup filtering against a persisted
sign-LSH bucket index — the vector twin of functions/dedup_index.

New embedding drops (fresh documents' vectors, re-crawled media) are
checked against the accepted corpus WITHOUT re-bucketing it: the index
persists each accepted vector's sign-LSH bucket, quantized components,
and exact norm; a drop is bucketed by THE batch projection
(``similarity.bucketed_from`` — one bucketing definition in the
codebase), **broadcast** against the index scan, and verified with the
exact quantized cosine at ``DUP_THRESHOLD`` — the same candidate →
verify policy as the registered ``dd_embedding_cosine``.

Scale shape, mirroring dedup_index: the index streams MAP-SIDE through
a BroadcastHashJoin (zero index shuffle at any corpus size); the table
is hive-partitioned by the bucket string itself (2^N_DUP_BITS dirs),
so a drop touching few buckets prunes its read statically; appends are
repartitioned by bucket first (one file per touched bucket per append,
not a sliver per shuffle partition). The crash-ordering lesson from
the composed drop ingest applies verbatim: callers that commit
survivors elsewhere first should pass ``update_index=False`` and
append via :func:`append_vectors_to_index` AFTER their commit point.

Concurrency: append-only and safe to append concurrently, but two
drops deduped concurrently cannot see each other's in-flight vectors.
Since r9 this is ENFORCED (r8 verdict #4), exactly as in dedup_index:
write-path entries (``dedup_vectors_against_index`` with
``update_index=True``, ``append_vectors_to_index``) hold the table's
single-writer ``_merge.lock`` (shared with ``compact_vector_index``'s
journaled rewrite) for their probe→append section — concurrent writers
serialize for ``lock_wait_s`` then raise ``ConcurrentWriterError``.
The append-after-commit composition still needs its cross-call window
serialized by the caller (drop cursor).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tmdb_sync_spark.functions.dedup_index import (
    AUTO_COMPACT_FILES_PER_BUCKET,
)
from tmdb_sync_spark.functions.pairs import tiled_self_pairs
from tmdb_sync_spark.functions.similarity import (
    DUP_THRESHOLD,
    N_DUP_BITS,
    _dot,
    bucketed_from,
)


def _maybe_compact_vec_locked(
    spark: SparkSession, index_path: str, threshold: int | None,
) -> bool:
    """Auto-compaction check (policy rationale at
    ``dedup_index.AUTO_COMPACT_FILES_PER_BUCKET``) — called by append
    paths while they still hold the writer lock."""
    from tmdb_sync_spark.util import count_bucket_files

    if threshold is None:
        return False
    if count_bucket_files(index_path, "bucket=")[1] <= threshold:
        return False
    _compact_vec_locked(spark, index_path)
    return True


def _check_contract(index_path: str, what: str, record: bool = True) -> None:
    """The constants defining this index's key space: plane count
    (bucket strings), embedding DIM, and the quantization scheme the
    stored ``v``/``nrm`` were computed under. A store written under
    different values would bucket-join on non-matching keys or compare
    incompatible quantizations and silently MISS (r8 review sweep)."""
    from tmdb_sync_spark.functions.similarity import DIM
    from tmdb_sync_spark.util import check_store_contract

    check_store_contract(
        index_path,
        {"kind": "sign_lsh_vector_index", "n_dup_bits": N_DUP_BITS,
         "dim": DIM, "quant": "floor-x1000-long"},
        what,
        record=record,
    )


def _append(index_path: str, bucketed: DataFrame) -> None:
    _check_contract(index_path, "append_vectors_to_index")
    (
        bucketed.repartition("bucket")
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(index_path)
    )


def _index_writer_lock(index_path: str, wait_s: float):
    """Single-writer lock, same name as compact_vector_index's
    write_partitioned — appends and compaction mutually exclude."""
    from tmdb_sync_spark.plans.partitioned import MERGE_LOCK_NAME
    from tmdb_sync_spark.util import acquire_dir_lock

    return acquire_dir_lock(index_path, MERGE_LOCK_NAME, wait_s=wait_s)


def append_vectors_to_index(
    spark: SparkSession, index_path: str, vecs: DataFrame,
    *, lock_wait_s: float = 60.0,
    auto_compact_files_per_bucket: int | None = AUTO_COMPACT_FILES_PER_BUCKET,
) -> None:
    """Append ``(vec_id, embedding)`` rows' bucketed projections to the
    index — the post-commit half of the update_index=False protocol
    (see the module docstring's crash-ordering note). Holds the index
    writer lock for the append; auto-compacts under that same lock when
    any bucket exceeds the threshold (``None`` disables)."""
    from tmdb_sync_spark.util import release_dir_lock

    lock = _index_writer_lock(index_path, lock_wait_s)
    try:
        _append(index_path, bucketed_from(vecs, N_DUP_BITS))
        _maybe_compact_vec_locked(
            spark, index_path, auto_compact_files_per_bucket
        )
    finally:
        release_dir_lock(lock)


def vector_index_exists(index_path: str) -> bool:
    return os.path.isdir(index_path) and any(
        e.startswith("bucket=") for e in os.listdir(index_path)
    )


def compact_vector_index(
    spark: SparkSession, index_path: str, *, lock_wait_s: float = 60.0,
) -> dict:
    """One file per bucket — the vector twin of
    ``dedup_index.compact_index`` (same journaled-swap crash safety via
    ``write_partitioned_locked``, same lock-before-snapshot discipline:
    the writer lock is taken here so an append cannot commit between
    the snapshot listing and the rewrite — r9 advice); rows cluster by
    ``vec_id`` for tight row-group stats."""
    from tmdb_sync_spark.util import release_dir_lock

    if not vector_index_exists(index_path):
        raise ValueError(
            f"compact_vector_index: no index at {index_path!r}"
        )
    lock = _index_writer_lock(index_path, lock_wait_s)
    try:
        return _compact_vec_locked(spark, index_path)
    finally:
        release_dir_lock(lock)


def _compact_vec_locked(spark: SparkSession, index_path: str) -> dict:
    """Compaction body — caller holds the index writer lock."""
    from tmdb_sync_spark.plans.partitioned import write_partitioned_locked
    from tmdb_sync_spark.util import count_bucket_files

    before, _ = count_bucket_files(index_path, "bucket=")
    spark.catalog.refreshByPath(index_path)
    idx = spark.read.parquet(index_path)
    rows = idx.count()
    write_partitioned_locked(idx, index_path, "bucket", cluster_by=("vec_id",))
    after, _ = count_bucket_files(index_path, "bucket=")
    return {"files_before": before, "files_after": after, "rows": rows}


def vector_index_match_pairs(
    idx: DataFrame, new_b: DataFrame, threshold: float = DUP_THRESHOLD,
    probe_rows: int | None = None,
) -> DataFrame:
    """Verified (probe vec, indexed vec) matches with their exact
    quantized cosine — ``(vec_id, corpus_vec_id, cosine_sim)`` — the
    detail surface the unified contamination audit reports from (the
    vector twin of ``dedup_index.index_match_pairs``). Probe side
    broadcast, index map-side (the dedup_index plan contract);
    ``probe_rows`` engages the same size gate as dedup_index: above
    the bound the broadcast hint is dropped rather than OOM-shipping a
    corpus-sized probe (quantized vectors are ~DIM×8 bytes each, so
    the row bound is scaled down by DIM/4 vs the band index's)."""
    from tmdb_sync_spark.functions.dedup_index import (
        BROADCAST_PROBE_MAX_ROWS,
    )
    from tmdb_sync_spark.functions.similarity import DIM

    cos = _dot(F.col("i.v"), F.col("n.v")) / (
        F.sqrt(F.col("i.nrm")) * F.sqrt(F.col("n.nrm"))
    )
    probe = new_b.alias("n")
    bound = max(1, BROADCAST_PROBE_MAX_ROWS // (DIM // 4))
    if probe_rows is None or probe_rows <= bound:
        probe = F.broadcast(probe)
    return (
        idx.alias("i")
        .join(
            probe,
            on=F.col("i.bucket") == F.col("n.bucket"),
        )
        .where(cos >= threshold)
        .select(
            F.col("n.vec_id").alias("vec_id"),
            F.col("i.vec_id").alias("corpus_vec_id"),
            cos.alias("cosine_sim"),
        )
        .distinct()
    )


def vector_index_matches(
    idx: DataFrame, new_b: DataFrame, threshold: float = DUP_THRESHOLD,
    probe_rows: int | None = None,
) -> DataFrame:
    """Just the matched probe vec_ids — the dedup filter's view of
    :func:`vector_index_match_pairs`."""
    return (
        vector_index_match_pairs(idx, new_b, threshold, probe_rows)
        .select("vec_id").distinct()
    )


def dedup_vectors_against_index(
    spark: SparkSession,
    new_vecs: DataFrame,
    index_path: str,
    *,
    threshold: float = DUP_THRESHOLD,
    update_index: bool = True,
    lock_wait_s: float = 60.0,
    auto_compact_files_per_bucket: int | None = AUTO_COMPACT_FILES_PER_BUCKET,
) -> dict:
    """Filter a ``(vec_id, embedding)`` drop against the vector index.

    Returns ``{"survivors": DataFrame (of new_vecs rows),
    "dropped_vs_index": DataFrame, "dropped_in_batch": DataFrame,
    "n_dropped_vs_index": int, "n_dropped_in_batch": int,
    "invalid": [...], "zero_norm": [...]}``. The dropped-id frames stay
    DISTRIBUTED (r8, mirroring dedup_against_index's anti-join rewrite):
    a vendor drop that is mostly duplicates never funnels matched ids
    through the driver — they are pinned BEFORE the index append
    (scratch parquet when ``update_index`` so the returned frames
    survive executor loss; eager localCheckpoint otherwise — persist
    would be recached against the post-append listing; see
    dedup_index.py) and only the two counts land driver-side. ``invalid`` lists drop vectors failing the
    validity contract (NULL / wrong DIM / non-finite) — they neither
    merge nor index, the quantization guard's policy surfaced rather
    than silently vanishing. ``zero_norm`` lists structurally VALID
    vectors whose quantized norm is 0 (r6 ADVICE: a zero vector
    satisfies the validity contract; it just cannot cosine-match
    anything) — they SURVIVE, but are neither probed nor indexed, since
    cosine is undefined for them and the bucketed projection excludes
    them by construction. Both stay collected lists: they are bounded
    by ANOMALIES, not the drop. Within-drop near-dups fold by the batch
    candidate machinery (skew-tiled bucket self-pairs, exact cosine,
    greedy keep-smallest-id)."""
    # Contract recorded only on the write path (r8 advice): a probe
    # with update_index=False neither creates the store dir nor pins
    # constants for an index that was never built.
    _check_contract(
        index_path, "dedup_vectors_against_index", record=update_index
    )
    # Single-writer enforcement (module docstring, Concurrency): the
    # update_index probe→append section holds the writer lock; pure
    # probes don't (the append-after-commit caller serializes those).
    from tmdb_sync_spark.util import release_dir_lock

    lock = (
        _index_writer_lock(index_path, lock_wait_s) if update_index
        else None
    )
    from tmdb_sync_spark.functions.similarity import (
        _guarded_quant,
        _nrm_expr,
    )

    b = bucketed_from(new_vecs, N_DUP_BITS).cache()
    try:
        # taxonomy split: nrm NULL ⇒ structurally invalid (the guarded
        # quantization refused the row), nrm 0 ⇒ valid but zero-norm
        # (excluded from b by its nrm > 0 filter, yet NOT invalid under
        # the documented contract). Collect ONLY the anomalous rows —
        # driver memory is O(anomalies), not O(drop): a "drop" can be a
        # vendor delivery of millions of vectors, and the previous
        # full-drop collect made the driver the bottleneck exactly when
        # the distributed path was doing its job. The valid count for
        # the broadcast size gate comes from the cached bucketed frame,
        # which IS the valid subset by construction.
        anomalies = new_vecs.select(
            "vec_id",
            _nrm_expr(_guarded_quant(F.col("embedding"))).alias("nrm"),
        ).where(F.col("nrm").isNull() | (F.col("nrm") == 0)).collect()
        invalid = sorted(r["vec_id"] for r in anomalies if r["nrm"] is None)
        zero_norm = sorted(r["vec_id"] for r in anomalies if r["nrm"] == 0)
        n_valid = b.count()

        if vector_index_exists(index_path):
            buckets = sorted(
                r["bucket"]
                for r in b.select("bucket").distinct().collect()
            )
            idx = spark.read.parquet(index_path).where(
                F.col("bucket").isin(buckets)
            )
            dropped_vs_index = vector_index_matches(
                idx, b, threshold, probe_rows=n_valid
            ).select("vec_id").distinct()
        else:
            dropped_vs_index = new_vecs.select("vec_id").limit(0)

        # Pin strength by path (r8 advice, mirroring dedup_index.py):
        # update_index=True appends inside this call, so the returned
        # frames must survive executor loss — scratch PARQUET pin
        # (localCheckpoint blocks die with executors and the truncated
        # lineage can't recompute). update_index=False (append-after-
        # commit protocol) keeps the cheaper localCheckpoint. Never
        # persist: the _append below writes the index path these
        # frames' plans read — Spark would recache a persisted plan
        # against the refreshed listing and the drop would match its
        # own just-appended rows (dedup_index.py pin).
        if update_index:
            from tmdb_sync_spark.util import scratch_dir

            pin_base = scratch_dir("vecdedup-dropped-")

            def _pin(df: DataFrame, name: str) -> DataFrame:
                p = os.path.join(pin_base, name)
                df.write.mode("overwrite").parquet(p)
                return spark.read.parquet(p)

        else:
            def _pin(df: DataFrame, name: str) -> DataFrame:
                return df.localCheckpoint(eager=True)

        dropped_vs_index = _pin(dropped_vs_index, "vs_index")
        pairs = tiled_self_pairs(
            b, "bucket", "vec_id",
            sym={
                "cos": lambda l, r: _dot(l["v"], r["v"]) / (
                    F.sqrt(l["nrm"]) * F.sqrt(r["nrm"])
                )
            },
        ).where(F.col("cos") >= threshold)
        dropped_in_batch = _pin(
            pairs.select(
                F.greatest(
                    F.col("a.vec_id"), F.col("b.vec_id")
                ).alias("vec_id")
            )
            .distinct()
            .join(dropped_vs_index, "vec_id", "left_anti"),
            "in_batch",
        )
        n_vs_index = dropped_vs_index.count()
        n_in_batch = dropped_in_batch.count()

        if n_vs_index + n_in_batch + len(invalid) == 0:
            # nothing dropped — skip the anti-joins (the clean-drop
            # fast path; see dedup_index.py's measured note). b already
            # excludes invalid/zero-norm rows by construction.
            survivors = new_vecs
            surviving_b = b
        else:
            all_dropped = dropped_vs_index.unionByName(dropped_in_batch)
            if invalid:
                all_dropped = all_dropped.unionByName(
                    spark.createDataFrame([(i,) for i in invalid],
                                          "vec_id long")
                )
            survivors = new_vecs.join(all_dropped, "vec_id", "left_anti")
            surviving_b = b.join(all_dropped, "vec_id", "left_anti")

        if update_index:
            _append(index_path, surviving_b)
            # rides the held writer lock; the returned dropped frames
            # are scratch-parquet-pinned and survivors read only the
            # caller's new_vecs, so the rewrite invalidates nothing
            _maybe_compact_vec_locked(
                spark, index_path, auto_compact_files_per_bucket
            )
        return {
            "survivors": survivors,
            "dropped_vs_index": dropped_vs_index,
            "dropped_in_batch": dropped_in_batch,
            "n_dropped_vs_index": n_vs_index,
            "n_dropped_in_batch": n_in_batch,
            "invalid": invalid,
            "zero_norm": zero_norm,
        }
    finally:
        b.unpersist()
        if lock is not None:
            release_dir_lock(lock)
