"""Partition-pruned MERGE over a hive-partitioned parquet table.

SURVEY §7 hard-part #1: MERGE without Delta. ``plans.merge.merge_into``
computes the post-state; this module adds the *physical* discipline that
matters at 100 TB: only the partitions the source batch touches are read,
merged and rewritten — untouched partitions are never opened.

Protocol (the same one Hive dynamic-partition overwrite and the
reference's per-year sync unit imply, ``app/mongo.py:28``,
``app/sync_years.py:174``):

1. touched = distinct partition values in the source (partition metadata —
   a tiny driver-side list, NOT data collection);
2. read the target WITH a partition filter on ``touched`` (Catalyst prunes
   at the file index — ``.explain`` shows ``PartitionFilters``);
3. full-outer-join MERGE against the source;
4. write the merged result to a staging dir partitioned the same way;
5. swap only the touched partition directories.

Every writer (merge, full overwrite, the index compactions) commits the
same way: plan → journal → apply. After its staging write it only PLANS
— the ordered ``[name, install|delete]`` swap ops and the table's
post-commit record — then :func:`_commit` journals that plan by atomic
rename (the commit point) and applies it with
:func:`_replay_swap_journal`, the very code crash recovery runs on a
pending journal. On a local/HDFS filesystem a swap is a directory move;
on object stores this step is the job-committer's problem (or a real
table format's) — the read/merge plan above is identical either way.

A table keeps its metadata in ONE record beside the data,
``_table_schema.json``: the partition column and the read-back schema,
and for a keyed table the merge key and each partition dir's exact
sorted key list (``{"partition_col", "schema", "key", "parts"}``; the
key-set algorithms live in ``plans.manifest``). Every commit publishes
that one record; a keyed commit publishes a superset of it first
(:func:`_replay_swap_journal`), so a crash inside the swaps never leaves
a key list that misses a partition's key.

Cross-partition key moves (a row whose partition value changes — e.g. a
movie's ``year`` corrected between syncs, since ``year`` derives from the
API-mutable ``release_date``) are handled: before the merge, source keys
are probed against the *other* partitions. The probe is pruned at THREE
levels before any data page is read: (1) the record's per-partition
exact key sets (the sorted distinct keys of each partition, harvested
from its key column and maintained by every commit) drop every
partition that holds no key inside the batch's per-partition key spans
— when nothing survives, the probe job never runs; (2) the surviving
partitions are read by PATH (file-index level, untouched dirs never
listed); (3) a batch key-range predicate lets parquet row-group stats
skip most row groups of what remains (staged writes are key-clustered
below precisely for this). What's left is one shuffle-free job: a
column-pruned ``(keys, partition_col)`` scan broadcast-LEFT-SEMI-joined
with the batch keys. Old partitions holding a moved key join the
touched set, the full-outer MERGE on keys relocates the row to its new
partition, and the swap deletes a partition the merge emptied — so the
reference's global unique-key invariant (``app/mongo.py:15``) holds
across partition moves exactly as its keyed Mongo upsert does
(``app/catalog/upsert.py:99-103``). Callers with a provably immutable
partition key can pass ``detect_moved_keys=False`` to skip the probe
entirely. The same key sets let a point read
(:func:`read_partitioned_for_key`) open only the partition holding the
key, and the merge reads its touched partitions by path with the stored
schema, so building its target frame runs no Spark job.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import json
import os
import shutil

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, DataFrameReader, SparkSession
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tmdb_sync_spark.plans import manifest as km
from tmdb_sync_spark.plans.manifest import HIVE_NULL_PART
from tmdb_sync_spark.plans.merge import ACTION_COL, merge_into
from tmdb_sync_spark.util import (
    ConcurrentWriterError,
    acquire_dir_lock,
    release_dir_lock,
    fsync_tree,
    write_json_atomic,
)


def write_partitioned(
    df: DataFrame, path: str, partition_col: str,
    cluster_by: Sequence[str] = (),
    manifest_key: str | None = None,
) -> None:
    """Full overwrite of a hive-partitioned table: plan → journal →
    apply, the commit path every writer shares (module docstring).

    The rows are rebalanced on ``partition_col`` before the write, so
    each partition dir holds one part file (one per advisory partition
    size, ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, for a dir
    larger than that): a full scan opens one file per dir, however many
    tasks produced ``df``. Callers need no ``repartition`` of their own.
    ``cluster_by`` sorts each file by those columns after the partition
    column, so parquet row-group key stats are tight from the first
    write (the same clustering the merge's staging writes apply).
    ``manifest_key`` stores each partition's exact key set for that
    column in the table record, so the first merge and point read
    needn't harvest them lazily; without it the new record holds no key
    sets, and a table's earlier ones are gone with it.

    The new table is written to a staging dir first (a crash there
    leaves the live table untouched and the staging dir discardable).
    The plan installs every staged partition and deletes every existing
    one with no staged twin (``.del`` protocol: finished, never
    restored, by recovery). :func:`_commit` journals it to
    ``_swap.journal`` by atomic rename — the commit point — and applies
    it with the replay that every writer's entry point
    (:func:`_recover_leftovers`, under the lock) runs on a pending
    journal, so a crash anywhere after the rename rolls the overwrite
    FORWARD and never leaves a mix of old and new partitions. This is
    the write-ahead-intent role a real table format's commit log plays
    (Delta's _delta_log, Iceberg's metadata pointer), reduced to one
    file + deterministic replay. The table's ``_merge.lock`` is held
    throughout and the directory is never cleared, so overwrite and
    merge are fully mutually exclusive."""
    lock = _acquire_merge_lock(path)
    try:
        write_partitioned_locked(
            df, path, partition_col, cluster_by=cluster_by,
            manifest_key=manifest_key,
        )
    finally:
        release_dir_lock(lock)


def write_partitioned_locked(
    df: DataFrame, path: str, partition_col: str,
    cluster_by: Sequence[str] = (),
    manifest_key: str | None = None,
) -> None:
    """:func:`write_partitioned`'s body for callers that ALREADY hold the
    table's ``_merge.lock`` (the index compactions, which must take their
    source snapshot under the same lock that excludes appends — a
    snapshot read outside the lock can miss an append that commits
    between the listing and the rewrite, silently dropping its rows; and
    the auto-compaction path, which runs inside an append's held lock).
    The lock file is pid+tid-keyed and NOT reentrant, so re-acquiring
    here would deadlock the legitimate holder — callers own acquisition
    and release."""
    _recover_leftovers(path)
    staging = _staging_dir(path)
    # one file per partition dir (docstring of write_partitioned)
    df.hint("rebalance", partition_col).sortWithinPartitions(
        partition_col, *cluster_by
    ).write.partitionBy(partition_col).mode("overwrite").parquet(staging)
    staged_names = [
        e for e in sorted(os.listdir(staging))
        if km._is_part_dir(e, partition_col)
    ]
    existing = [
        e.name for e in os.scandir(path)
        if km._is_part_dir(e.name, partition_col)
    ] if os.path.isdir(path) else []
    # staged partitions install; existing ones with no staged twin are
    # full-overwrite deletes (handled by _swap_partition's .del path)
    deletes = [n for n in sorted(existing) if n not in staged_names]
    parts = {
        n: km.harvest_keys(os.path.join(staging, n), manifest_key)
        for n in staged_names
    } if manifest_key else None
    _commit(
        path, staging,
        [[n, "install"] for n in staged_names]
        + [[n, "delete"] for n in deletes],
        _table_record(df.schema, partition_col, manifest_key, parts),
    )
    df.sparkSession.catalog.refreshByPath(path)


def create_partitioned(
    path: str, schema: StructType, partition_col: str,
    key: str | None = None, lock_wait_s: float = 0.0,
) -> bool:
    """Create an EMPTY table by committing only its record (a catalog
    write: no swap ops, no staging, no Spark job) through :func:`_commit`
    — the record :func:`write_partitioned` publishes for an empty frame
    of ``schema`` with ``manifest_key=key``. Existence is checked UNDER
    the writer lock, so of two racing creators one commits and one
    no-ops, never clobbering the winner's (possibly merged) table.
    Returns ``True`` when this call created the table."""
    lock = _acquire_merge_lock(path, wait_s=lock_wait_s)
    try:
        _recover_leftovers(path)
        if table_exists(path):
            return False
        _commit(path, _staging_dir(path), [], _table_record(
            schema, partition_col, key, {} if key else None))
        return True
    finally:
        release_dir_lock(lock)

# Characters Spark/Hive %-escape in partition dir names
# (ExternalCatalogUtils.escapePathName): ASCII control chars plus the set
# below. Building swap paths with the same escaping keeps the directory
# protocol correct for string partition values like 'a/b' or 'x:y'.
_ESCAPED = set('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(0x20)}


def _render_part_val(v) -> str:
    # Match Spark's partition-value rendering (Cast-to-string), not
    # Python's str(): booleans are 'true'/'false' in dir names. A
    # divergence here would make _swap_partition find neither src nor dst
    # and silently drop the partition's staged changes; the swap loop also
    # reconciles against the staging dir listing as a backstop.
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _escape_part_val(v) -> str:
    return "".join(
        f"%{ord(c):02X}" if c in _ESCAPED else c for c in _render_part_val(v)
    )


def _pdir_name(partition_col: str, v) -> str:
    part_val = HIVE_NULL_PART if v is None else _escape_part_val(v)
    return f"{partition_col}={part_val}"


MERGE_LOCK_NAME = "_merge.lock"


class ConcurrentMergeError(ConcurrentWriterError):
    """A second merge writer tried to enter a table another merge holds."""


def _acquire_merge_lock(target_dir: str, wait_s: float = 0.0) -> str:
    """Single-writer guard for the swap protocol and the record RMW.

    The rename-aside swap and the ``_table_schema.json`` read-modify-write
    are crash-safe but assume ONE writer; two interleaved merges would
    clobber each other's swaps and key sets with no error. The
    protocol (atomic create-with-payload, dead-pid reclaim, the
    pid-recycling caveat) lives in :func:`util.acquire_dir_lock` —
    shared with the sync cursor file's commit lock; a lock stuck on a
    recycled pid is broken with :func:`break_merge_lock` after human
    verification.

    ``wait_s``: poll for the holder to release instead of failing fast —
    the contract callers with their OWN retry-free loop want (the sync
    jobs run micro-batch merges of a few seconds each; two jobs sharing
    one movies table should interleave batch-by-batch like the
    reference's concurrent Mongo upserts, not kill one run).
    """
    try:
        return acquire_dir_lock(target_dir, MERGE_LOCK_NAME, wait_s=wait_s)
    except ConcurrentMergeError:          # pragma: no cover - subclass
        raise
    except ConcurrentWriterError as e:
        raise ConcurrentMergeError(str(e)) from None


def break_merge_lock(target_dir: str) -> bool:
    """Operator escape hatch for a lock stuck on a RECYCLED pid.

    ``_acquire_merge_lock`` auto-reclaims locks of dead pids; what it
    cannot detect is a crashed holder whose pid the OS reassigned to an
    unrelated live process — that lock looks held forever. After a human
    verifies the pid in the ``ConcurrentMergeError`` is not a merge
    writer, this removes the lock. Returns True if a lock was removed.
    NEVER call it on a table whose lock holder might still be merging.
    """
    try:
        os.unlink(os.path.join(target_dir, MERGE_LOCK_NAME))
        return True
    except FileNotFoundError:
        return False


SWAP_JOURNAL_NAME = "_swap.journal"

# The table record persisted beside the data (underscore-prefixed →
# invisible to Spark's file listing; module docstring). Every commit
# writes the read-back schema here, and the readers hand it to Spark
# instead of inferring one: that skips a schema-inference job per read,
# and keeps an EMPTY table (an empty overwrite writes no files at all; a
# merge can legitimately empty every partition) readable as an empty
# frame — the same role a table format's log plays.
SCHEMA_NAME = "_table_schema.json"


def _staging_dir(target_dir: str) -> str:
    return target_dir.rstrip("/") + "__staging"


def _table_record(
    schema, partition_col: str, key: str | None = None,
    parts: dict | None = None,
) -> dict:
    """A table's record: the writer frame's schema in READ-BACK column
    order (Spark appends partition columns after the data columns when
    reading a partitioned layout, so the persisted schema must too —
    readers that pass it to Spark then see the inferred column order),
    plus, for a keyed table, the key and its per-partition key sets."""
    fields = [f for f in schema.fields if f.name != partition_col] + [
        f for f in schema.fields if f.name == partition_col
    ]
    rec = {
        "partition_col": partition_col,
        "schema": StructType(fields).jsonValue(),
    }
    if key:
        rec.update(key=key, parts=parts)
    return rec


def _load_record(path: str) -> dict | None:
    """The table's ``_table_schema.json`` record, or ``None`` when no
    record exists (a table from a writer that predates the record, or no
    table at all) or it is not a JSON object. A damaged record thus
    degrades like a missing one: reads infer the schema, key sets are
    re-harvested, and the next commit publishes a whole record."""
    try:
        with open(os.path.join(path, SCHEMA_NAME)) as fh:
            rec = json.load(fh)
    except (FileNotFoundError, NotADirectoryError, ValueError):
        return None
    return rec if isinstance(rec, dict) else None


def table_exists(path: str) -> bool:
    """Has this table ever COMMITTED? A bare ``os.path.isdir`` is wrong:
    acquiring the writer lock ``makedirs`` the directory, so a writer
    that crashed before its commit point leaves an existing-but-empty
    dir that was never a table (found live: the ingest bootstrap check
    took the merge route after a crashed bootstrap, and the empty-table
    degrade then built the movies table from the source schema —
    without ``created_at``). A table exists iff something committed:
    a schema record, a pending swap journal (the commit happened; the
    next writer's recovery materializes it), or partition dirs from a
    pre-schema-record writer."""
    if not os.path.isdir(path):
        return False
    if os.path.exists(os.path.join(path, SCHEMA_NAME)):
        return True
    if os.path.exists(os.path.join(path, SWAP_JOURNAL_NAME)):
        return True
    return any(
        "=" in e and not e.startswith((".", "_"))
        for e in os.listdir(path)
    )


def _record_schema(rec: dict | None) -> StructType | None:
    return None if rec is None else StructType.fromJson(rec["schema"])


def _record_parts(rec, key: str, partition_col: str):
    """The key sets ``rec`` keeps for ``key`` over ``partition_col``
    (unchecked: ``plans.manifest`` validates their shape), or None when
    it keeps none for them (no record, a record without ``key``, or one
    kept for another key)."""
    if (
        rec is not None
        and rec.get("key") == key
        and rec.get("partition_col") == partition_col
    ):
        return rec.get("parts")
    return None


def _reader(
    spark: SparkSession, schema: StructType | None
) -> DataFrameReader:
    # the stored schema spares Spark its schema-inference job; without
    # a record the read falls back to inference
    return spark.read if schema is None else spark.read.schema(schema)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a table maintained by :func:`write_partitioned` /
    :func:`merge_into_partitioned`.

    The schema comes from the table's ``_table_schema.json`` record, so
    building the frame runs no schema-inference job (and, with the
    session's driver-side listing, no Spark job at all). An EMPTY table
    (zero partition dirs) reads as an empty frame of the record's
    columns. Only a table without a record falls back to inference,
    which fails on an empty table."""
    return _reader(spark, _record_schema(_load_record(path))).parquet(path)


def read_partitioned_for_key(
    spark: SparkSession, path: str, key: str, value
) -> DataFrame:
    """Point-lookup read pruned by the record's KEY SETS: only partition
    dirs whose key set holds ``value`` are listed or opened — the
    read-side twin of the merge's moved-key probe pruning. The sets are
    exact, so on a table with unique keys (the ingest's movies table) a
    point read opens exactly the one partition holding the key,
    regardless of table size or how the keys interleave across
    partitions — the serving-path behavior a 100 TB CDC table needs,
    without an index.

    Like :func:`read_partitioned`, the schema comes from the table's
    ``_table_schema.json`` record, so no schema-inference job runs.
    Degrades to :func:`read_partitioned` (full listing) when the record
    is absent or holds no key sets, damaged ones or ones kept for a
    DIFFERENT key; unknown sets or type-incomparable values are
    conservatively read. Zero candidates returns an empty frame of the
    persisted schema. The usual retention caveat applies: rows outside
    pruned partitions are invisible by construction, so callers must
    pass the table's key."""
    try:
        rec = _load_record(path)
        pcol = rec["partition_col"]
        schema = StructType.fromJson(rec["schema"])
    except (OSError, ValueError, KeyError, TypeError):
        return read_partitioned(spark, path)
    entries = km.stored(_record_parts(rec, key, pcol))
    if entries is None:
        return read_partitioned(spark, path)
    cand = km.candidates(
        km.reconcile(path, key, pcol, entries), set(), [(value, value)]
    )
    if not cand:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).option("basePath", path).parquet(
        *[os.path.join(path, p) for p in cand]
    )


def _write_swap_journal(
    target_dir: str, staging: str, ops: Sequence, record: dict,
) -> None:
    """Atomically record a writer's swap plan — the COMMIT POINT every
    writer reaches through :func:`_commit`.

    The journal's existence means staging is complete (it is written
    only after Spark's staging write returns) and the post-state MUST be
    installed; recovery replays it to completion. ``ops`` is the ORDERED
    ``[name, "install"|"delete"]`` list (order carries the merge's
    delete-before-insert moved-key discipline). ``record`` is the
    table's full post-commit record (:func:`_table_record`), kept under
    ``schema_record``. Underscore-prefixed, so Spark's file listing
    skips it."""
    # The journal promises staging's CONTENT: make it durable BEFORE the
    # commit point, or a power loss could persist the journal while the
    # staged parquet pages are lost — and replay would then install torn
    # files over the good old partitions (util.fsync_tree docstring).
    if os.path.isdir(staging):
        fsync_tree(staging)
    # the COMMIT POINT must survive power loss, not just process crash:
    # write_json_atomic fsyncs the file and the dir holding the rename
    write_json_atomic(os.path.join(target_dir, SWAP_JOURNAL_NAME), {
        "staging": staging,
        "ops": [list(op) for op in ops],
        "schema_record": record,
    })


def _commit(
    target_dir: str, staging: str, ops: Sequence, record: dict,
) -> None:
    """Journal a writer's swap plan (the commit point), then apply it
    with :func:`_replay_swap_journal` — the same code recovery runs on a
    pending journal, so a crash anywhere in the apply resumes exactly
    where the normal path stopped."""
    _write_swap_journal(target_dir, staging, ops, record)
    _replay_swap_journal(target_dir)


def _replay_swap_journal(target_dir: str) -> None:
    """Apply a journaled swap plan, or discard uncommitted staging. Lock
    held. This is the apply step of every writer (:func:`_commit`) AND
    the crash recovery of every writer's entry point — one code path.

    - Journal present → staging committed: apply the plan FORWARD, in
      journal order.
      1. Pre-swap record, keyed records only: publish the current
         record (its schema; the journal's when there is none) with
         each install op's key set the union of its current and staged
         sets (a superset is always safe — a crash anywhere in the swaps
         leaves the key sets over-inclusive, never wrong).
      2. Swaps: install ops whose staged dir is still in staging run
         the normal swap; ones already moved out are done (any half-swap
         residue is a dot-prefixed dir the caller's generic leftover
         pass finishes). Delete ops re-run idempotently.
      3. The journal's record is published, the journal is removed,
         then staging — a crash inside the apply itself just applies
         again.
    - No journal but a staging dir → the writer crashed before its
      commit point: the current table is the truth (an uncommitted
      overwrite never happened; an uncommitted merge batch is simply
      not applied — its caller re-runs it), staging is discarded.

    A garbled journal is raised loudly rather than guessed at: after
    partial swaps the swap plan CANNOT be reconstructed from directory
    listings (an installed partition is indistinguishable from a
    pre-existing one scheduled for deletion), and the atomic-rename
    write means garble only happens through outside interference."""
    jpath = os.path.join(target_dir, SWAP_JOURNAL_NAME)
    rpath = os.path.join(target_dir, SCHEMA_NAME)
    staging = _staging_dir(target_dir)
    if not os.path.exists(jpath):
        if os.path.isdir(staging):
            shutil.rmtree(staging, ignore_errors=True)
        return
    try:
        with open(jpath) as fh:
            j = json.load(fh)
        ops = [(n, kind) for n, kind in j["ops"]]
        staging = j["staging"]
        rec = j.get("schema_record")
    except (OSError, ValueError, KeyError, TypeError) as e:
        raise ConcurrentWriterError(
            f"unreadable swap journal {jpath!r} — cannot replay a "
            "half-applied write without its swap plan; inspect the "
            "table and remove the journal by hand"
        ) from e
    if rec and rec.get("key"):
        key, pcol = rec["key"], rec["partition_col"]
        cur = _load_record(target_dir)
        pre = km.load(target_dir, key, pcol, _record_parts(cur, key, pcol))
        for n, kind in ops:
            if kind == "install":
                staged = rec["parts"].get(n)
                pre[n] = km.union_keys(pre[n], staged) if n in pre else staged
        write_json_atomic(rpath, {**(cur or rec), "key": key, "parts": pre})
    for n, kind in ops:
        if kind == "install" and not os.path.isdir(os.path.join(staging, n)):
            # Legitimately reachable ONLY as "already moved into the
            # table" (the crash landed after this op's move; dst exists
            # — a half-finished swap's residue is a dot-prefixed dir the
            # caller's generic leftover pass handles, never a missing
            # dst). A missing staged dir with NO installed dst means the
            # staging area was removed externally — completing the
            # replay would install the journal's post-swap record and
            # run its deletes over a table that never received the new
            # data: a corrupt "success". Same outside-interference class
            # as a garbled journal, same loud refusal.
            if not os.path.isdir(os.path.join(target_dir, n)):
                raise ConcurrentWriterError(
                    f"swap journal {jpath!r} promises staged partition "
                    f"{n!r}, but neither {staging!r} nor the table holds "
                    "it — staging was removed before replay could "
                    "complete; inspect the table and remove the journal "
                    "by hand"
                )
            continue
        _swap_partition(target_dir, staging, n)  # src absent → .del path
    if rec:
        write_json_atomic(rpath, rec)
    os.unlink(jpath)
    if os.path.isdir(staging):
        shutil.rmtree(staging, ignore_errors=True)


# tmp-file prefixes of the records util.write_json_atomic publishes
# into a table dir
_PUBLISHED_TMP = tuple(
    f"{name}.tmp."
    for name in (SWAP_JOURNAL_NAME, SCHEMA_NAME)
)


def _recover_leftovers(target_dir: str) -> None:
    """Restore dot-prefixed ``.{pdir}.old`` dirs left by an interrupted swap.

    A crash between ``rename(dst → old)`` and ``move(src → dst)`` leaves
    the partition's ONLY copy in the invisible ``.old`` dir. Recovery must
    run BEFORE the merge's target read (not inside the swap): if the
    leftover were rmtree'd during the swap, the staged partition — built
    from a target scan that could not see the hidden rows — would replace
    them with nothing, silently losing every prior row of that partition.
    Here: ``dst`` missing → the swap died mid-window, restore ``old`` as
    ``dst``; ``dst`` present → the swap completed and only the final
    cleanup was skipped, drop the stale copy.

    Runs a pending swap journal to completion FIRST
    (:func:`_replay_swap_journal`): the journal's replay uses the
    same swap primitive, and its own residue is exactly the dot-prefixed
    leftovers the generic pass below then finishes.

    Also deletes the tmp files of a crashed :func:`util.write_json_atomic`
    publish of the journal or the table record: every caller
    holds ``_merge.lock``, so no live writer owns one.
    """
    if not os.path.isdir(target_dir):
        return
    _replay_swap_journal(target_dir)
    for entry in os.listdir(target_dir):
        path = os.path.join(target_dir, entry)
        if entry.startswith(_PUBLISHED_TMP):
            os.unlink(path)
            continue
        if not entry.startswith("."):
            continue
        if entry.endswith(".del"):
            # an emptied-partition delete died mid-rmtree: the merge had
            # already decided these rows are gone — finish the delete,
            # NEVER restore (restoring would resurrect moved keys).
            shutil.rmtree(path, ignore_errors=True)
        elif entry.endswith(".old") and os.path.isdir(path):
            dst = os.path.join(target_dir, entry[1:-len(".old")])
            if os.path.isdir(dst):
                shutil.rmtree(path)     # swap finished; stale backup
            else:
                os.rename(path, dst)    # swap died mid-window; restore


def _swap_partition(target_dir: str, staging: str, pdir: str) -> None:
    """Replace one partition dir with its staged version.

    Rename the old dir aside FIRST (dot-prefixed, so Spark's partition
    discovery ignores it even if left behind), then move staging in, then
    delete the old copy. Versus the naive rmtree-then-move: an
    interruption can no longer silently destroy the only copy — every
    window leaves either the partition in place or a recoverable
    dot-prefixed copy on disk (restored by :func:`_recover_leftovers` at
    the start of the next merge), and a leftover never corrupts partition
    type inference. Not crash-ATOMIC (two renames; the window between
    them leaves the partition undiscovered until recovered) — true
    atomicity on local FS/object stores is the job committer's / table
    format's job.

    A touched partition with NO staged dir was emptied by the merge (its
    only rows were keys that moved to another partition) — the staged
    post-state is "no rows", so the live dir is deleted.
    """
    dst = os.path.join(target_dir, pdir)
    src = os.path.join(staging, pdir)
    # '.' prefix → invisible to Spark file listing AND partition inference
    old = os.path.join(target_dir, "." + pdir + ".old")
    if not os.path.isdir(src):
        if os.path.isdir(dst):
            # merge emptied this partition; '.del' (not '.old') so a
            # crash mid-delete is finished, never restored, by recovery
            gone = os.path.join(target_dir, "." + pdir + ".del")
            os.rename(dst, gone)
            shutil.rmtree(gone, ignore_errors=True)
        return
    if os.path.isdir(dst):
        os.rename(dst, old)
    shutil.move(src, dst)
    shutil.rmtree(old, ignore_errors=True)


def _touched_cond(touched: Sequence, partition_col: str) -> Column:
    # NULL partition values are real (e.g. year = try_cast of a malformed
    # date): In() is null-propagating, so isin([... None]) would silently
    # hide existing NULL-partition state from the merge — handle NULL as
    # its own touched partition (Spark stores it as __HIVE_DEFAULT_PARTITION__).
    non_null = [v for v in touched if v is not None]
    cond = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
    if None in touched:
        cond = cond | F.col(partition_col).isNull()
    return cond


def merge_into_partitioned(
    spark: SparkSession,
    target_dir: str,
    source: DataFrame,
    keys: Sequence[str],
    partition_col: str,
    matched_update: Mapping[str, Column] | None = None,
    not_matched_insert: Mapping[str, Column] | None = None,
    count_actions: bool = False,
    detect_moved_keys: bool = True,
    lock_wait_s: float = 0.0,
) -> dict:
    """MERGE ``source`` into the partitioned table at ``target_dir``,
    rewriting only touched partitions.

    Single-writer: the whole merge (recovery, probe, staging write, swap,
    key-set maintenance) runs under the table's ``_merge.lock``
    (:func:`_acquire_merge_lock`); a concurrent merge into the same
    ``target_dir`` raises :class:`ConcurrentMergeError` instead of
    interleaving swaps, and a lock abandoned by a crashed writer is
    reclaimed automatically.

    ``matched_update`` / ``not_matched_insert`` pass through to
    :func:`plans.merge.merge_into` (J4 preserve rules, ``$setOnInsert``).
    With ``count_actions`` the insert/update/noop row counts come back
    (the reference's per-run counters, ``app/sync_top.py:267-273``;
    actions with no rows are absent) — observed on the staging write
    itself, so the full-outer join runs once and the counts cost no job
    of their own; every job in here scans touched partitions only.

    ``detect_moved_keys`` (default on) probes the non-touched partitions
    for source keys whose partition value changed (module docstring):
    record key-set pruning → path-restricted read → row-group range
    predicate → one broadcast-LEFT-SEMI job. Old partitions holding a
    moved key are merged (and rewritten) too, so the key's stale row is
    relocated, not duplicated — a moved key classifies as ``update``,
    exactly like the reference's keyed upsert. Pass ``False`` only when
    the partition value is provably immutable per key.

    Returns ``{"touched": [...], "counts": {action: n} | None,
    "probe_partitions": [pdir, ...]}`` — the partitions the probe
    actually had to read (empty = the key sets pruned everything).
    """
    lock = _acquire_merge_lock(target_dir, wait_s=lock_wait_s)
    try:
        return _merge_locked(
            spark, target_dir, source, keys, partition_col,
            matched_update, not_matched_insert, count_actions,
            detect_moved_keys,
        )
    finally:
        # ownership-verified release: never unlinks a lock another writer
        # re-installed after ours was externally removed (ADVICE r5)
        release_dir_lock(lock)


def _read_target(
    spark: SparkSession, target_dir: str, partition_col: str,
    touched: Sequence, source_schema: StructType,
    schema: StructType | None,
) -> DataFrame:
    """The merge's target frame: the rows of the ``touched`` partitions.

    With a schema record and every touched partition's predicted dir on
    disk, the dirs are read by PATH with the stored schema, like the
    moved-key probe: no schema-inference job and no listing of untouched
    partitions. Otherwise (a partition the batch creates, a table from a
    pre-record writer, or a rendering divergence that hides the real dir
    under another name) the whole table is read with inference and
    filtered to ``touched`` — the read the divergence backstops in
    :func:`_merge_locked` rely on. ``schema`` is the table record's
    (``None`` without a record)."""
    dirs = [
        os.path.join(target_dir, _pdir_name(partition_col, v))
        for v in touched
    ]
    if schema is not None and dirs and all(os.path.isdir(d) for d in dirs):
        return spark.read.schema(schema).option(
            "basePath", target_dir).parquet(*dirs)
    try:
        target = spark.read.parquet(target_dir)
    except AnalysisException:
        # The empty-table degrade below is ONLY for a table with no data:
        # nothing was ever written, or a crash landed in the one window
        # where the batch's only old partition was already deleted and
        # the new one not yet installed (recovery finishes the delete,
        # leaving zero visible partitions). AnalysisException also covers
        # readable-but-broken tables (conflicting partition value types,
        # incompatible schemas across partitions) — degrading THOSE would
        # classify every source row as an insert and swap away the
        # pre-existing rows of touched partitions. Distinguish by the
        # directory listing: any surviving partition dir means real data,
        # so re-raise loudly instead of silently dropping it.
        if os.path.isdir(target_dir) and any(
            km._is_part_dir(e.name, partition_col)
            for e in os.scandir(target_dir)
        ):
            raise
        os.makedirs(target_dir, exist_ok=True)
        # An empty TABLE is not an absent one: a committed table whose
        # every partition was emptied (or whose bootstrap batch was fully
        # dead-lettered) still has its persisted schema record, and that
        # schema can hold target-only columns the source lacks
        # (created_at). Degrading to source.schema here would wedge the
        # caller permanently: merge_into rejects a not_matched_insert
        # naming a column the target "doesn't have", and every retry
        # takes this same path (found by review — the ingest bootstrap +
        # all-dead-lettered first page scenario). The schema record is
        # exactly the read-back schema read_partitioned reads with.
        target = spark.createDataFrame([], schema or source_schema)
    return target.where(_touched_cond(touched, partition_col))


def _merge_locked(
    spark: SparkSession,
    target_dir: str,
    source: DataFrame,
    keys: Sequence[str],
    partition_col: str,
    matched_update: Mapping[str, Column] | None,
    not_matched_insert: Mapping[str, Column] | None,
    count_actions: bool,
    detect_moved_keys: bool,
) -> dict:
    # body of merge_into_partitioned — runs under the table's _merge.lock
    _recover_leftovers(target_dir)
    # recovery may have changed the dir listing; drop any cached file index
    spark.catalog.refreshByPath(target_dir)
    record = _load_record(target_dir)
    schema = _record_schema(record)
    stored_parts = _record_parts(record, keys[0], partition_col)
    # ONE job gathers the batch's partition values AND, per partition, the
    # batch's key span — the spans drive key-set pruning below (a NULL
    # group carries NULL-partition presence directly)
    stats = source.groupBy(partition_col).agg(
        F.min(keys[0]).alias("kmin"),
        F.max(keys[0]).alias("kmax"),
    ).collect()
    touched = [r[partition_col] for r in stats]
    spans = [(r["kmin"], r["kmax"]) for r in stats if r["kmin"] is not None]
    # an empty source touches nothing and can move nothing — skip the
    # probe, whose complement would otherwise be the whole table
    moved: set = set()
    probe_parts: list[str] = []
    manifest: dict | None = None
    if detect_moved_keys and touched and spans:
        manifest = km.load(target_dir, keys[0], partition_col, stored_parts)
        touched_dirs = {_pdir_name(partition_col, v) for v in touched}
        # key-set pruning: only partitions holding a key inside a batch
        # span are read — by PATH, so excluded partitions are
        # never even listed; when nothing intersects, no job runs at all
        probe_parts = km.candidates(manifest, touched_dirs, spans)
        if probe_parts:
            kmin = min(lo for lo, _ in spans)
            kmax = max(hi for _, hi in spans)
            # One shuffle-free job: scan → broadcast LEFT SEMI (immune to
            # duplicate batch keys) → collect the matches, bounded by the
            # batch's key count; partition values dedupe driver-side. The
            # batch-key range predicate acts on parquet row-group min/max
            # stats — staged partitions are written key-clustered below
            # precisely so this scan skips most row groups.
            others = (
                _reader(spark, schema).option("basePath", target_dir)
                .parquet(*[os.path.join(target_dir, p) for p in probe_parts])
                .where(F.col(keys[0]).between(F.lit(kmin), F.lit(kmax)))
                .select(*keys, partition_col)
            )
            # distinct() IN the plan: the collect must be bounded by the
            # number of touched PARTITIONS, not by how many batch keys
            # matched — a large backfill batch would otherwise funnel one
            # row per moved key through the driver. (The broadcast hint
            # on the batch keys rides the merge's core batch ≪ table
            # contract; a batch too big to broadcast should be split
            # upstream, not silently shuffled here.)
            moved = {
                r[0]
                for r in others.join(
                    F.broadcast(source.select(*keys)), list(keys), "left_semi"
                ).select(partition_col).distinct().collect()
            }
            touched += [v for v in moved if v not in touched]
    target = _read_target(
        spark, target_dir, partition_col, touched, source.schema, schema
    )
    # Self-healing replay: a crash between two partition swaps of a
    # key-move batch can leave a key duplicated across partition dirs
    # (the new copy installed, the stale one not yet removed). Normalize
    # the scanned target to ONE row per key before the merge — a
    # deterministic min_by over a (isNull, partition-as-string) rank;
    # crash artifacts are byte-copies of one document lineage, so any
    # deterministic pick restores the invariant, and for keys in the
    # batch the source overwrites the mutable columns anyway. The agg
    # shuffles on the same keys the merge join needs, so Catalyst reuses
    # the exchange rather than adding one.
    pref = F.struct(
        F.col(partition_col).isNull().cast("int").alias("pn"),
        F.coalesce(F.col(partition_col).cast("string"), F.lit("")).alias("pv"),
    )
    row_struct = F.struct(*[F.col(c) for c in target.columns])
    target = (
        target.groupBy(*keys)
        .agg(F.min_by(row_struct, pref).alias("_r"))
        .select("_r.*")
    )
    merged = merge_into(
        target, source, keys,
        matched_update=matched_update,
        not_matched_insert=not_matched_insert,
        with_action=count_actions,
    )
    staging = _staging_dir(target_dir)
    to_write = merged
    if count_actions:
        # the counts ride the staging write as observed metrics: no job
        # and no cache of their own
        observed = Observation()
        to_write = merged.observe(observed, *[
            F.count_if(F.col(ACTION_COL) == a).alias(a)
            for a in ("insert", "update", "noop")
        ]).drop(ACTION_COL)
    # key-clustered staging: a local sort per task makes parquet row-group
    # min/max stats on the key tight, so future moved-key probes (and any
    # key-range read) skip most row groups of untouched data
    to_write.sortWithinPartitions(partition_col, *keys).write.partitionBy(
        partition_col
    ).mode("overwrite").parquet(staging)
    counts = (
        {a: n for a, n in observed.get.items() if n} if count_actions
        else None
    )
    # Swap partitions that LOSE a moved key before the ones that receive
    # it: a crash mid-loop then leaves the moved key temporarily absent
    # (stale copy already deleted, new copy not yet installed) — repaired
    # by replaying the idempotent merge — rather than permanently
    # duplicated across two partition dirs, which no later merge could
    # detect as anything but two matching rows.
    order = [v for v in touched if v in moved] + [
        v for v in touched if v not in moved
    ]
    swap_names = [_pdir_name(partition_col, v) for v in order]
    # Reconciliation backstop (ADVICE r3 #1): any staged dir whose name our
    # rendering did not predict is still swapped — staged changes must
    # never be silently dropped by a value-rendering divergence.
    staged_names = [
        e for e in (sorted(os.listdir(staging)) if os.path.isdir(staging) else [])
        if km._is_part_dir(e, partition_col)
    ]
    swap_names += [n for n in staged_names if n not in swap_names]
    # The delete half of that divergence protection (r3 verdict): a
    # touched partition with NO staged dir is an emptied-partition
    # delete, executed purely by its predicted dir name. If that name is
    # also absent on disk, either the partition never existed (a fresh
    # value whose rows were all superseded — fine) or our rendering
    # diverged from Spark's and the real dir sits under another name,
    # which would leave the moved keys alive as permanent duplicates.
    # Disambiguate by asking Spark whether the value still has rows
    # (partition-pruned limit-1 probe — NOT inputFiles(), which ignores
    # filters) and fail LOUDLY on divergence instead of silently
    # no-opping the delete. When unpredicted staged names exist, the
    # divergence is already being reconciled by the backstop above and a
    # predicted-name miss may just be that value's install under Spark's
    # rendering — skip the probe rather than abort a repairable merge.
    predicted = set(swap_names[: len(order)])
    divergence_visible = any(n not in predicted for n in staged_names)
    target_probe = None
    for v, n in zip(order, swap_names):
        if (
            divergence_visible
            or n in staged_names
            or os.path.isdir(os.path.join(target_dir, n))
        ):
            continue
        if target_probe is None:
            try:
                target_probe = spark.read.parquet(target_dir)
            except AnalysisException:
                break                   # no readable table → nothing stale
        # Compare string-to-string, matching on EITHER rendering: the
        # Python one the dir-name prediction uses (covers string-inferred
        # partition columns holding the predicted fragment verbatim,
        # ADVICE r4) OR Spark's own cast-to-string of the typed value
        # (covers typed columns whose Spark rendering differs from
        # Python's — e.g. a double 1e7 reads back as '1.0E7', not
        # '10000000.0'). A typed-only or Python-only comparison each has
        # a divergence mode that returns zero rows and silently passes
        # the probe; the OR can only widen detection, and a false match
        # merely raises the loud error this probe exists to raise.
        if v is None:
            cond = F.col(partition_col).isNull()
        else:
            col_s = F.col(partition_col).cast("string")
            cond = (col_s == F.lit(_render_part_val(v))) | (
                col_s == F.lit(v).cast("string")
            )
        if target_probe.where(cond).limit(1).count() > 0:
            raise RuntimeError(
                f"partition value {v!r} renders to {n!r}, which does not "
                "exist, yet the table still holds rows for it — "
                "partition-dir rendering diverged; refusing to skip the "
                "emptied-partition delete"
            )
    # maintain the key sets whenever probing is on (manifest may be None
    # for an empty batch) or the record already holds some from a
    # probing caller
    key = post = None
    if detect_moved_keys or (record or {}).get("key"):
        if manifest is None:
            manifest = km.load(
                target_dir, keys[0], partition_col, stored_parts)
        # exact post-swap key sets: swapped partitions take their staged
        # key sets, emptied ones drop out
        key = keys[0]
        post = {p: r for p, r in manifest.items() if p not in swap_names}
        post.update({
            n: km.harvest_keys(os.path.join(staging, n), keys[0])
            for n in staged_names
        })
    # the ordered plan carries the delete-before-insert moved-key order;
    # a crash after the journal rename rolls the batch FORWARD at the
    # next writer's entry, before it the batch never applied
    _commit(
        target_dir, staging,
        [[n, "install" if n in staged_names else "delete"]
         for n in swap_names],
        _table_record(to_write.schema, partition_col, key, post),
    )
    # Spark's session-wide FileStatusCache would otherwise serve the old
    # listing (deleted part files) to subsequent reads of this path.
    spark.catalog.refreshByPath(target_dir)
    return {"touched": touched, "counts": counts,
            "probe_partitions": probe_parts}
