"""Per-partition exact key sets for the partitioned MERGE and point reads.

The moved-key probe in ``plans.partitioned`` must answer: *which other
partitions could hold a key from this batch?* — and a point read: *which
partition holds this key?* Min/max key ranges cannot answer either when
keys interleave across partitions (the movies table's top-feed ids
1..2743 widen the range of every partition from 1950 on), so a keyed
table keeps exact metadata apart from the data: its one record
(``_table_schema.json``, owned by ``plans.partitioned``) maps each
partition directory to the SORTED list of the distinct non-null values
of its merge-key column (``key`` and ``parts``). This module holds the
key-set algorithms only. A list is harvested by reading only the key
column of the partition's parquet files with pyarrow on the driver (no
Spark job) and is kept current by every writer's commit. A partition is
a candidate only when its list holds a value inside one of the batch's
per-partition key spans (``bisect``): a point read opens exactly the
partition holding the key, and when no other partition holds a
batch-span key the probe job is skipped entirely. NULL keys are never
listed; the probe's range predicate and the point read's equality never
match them either.

Crash safety: the apply step of the swap journal
(``plans.partitioned._replay_swap_journal``, which every writer's commit
and every crash recovery run) publishes a keyed record **twice** —
before the partition swaps with the *union* of each installed
partition's old and new key sets (a superset is always safe: the sets
may only over-include candidates, never exclude a partition that holds
a key), and after the swaps with the exact staged sets. A crash anywhere
in between leaves a superset, and the next writer's recovery re-applies
both. A record without key sets, kept for another key or with damaged
sets self-heals on the next :func:`load` by re-harvesting the key
columns (one-time O(#files) driver read). Entries whose set is unknown
(unreadable files, key types that are not JSON-stable scalars) are
always candidates.
"""

from __future__ import annotations

import os
from bisect import bisect_left

HIVE_NULL_PART = "__HIVE_DEFAULT_PARTITION__"   # Spark's NULL partition dir

# key sets are sorted lists of distinct scalars, or None = unknown
# (always a candidate)


def _is_part_dir(entry: str, partition_col: str) -> bool:
    # NULL partitions are "{col}=__HIVE_DEFAULT_PARTITION__" — still col=
    return entry.startswith(f"{partition_col}=")


def harvest_keys(pdir_path: str, key: str):
    """Sorted distinct non-null values of ``key`` across the parquet
    files under one partition dir, read with pyarrow on the driver (the
    key column only). Returns None when a file is unreadable or lacks
    the column, or the key type is not a JSON-stable scalar (integer,
    float without NaN, string)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    try:
        chunks = []
        for f in sorted(os.listdir(pdir_path)):
            if f.startswith(("_", ".")) or not f.endswith(".parquet"):
                continue
            pf = pq.ParquetFile(os.path.join(pdir_path, f))
            if key not in pf.schema_arrow.names:
                return None
            chunks.append(pf.read(columns=[key]).column(key))
        if not chunks:
            return []
        col = pa.chunked_array(
            [c for ch in chunks for c in ch.chunks], type=chunks[0].type
        )
    except (OSError, pa.ArrowException):
        return None
    t = col.type
    if pa.types.is_floating(t):
        if pc.any(pc.is_nan(col)).as_py():
            return None
    elif not (pa.types.is_integer(t) or pa.types.is_string(t)
              or pa.types.is_large_string(t)):
        return None         # not a JSON-stable scalar → treat as unknown
    return sorted(pc.unique(col).drop_null().to_pylist())


def _is_valid_keys(r) -> bool:
    # each set must be a strictly increasing list of JSON scalars of one
    # type (the shape a commit writes): anything else — nulls, nested junk,
    # unsorted or mixed-type lists from a damaged-but-parseable file —
    # degrades every set to a re-harvest rather than silently
    # mis-pruning (a wrong set means a moved key is never relocated — a
    # permanent duplicate — or a point read misses its row).
    if not isinstance(r, list):
        return False
    if not r:
        return True
    t = type(r[0])
    return (
        t in (int, float, str)
        and all(type(v) is t for v in r)
        and all(a < b for a, b in zip(r, r[1:]))
    )


def stored(parts) -> dict | None:
    """``parts`` as key sets ``{pdir_name: [keys] | None}``, or None
    when it is missing or damaged (not a dict, or a set of the wrong
    shape)."""
    if isinstance(parts, dict) and all(
        r is None or _is_valid_keys(r) for r in parts.values()
    ):
        return parts
    return None


def reconcile(target_dir: str, key: str, partition_col: str,
              entries: dict) -> dict:
    """``entries`` reconciled with the live directory listing: stale
    entries (no dir) drop out, dirs they don't know get harvested on the
    spot."""
    out: dict = {}
    if not os.path.isdir(target_dir):
        return out
    for e in sorted(os.listdir(target_dir)):
        if not _is_part_dir(e, partition_col):
            continue
        if not os.path.isdir(os.path.join(target_dir, e)):
            continue
        out[e] = entries[e] if e in entries else harvest_keys(
            os.path.join(target_dir, e), key)
    return out


def load(target_dir: str, key: str, partition_col: str, parts) -> dict:
    """The stored key sets ``parts`` as ``{pdir_name: [keys] | None}``
    for the live listing (:func:`reconcile`). Missing or damaged sets
    (:func:`stored`) degrade to a full harvest — never an error."""
    return reconcile(target_dir, key, partition_col, stored(parts) or {})


def union_keys(a, b):
    """Sorted union of two key sets; unknown poisons (stays a candidate)."""
    if a is None or b is None:
        return None
    try:
        return sorted(set(a) | set(b))
    except TypeError:
        return None


def _holds_any(keys: list, spans: list) -> bool:
    # does the sorted list hold a value inside any [lo, hi] span?
    try:
        for lo, hi in spans:
            i = bisect_left(keys, lo)
            if i < len(keys) and keys[i] <= hi:
                return True
    except TypeError:
        return True         # type-incomparable → conservatively a hit
    return False


def candidates(manifest: dict, touched_dirs: set, spans: list) -> list:
    """Partition dirs (outside ``touched_dirs``) whose key set holds a
    value inside any of the batch's ``(lo, hi)`` key spans. Unknown sets
    and type-incomparable values are conservatively candidates."""
    return [
        p for p, keys in manifest.items()
        if p not in touched_dirs and (keys is None or _holds_any(keys, spans))
    ]
