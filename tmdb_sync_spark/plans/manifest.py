"""Per-partition key min/max manifest for the partitioned MERGE.

The moved-key probe in ``plans.partitioned`` must answer: *which other
partitions could hold a key from this batch?* Round 3 answered with one
global ``key BETWEEN batch_min AND batch_max`` predicate — row-group
pruned, but for a batch of uniformly distributed keys the range spans the
whole table and prunes nothing, making the probe O(table I/O) per merge.

This module is the scale fix: a driver-side manifest (``_key_manifest.json``
inside the table dir — underscore-prefixed, so Spark's file listing skips
it) mapping each partition directory to the ``[min, max]`` range of its
merge-key column, harvested from parquet **footer statistics** (no data
pages read) and kept current by the merge itself. Partitions whose range
cannot intersect any of the batch's per-partition key spans are skipped
*before any file read*; when nothing intersects, the probe job is skipped
entirely. This is the hand-rolled equivalent of a real table format's
file-level column stats (Delta ``stats`` / Iceberg manifests), which is
what the same call sites would use on a production cluster.

Crash safety: the apply step of the swap journal
(``plans.partitioned._replay_swap_journal``, which every writer's commit
and every crash recovery run) writes the manifest **twice** — before the
partition swaps with the *union* of each installed partition's old and
new ranges (a superset is always safe: the manifest may only over-include
candidates, never exclude a partition that holds a key), and after the
swaps with the exact staged ranges. A crash anywhere in between leaves a
superset manifest, and the next writer's recovery re-applies both. A
missing or damaged manifest self-heals on the next load by re-harvesting
footer stats (one-time O(#files) driver metadata read). Entries whose
range is unknown (missing stats, non-scalar key types) are always
candidates.
"""

from __future__ import annotations

import json
import os

from tmdb_sync_spark.util import write_json_atomic

MANIFEST_NAME = "_key_manifest.json"
HIVE_NULL_PART = "__HIVE_DEFAULT_PARTITION__"   # Spark's NULL partition dir

# ranges are (kmin, kmax) tuples, or None = unknown (always a candidate)


def _is_part_dir(entry: str, partition_col: str) -> bool:
    # NULL partitions are "{col}=__HIVE_DEFAULT_PARTITION__" — still col=
    return entry.startswith(f"{partition_col}=")


def footer_range(pdir_path: str, key: str):
    """Min/max of ``key`` across all parquet footers under one partition
    dir — metadata only, no data pages. Returns None when any file lacks
    usable stats or the values aren't JSON-round-trippable scalars."""
    try:
        import pyarrow.parquet as pq

        kmin = kmax = None
        for f in sorted(os.listdir(pdir_path)):
            if f.startswith(("_", ".")) or not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(pdir_path, f)).metadata
            idx = next(
                (i for i in range(md.num_columns)
                 if md.schema.column(i).name == key), None)
            if idx is None:
                return None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                kmin = st.min if kmin is None else min(kmin, st.min)
                kmax = st.max if kmax is None else max(kmax, st.max)
    except Exception:
        return None
    if kmin is None:        # zero data files / all-null column
        return None
    if isinstance(kmin, bool) or not isinstance(kmin, (int, float, str)):
        return None         # not a JSON-stable scalar → treat as unknown
    return (kmin, kmax)


def _is_valid_range(r) -> bool:
    # each range must be a [kmin, kmax] pair of JSON scalars of one type
    # (the shape save() writes): anything else — truncated lists, nulls,
    # nested junk from a damaged-but-parseable file — degrades the whole
    # manifest to a footer re-harvest rather than silently mis-pruning
    # the moved-key probe (a wrong range means a moved key is never
    # relocated: a permanent duplicate).
    return (
        isinstance(r, list)
        and len(r) == 2
        and all(
            not isinstance(v, bool) and isinstance(v, (int, float, str))
            for v in r
        )
        and type(r[0]) is type(r[1])
    )


def load(target_dir: str, key: str, partition_col: str) -> dict:
    """Manifest as ``{pdir_name: (kmin, kmax) | None}``, reconciled with
    the live directory listing: stale entries (no dir) drop out, dirs the
    manifest doesn't know get footer-harvested on the spot. A missing,
    corrupt, or differently-keyed manifest file degrades to a full footer
    harvest — never an error."""
    entries: dict = {}
    try:
        with open(os.path.join(target_dir, MANIFEST_NAME)) as fh:
            doc = json.load(fh)
        # valid JSON is not necessarily a valid manifest (`null`, a list,
        # a non-dict "parts") — shape failures degrade like parse failures
        if (
            isinstance(doc, dict)
            and doc.get("key") == key
            and doc.get("partition_col") == partition_col
            and isinstance(doc.get("parts", {}), dict)
            and all(
                r is None or _is_valid_range(r)
                for r in doc.get("parts", {}).values()
            )
        ):
            entries = {
                p: (None if r is None else (r[0], r[1]))
                for p, r in doc.get("parts", {}).items()
            }
    except (OSError, ValueError, TypeError, IndexError, AttributeError):
        entries = {}
    out: dict = {}
    if not os.path.isdir(target_dir):
        return out
    for e in sorted(os.listdir(target_dir)):
        if not _is_part_dir(e, partition_col):
            continue
        if not os.path.isdir(os.path.join(target_dir, e)):
            continue
        out[e] = entries[e] if e in entries else footer_range(
            os.path.join(target_dir, e), key)
    return out


def save(target_dir: str, key: str, partition_col: str, parts: dict) -> None:
    """Atomic, fsynced manifest write (:func:`util.write_json_atomic`)."""
    doc = {
        "version": 1, "key": key, "partition_col": partition_col,
        "parts": {
            p: (None if r is None else [r[0], r[1]])
            for p, r in parts.items()
        },
    }
    write_json_atomic(os.path.join(target_dir, MANIFEST_NAME), doc)


def union_range(a, b):
    """Smallest range covering both; unknown poisons (stays a candidate)."""
    if a is None or b is None:
        return None
    try:
        return (min(a[0], b[0]), max(a[1], b[1]))
    except TypeError:
        return None


def candidates(manifest: dict, touched_dirs: set, spans: list) -> list:
    """Partition dirs (outside ``touched_dirs``) whose key range could
    intersect any of the batch's per-partition key spans. Unknown ranges
    and type-incomparable values are conservatively candidates."""
    out = []
    for p, rng in manifest.items():
        if p in touched_dirs:
            continue
        if rng is None:
            out.append(p)
            continue
        try:
            hit = any(
                not (rng[1] < lo or hi < rng[0]) for lo, hi in spans
            )
        except TypeError:
            hit = True
        if hit:
            out.append(p)
    return out
