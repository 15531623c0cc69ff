"""Sketch-based corpus profiling — approximate distincts, quantiles and
per-slice rollups in ONE pass, the "know your corpus" report every
100 TB pipeline runs before and after each curation stage.

Exact profiling at corpus scale is the wrong tool: COUNT(DISTINCT)
shuffles every key, exact percentiles sort every row. This module's
report is built ONLY from mergeable sketches and algebraic aggregates —
HyperLogLog++ for distincts, Greenwald-Khanna (``percentile_approx``)
for quantiles, sum/count/max for mass — so the whole report is one scan
with map-side partial aggregation: each task folds its rows into
fixed-size sketch state, and the shuffle moves sketches (KB per group),
never rows. That is the property that makes the report O(groups) at any
corpus size, and it is exactly what Spark's built-in aggregate pipeline
gives for free when the plan is declared with these functions.

Error contracts (both are published bounds, tested against exact
answers in tests/test_stats.py):

- ``approx_count_distinct(col, rsd)``: HLL++ relative standard
  deviation ``rsd`` (default here 2%); error is RELATIVE, so a 10^9-key
  slice is as well-estimated as a 10^3-key one.
- ``percentile_approx(col, q, accuracy)``: rank error ≤ n/accuracy —
  the returned value's rank is within ``n/accuracy`` positions of the
  true quantile's rank (an actual corpus value, not an interpolation).

Multi-granularity: the report is grouped by ``ROLLUP(dims)`` (or CUBE),
so every level — per-(source, lang), per-source, corpus total — comes
out of the same single pass; sketches merge across levels inside the
aggregate, which is the entire point of sketch-shaped state (totals are
NOT sums of leaf approximations — each level is its own merged sketch
with its own bound). Cost declaration: Catalyst implements rollup/cube
via ``Expand`` — each input row is replicated once per grouping level
(d+1 for a d-dim rollup) BEFORE the partial aggregate. That is a
map-side CPU multiplier, not a shuffle multiplier (the exchange still
moves only sketch state), and for the 2-3 dims a corpus report slices
by it is far cheaper than running d+1 separate jobs' scans.

``grouping_id`` disambiguates a genuine NULL dim value (a document with
lang=NULL) from the rolled-up "all" level — consumers filter on it, not
on dim NULLs (the classic rollup-reading bug, pinned in the tests).

Driver-registered since r8 (``corpus_report`` — the exact columns at
every rollup level; sketches have no cross-engine value parity so the
HLL/quantile columns stay bound-checked in pytest instead).
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tmdb_sync_spark.registry import register

DEFAULT_QUANTILES = (0.5, 0.9, 0.99)


def corpus_report(
    df: DataFrame,
    dims: Sequence[str] = ("source", "lang"),
    *,
    key: str = "doc_id",
    size_col: str = "n_chars",
    quantiles: Sequence[float] = DEFAULT_QUANTILES,
    rsd: float = 0.02,
    accuracy: int = 10_000,
    cube: bool = False,
) -> DataFrame:
    """Per-slice corpus profile over ``ROLLUP(dims)`` (or ``CUBE`` when
    ``cube=True``).

    Output: the ``dims`` columns (NULL at rolled-up levels),
    ``grouping_id`` (bitmask of rolled-up dims — 0 is the leaf level,
    2^d - 1 the grand total), ``n_docs``, ``n_distinct_keys_approx``
    (HLL++, ``rsd``), ``total_size``/``mean_size``/``max_size`` over
    ``size_col``, and ``size_q`` — an array parallel to ``quantiles``
    with the approximate quantile values (rank error ≤ n/``accuracy``).

    ``n_distinct_keys_approx`` vs ``n_docs`` is the report's built-in
    integrity probe: on a corpus whose ``key`` contract (unique doc ids)
    holds, the two agree within the HLL bound — a slice where distinct
    falls far below count is a duplicated-id signal, caught in the same
    pass that profiles sizes, for free.

    NULL ``size_col`` values are ignored by sum/avg/max/percentile
    (standard SQL aggregate semantics) but the rows still count in
    ``n_docs`` — a slice of NULL-sized docs reports mass NULL, count
    honest.
    """
    if not dims:
        raise ValueError("corpus_report: dims must be non-empty (use the "
                         "grand-total row of a 1-dim rollup for a global "
                         "report)")
    for d in dims:
        if d not in df.columns:
            raise ValueError(f"corpus_report: no {d!r} column")
    if not (0 < rsd < 1):
        raise ValueError(f"corpus_report: rsd must be in (0, 1), got {rsd}")
    qs = [float(q) for q in quantiles]
    if any(not (0 <= q <= 1) for q in qs):
        raise ValueError(f"corpus_report: quantiles outside [0, 1]: {qs}")

    size = F.col(size_col)
    grouped = df.cube(*dims) if cube else df.rollup(*dims)
    return grouped.agg(
        F.grouping_id().alias("grouping_id"),
        F.count(F.lit(1)).alias("n_docs"),
        F.approx_count_distinct(F.col(key), rsd).alias(
            "n_distinct_keys_approx"
        ),
        F.sum(size).alias("total_size"),
        # exact-sum / exact-count, ONE double division — not F.avg,
        # whose double-sum accumulator is shuffle-order-dependent and
        # can never hash-match a cross-engine oracle (r8 registration)
        (F.sum(size) / F.count(size)).alias("mean_size"),
        F.max(size).alias("max_size"),
        F.percentile_approx(
            size, F.array(*[F.lit(q) for q in qs]), F.lit(int(accuracy))
        ).alias("size_q"),
    )


@register(
    "corpus_report",
    # the exact columns at every rollup level; DuckDB's GROUPING(a, b)
    # emits the same bitmask as Spark's grouping_id() (first dim = high
    # bit). mean_size: exact integer operands, ONE double division —
    # mirrored in corpus_report itself (never AVG: the double-sum
    # accumulator is shuffle-order-dependent).
    oracle="""
    SELECT source, lang,
           GROUPING(source, lang) AS grouping_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_size,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(n_chars) AS mean_size,
           MAX(n_chars) AS max_size
    FROM documents
    GROUP BY ROLLUP(source, lang)
    """,
)
def corpus_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver registration of :func:`corpus_report` (r8 rotation): the
    per-(source, lang) rollup profile's EXACT columns — counts, mass,
    max, exact mean — at all three levels plus the grand total. The
    sketch columns (HLL distinct, approx quantiles) have no cross-engine
    value parity and stay bound-checked in tests/test_stats.py."""
    from tmdb_sync_spark.io import parallel_table

    return corpus_report(
        parallel_table(spark, sf_dir, "documents"), ("source", "lang")
    ).select(
        "source", "lang", "grouping_id",
        "n_docs", "total_size", "mean_size", "max_size",
    )


# --- incremental profiling: mergeable sketch STATE across drops --------
#
# corpus_report answers "profile this frame, now"; at 100 TB the frame
# is the problem — a report that rescans the corpus after every
# incremental drop pays the full corpus scan for a KB of answer. The
# functions below split the report into per-drop STATE and a merge:
#
#   state(drop_i)  = one scan of drop_i  → O(groups) rows of sketches
#   profile(corpus) = merge(state(drop_1) … state(drop_n))  → no rescan
#
# Every state column is a commutative monoid, so merge is exact —
# merging per-drop states IS profiling the union (the merge-equals-
# whole law, pinned in tests/test_stats.py):
#
# - n_docs / total_size: sums;  max_size: max.
# - distinct keys: a Datasketches HLL sketch (binary). Sketch union is
#   the set-union operation itself — a doc id appearing in five drops
#   counts ONCE, which no count-sum can do. (This is Spark 4's
#   hll_sketch_agg / hll_union_agg / hll_sketch_estimate surface —
#   the same mergeable-sketch algebra the one-shot report leans on,
#   with the state made durable instead of discarded at query end.)
# - size quantiles: Greenwald-Khanna state is not exposed for
#   persistence, so quantiles come from a LOG-HISTOGRAM: bucket
#   1 + floor(log2(size) * HIST_BPO), counts merged by key-wise sum
#   (map_zip_with). A histogram quantile returns its bucket's upper
#   edge 2^(b/HIST_BPO): a deterministic OVERestimate of the true
#   quantile by at most the bucket ratio 2^(1/HIST_BPO) (≈ +19% at
#   BPO=4) — a published RELATIVE bound at every size magnitude,
#   which is the right contract for size distributions spanning
#   1 byte … 1 GB. NULL sizes are excluded from the histogram
#   (and from total/mean/max — SQL aggregate semantics) but counted
#   in n_docs; size <= 0 lands in bucket 0 with edge 0.
#
# Scale shape: building a drop's state is one scan with map-side
# partial aggregation (the shuffle moves sketches, never rows);
# merging reads ONLY state (KB per group per drop); and because the
# state is mergeable at ANY dims subset, every rollup level — and the
# grand total — comes from re-grouping the SAME persisted leaf state
# (merge_profile_states(dims=()) is the corpus total), no per-level
# state or corpus rescan. A year of daily drops is ~365 KB-scale
# partitions; the report stays sub-second forever.

HIST_BPO = 4  # log-histogram buckets per octave: rel. err ≤ 2^(1/4)-1
_EMPTY_HIST = "cast(map() as map<int,bigint>)"
DEFAULT_LG_K = 12  # Datasketches lgConfigK: ~1.6%/sqrt(2^(lgK-12)) rsd


def size_bucket_expr(size: Column) -> Column:
    """Log-histogram bucket of a size value: NULL → NULL, ≤ 0 → 0,
    else ``1 + floor(log2(size) * HIST_BPO)`` (int). log2 of exact
    powers of two is float-exact, so bucket boundaries are stable."""
    return (
        F.when(size.isNull(), F.lit(None))
        .when(size <= 0, F.lit(0))
        .otherwise(F.lit(1) + F.floor(F.log2(size) * F.lit(HIST_BPO)))
        .cast("int")
    )


def bucket_upper_edge(bucket: Column) -> Column:
    """Upper size edge of a histogram bucket (double): 0 → 0.0, else
    ``2^(bucket / HIST_BPO)`` — the quantile estimate the report
    publishes, an overestimate of the true value by < 2^(1/HIST_BPO)."""
    return F.when(bucket == 0, F.lit(0.0)).otherwise(
        F.pow(F.lit(2.0), bucket.cast("double") / F.lit(float(HIST_BPO)))
    )


def profile_drop_state(
    df: DataFrame,
    dims: Sequence[str] = ("source", "lang"),
    *,
    key: str = "doc_id",
    size_col: str = "n_chars",
    lg_k: int = DEFAULT_LG_K,
) -> DataFrame:
    """One drop's profile state: per ``dims`` group — ``n_docs``,
    ``total_size``, ``max_size``, ``hll`` (Datasketches HLL binary over
    ``key``, cast to string so drops with differently-typed key columns
    can never fork the hash domain), ``hist`` (log-histogram
    ``map<int,bigint>`` over ``size_col``).

    ONE scan: a first partial aggregate at (dims, bucket) grain, then a
    state-sized regroup to dims — both shuffles move sketch/count state
    only. NULL ``key`` rows are not counted by the HLL (and would be a
    corpus-contract violation upstream); NULL dims values are genuine
    groups, exactly as in corpus_report's leaf level.
    """
    for d in dims:
        if d not in df.columns:
            raise ValueError(f"profile_drop_state: no {d!r} column")
    if not (4 <= int(lg_k) <= 21):
        raise ValueError(f"profile_drop_state: lg_k out of range: {lg_k}")
    per_bucket = df.groupBy(
        *dims, size_bucket_expr(F.col(size_col)).alias("_hb")
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(size_col).alias("_tot"),
        F.max(size_col).alias("_mx"),
        F.hll_sketch_agg(F.col(key).cast("string"), F.lit(int(lg_k))).alias(
            "_hll"
        ),
    )
    return per_bucket.groupBy(*dims).agg(
        F.sum("_n").alias("n_docs"),
        F.sum("_tot").alias("total_size"),
        F.max("_mx").alias("max_size"),
        F.hll_union_agg("_hll").alias("hll"),
        F.map_from_entries(
            F.filter(
                F.collect_list(F.struct(F.col("_hb"), F.col("_n"))),
                lambda e: e["_hb"].isNotNull(),
            )
        ).alias("hist"),
    )


def merge_profile_states(
    states: DataFrame, dims: Sequence[str] = ("source", "lang")
) -> DataFrame:
    """Merge state rows (a union of per-drop states) back into one
    state row per ``dims`` group — the same schema in and out, so
    merges compose (merge of merges is a merge).

    ``dims`` may be any SUBSET of the dims the states were built at
    (including ``()`` for the corpus total): sketches merge across the
    collapsed dimensions exactly — that is the rollup property, served
    from leaf state with no access to the corpus."""
    hist_merge = F.aggregate(
        F.collect_list("hist"),
        F.expr(_EMPTY_HIST),
        lambda acc, m: F.map_zip_with(
            acc,
            m,
            lambda _k, v1, v2: F.coalesce(v1, F.lit(0))
            + F.coalesce(v2, F.lit(0)),
        ),
    )
    return states.groupBy(*dims).agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_size").alias("total_size"),
        F.max("max_size").alias("max_size"),
        # allowDifferentLgConfigK: drops written with different lg_k
        # values union at the COARSER accuracy instead of poisoning
        # the whole profile with HLL_UNION_DIFFERENT_LG_K forever
        # (review finding — lg_k is a public knob, and persisted state
        # outlives the code that chose it)
        F.hll_union_agg("hll", F.lit(True)).alias("hll"),
        hist_merge.alias("hist"),
    )


def _quantile_bucket(entries: Column, target: Column) -> Column:
    """Smallest histogram bucket whose cumulative count reaches
    ``target``, via a single HOF scan over the sorted (bucket, count)
    entries — NULL when the histogram is empty (all sizes NULL)."""
    zero = F.expr(
        "named_struct('cum', cast(0 as bigint), 'b', cast(null as int))"
    )
    return F.aggregate(
        entries,
        zero,
        lambda acc, e: F.when(acc["b"].isNotNull(), acc).otherwise(
            F.struct(
                (acc["cum"] + e["value"]).alias("cum"),
                F.when(acc["cum"] + e["value"] >= target, e["key"])
                .otherwise(F.lit(None).cast("int"))
                .alias("b"),
            )
        ),
        lambda acc: acc["b"],
    )


def profile_estimates(
    state: DataFrame,
    dims: Sequence[str] = ("source", "lang"),
    *,
    quantiles: Sequence[float] = DEFAULT_QUANTILES,
) -> DataFrame:
    """Human-facing report from (merged) state: per ``dims`` group —
    ``n_docs``, ``n_sized`` (docs with a non-NULL size),
    ``n_distinct_keys_approx`` (HLL estimate), ``total_size``,
    ``mean_size`` (over sized docs), ``max_size``, and ``size_q`` — an
    array parallel to ``quantiles`` of bucket-upper-edge estimates
    (each ≥ the true quantile, < true × 2^(1/HIST_BPO); NULL when no
    sized docs). Pure projection over state rows — no shuffle, no
    corpus access."""
    qs = [float(q) for q in quantiles]
    if any(not (0 < q <= 1) for q in qs):
        raise ValueError(f"profile_estimates: quantiles in (0, 1]: {qs}")
    n_sized = F.aggregate(
        F.map_values("hist"), F.lit(0).cast("bigint"), lambda a, v: a + v
    )
    entries = F.array_sort(F.map_entries("hist"))
    with_n = state.withColumn("_n_sized", n_sized).withColumn(
        "_entries", entries
    )
    size_q = F.array(
        *[
            bucket_upper_edge(
                _quantile_bucket(
                    F.col("_entries"),
                    F.greatest(
                        F.ceil(F.lit(q) * F.col("_n_sized")), F.lit(1)
                    ),
                )
            )
            for q in qs
        ]
    )
    return with_n.select(
        *dims,
        "n_docs",
        F.col("_n_sized").alias("n_sized"),
        F.hll_sketch_estimate("hll").alias("n_distinct_keys_approx"),
        "total_size",
        (F.col("total_size") / F.nullif(F.col("_n_sized"), F.lit(0))).alias(
            "mean_size"
        ),
        "max_size",
        size_q.alias("size_q"),
    )


# --- persistence: the profile as a maintained table of drop states ----
#
# Commit protocol (review finding: dir-existence as the commit marker
# over a NON-atomic multi-partition write let a crash record a partial
# drop forever): every write stages under ``{path}/._staging-<pid>-<n>``
# (dot-prefixed — invisible to Spark's partition discovery) and
# publishes each ``drop=<id>`` dir by one os.rename. A drop is
# therefore COMPLETE-OR-ABSENT: a crash mid-write leaves only hidden
# staging (swept on the next write once its pid is gone), a crash
# between renames leaves whole drops committed and whole drops absent
# — the replay re-stages and publishes exactly the missing ones.

import itertools as _itertools
import re as _re
import shutil as _shutil

_DROP_ID_RE = _re.compile(r"[A-Za-z0-9._-]+")
_PROFILE_SEQ = _itertools.count()


def profile_drop_dir(path: str, drop_id: str) -> str:
    return os.path.join(path, f"drop={drop_id}")


def _check_drop_id(drop_id, what: str) -> str:
    """Drop ids are restricted to a partition-escape-free charset:
    Spark percent-escapes ':', '=', '#', ... in partition dir names,
    which would desynchronize the on-disk name from the immutability
    guard's `os.path.isdir` probe — the guard would pass forever and
    every replay would double-count (review finding)."""
    s = str(drop_id)
    if not s or not _DROP_ID_RE.fullmatch(s):
        raise ValueError(
            f"{what}: bad drop_id {drop_id!r} — use [A-Za-z0-9._-] only "
            "(partition-escaped characters break the immutability guard)"
        )
    return s


def _sweep_dead_stagings(path: str) -> None:
    """Remove staging dirs whose writer pid is gone — OR whose mtime is
    older than the export layer's ``STAGING_MAX_AGE_S``. The age
    backstop matters because pid liveness is a weak signal: a crashed
    writer's pid can be recycled by an unrelated long-lived process,
    which would park its orphaned staging dir forever (ADVICE r7;
    export.py's ``_stale_stagings`` grew the same backstop for the same
    reason — no real profile write stages for a day)."""
    from tmdb_sync_spark.functions.export import STAGING_MAX_AGE_S

    if not os.path.isdir(path):
        return
    import time as _time

    now = _time.time()
    for e in os.listdir(path):
        if e.startswith("._tombstone-"):
            # a crash between tombstone-temp write and its atomic
            # replace leaves the temp behind; it is never read (only
            # the replaced _compacted_drops.json is), so any dead-pid
            # or aged one is pure litter (r8 review pass)
            prefix = "._tombstone-"
        elif e.startswith("._staging-"):
            prefix = "._staging-"
        else:
            continue
        pid_s = e[len(prefix):].split("-", 1)[0]
        alive = False
        if pid_s.isdigit():
            try:
                os.kill(int(pid_s), 0)
                alive = True
            except ProcessLookupError:
                alive = False
            except PermissionError:
                alive = True
        if alive:
            # Age of the NEWEST entry anywhere in the staging tree, not
            # the top-level dir: directory mtime only changes when a
            # DIRECT child is added, so a live writer streaming part
            # files into a nested task dir keeps the top-level mtime
            # frozen while it works — sweeping on that would delete a
            # live write mid-flight with rmtree(ignore_errors) masking
            # the loss (r8 advice). Any write activity in the tree
            # counts as a heartbeat.
            from tmdb_sync_spark.util import newest_tree_mtime

            try:
                newest = newest_tree_mtime(os.path.join(path, e))
            except OSError:
                continue
            if now - newest <= STAGING_MAX_AGE_S:
                continue
        full = os.path.join(path, e)
        if os.path.isdir(full):
            _shutil.rmtree(full, ignore_errors=True)
        else:   # tombstone temps are plain files
            try:
                os.remove(full)
            except OSError:
                pass


# The store's column contract: every drop must carry the SAME dim
# columns. Without this, a drop profiled at coarser dims silently
# DOUBLE-COUNTS the corpus — Spark's non-merging parquet read fills the
# missing dim with NULL, so the same documents surface once under their
# real dim value and once under a NULL masquerading as a genuine NULL
# dim (probed live in the r8 hostile pass: a ("source",) drop in a
# ("source","lang") store reported n_docs 2× truth). The first write
# records the schema (atomic rename); every later write validates.
_PROFILE_SCHEMA_NAME = "_profile_schema.json"


def _profile_columns(state: DataFrame) -> list:
    return sorted(c for c in state.columns if c != "drop")


def _check_profile_schema(path: str, state: DataFrame) -> None:
    import json as _json

    cols = _profile_columns(state)
    f = os.path.join(path, _PROFILE_SCHEMA_NAME)
    recorded = None
    rec_bpo = None
    if os.path.exists(f):
        with open(f) as fh:
            rec = _json.load(fh)
        recorded = rec["columns"]
        # hist buckets are a code constant, not a knob — but a store
        # OUTLIVES the code that wrote it, and merging histograms
        # bucketed at different resolutions is silent garbage; a
        # pre-contract record (no key) adopts the current value
        rec_bpo = rec.get("hist_bpo", HIST_BPO)
    elif any(
        e.startswith("drop=")
        for e in (os.listdir(path) if os.path.isdir(path) else [])
    ):
        # pre-schema-record store: adopt the existing drops' footer
        import pyarrow.parquet as _pq

        for e in sorted(os.listdir(path)):
            if not e.startswith("drop="):
                continue
            d = os.path.join(path, e)
            part = next(
                (x for x in sorted(os.listdir(d))
                 if x.endswith(".parquet")), None
            )
            if part:
                recorded = sorted(
                    _pq.read_schema(os.path.join(d, part)).names
                )
                break
    if not os.path.exists(f):
        # persist the contract (first write records its own columns; a
        # legacy store records its adopted footer schema, so the footer
        # read happens once, not per write). Temp shares the
        # ._tombstone- prefix so an orphan from a crash between write
        # and atomic replace is swept with the stagings.
        tmp = os.path.join(
            path, f"._tombstone-{os.getpid()}-{next(_PROFILE_SEQ)}"
        )
        with open(tmp, "w") as fh:
            _json.dump(
                {"columns": recorded or cols, "hist_bpo": HIST_BPO}, fh
            )
        os.replace(tmp, f)
    if recorded is not None and recorded != cols:
        raise ValueError(
            "profile store schema mismatch: this store's drops carry "
            f"columns {recorded} but the new state has {cols} — a drop "
            "profiled at different dims would double-count the corpus "
            "under NULL dim values; rebuild the state with the store's "
            "dims (or use a separate profile path)"
        )
    if rec_bpo is not None and rec_bpo != HIST_BPO:
        raise ValueError(
            f"profile store histogram resolution mismatch: store was "
            f"written at HIST_BPO={rec_bpo}, code now uses {HIST_BPO} — "
            "merging differently-bucketed histograms is silent garbage; "
            "compact/rebuild the store at the new resolution"
        )


def _stage_and_publish(state: DataFrame, path: str) -> tuple[list, list]:
    """Write ``state`` (carrying a ``drop`` column) to hidden staging,
    then atomically rename each complete ``drop=`` dir into ``path``.
    Returns (published ids, ids whose destination already existed —
    recorded by an earlier run between our existence check and
    publish). Refuses a state whose dim columns differ from the
    store's (see ``_check_profile_schema``)."""
    os.makedirs(path, exist_ok=True)
    _check_profile_schema(path, state)
    _sweep_dead_stagings(path)
    tmp = os.path.join(
        path, f"._staging-{os.getpid()}-{next(_PROFILE_SEQ)}"
    )
    state.coalesce(1).write.partitionBy("drop").parquet(tmp)
    published, raced = [], []
    for e in sorted(os.listdir(tmp)):
        if not e.startswith("drop="):
            continue
        try:
            os.rename(os.path.join(tmp, e), os.path.join(path, e))
            published.append(e[len("drop="):])
        except OSError:
            raced.append(e[len("drop="):])
    _shutil.rmtree(tmp, ignore_errors=True)
    return published, raced


# Tombstone for compacted drop ids: when compact_profile_drops folds
# drops d1..dn into one, the ORIGINAL ids must stay "recorded" forever —
# their dirs are gone, but an ingest crash-replaying an old batch would
# otherwise re-write d1 and double-count it in every future merge. The
# tombstone is the immutability guard's memory across compactions,
# updated by atomic rename (same complete-or-absent discipline as the
# drops themselves) and written BEFORE the table swap, so a crash
# between the two leaves the ids guarded either way (dirs still present,
# or tombstone already in force).
_TOMBSTONE_NAME = "_compacted_drops.json"


def _tombstoned_ids(path: str) -> set:
    f = os.path.join(path, _TOMBSTONE_NAME)
    if not os.path.exists(f):
        return set()
    import json as _json

    with open(f) as fh:
        return set(_json.load(fh)["compacted_ids"])


def _add_tombstoned_ids(path: str, ids) -> None:
    import json as _json

    merged = sorted(_tombstoned_ids(path) | set(ids))
    tmp = os.path.join(
        path, f"._tombstone-{os.getpid()}-{next(_PROFILE_SEQ)}"
    )
    with open(tmp, "w") as fh:
        _json.dump({"compacted_ids": merged}, fh)
    os.replace(tmp, os.path.join(path, _TOMBSTONE_NAME))


def _recorded_ids(path: str) -> set:
    """Every drop id that must never be written again: live ``drop=``
    dirs plus tombstoned (compacted-away) ids."""
    out = set()
    if os.path.isdir(path):
        out = {
            e[len("drop="):]
            for e in os.listdir(path)
            if e.startswith("drop=")
        }
        out |= _tombstoned_ids(path)
    return out


def write_profile_drop(
    state: DataFrame, path: str, drop_id: str
) -> None:
    """Persist one drop's state under ``{path}/drop={drop_id}``,
    committed atomically (staging + one rename — complete-or-absent).

    Drops are IMMUTABLE — re-profiling an already-recorded drop raises
    instead of double-counting it in every future merge (the same
    at-least-once hazard the export publisher guards; an ingest that
    replays a batch must skip the profile write it already made). Ids
    folded away by :func:`compact_profile_drops` stay recorded via the
    tombstone — compaction must not reopen the replay window."""
    drop_id = _check_drop_id(drop_id, "write_profile_drop")
    if drop_id in _recorded_ids(path):
        raise ValueError(
            f"write_profile_drop: drop {drop_id!r} already recorded at "
            f"{path!r} — drop states are immutable (replayed batch?)"
        )
    _, raced = _stage_and_publish(
        state.withColumn("drop", F.lit(drop_id)), path
    )
    if raced:
        raise ValueError(
            f"write_profile_drop: drop {drop_id!r} already recorded at "
            f"{path!r} — drop states are immutable (replayed batch?)"
        )


def read_profile_states(spark: SparkSession, path: str) -> DataFrame:
    """All recorded drop states (with their ``drop`` partition column).
    A missing profile raises — reporting an empty corpus because the
    path was wrong is the silent failure mode."""
    if not os.path.isdir(path) or not any(
        e.startswith("drop=") for e in os.listdir(path)
    ):
        raise ValueError(f"read_profile_states: no profile at {path!r}")
    return spark.read.parquet(path)


def incremental_report(
    spark: SparkSession,
    path: str,
    dims: Sequence[str] = ("source", "lang"),
    *,
    quantiles: Sequence[float] = DEFAULT_QUANTILES,
) -> DataFrame:
    """The corpus profile at any rollup level, from persisted drop
    state only: read → merge → estimate. Cost is O(drops × groups)
    state rows — independent of corpus size, which is the entire point."""
    states = read_profile_states(spark, path).drop("drop")
    return profile_estimates(
        merge_profile_states(states, dims), dims, quantiles=quantiles
    )


def write_profile_drops(
    state: DataFrame, path: str, drop_col: str = "drop"
) -> dict:
    """Persist MANY drop states in one write: ``state`` carries its
    drop id in ``drop_col`` (one state row set per id); ids already
    recorded under ``path`` are FILTERED OUT (immutable drops, the
    :func:`write_profile_drop` guard vectorized), the rest land in one
    ``partitionBy(drop)`` append. Returns ``{"written": [...],
    "skipped": [...]}`` so callers can account replays.

    Single-writer contract (same as the scalar writer): concurrent
    writers to one profile path could both pass the existence check
    and double-record a drop — profile maintenance belongs to the one
    ingest that owns the feed (its checkpoint already serializes
    batches)."""
    if drop_col not in state.columns:
        raise ValueError(f"write_profile_drops: no {drop_col!r} column")
    ids = [
        _check_drop_id(r[0], "write_profile_drops")
        for r in state.select(drop_col).distinct().collect()
    ]
    existing = _recorded_ids(path)
    new = sorted(i for i in ids if i not in existing)
    skipped = sorted(i for i in ids if i in existing)
    written: list = []
    if new:
        published, raced = _stage_and_publish(
            state.where(F.col(drop_col).isin(new))
            .withColumnRenamed(drop_col, "drop"),
            path,
        )
        written = sorted(published)
        skipped = sorted(set(skipped) | set(raced))
    return {"written": written, "skipped": skipped}


# state columns of a persisted profile row — everything else (minus the
# ``drop`` partition column) is a dim column, recovered from the schema
# so compaction preserves whatever grain the states were built at
_STATE_COLS = ("n_docs", "total_size", "max_size", "hll", "hist")


def compact_profile_drops(spark: SparkSession, path: str) -> dict:
    """Fold every recorded drop into ONE equivalent drop — the merge-law
    recipe (merge of states IS the state of the union) promoted from a
    documented pattern (r7 COVERAGE addendum) to a first-class API, with
    the same crash discipline as the index compactions.

    After months of daily drops, ``incremental_report`` pays
    O(drops × groups) state rows per question; compaction resets that to
    the 1-drop cost while — by the pinned merge law — leaving every
    exact report column IDENTICAL (the HLL distinct estimate may move
    within its bound: Datasketches re-estimates a stored union slightly
    differently from a union-of-parts, the known cross-route nuance). The compacted drop id is a content address
    (md5 of the sorted folded ids), so re-running the same compaction is
    idempotent by construction.

    Crash/replay contract, in commit order:

    1. the folded ids are TOMBSTONED first (atomic rename of
       ``_compacted_drops.json``) — from this point a replayed ingest
       batch can never re-record a folded drop, whether or not the swap
       below ever lands;
    2. the merged state is installed by ``plans.partitioned
       .write_partitioned`` — staging, journaled swap, roll-forward
       recovery, writer lock — so the table is atomically either the
       old drop set or the single compacted drop, never a mix.

    Single-writer contract (same as ``compact_index``): do not compact
    while a drop ingest is writing — serialize through the ingest's own
    cursor, or accept that a drop published between the read and the
    swap is lost. Returns ``{"compacted", "drops_before", "drop_id"}``.
    """
    from tmdb_sync_spark.plans.partitioned import write_partitioned

    states = read_profile_states(spark, path)
    old_ids = sorted(
        r["drop"] for r in states.select("drop").distinct().collect()
    )
    if len(old_ids) <= 1:
        return {
            "compacted": False,
            "drops_before": len(old_ids),
            "drop_id": old_ids[0] if old_ids else None,
        }
    dims = [
        c for c in states.columns
        if c not in _STATE_COLS and c != "drop"
    ]
    import hashlib as _hashlib

    new_id = "compacted-" + _hashlib.md5(
        "\n".join(old_ids).encode()
    ).hexdigest()[:12]
    merged = merge_profile_states(states.drop("drop"), dims).withColumn(
        "drop", F.lit(new_id)
    )
    _add_tombstoned_ids(path, old_ids)
    write_partitioned(merged, path, "drop")
    return {
        "compacted": True,
        "drops_before": len(old_ids),
        "drop_id": new_id,
    }
