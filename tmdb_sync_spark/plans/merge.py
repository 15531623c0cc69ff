"""Pure-Spark MERGE INTO (upsert) as a full-outer-join rewrite.

The reference's core write is ``update_one({id,_type}, {$set, $setOnInsert},
upsert=True)`` per document (``app/catalog/upsert.py:99-103``) — an N+1
read-modify-write loop. Here it is one set-oriented plan (SURVEY §2.3 J1,
§7 Phase 3): when Delta Lake is unavailable (this environment), MERGE is a
FULL OUTER join on the key columns plus per-column merge expressions.

Scale notes:
- Both sides shuffle once on the merge key; with a bucketed/partitioned
  target, rewrite only the partitions the source touches (partition-pruned
  MERGE) — the helper takes the already-pruned target.
- ``WHEN MATCHED / NOT MATCHED`` classification comes out as a
  ``merge_action`` column, giving the reference's inserted/updated counters
  (``app/sync_top.py:267-273``) as aggregates over it (observed metrics of
  the partitioned MERGE's staging write) instead of per-row bookkeeping.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ACTION_COL = "merge_action"

# Internal marker/guard columns; leading underscore keeps them out of any
# user schema that follows normal column-name conventions.
_T_MARK = "_merge_t_present"
_S_MARK = "_merge_s_present"
_SRC_N = "_merge_src_key_n"


def merge_into(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    matched_update: Mapping[str, Column] | None = None,
    not_matched_insert: Mapping[str, Column] | None = None,
    with_action: bool = False,
) -> DataFrame:
    """Compute the post-MERGE state of ``target`` upserted with ``source``.

    - ``matched_update``: output column -> expression over aliases ``t``/``s``
      applied when the key matches (default: take ``s``'s value if the
      column exists in source, else keep ``t``'s — Mongo ``$set`` semantics).
    - ``not_matched_insert``: expressions for source-only rows (default:
      ``s``'s value, NULL for target-only columns — ``$setOnInsert``).
    - ``with_action``: append 'update' | 'insert' | 'noop' per row.

    Rows present only in the target pass through unchanged.

    Contract guards (both bugs found live in review):

    - **Source keys must be unique** — SQL MERGE semantics (Delta raises
      the same error): two source rows for one key would emit two output
      rows for that key, breaking the unique-key invariant the merge
      maintains. Enforced IN the plan via a per-key window count +
      ``assert_true`` inside a ``Filter`` directly above the join.
      Projection pruning removes unreferenced *columns* but can never
      remove a ``Filter`` (it changes row counts), so the guard fires
      for EVERY consumer shape — ``.select("one_col")``, ``.count()``
      (which prunes all columns and defeated the r5 per-column folding),
      or a full write. The filter predicate is ``assert_true(...).isNull()``
      — always true when the contract holds, raising otherwise — and is
      evaluated once per row instead of once per column per row, which
      also returns the +0.13 s the per-column folding cost j1. The window
      count partitions on the same keys the join shuffles on, so it rides
      the exchange the join needs anyway.
    - **NULL keys are real values** — presence is decided by literal
      marker columns added to each side before the join, never by
      ``isNotNull`` on a key column: the join condition is null-safe, so
      a matched all-NULL key must classify as an update (it previously
      fell through to the insert branch and silently dropped every
      preserved target column).
    - **Source-only columns are rejected** (driver-side ``ValueError``):
      the output schema is the target's, so a source column the target
      lacks would be silently dropped row by row — a renamed or newly
      added upstream field deserves a loud failure, not quiet data loss.
    """
    matched_update = dict(matched_update or {})
    not_matched_insert = dict(not_matched_insert or {})
    # Schema evolution is out of scope, and silently DROPPING a source
    # column the target lacks is the worst version of that (Mongo $set
    # would add the field; SQL MERGE with UPDATE SET * errors): a caller
    # shipping a renamed/new column would lose it row by row with no
    # signal. Driver-side check, zero runtime cost.
    extra = [c for c in source.columns if c not in target.columns]
    if extra:
        raise ValueError(
            f"merge_into: source columns {extra} do not exist in the "
            "target; schema evolution is not supported — project them "
            "away, or add them to the target first"
        )
    # Same family of silent loss: the merge expressions are looked up BY
    # target column name, so a typo'd mapping key would simply never be
    # read and the intended override would quietly not happen.
    for label, mapping in (
        ("matched_update", matched_update),
        ("not_matched_insert", not_matched_insert),
    ):
        unknown = [c for c in mapping if c not in target.columns]
        if unknown:
            raise ValueError(
                f"merge_into: {label} names columns {unknown} that do "
                "not exist in the target — the expressions would be "
                "silently ignored"
            )
    src = (
        source.withColumn(
            _SRC_N, F.count(F.lit(1)).over(Window.partitionBy(*keys))
        ).withColumn(_S_MARK, F.lit(True))
    )
    tgt = target.withColumn(_T_MARK, F.lit(True))
    t, s = tgt.alias("t"), src.alias("s")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys],
    )
    # assert_true yields NULL when the predicate holds and raises
    # otherwise, so `.where(guard.isNull())` passes every conforming row
    # and fails the job on the first violation. A Filter cannot be
    # removed by projection pruning (unlike the r5 per-column folding,
    # which a bare `.count()` defeated), cannot be constant-folded (the
    # predicate is data-dependent), and cannot be pushed below the full
    # outer join (it does not filter null-extended rows), so it is
    # evaluated exactly once per joined row for every consumer shape.
    guard = F.assert_true(
        F.col(f"s.{_SRC_N}").isNull() | (F.col(f"s.{_SRC_N}") == 1),
        F.lit(
            "merge_into: multiple source rows share one merge key; "
            "deduplicate the source batch first (SQL MERGE forbids "
            "multi-row matches)"
        ),
    )
    joined = t.join(s, cond, "full_outer").where(guard.isNull())
    t_exists = F.coalesce(F.col(f"t.{_T_MARK}"), F.lit(False))
    s_exists = F.coalesce(F.col(f"s.{_S_MARK}"), F.lit(False))

    out: list[Column] = []
    for c in target.columns:
        in_source = c in source.columns
        if not (in_source or c in matched_update or c in not_matched_insert):
            # kept on a match, NULL on an insert: that is the outer join's
            # own t.c, so skip the CASE (a one-row moderation MERGE leaves
            # most of a wide target's columns like this)
            out.append(F.col(f"t.{c}").alias(c))
            continue
        upd = matched_update.get(
            c, F.col(f"s.{c}") if in_source else F.col(f"t.{c}")
        )
        ins = not_matched_insert.get(
            c, F.col(f"s.{c}") if in_source else F.lit(None)
        )
        merged = (
            F.when(t_exists & s_exists, upd)
            .when(t_exists, F.col(f"t.{c}"))
            .otherwise(ins)
        )
        out.append(merged.alias(c))
    if with_action:
        action = (
            F.when(~t_exists, F.lit("insert"))
            .when(~s_exists, F.lit("noop"))
            .otherwise(F.lit("update"))
        )
        out.append(action.alias(ACTION_COL))
    return joined.select(*out)
