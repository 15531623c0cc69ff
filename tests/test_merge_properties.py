"""Property-based tests for the full-outer-join MERGE engine.

``plans.merge.merge_into`` is the most custom relational logic in the
engine (SURVEY §7 hard-part 1: MERGE without Delta) — hypothesis drives it
with arbitrary key sets and checks the MERGE axioms instead of one
hand-picked delta:

- post-state keys = target keys ∪ source keys (no loss, no invention)
- action classification partitions exactly into source-only = insert,
  intersection = update, target-only = noop
- matched rows take source values for source columns, keep target values
  for target-only columns; inserts NULL-fill target-only columns
"""

from __future__ import annotations

import os
import shutil
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as hs

from tmdb_sync_spark.plans.merge import ACTION_COL, merge_into
from tmdb_sync_spark.plans.partitioned import (
    merge_into_partitioned,
    write_partitioned,
)

import pytest

# Long property/chaos/replay suite: excluded from the default
# (driver-time-boxed) profile; the full local gate runs it — see
# pytest.ini and scripts/run_full_tests.sh.
pytestmark = pytest.mark.slow

keysets = hs.lists(hs.integers(min_value=0, max_value=30), max_size=12)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tkeys=keysets, skeys=keysets)
def test_merge_axioms(spark, tkeys, skeys):
    tkeys, skeys = sorted(set(tkeys)), sorted(set(skeys))
    target = spark.createDataFrame(
        [(k, k * 10, f"t{k}") for k in tkeys], "k BIGINT, val BIGINT, town STRING"
    )
    source = spark.createDataFrame(
        [(k, k * 100) for k in skeys], "k BIGINT, val BIGINT"
    )

    post = merge_into(target, source, keys=["k"], with_action=True).collect()

    assert sorted(r["k"] for r in post) == sorted(set(tkeys) | set(skeys))
    by_key = {r["k"]: r for r in post}
    for k, r in by_key.items():
        if k in skeys and k in tkeys:
            assert r[ACTION_COL] == "update"
            assert r["val"] == k * 100      # source wins for source columns
            assert r["town"] == f"t{k}"     # target-only column preserved
        elif k in skeys:
            assert r[ACTION_COL] == "insert"
            assert r["val"] == k * 100
            assert r["town"] is None        # target-only column NULL-filled
        else:
            assert r[ACTION_COL] == "noop"
            assert r["val"] == k * 10
            assert r["town"] == f"t{k}"


# (key, partition_value) maps with NULL partition values and — across the
# target/source pair — arbitrarily CHANGED partition values per key: the
# physical path must uphold the same axioms as the logical merge plus
# "exactly one row per key, in the source's partition" (the cross-partition
# key-move hazard from the round-2 verdict).
parts = hs.one_of(hs.none(), hs.integers(min_value=0, max_value=3))
keymaps = hs.dictionaries(
    hs.integers(min_value=0, max_value=8), parts, max_size=6
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tmap=keymaps, smap=keymaps)
def test_partitioned_merge_axioms(spark, tmap, smap):
    if not tmap:        # write_partitioned of an empty frame creates no table
        tmap = {0: 0}
    d = tempfile.mkdtemp(prefix="pm_prop_")
    target_dir = f"{d}/t"
    tdf = spark.createDataFrame(
        [(k, v, k * 10.0) for k, v in tmap.items()],
        "k BIGINT, y INT, price DOUBLE",
    )
    write_partitioned(tdf, target_dir, "y")
    sdf = spark.createDataFrame(
        [(k, v, k * 100.0) for k, v in smap.items()],
        "k BIGINT, y INT, price DOUBLE",
    )
    res = merge_into_partitioned(
        spark, target_dir, sdf, keys=["k"], partition_col="y",
        count_actions=True,
    )

    expected = {
        k: (smap[k] if k in smap else tmap[k],
            k * 100.0 if k in smap else k * 10.0)
        for k in set(tmap) | set(smap)
    }
    post = [
        (r["k"], r["y"], r["price"])
        for r in spark.read.parquet(target_dir).collect()
    ]
    assert len(post) == len(expected), "one row per key, no duplicates"
    assert {k: (y, p) for k, y, p in post} == expected

    counts = res["counts"]
    assert counts.get("insert", 0) == len(set(smap) - set(tmap))
    assert counts.get("update", 0) == len(set(smap) & set(tmap))
    # noop counts only rows the merge actually scanned: target rows in
    # TOUCHED partitions (untouched partitions are never opened — that is
    # the point of the partition-pruned plan)
    touched = set(res["touched"])
    assert counts.get("noop", 0) == sum(
        1 for k, y in tmap.items() if k not in smap and y in touched
    )

    # on-disk partition dirs = exactly the post-state's distinct years
    want_dirs = {
        "y=__HIVE_DEFAULT_PARTITION__" if y is None else f"y={y}"
        for _, y, _ in post
    }
    have_dirs = {
        e for e in os.listdir(target_dir)
        if e.startswith("y=") and os.path.isdir(os.path.join(target_dir, e))
    }
    assert have_dirs == want_dirs


class _InjectedCrash(Exception):
    """Simulated process death at an arbitrary filesystem step."""


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    tmap=keymaps,
    smap=keymaps,
    # a 6-key multi-partition move batch takes ~20 fs steps (pre-manifest
    # replace, per-partition rename/move/rmtree, post-manifest replace,
    # staging cleanup) — the cap must reach past the LAST of them so the
    # tail steps and the no-crash path both get examples
    crash_after=hs.integers(min_value=0, max_value=22),
)
def test_crash_at_any_fs_step_replays_to_invariant(
    spark, tmap, smap, crash_after
):
    """Generalized crash sweep over the swap protocol: die before the
    (crash_after+1)-th filesystem mutation of a RANDOM key-move batch —
    manifest replace, dir rename-aside, staged-dir install, stale-copy
    delete, staging cleanup, any of them — then replay the idempotent
    merge and require the exact axioms state: one row per key, source's
    partition, no resurrected or duplicated moved keys. Extends the three
    hand-picked crash points of test_partitioned_merge with the whole
    space (an example with crash_after past the protocol's step count
    covers the no-crash path)."""
    if not tmap:
        tmap = {0: 0}
    d = tempfile.mkdtemp(prefix="pm_crash_")
    target_dir = f"{d}/t"
    tdf = spark.createDataFrame(
        [(k, v, k * 10.0) for k, v in tmap.items()],
        "k BIGINT, y INT, price DOUBLE",
    )
    write_partitioned(tdf, target_dir, "y")
    sdf = spark.createDataFrame(
        [(k, v, k * 100.0) for k, v in smap.items()],
        "k BIGINT, y INT, price DOUBLE",
    )

    state = {"armed": True, "n": 0}
    real = {
        "rename": os.rename, "replace": os.replace,
        "move": shutil.move, "rmtree": shutil.rmtree,
    }

    def guard(*paths):
        # only fs steps of THIS test's table count as crash points
        if state["armed"] and any(str(p).startswith(d) for p in paths):
            state["n"] += 1
            if state["n"] > crash_after:
                raise _InjectedCrash(f"fs step {state['n']}")

    def make(name):
        fn = real[name]

        def wrapped(p, *a, **k):
            guard(p, *(a[:1]))
            return fn(p, *a, **k)

        return wrapped

    try:
        os.rename, os.replace = make("rename"), make("replace")
        shutil.move, shutil.rmtree = make("move"), make("rmtree")
        crashed = False
        try:
            merge_into_partitioned(
                spark, target_dir, sdf, keys=["k"], partition_col="y"
            )
        except _InjectedCrash:
            crashed = True
        state["armed"] = False
        if crashed:   # the process died; the next sync replays the batch
            merge_into_partitioned(
                spark, target_dir, sdf, keys=["k"], partition_col="y"
            )
    finally:
        state["armed"] = False
        os.rename, os.replace = real["rename"], real["replace"]
        shutil.move, shutil.rmtree = real["move"], real["rmtree"]

    expected = {
        k: (smap[k] if k in smap else tmap[k],
            k * 100.0 if k in smap else k * 10.0)
        for k in set(tmap) | set(smap)
    }
    post = [
        (r["k"], r["y"], r["price"])
        for r in spark.read.parquet(target_dir).collect()
    ]
    assert len(post) == len(expected), "one row per key, no duplicates"
    assert {k: (y, p) for k, y, p in post} == expected


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    tmap=keymaps,
    smap=keymaps,
    crash_after=hs.integers(min_value=0, max_value=22),
)
def test_merge_crash_recovery_alone_rolls_forward(
    spark, tmap, smap, crash_after
):
    """The merge commits through the shared swap journal (round 6):
    RECOVERY ALONE — no batch re-run — must resolve a crashed merge to
    exactly one committed state. Journal present at crash → the fully
    merged post-state (the ordered replay preserves the
    delete-before-insert moved-key discipline); journal absent → the
    batch never applied and the pre-merge table stands untouched.
    This upgrades the older contract ('replay the idempotent batch'),
    which healed only if some caller actually re-ran the sync."""
    from tmdb_sync_spark.plans.partitioned import (
        SWAP_JOURNAL_NAME,
        _recover_leftovers,
    )

    if not tmap:
        tmap = {0: 0}
    d = tempfile.mkdtemp(prefix="pm_roll_")
    target_dir = f"{d}/t"
    tdf = spark.createDataFrame(
        [(k, v, k * 10.0) for k, v in tmap.items()],
        "k BIGINT, y INT, price DOUBLE",
    )
    write_partitioned(tdf, target_dir, "y")
    sdf = spark.createDataFrame(
        [(k, v, k * 100.0) for k, v in smap.items()],
        "k BIGINT, y INT, price DOUBLE",
    )

    state = {"armed": True, "n": 0}
    real = {
        "rename": os.rename, "replace": os.replace,
        "move": shutil.move, "rmtree": shutil.rmtree,
    }

    def guard(*paths):
        if state["armed"] and any(str(p).startswith(d) for p in paths):
            state["n"] += 1
            if state["n"] > crash_after:
                raise _InjectedCrash(f"fs step {state['n']}")

    def make(name):
        fn = real[name]

        def wrapped(p, *a, **k):
            guard(p, *(a[:1]))
            return fn(p, *a, **k)

        return wrapped

    try:
        os.rename, os.replace = make("rename"), make("replace")
        shutil.move, shutil.rmtree = make("move"), make("rmtree")
        crashed = False
        try:
            merge_into_partitioned(
                spark, target_dir, sdf, keys=["k"], partition_col="y"
            )
        except _InjectedCrash:
            crashed = True
        state["armed"] = False
        journal_at_crash = os.path.exists(
            os.path.join(target_dir, SWAP_JOURNAL_NAME)
        )
        if crashed:
            _recover_leftovers(target_dir)   # the next writer's entry
            spark.catalog.refreshByPath(target_dir)
    finally:
        state["armed"] = False
        os.rename, os.replace = real["rename"], real["replace"]
        shutil.move, shutil.rmtree = real["move"], real["rmtree"]

    pre_state = {k: (v, k * 10.0) for k, v in tmap.items()}
    merged_state = {
        k: (smap[k] if k in smap else tmap[k],
            k * 100.0 if k in smap else k * 10.0)
        for k in set(tmap) | set(smap)
    }
    post = {
        r["k"]: (r["y"], r["price"])
        for r in spark.read.parquet(target_dir).collect()
    }
    assert post == pre_state or post == merged_state, (
        "recovery must land on exactly one committed state, never a mix"
    )
    if journal_at_crash or not crashed:
        assert post == merged_state, (
            "a journaled (committed) merge must roll FORWARD"
        )
    have = sorted(os.listdir(target_dir))
    assert not [e for e in have if e.startswith(".")]
    assert SWAP_JOURNAL_NAME not in have
    assert not os.path.exists(target_dir + "__staging")


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    tmap=keymaps,
    smap=keymaps,
    # an overwrite's fs steps: pre-manifest replace, per-partition
    # rename-aside/install/delete, post-manifest replace, staging cleanup
    # — the cap reaches past the last so the no-crash path gets examples
    crash_after=hs.integers(min_value=0, max_value=22),
)
def test_overwrite_crash_at_any_fs_step_replays_to_new_table(
    spark, tmap, smap, crash_after
):
    """Crash sweep for the full-overwrite path (r5 verdict wrong-item 1):
    ``write_partitioned`` now routes through the merge's staging +
    rename-aside swap + leftover-recovery protocol, so dying before the
    (crash_after+1)-th filesystem mutation and replaying the overwrite
    must yield EXACTLY the new table — old partitions fully gone
    (including years the new data no longer has), every new partition
    installed, no dot-prefixed leftovers, no staging residue. The
    pre-protocol implementation overwrote in place and a crash mid-write
    left a partial table no replay could distinguish from real data."""
    if not tmap:
        tmap = {0: 0}
    if not smap:
        smap = {5: 2}
    d = tempfile.mkdtemp(prefix="ow_crash_")
    target_dir = f"{d}/t"
    tdf = spark.createDataFrame(
        [(k, v, k * 10.0) for k, v in tmap.items()],
        "k BIGINT, y INT, price DOUBLE",
    )
    write_partitioned(tdf, target_dir, "y", manifest_key="k")
    ndf = spark.createDataFrame(
        [(k, v, k * 100.0) for k, v in smap.items()],
        "k BIGINT, y INT, price DOUBLE",
    )

    state = {"armed": True, "n": 0}
    real = {
        "rename": os.rename, "replace": os.replace,
        "move": shutil.move, "rmtree": shutil.rmtree,
    }

    def guard(*paths):
        if state["armed"] and any(str(p).startswith(d) for p in paths):
            state["n"] += 1
            if state["n"] > crash_after:
                raise _InjectedCrash(f"fs step {state['n']}")

    def make(name):
        fn = real[name]

        def wrapped(p, *a, **k):
            guard(p, *(a[:1]))
            return fn(p, *a, **k)

        return wrapped

    try:
        os.rename, os.replace = make("rename"), make("replace")
        shutil.move, shutil.rmtree = make("move"), make("rmtree")
        crashed = False
        try:
            write_partitioned(ndf, target_dir, "y", manifest_key="k")
        except _InjectedCrash:
            crashed = True
        state["armed"] = False
        if crashed:   # the process died; the caller replays the overwrite
            write_partitioned(ndf, target_dir, "y", manifest_key="k")
    finally:
        state["armed"] = False
        os.rename, os.replace = real["rename"], real["replace"]
        shutil.move, shutil.rmtree = real["move"], real["rmtree"]

    post = [
        (r["k"], r["y"], r["price"])
        for r in spark.read.parquet(target_dir).collect()
    ]
    expected = {k: (v, k * 100.0) for k, v in smap.items()}
    assert len(post) == len(expected), "overwrite semantics: new rows only"
    assert {k: (y, p) for k, y, p in post} == expected
    # dir protocol fully settled: exactly the new partitions, no hidden
    # leftovers, no staging dir
    want_dirs = {
        "y=__HIVE_DEFAULT_PARTITION__" if v is None else f"y={v}"
        for v in smap.values()
    }
    have = sorted(os.listdir(target_dir))
    assert {e for e in have if e.startswith("y=")} == want_dirs
    assert not [e for e in have if e.startswith(".")]
    assert not os.path.exists(target_dir + "__staging")


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    tmap=keymaps,
    smap=keymaps,
    crash_after=hs.integers(min_value=0, max_value=22),
)
def test_overwrite_crash_recovery_yields_old_or_new_never_a_mix(
    spark, tmap, smap, crash_after
):
    """TABLE-level atomicity (round 6): per-partition swaps alone leave a
    crash mid-loop as a mix of old and new partitions. With the
    roll-forward journal, RECOVERY ALONE (the next writer's entry — here
    ``_recover_leftovers`` directly, no overwrite re-run) must resolve
    the table to EXACTLY one of the two committed states, decided by the
    journal: present at crash time (staging had committed) → the new
    table; absent → the old table, with staging discarded. Either way
    the protocol residue (journal, staging, dot-dirs) is fully swept."""
    from tmdb_sync_spark.plans.partitioned import (
        SWAP_JOURNAL_NAME,
        _recover_leftovers,
    )

    if not tmap:
        tmap = {0: 0}
    if not smap:
        smap = {5: 2}
    d = tempfile.mkdtemp(prefix="ow_atomic_")
    target_dir = f"{d}/t"
    tdf = spark.createDataFrame(
        [(k, v, k * 10.0) for k, v in tmap.items()],
        "k BIGINT, y INT, price DOUBLE",
    )
    write_partitioned(tdf, target_dir, "y", manifest_key="k")
    ndf = spark.createDataFrame(
        [(k, v, k * 100.0) for k, v in smap.items()],
        "k BIGINT, y INT, price DOUBLE",
    )

    state = {"armed": True, "n": 0}
    real = {
        "rename": os.rename, "replace": os.replace,
        "move": shutil.move, "rmtree": shutil.rmtree,
    }

    def guard(*paths):
        if state["armed"] and any(str(p).startswith(d) for p in paths):
            state["n"] += 1
            if state["n"] > crash_after:
                raise _InjectedCrash(f"fs step {state['n']}")

    def make(name):
        fn = real[name]

        def wrapped(p, *a, **k):
            guard(p, *(a[:1]))
            return fn(p, *a, **k)

        return wrapped

    try:
        os.rename, os.replace = make("rename"), make("replace")
        shutil.move, shutil.rmtree = make("move"), make("rmtree")
        crashed = False
        try:
            write_partitioned(ndf, target_dir, "y", manifest_key="k")
        except _InjectedCrash:
            crashed = True
        state["armed"] = False
        # journal present at crash time → staging had committed → recovery
        # MUST produce the new table. Journal absent is ambiguous on its
        # own: either the overwrite never committed (old table must
        # stand) or it fully completed and removed its journal (new) —
        # the invariant is old XOR new, never a mix.
        journal_at_crash = os.path.exists(
            os.path.join(target_dir, SWAP_JOURNAL_NAME)
        )
        if crashed:
            _recover_leftovers(target_dir)   # what the next writer does
            spark.catalog.refreshByPath(target_dir)
    finally:
        state["armed"] = False
        os.rename, os.replace = real["rename"], real["replace"]
        shutil.move, shutil.rmtree = real["move"], real["rmtree"]

    old_state = {k: (v, k * 10.0) for k, v in tmap.items()}
    new_state = {k: (v, k * 100.0) for k, v in smap.items()}
    post = {
        r["k"]: (r["y"], r["price"])
        for r in spark.read.parquet(target_dir).collect()
    }
    assert post == old_state or post == new_state, (
        "recovery must land on exactly one committed state, never a mix"
    )
    if journal_at_crash or not crashed:
        assert post == new_state, (
            "a journaled (committed) overwrite must roll FORWARD"
        )
    src = smap if post == new_state else tmap
    want_dirs = {
        "y=__HIVE_DEFAULT_PARTITION__" if v is None else f"y={v}"
        for v in src.values()
    }
    have = sorted(os.listdir(target_dir))
    assert {e for e in have if e.startswith("y=")} == want_dirs
    assert not [e for e in have if e.startswith(".")]
    assert SWAP_JOURNAL_NAME not in have
    assert not os.path.exists(target_dir + "__staging")


def test_garbled_overwrite_journal_raises_never_guesses(spark):
    """A journal that cannot be parsed must fail the next writer LOUDLY:
    after partial swaps the plan cannot be reconstructed from listings
    (an installed partition looks identical to a pre-existing one
    scheduled for deletion), and the atomic-rename write means garble
    only happens through outside interference — guessing could delete
    live data."""
    import pytest

    from tmdb_sync_spark.plans.partitioned import (
        SWAP_JOURNAL_NAME,
        _recover_leftovers,
    )
    from tmdb_sync_spark.util import ConcurrentWriterError

    d = tempfile.mkdtemp(prefix="ow_garble_")
    target_dir = f"{d}/t"
    df = spark.createDataFrame([(1, 2000, 1.0)],
                               "k BIGINT, y INT, price DOUBLE")
    write_partitioned(df, target_dir, "y")
    with open(os.path.join(target_dir, SWAP_JOURNAL_NAME), "w") as fh:
        fh.write("{not json")
    with pytest.raises(ConcurrentWriterError, match="swap journal"):
        _recover_leftovers(target_dir)
    # and the entry points surface it too (merge shown; overwrite shares
    # the same recovery entry)
    with pytest.raises(ConcurrentWriterError, match="swap journal"):
        merge_into_partitioned(
            spark, target_dir,
            spark.createDataFrame([(2, 2000, 2.0)],
                                  "k BIGINT, y INT, price DOUBLE"),
            ["k"], "y",
        )


def test_overwrite_drops_stale_manifest_when_unmaintained(spark):
    """An overwrite WITHOUT manifest_key must not leave a previous
    merge's key sets describing rows that no longer exist — stale sets
    would mis-prune the next merge's moved-key probe."""
    import json as _json

    from tmdb_sync_spark.plans.partitioned import SCHEMA_NAME

    def key_sets():
        with open(os.path.join(target_dir, SCHEMA_NAME)) as fh:
            return _json.load(fh).get("parts")

    d = tempfile.mkdtemp(prefix="ow_manifest_")
    target_dir = f"{d}/t"
    df1 = spark.createDataFrame([(1, 2000, 1.0)], "k BIGINT, y INT, p DOUBLE")
    write_partitioned(df1, target_dir, "y", manifest_key="k")
    assert key_sets() is not None
    df2 = spark.createDataFrame([(9, 2001, 9.0)], "k BIGINT, y INT, p DOUBLE")
    write_partitioned(df2, target_dir, "y")          # unmaintained overwrite
    assert key_sets() is None
    # and the table is exactly the new data
    assert [(r.k, r.y) for r in spark.read.parquet(target_dir).collect()] \
        == [(9, 2001)]


def test_duplicate_source_keys_fail_loudly(spark):
    """SQL MERGE forbids multiple source rows matching one target row
    (Delta raises the same); emitting one output row per matched pair
    would silently break the unique-key invariant."""
    import pytest

    target = spark.createDataFrame([(1, "old", "keepme")],
                                   "id INT, v STRING, curated STRING")
    source = spark.createDataFrame([(1, "newA"), (1, "newB")],
                                   "id INT, v STRING")
    with pytest.raises(Exception, match="multiple source rows"):
        merge_into(target, source, ["id"]).collect()
    # the guard is a Filter above the join (round 6; supersedes the r5
    # per-column folding): projection pruning removes columns, never
    # filters, so EVERY consumer shape must trip it — a single projected
    # column, the action column alone, and the shape the per-column form
    # could not reach: a bare .count() that prunes every column.
    with pytest.raises(Exception, match="multiple source rows"):
        merge_into(target, source, ["id"]).select("curated").collect()
    with pytest.raises(Exception, match="multiple source rows"):
        merge_into(target, source, ["id"], with_action=True) \
            .select(ACTION_COL).collect()
    with pytest.raises(Exception, match="multiple source rows"):
        merge_into(target, source, ["id"]).count()
    # unique-key sources still merge fine
    ok = merge_into(
        target, spark.createDataFrame([(1, "new")], "id INT, v STRING"),
        ["id"],
    ).collect()
    assert [(r.id, r.v, r.curated) for r in ok] == [(1, "new", "keepme")]


def test_source_only_columns_rejected_loudly(spark):
    """A source column the target lacks would be silently dropped (the
    output schema is the target's) — a renamed upstream field would lose
    its data row by row with no signal. merge_into refuses driver-side."""
    import pytest

    target = spark.createDataFrame([(1, "old")], "id INT, v STRING")
    source = spark.createDataFrame([(1, "new", "oops")],
                                   "id INT, v STRING, extra STRING")
    with pytest.raises(ValueError, match="extra"):
        merge_into(target, source, ["id"])
    # same family: a typo'd merge-expression key would never be read
    from pyspark.sql import functions as F

    ok_source = spark.createDataFrame([(1, "new")], "id INT, v STRING")
    with pytest.raises(ValueError, match="matched_update"):
        merge_into(target, ok_source, ["id"],
                   matched_update={"vv": F.lit("typo")})
    with pytest.raises(ValueError, match="not_matched_insert"):
        merge_into(target, ok_source, ["id"],
                   not_matched_insert={"vv": F.lit("typo")})


def test_null_keys_match_and_preserve_target_columns(spark):
    """The join condition is null-safe, so a matched NULL key must
    classify as an UPDATE: presence comes from marker columns, never
    isNotNull on a key (which silently routed the match through the
    insert branch, dropping every preserved target column)."""
    target = spark.createDataFrame([(None, "old", "precious")],
                                   "id INT, v STRING, curated STRING")
    source = spark.createDataFrame([(None, "new")], "id INT, v STRING")
    rows = merge_into(target, source, ["id"], with_action=True).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.id, r.v, r.curated, r[ACTION_COL]) == (None, "new", "precious",
                                                     "update")


# an operation: kind, key->partition map, crash step (None = clean run)
_chaos_op = hs.tuples(
    hs.sampled_from(["merge", "overwrite"]),
    keymaps,
    hs.one_of(hs.none(), hs.integers(min_value=0, max_value=22)),
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=hs.lists(_chaos_op, min_size=1, max_size=4))
def test_writer_chaos_model(spark, ops):
    """Model-based chaos over the WHOLE writer stack: a random sequence
    of merges and full overwrites, each optionally crashed at a random
    filesystem step and then recovered, must keep the on-disk table
    equal to a driver-side model at every step — the committed-state
    rule (journal at crash → the op applied; no journal → it didn't)
    composes across arbitrary writer interleavings, including
    overwrite-after-crashed-merge and an overwrite to EMPTY."""
    from tmdb_sync_spark.plans.partitioned import (
        SWAP_JOURNAL_NAME,
        _recover_leftovers,
        read_partitioned,
    )

    d = tempfile.mkdtemp(prefix="chaos_")
    target_dir = f"{d}/t"
    schema = "k BIGINT, y INT, price DOUBLE"
    spark.createDataFrame([], schema)  # warm schema parse
    model: dict = {}
    write_partitioned(spark.createDataFrame([], schema), target_dir, "y",
                      manifest_key="k")

    real = {
        "rename": os.rename, "replace": os.replace,
        "move": shutil.move, "rmtree": shutil.rmtree,
    }
    state = {"armed": False, "n": 0, "cap": 0}

    def guard(*paths):
        if state["armed"] and any(str(p).startswith(d) for p in paths):
            state["n"] += 1
            if state["n"] > state["cap"]:
                raise _InjectedCrash(f"fs step {state['n']}")

    def make(name):
        fn = real[name]

        def wrapped(p, *a, **k):
            guard(p, *(a[:1]))
            return fn(p, *a, **k)

        return wrapped

    def table_state():
        return {
            r["k"]: (r["y"], r["price"])
            for r in read_partitioned(spark, target_dir).collect()
        }

    try:
        os.rename, os.replace = make("rename"), make("replace")
        shutil.move, shutil.rmtree = make("move"), make("rmtree")
        for i, (kind, kmap, crash_after) in enumerate(ops):
            df = spark.createDataFrame(
                [(k, v, k * 1.0 + i) for k, v in kmap.items()], schema
            )
            post = (
                {k: (v, k * 1.0 + i) for k, v in kmap.items()}
                if kind == "overwrite"
                else {**model, **{k: (v, k * 1.0 + i)
                                  for k, v in kmap.items()}}
            )
            state.update(n=0, cap=crash_after or 0, armed=crash_after is not None)
            crashed = False
            try:
                if kind == "overwrite":
                    write_partitioned(df, target_dir, "y", manifest_key="k")
                else:
                    merge_into_partitioned(
                        spark, target_dir, df, keys=["k"], partition_col="y"
                    )
            except _InjectedCrash:
                crashed = True
            state["armed"] = False
            if crashed:
                committed = os.path.exists(
                    os.path.join(target_dir, SWAP_JOURNAL_NAME)
                )
                _recover_leftovers(target_dir)
                spark.catalog.refreshByPath(target_dir)
                # journal absent is ambiguous for a crash AFTER the
                # journal was removed (op fully applied): accept either
                # committed state, but journal-present must roll forward
                now = table_state()
                if committed:
                    assert now == post, "journaled op must roll forward"
                else:
                    assert now in (model, post), "mix of two states"
                model = now
            else:
                model = post
                assert table_state() == model
    finally:
        state["armed"] = False
        os.rename, os.replace = real["rename"], real["replace"]
        shutil.move, shutil.rmtree = real["move"], real["rmtree"]

    # protocol residue fully settled after the final recovery
    have = sorted(os.listdir(target_dir))
    assert SWAP_JOURNAL_NAME not in have
    assert not [e for e in have if e.startswith(".")]
    assert not os.path.exists(target_dir + "__staging")
