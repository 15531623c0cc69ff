"""Physical proof of partition pruning in merge_into_partitioned:
untouched partition directories are byte-identical (same files, same
mtimes) after the MERGE; touched ones are rewritten."""

from __future__ import annotations

import pytest

import json
import os
import tempfile

from pyspark.sql import functions as F

from tmdb_sync_spark.io import table
from tmdb_sync_spark.plans.partitioned import (
    merge_into_partitioned,
    write_partitioned,
)


def _snapshot(pdir: str) -> dict[str, float]:
    return {
        f: os.path.getmtime(os.path.join(pdir, f))
        for f in sorted(os.listdir(pdir))
        if not f.startswith(("_", "."))
    }


def test_untouched_partitions_not_rewritten(spark, sf_dir):
    d = tempfile.mkdtemp(prefix="pm_test_")
    target = f"{d}/orders"
    orders = table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("int")
    )
    write_partitioned(orders, target, "o_year")

    years = sorted(
        int(e.split("=")[1])
        for e in os.listdir(target)
        if e.startswith("o_year=")
    )
    assert len(years) >= 3, "need several partitions to prove pruning"
    touch = years[:2]
    before = {
        y: _snapshot(os.path.join(target, f"o_year={y}")) for y in years
    }

    base = spark.read.parquet(target)
    source = base.where(
        (F.col("o_orderkey") % 7 == 0) & F.col("o_year").isin(*touch)
    ).select(
        "o_orderkey", "o_year",
        (F.col("o_totalprice") + 5).alias("o_totalprice"),
    )
    n_before = base.count()
    n_src_new = 0  # updates only — row count must be invariant
    # materialize expectations BEFORE the swap invalidates source's files
    expected = {r["o_orderkey"]: r["o_totalprice"] for r in source.collect()}

    res = merge_into_partitioned(
        spark, target, source, keys=["o_orderkey"], partition_col="o_year"
    )
    assert sorted(res["touched"]) == touch

    after = {
        y: _snapshot(os.path.join(target, f"o_year={y}")) for y in years
    }
    for y in years[2:]:
        assert after[y] == before[y], f"untouched partition {y} was rewritten"
    for y in touch:
        assert after[y] != before[y], f"touched partition {y} unchanged"

    post = spark.read.parquet(target)
    assert post.count() == n_before + n_src_new
    got = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in post.where(
            F.col("o_orderkey").isin(list(expected))
        ).collect()
    }
    assert got == expected


def test_null_partition_value_merges_not_lost(spark):
    """NULL partition values (year = try_cast of a malformed date) must
    merge like any other partition — In() is null-propagating, so a naive
    isin(touched) filter would hide existing NULL-partition state and the
    staged __HIVE_DEFAULT_PARTITION__ dir would be silently dropped."""
    import tempfile

    d = tempfile.mkdtemp(prefix="pm_null_")
    target = f"{d}/t"
    base = spark.createDataFrame(
        [(1, 1996, 10.0), (2, 1997, 20.0), (3, None, 30.0), (4, None, 40.0)],
        "k BIGINT, y INT, price DOUBLE",
    )
    write_partitioned(base, target, "y")

    # update one NULL-partition row and one 1996 row; insert a new NULL row
    source = spark.createDataFrame(
        [(3, None, 31.0), (1, 1996, 11.0), (5, None, 50.0)],
        "k BIGINT, y INT, price DOUBLE",
    )
    res = merge_into_partitioned(
        spark, target, source, keys=["k"], partition_col="y",
        count_actions=True,
    )
    assert res["counts"] == {"update": 2, "insert": 1, "noop": 1}

    post = {r["k"]: (r["y"], r["price"])
            for r in spark.read.parquet(target).collect()}
    assert post == {
        1: (1996, 11.0), 2: (1997, 20.0),
        3: (None, 31.0), 4: (None, 40.0), 5: (None, 50.0),
    }


def test_superseded_fresh_partition_value_is_a_clean_noop(spark):
    """A touched partition value can legitimately end with no staged dir
    AND no on-disk dir: a matched_update that preserves the partition
    column supersedes every source row carrying a fresh value, so that
    partition never materializes. The merge must treat it as a no-op —
    not a rendering-divergence error (the divergence probe must test the
    VALUE's rows, which don't exist, not whether the table has any
    files)."""
    import tempfile

    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="pm_fresh_")
    target = f"{d}/t"
    base = spark.createDataFrame(
        [(1, 1996, 10.0), (2, 1997, 20.0)],
        "k BIGINT, y INT, price DOUBLE",
    )
    write_partitioned(base, target, "y")
    # key 1 exists; its source row claims y=2999 but the update keeps t.y
    source = spark.createDataFrame(
        [(1, 2999, 11.0)], "k BIGINT, y INT, price DOUBLE"
    )
    res = merge_into_partitioned(
        spark, target, source, keys=["k"], partition_col="y",
        matched_update={"y": F.col("t.y"), "price": F.col("s.price")},
        count_actions=True,
    )
    assert res["counts"].get("update") == 1
    assert not res["counts"].get("insert")
    post = {r["k"]: (r["y"], r["price"])
            for r in spark.read.parquet(target).collect()}
    assert post == {1: (1996, 11.0), 2: (1997, 20.0)}


def test_cross_partition_key_move_does_not_duplicate(spark):
    """A re-synced key whose partition value changed (year corrected
    between syncs) must end up with exactly ONE row, in the NEW partition
    — the reference's upsert is globally keyed (app/catalog/upsert.py:99-103,
    unique index app/mongo.py:15), so a year change is just an update."""
    import tempfile

    d = tempfile.mkdtemp(prefix="pm_move_")
    target = f"{d}/t"
    base = spark.createDataFrame(
        [(1, 1996, 10.0), (2, 1996, 20.0), (3, 1997, 30.0), (4, None, 40.0)],
        "k BIGINT, y INT, price DOUBLE",
    )
    write_partitioned(base, target, "y")

    # k=1 moves 1996→1998 (new partition); k=4 moves NULL→1999
    source = spark.createDataFrame(
        [(1, 1998, 11.0), (4, 1999, 41.0)], "k BIGINT, y INT, price DOUBLE"
    )
    res = merge_into_partitioned(
        spark, target, source, keys=["k"], partition_col="y",
        count_actions=True,
    )
    # moved keys are updates (matched by key), never phantom inserts
    assert res["counts"] == {"update": 2, "noop": 1}
    assert set(res["touched"]) == {1998, 1999, 1996, None}

    post = {r["k"]: (r["y"], r["price"])
            for r in spark.read.parquet(target).collect()}
    assert post == {
        1: (1998, 11.0), 2: (1996, 20.0), 3: (1997, 30.0), 4: (1999, 41.0),
    }
    rows = spark.read.parquet(target).groupBy("k").count().collect()
    assert all(r["count"] == 1 for r in rows)


def test_key_move_swaps_old_partition_before_new(spark, monkeypatch):
    """Delete-in-old must install before insert-in-new: if the process
    dies between the two swaps, the moved key is temporarily absent
    (replaying the idempotent merge repairs it) — never present twice."""
    import tempfile

    import tmdb_sync_spark.plans.partitioned as pp

    d = tempfile.mkdtemp(prefix="pm_order_")
    target = f"{d}/t"
    base = spark.createDataFrame(
        [(1, 1996, 10.0), (2, 1996, 20.0), (3, 1997, 30.0)],
        "k BIGINT, y INT, price DOUBLE",
    )
    write_partitioned(base, target, "y")

    seen: list[str] = []
    real_swap = pp._swap_partition

    def recording_swap(target_dir, staging, pdir):
        seen.append(pdir)
        real_swap(target_dir, staging, pdir)

    monkeypatch.setattr(pp, "_swap_partition", recording_swap)
    source = spark.createDataFrame(
        [(1, 1998, 11.0)], "k BIGINT, y INT, price DOUBLE"
    )
    merge_into_partitioned(
        spark, target, source, keys=["k"], partition_col="y"
    )
    assert seen.index("y=1996") < seen.index("y=1998")


def test_key_move_emptying_a_partition_deletes_its_dir(spark):
    """When the ONLY rows of a partition move away, the merge's post-state
    for that partition is empty — its directory must be deleted, not left
    holding the stale copies."""
    import tempfile

    d = tempfile.mkdtemp(prefix="pm_empty_")
    target = f"{d}/t"
    base = spark.createDataFrame(
        [(1, 1996, 10.0), (2, 1997, 20.0)], "k BIGINT, y INT, price DOUBLE"
    )
    write_partitioned(base, target, "y")

    source = spark.createDataFrame(
        [(1, 1997, 11.0)], "k BIGINT, y INT, price DOUBLE"
    )
    merge_into_partitioned(
        spark, target, source, keys=["k"], partition_col="y"
    )
    assert not os.path.isdir(os.path.join(target, "y=1996"))
    post = {r["k"]: (r["y"], r["price"])
            for r in spark.read.parquet(target).collect()}
    assert post == {1: (1997, 11.0), 2: (1997, 20.0)}


def test_replay_repairs_crash_duplicated_key(spark):
    """A crash between the two swaps of a key-move batch can leave a key
    present in BOTH its old and new partition. Replaying a merge that
    touches the key must normalize back to one row (the pre-merge key
    dedup), not emit two matched copies."""
    import tempfile

    d = tempfile.mkdtemp(prefix="pm_dup_")
    target = f"{d}/t"
    # simulate the crash artifact directly: k=1 exists in y=1996 AND y=1997
    corrupt = spark.createDataFrame(
        [(1, 1996, 10.0), (1, 1997, 11.0), (2, 1997, 20.0)],
        "k BIGINT, y INT, price DOUBLE",
    )
    write_partitioned(corrupt, target, "y")

    source = spark.createDataFrame(
        [(1, 1997, 12.0)], "k BIGINT, y INT, price DOUBLE"
    )
    res = merge_into_partitioned(
        spark, target, source, keys=["k"], partition_col="y",
        count_actions=True,
    )
    assert res["counts"] == {"update": 1, "noop": 1}
    post = sorted(
        (r["k"], r["y"], r["price"])
        for r in spark.read.parquet(target).collect()
    )
    assert post == [(1, 1997, 12.0), (2, 1997, 20.0)]


def test_string_partition_values_with_special_chars(spark):
    """String partition values that Spark hive-escapes in dir names
    ('a/b' → 'a%2Fb') must still swap correctly — a raw f-string path
    would miss the staged dir and silently drop the partition's rows."""
    import tempfile

    d = tempfile.mkdtemp(prefix="pm_esc_")
    target = f"{d}/t"
    base = spark.createDataFrame(
        [(1, "a/b", 10.0), (2, "x:y", 20.0), (3, "plain", 30.0)],
        "k BIGINT, cat STRING, price DOUBLE",
    )
    write_partitioned(base, target, "cat")
    assert os.path.isdir(os.path.join(target, "cat=a%2Fb"))

    source = spark.createDataFrame(
        [(1, "a/b", 11.0), (2, "x:y", 21.0)],
        "k BIGINT, cat STRING, price DOUBLE",
    )
    res = merge_into_partitioned(
        spark, target, source, keys=["k"], partition_col="cat",
        count_actions=True,
    )
    assert res["counts"] == {"update": 2}
    post = {r["k"]: (r["cat"], r["price"])
            for r in spark.read.parquet(target).collect()}
    assert post == {
        1: ("a/b", 11.0), 2: ("x:y", 21.0), 3: ("plain", 30.0),
    }


def test_leftover_old_dir_recovered_before_merge(spark):
    """Crash between rename(dst→.old) and move(src→dst) leaves the
    partition's only copy in the invisible '.old' dir. The next merge must
    restore it BEFORE its target read — otherwise the staged rewrite is
    built without those rows and installs over them (data loss)."""
    import tempfile

    d = tempfile.mkdtemp(prefix="pm_recover_")
    target = f"{d}/t"
    base = spark.createDataFrame(
        [(1, 1996, 10.0), (2, 1996, 20.0), (3, 1997, 30.0)],
        "k BIGINT, y INT, price DOUBLE",
    )
    write_partitioned(base, target, "y")

    # simulate the mid-swap crash: y=1996 exists only as '.y=1996.old'
    os.rename(os.path.join(target, "y=1996"),
              os.path.join(target, ".y=1996.old"))
    spark.catalog.refreshByPath(target)

    source = spark.createDataFrame(
        [(2, 1996, 21.0)], "k BIGINT, y INT, price DOUBLE"
    )
    res = merge_into_partitioned(
        spark, target, source, keys=["k"], partition_col="y",
        count_actions=True,
    )
    # k=2 was only visible via recovery — must classify as update
    assert res["counts"] == {"update": 1, "noop": 1}
    post = {r["k"]: (r["y"], r["price"])
            for r in spark.read.parquet(target).collect()}
    assert post == {1: (1996, 10.0), 2: (1996, 21.0), 3: (1997, 30.0)}
    assert not os.path.isdir(os.path.join(target, ".y=1996.old"))


def _banded_table(spark, d):
    """Years 2000-2003, key bands disjoint per year: year y holds keys
    [100*(y-2000), +99] — the id↔partition correlation a real catalog
    table has (TMDB ids grow with release year)."""
    target = f"{d}/t"
    rows = [
        (100 * (y - 2000) + i, y, float(i))
        for y in (2000, 2001, 2002, 2003)
        for i in range(100)
    ]
    base = spark.createDataFrame(rows, "k BIGINT, y INT, price DOUBLE")
    write_partitioned(base, target, "y", cluster_by=("k",),
                      manifest_key="k")
    return target


def test_manifest_prunes_probe_to_zero_partitions(spark):
    """A batch of keys uniformly spread WITHIN its partition's key band
    must not open any file of the other partitions — the r3 global
    BETWEEN-range probe read them all; the per-partition manifest prunes
    them before any read, skipping the probe job entirely."""
    import tempfile

    d = tempfile.mkdtemp(prefix="pm_manifest_")
    target = _banded_table(spark, d)
    # every 7th key of 2001's band — uniform across that band
    source = spark.createDataFrame(
        [(k, 2001, k + 0.5) for k in range(100, 200, 7)],
        "k BIGINT, y INT, price DOUBLE",
    )
    res = merge_into_partitioned(
        spark, target, source, keys=["k"], partition_col="y",
        count_actions=True,
    )
    assert res["probe_partitions"] == []     # no probe read at all
    assert res["counts"] == {"update": len(range(100, 200, 7)), "noop": 100 - len(range(100, 200, 7))}
    post = {r["k"]: r["price"]
            for r in spark.read.parquet(target).where("y = 2001").collect()}
    for k in range(100, 200, 7):
        assert post[k] == k + 0.5


def test_manifest_probe_reads_only_intersecting_partition(spark):
    """A key that moved partitions is still found — and the probe reads
    ONLY the partition whose key range can hold it, not every other
    partition."""
    import tempfile

    d = tempfile.mkdtemp(prefix="pm_manifest2_")
    target = _banded_table(spark, d)
    # key 50 lives in y=2000; the batch says it now belongs to 2001
    source = spark.createDataFrame(
        [(50, 2001, 999.0)], "k BIGINT, y INT, price DOUBLE"
    )
    res = merge_into_partitioned(
        spark, target, source, keys=["k"], partition_col="y",
        count_actions=True,
    )
    assert res["probe_partitions"] == ["y=2000"]   # 2002/2003 excluded
    # old partition joins the merge: its 99 unmoved rows are noops,
    # plus the 100 rows of the batch's own partition
    assert res["counts"] == {"update": 1, "noop": 199}
    assert set(res["touched"]) == {2001, 2000}
    rows = spark.read.parquet(target).where("k = 50").collect()
    assert len(rows) == 1 and rows[0]["y"] == 2001 and rows[0]["price"] == 999.0


def test_manifest_missing_rebuilds_from_footers(spark):
    """A record without key sets (an older writer, an external copy)
    degrades to a footer harvest, never to a missed moved key."""
    import json as _json
    import tempfile

    from tmdb_sync_spark.plans.partitioned import SCHEMA_NAME

    d = tempfile.mkdtemp(prefix="pm_manifest3_")
    target = _banded_table(spark, d)
    rp = os.path.join(target, SCHEMA_NAME)
    with open(rp) as fh:
        rec = _json.load(fh)
    with open(rp, "w") as fh:
        _json.dump({"partition_col": rec["partition_col"],
                    "schema": rec["schema"]}, fh)
    source = spark.createDataFrame(
        [(250, 2000, 1.5)], "k BIGINT, y INT, price DOUBLE"
    )
    res = merge_into_partitioned(
        spark, target, source, keys=["k"], partition_col="y",
        count_actions=True,
    )
    assert res["probe_partitions"] == ["y=2002"]
    assert res["counts"] == {"update": 1, "noop": 199}
    rows = spark.read.parquet(target).where("k = 250").collect()
    assert len(rows) == 1 and rows[0]["y"] == 2000
    # and the key sets were re-established for the next merge
    with open(rp) as fh:
        assert "parts" in _json.load(fh)


def test_replay_after_crash_emptied_last_partition(spark):
    """Crash window found by the hypothesis sweep: a single-partition
    table whose only key moves to a NEW partition dies after the old
    partition's delete but before the new one's install — the table is
    left with ZERO visible partitions. Replay must degrade to an
    all-insert load, not fail schema inference."""
    import tempfile

    d = tempfile.mkdtemp(prefix="pm_empty_")
    target = f"{d}/t"
    base = spark.createDataFrame([(1, 2000, 10.0)],
                                 "k BIGINT, y INT, price DOUBLE")
    write_partitioned(base, target, "y")
    # simulate the crash artifact: old partition renamed aside for delete,
    # new partition never installed (recovery will finish the delete)
    os.rename(os.path.join(target, "y=2000"),
              os.path.join(target, ".y=2000.del"))
    spark.catalog.refreshByPath(target)

    source = spark.createDataFrame([(1, 2001, 11.0)],
                                   "k BIGINT, y INT, price DOUBLE")
    res = merge_into_partitioned(
        spark, target, source, keys=["k"], partition_col="y",
        count_actions=True,
    )
    assert res["counts"] == {"insert": 1}
    post = spark.read.parquet(target).collect()
    assert [(r["k"], r["y"], r["price"]) for r in post] == [(1, 2001, 11.0)]


def test_replay_raises_when_staging_removed_externally(spark):
    """A pending journal whose staging dir was removed by an outside
    actor must FAIL the next writer loudly, not complete as a corrupt
    success (review finding): the silent path installed the journal's
    post-swap manifest and ran its deletes over a table that never
    received the staged data — later probes then pruned on wrong ranges
    and moved keys became permanent duplicates."""
    import json as _json
    import shutil as _shutil
    import tempfile

    import pytest as _pytest

    from tmdb_sync_spark.plans.partitioned import (
        SWAP_JOURNAL_NAME,
        _staging_dir,
    )
    from tmdb_sync_spark.util import ConcurrentWriterError

    d = tempfile.mkdtemp(prefix="pm_jstag_")
    target = f"{d}/t"
    base = spark.createDataFrame(
        [(1, 2000, 10.0)], "k BIGINT, y INT, price DOUBLE"
    )
    write_partitioned(base, target, "y")
    # forge the crash state: a committed journal promising an install
    # whose staged partition (and dir) no longer exists
    staging = _staging_dir(target)
    os.makedirs(staging, exist_ok=True)
    with open(os.path.join(target, SWAP_JOURNAL_NAME), "w") as fh:
        _json.dump(
            {"staging": staging, "partition_col": "y",
             "ops": [["y=2001", "install"], ["y=2000", "delete"]],
             "manifest": None, "schema_record": None},
            fh,
        )
    _shutil.rmtree(staging)

    source = spark.createDataFrame(
        [(2, 2000, 20.0)], "k BIGINT, y INT, price DOUBLE"
    )
    with _pytest.raises(ConcurrentWriterError, match="staging was removed"):
        merge_into_partitioned(
            spark, target, source, keys=["k"], partition_col="y",
        )
    # the table's committed data was not touched by the refused replay
    assert [(r["k"], r["y"]) for r in spark.read.parquet(target).collect()] \
        == [(1, 2000)]


def test_merge_bootstraps_missing_table(spark):
    """MERGE into a directory that does not exist yet is an initial load
    (every row inserts) — the same degradation path as the crash-emptied
    table."""
    import tempfile

    d = tempfile.mkdtemp(prefix="pm_boot_")
    target = f"{d}/t"
    source = spark.createDataFrame(
        [(1, 2000, 10.0), (2, None, 20.0)], "k BIGINT, y INT, price DOUBLE"
    )
    res = merge_into_partitioned(
        spark, target, source, keys=["k"], partition_col="y",
        count_actions=True,
    )
    assert res["counts"] == {"insert": 2}
    post = {r["k"]: (r["y"], r["price"])
            for r in spark.read.parquet(target).collect()}
    assert post == {1: (2000, 10.0), 2: (None, 20.0)}


def test_manifest_corrupt_shapes_degrade_not_crash(spark):
    """A record whose key sets are not valid (null, a list, a string,
    a non-dict parts, sets kept for another key or partition column, no
    sets at all) must degrade to a re-harvest exactly like a parse
    failure — load()'s documented 'never an error' contract."""
    import json as _json
    import tempfile

    from tmdb_sync_spark.plans import manifest as km
    from tmdb_sync_spark.plans.partitioned import (
        SCHEMA_NAME,
        _load_record,
        _record_parts,
    )

    d = tempfile.mkdtemp(prefix="pm_manifest4_")
    target = _banded_table(spark, d)
    path = os.path.join(target, SCHEMA_NAME)
    truth = {f"y={y}": list(range(100 * (y - 2000), 100 * (y - 1999)))
             for y in (2000, 2001, 2002, 2003)}
    head = '{"key": "k", "partition_col": "y", '
    for garbage in ("null", "[]", '"x"', "7",
                    head + '"parts": []}',
                    "{not json",
                    # a record of an older writer (no key sets) and sets
                    # kept for another key or partition column: each is
                    # re-harvested, never read as this key's sets
                    '{"partition_col": "y", "schema": {}}',
                    '{"key": "j", "partition_col": "y",'
                    ' "parts": {"y=2000": [0, 1]}}',
                    '{"key": "k", "partition_col": "x",'
                    ' "parts": {"y=2000": [0, 1]}}',
                    # parseable dicts with DAMAGED key sets: a wrong set
                    # silently mis-prunes the moved-key probe, so these
                    # must degrade the whole manifest to re-harvest
                    head + '"parts": {"y=2000": [1, null]}}',
                    head + '"parts": {"y=2000": [[1], [2]]}}',
                    head + '"parts": {"y=2000": [1, "2"]}}',
                    head + '"parts": {"y=2000": [1, 2.0]}}',
                    head + '"parts": {"y=2000": [true, false]}}',
                    head + '"parts": {"y=2000": [3, 1, 2]}}',
                    head + '"parts": {"y=2000": [1, 1]}}',
                    head + '"parts": {"y=2000": 5}}',
                    head + '"parts": {"y=2000": {"min": 1, "max": 2}}}'):
        with open(path, "w") as fh:
            fh.write(garbage)
        # the harvested sets are the true keys, not the junk
        parts = _record_parts(_load_record(target), "k", "y")
        assert km.load(target, "k", "y", parts) == truth, garbage


def test_boolean_partition_values_swap_correctly(spark):
    """Spark renders boolean partition values as 'true'/'false' in dir
    names; Python str() says 'True'. A rendering divergence makes the
    swap find neither src nor dst and silently drop staged changes
    (ADVICE r3 #1)."""
    import tempfile

    d = tempfile.mkdtemp(prefix="pm_bool_")
    target = f"{d}/t"
    base = spark.createDataFrame(
        [(1, True, 10.0), (2, False, 20.0), (3, None, 30.0)],
        "k BIGINT, flag BOOLEAN, price DOUBLE",
    )
    write_partitioned(base, target, "flag")
    assert os.path.isdir(os.path.join(target, "flag=true"))

    source = spark.createDataFrame(
        [(1, True, 11.0), (2, False, 21.0), (4, None, 40.0)],
        "k BIGINT, flag BOOLEAN, price DOUBLE",
    )
    res = merge_into_partitioned(
        spark, target, source, keys=["k"], partition_col="flag",
        count_actions=True,
    )
    assert res["counts"] == {"update": 2, "insert": 1, "noop": 1}
    # partition-type inference reads bool dir values back as the strings
    # 'true'/'false' (Spark infers only numeric/date/string partition
    # types) — the point here is that the staged changes LANDED
    post = {r["k"]: (r["flag"], r["price"])
            for r in spark.read.parquet(target).collect()}
    assert post == {
        1: ("true", 11.0), 2: ("false", 21.0),
        3: (None, 30.0), 4: (None, 40.0),
    }


def test_ingest_resync_with_changed_year_keeps_one_row(spark):
    """End-to-end on the live movies table: the API corrects a
    release_date between syncs (year derives from it,
    streaming/ingest.py:81) — the re-synced row must RELOCATE, leaving
    exactly one (id, content_type) row, as the reference's keyed upsert
    guarantees (app/mongo.py:15 unique index)."""
    import tempfile

    from pyspark.sql import functions as F  # noqa: F811 (local clarity)

    from tmdb_sync_spark.streaming.ingest import run_sync_top

    d = tempfile.mkdtemp(prefix="ingest_move_")
    run_sync_top(spark, d, max_pages=5, resume=True)       # ids 1..100
    movies = f"{d}/movies"
    base = spark.read.parquet(movies)
    n0 = base.count()

    # the corrected row: id=2's year bumped by one, as a later sync would
    # deliver it (the fixture itself is year-stable, so craft the delta
    # from the current row)
    row = base.where(F.col("id") == 2)
    old_year = row.first()["year"]
    moved = row.withColumn("year", F.col("year") + 1).withColumn(
        # references the already-bumped year column from the previous step
        "release_date",
        F.concat(F.col("year").cast("string"),
                 F.substring("release_date", 5, 6)),
    ).drop("created_at")
    res = merge_into_partitioned(
        spark, movies, moved, keys=["id", "content_type"],
        partition_col="year",
        not_matched_insert={"created_at": F.col("s.synced_at")},
        count_actions=True,
    )
    assert res["counts"].get("insert", 0) == 0
    assert res["counts"].get("update", 0) == 1

    post = spark.read.parquet(movies)
    assert post.count() == n0
    mine = post.where(F.col("id") == 2).collect()
    assert len(mine) == 1 and mine[0]["year"] == old_year + 1


def test_ingest_loop_prunes_partitions(spark):
    """The live ingestion loop (run_sync_top) must rewrite only the year
    partitions present in the batch — the O(total state) full rewrite was
    round-1 verdict finding 2."""
    import tempfile

    from tmdb_sync_spark.streaming.ingest import run_sync_top

    d = tempfile.mkdtemp(prefix="ingest_prune_")
    run_sync_top(spark, d, max_pages=5, resume=True)       # ids 1..100
    movies = f"{d}/movies"
    years = sorted(
        int(e.split("=")[1])
        for e in os.listdir(movies)
        if e.startswith("year=")
    )
    n0 = spark.read.parquet(movies).count()
    before = {y: _snapshot(os.path.join(movies, f"year={y}")) for y in years}

    # re-sync page 1 only: ids 1..20 → years 1951..1970 touched
    stats = run_sync_top(spark, d, max_pages=1, resume=False, start_page=1)
    assert stats["inserted"] == 0 and stats["updated"] == 20

    touched = set(range(1951, 1971))
    after = {y: _snapshot(os.path.join(movies, f"year={y}")) for y in years}
    for y in years:
        if y in touched:
            assert after[y] != before[y], f"touched partition {y} unchanged"
        else:
            assert after[y] == before[y], f"untouched partition {y} rewritten"
    assert spark.read.parquet(movies).count() == n0


def test_empty_table_roundtrip_matches_populated_readback_schema(spark):
    """The persisted schema record must reproduce, for an EMPTY table,
    exactly what a populated read-back would show — including column
    ORDER (Spark appends the partition column last on read) and exotic
    types the JSON round-trip could mangle (nested struct, array,
    decimal, timestamp)."""
    import tempfile

    from tmdb_sync_spark.plans.partitioned import (
        read_partitioned,
        write_partitioned,
    )

    d = tempfile.mkdtemp(prefix="schema_rt_")
    schema = (
        "k BIGINT, y INT, tags ARRAY<STRING>, "
        "meta STRUCT<w: INT, ratio: DECIMAL(10,4)>, seen TIMESTAMP"
    )
    populated = spark.createDataFrame(
        [(1, 2000, ["a"], (3, None), None)], schema
    )
    write_partitioned(populated, f"{d}/full", "y")
    full_back = read_partitioned(spark, f"{d}/full")

    empty = spark.createDataFrame([], schema)
    write_partitioned(empty, f"{d}/empty", "y")
    empty_back = read_partitioned(spark, f"{d}/empty")

    assert empty_back.count() == 0
    assert empty_back.columns == full_back.columns
    assert [f.dataType for f in empty_back.schema.fields] == [
        f.dataType for f in full_back.schema.fields
    ]
    # and the empty table is a valid MERGE target: the bootstrap-merge
    # path reads it through the same degrade
    from tmdb_sync_spark.plans.partitioned import merge_into_partitioned

    merge_into_partitioned(
        spark, f"{d}/empty",
        spark.createDataFrame([(7, 1999, ["x"], (1, None), None)], schema),
        keys=["k"], partition_col="y",
    )
    rows = spark.read.parquet(f"{d}/empty").collect()
    assert [(r["k"], r["y"]) for r in rows] == [(7, 1999)]


def test_empty_table_merge_keeps_target_only_columns(spark):
    """A committed-but-EMPTY table whose schema holds a column the merge
    SOURCE lacks (created_at — the ingest's $setOnInsert column) must
    merge through the persisted schema record, not the source schema
    (review finding): degrading to source.schema made merge_into reject
    the not_matched_insert mapping as naming an unknown column, and
    since every retry took the same path the sync wedged permanently —
    exactly the all-dead-lettered-bootstrap state. The schema record is
    the table's truth; the merge must insert THROUGH it."""
    import tempfile

    from pyspark.sql import functions as F

    from tmdb_sync_spark.plans.partitioned import (
        merge_into_partitioned,
        read_partitioned,
        write_partitioned,
    )

    d = tempfile.mkdtemp(prefix="empty_merge_")
    target = f"{d}/movies"
    boot_schema = (
        "id BIGINT, y INT, title STRING, synced_at TIMESTAMP, "
        "created_at TIMESTAMP"
    )
    # bootstrap commits ZERO rows (every row dead-lettered) — the table
    # exists with a schema record but no partition dirs
    write_partitioned(
        spark.createDataFrame([], boot_schema), target, "y",
        manifest_key="id",
    )

    # the next batch's source (the ingest's `ok`): no created_at column
    src = spark.createDataFrame(
        [(1, 2001, "t1"), (2, 2002, "t2")], "id BIGINT, y INT, title STRING"
    ).withColumn("synced_at", F.lit("2026-01-01").cast("timestamp"))
    res = merge_into_partitioned(
        spark, target, src,
        keys=["id"], partition_col="y",
        not_matched_insert={"created_at": F.col("s.synced_at")},
        count_actions=True,
    )
    assert res["counts"] == {"insert": 2}
    back = read_partitioned(spark, target)
    assert "created_at" in back.columns
    rows = {r["id"]: r for r in back.collect()}
    assert rows[1]["created_at"] is not None
    assert rows[1]["title"] == "t1" and rows[2]["y"] == 2002


@pytest.mark.slow
def test_ingest_crash_then_resume_converges(spark):
    """End-to-end crash/resume over the LIVE ingest loop: kill the sync
    at an arbitrary filesystem step of its movies-table write (bootstrap
    create, a record-only commit, or batch merge), then resume. The next run's entry recovery rolls any journaled write
    forward and the cursor granularity replays at most one un-committed
    batch, so the final movies table and cursor must equal an uncrashed
    control run's exactly. Counters may legitimately reclassify replayed
    inserts as updates; the table is the contract."""
    import os as _os
    import shutil as _shutil
    import tempfile

    from tmdb_sync_spark.streaming import state as st
    from tmdb_sync_spark.streaming.ingest import CURSOR_KEY, run_sync_top

    class _Crash(Exception):
        pass

    control = tempfile.mkdtemp(prefix="ingest_ctl_")
    run_sync_top(spark, control, max_pages=5, resume=True)
    ctl_movies = {
        (r["id"], r["content_type"]): (r["year"], r["title"])
        for r in spark.read.parquet(f"{control}/movies").collect()
    }
    ctl_cursor = st.read_cursor(spark, f"{control}/cursors", CURSOR_KEY)

    real = {
        "rename": _os.rename, "replace": _os.replace,
        "move": _shutil.move, "rmtree": _shutil.rmtree,
    }
    for crash_after in (0, 2, 5, 9, 14):
        d = tempfile.mkdtemp(prefix="ingest_crash_")
        marker = f"{d}/movies"     # only the table protocol's fs steps
        state = {"n": 0, "armed": True}

        def guard(*paths, _state=state, _marker=marker, _ca=crash_after):
            if _state["armed"] and any(
                str(p).startswith(_marker) for p in paths
            ):
                _state["n"] += 1
                if _state["n"] > _ca:
                    raise _Crash(f"fs step {_state['n']}")

        def make(name, _guard=guard):
            fn = real[name]

            def wrapped(p, *a, **k):
                _guard(p, *(a[:1]))
                return fn(p, *a, **k)

            return wrapped

        try:
            _os.rename, _os.replace = make("rename"), make("replace")
            _shutil.move, _shutil.rmtree = make("move"), make("rmtree")
            try:
                run_sync_top(spark, d, max_pages=5, resume=True)
                crashed = False
            except _Crash:
                crashed = True
            state["armed"] = False
        finally:
            state["armed"] = False
            _os.rename, _os.replace = real["rename"], real["replace"]
            _shutil.move, _shutil.rmtree = real["move"], real["rmtree"]

        if crashed:
            run_sync_top(spark, d, max_pages=5, resume=True)
        spark.catalog.refreshByPath(f"{d}/movies")
        got = {
            (r["id"], r["content_type"]): (r["year"], r["title"])
            for r in spark.read.parquet(f"{d}/movies").collect()
        }
        assert got == ctl_movies, f"divergence at crash_after={crash_after}"
        cur = st.read_cursor(spark, f"{d}/cursors", CURSOR_KEY)
        assert cur["page"] == ctl_cursor["page"]


def test_replayed_batch_clears_stale_dead_letters(spark):
    """Dead-letter idempotency under NON-deterministic failures (review
    finding): dynamic partition overwrite replaces only pages PRESENT in
    the new data, so a replayed batch whose page stopped failing kept its
    stale rows. The batch-range clear must drop every page in the range,
    then the write re-creates only the still-failing ones."""
    import tempfile

    from tmdb_sync_spark.streaming.ingest import (
        ERROR_SCHEMA,
        _clear_batch_errors,
    )

    d = tempfile.mkdtemp(prefix="dlq_replay_")
    errors_path = f"{d}/errors"

    def write(rows):
        from pyspark.sql.types import StructType

        spark.createDataFrame(rows, ERROR_SCHEMA).to(
            StructType.fromDDL(ERROR_SCHEMA)
        ).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("page").parquet(errors_path)

    # first attempt: failures on pages 3 AND 4
    write([(97, "movie", "http", 3, "/discover/movie", None),
           (194, "movie", "http", 4, "/discover/movie", None)])
    # replay of the 3..4 batch: page 3 no longer fails (live-API variance)
    _clear_batch_errors(errors_path, 3, 4)
    write([(194, "movie", "http", 4, "/discover/movie", None)])
    back = spark.read.parquet(errors_path)
    assert [(r["item_id"], r["page"]) for r in back.collect()] == [(194, 4)]
    # pages OUTSIDE the replayed range are untouched by the clear
    write([(291, "movie", "other", 7, "/discover/movie", None)])
    _clear_batch_errors(errors_path, 3, 4)
    remaining = {r["page"] for r in spark.read.parquet(errors_path).collect()}
    assert remaining == {7}


def test_create_refuses_to_clobber_committed_table(spark):
    """The create-if-absent primitive (bootstrap race fix): a second
    creator whose exists-check raced the first must NO-OP under the
    lock, not overwrite a table that already committed — with the sync
    jobs' data-bearing bootstrap, the loser overwrote the winner's
    already-MERGED rows (found by review)."""
    from pyspark.sql.types import StructType

    from tmdb_sync_spark.plans.partitioned import (
        create_partitioned,
        read_partitioned,
    )

    d = tempfile.mkdtemp(prefix="ine_")
    target = f"{d}/t"
    schema = StructType.fromDDL("k BIGINT, y INT, v DOUBLE")
    assert create_partitioned(target, schema, "y", key="k") is True
    merge_into_partitioned(
        spark, target,
        spark.createDataFrame([(1, 2000, 1.0), (2, 2001, 2.0)], schema),
        keys=["k"], partition_col="y",
    )
    # the racing loser arrives after the winner merged real rows
    assert create_partitioned(target, schema, "y", key="k") is False
    assert {(r["k"], r["y"]) for r in read_partitioned(spark, target)
            .collect()} == {(1, 2000), (2, 2001)}


def _job_ids(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("key", ["k", None])
def test_create_runs_no_job_and_publishes_the_empty_write_record(
    spark, tmp_path, key
):
    """Creating a table is a catalog write: no Spark job runs, and the
    record equals the one a full write of the same empty frame
    publishes, so readers and merges cannot tell the two apart."""
    from tmdb_sync_spark.plans.partitioned import (
        SCHEMA_NAME,
        create_partitioned,
        read_partitioned,
    )

    empty = spark.createDataFrame(
        [], "k BIGINT, y INT, tags ARRAY<STRING>, seen TIMESTAMP")
    created, written = str(tmp_path / "created"), str(tmp_path / "written")
    tag = f"create-{key}"
    assert _job_ids(spark, tag, lambda: create_partitioned(
        created, empty.schema, "y", key=key)) == []
    # the same probe sees the write's jobs, so the empty list above is
    # not an artifact of the job-group bookkeeping
    assert _job_ids(spark, f"write-{key}", lambda: write_partitioned(
        empty, written, "y", manifest_key=key)) != []

    def record(path):
        with open(os.path.join(path, SCHEMA_NAME)) as fh:
            return json.load(fh)

    assert record(created) == record(written)
    assert sorted(os.listdir(created)) == [SCHEMA_NAME]
    assert read_partitioned(spark, created).count() == 0


def test_crash_before_the_create_publishes_leaves_no_table(
    tmp_path, monkeypatch
):
    """A create that dies before its journal is published never
    happened: table_exists stays False (a crashed publish's tmp file is
    not a table), and the next create commits the table."""
    from pyspark.sql.types import StructType

    from tmdb_sync_spark.plans import partitioned as pt

    target = str(tmp_path / "t")
    schema = StructType.fromDDL("k BIGINT, y INT")
    real = os.replace

    def crash(src, dst):
        if dst.endswith(pt.SWAP_JOURNAL_NAME):
            raise OSError("crash before the journal rename")
        return real(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash)
        with pytest.raises(OSError, match="crash before"):
            pt.create_partitioned(target, schema, "y", key="k")

    assert any(".tmp." in e for e in os.listdir(target))
    assert pt.table_exists(target) is False
    assert pt.create_partitioned(target, schema, "y", key="k") is True
    assert pt.table_exists(target) is True
    assert pt._load_record(target) == pt._table_record(schema, "y", "k", {})
    # recovery swept the crashed publish's tmp file; no lock is left
    assert sorted(os.listdir(target)) == [pt.SCHEMA_NAME]


def test_concurrent_first_ever_syncs_union_not_clobber(spark, tmp_path):
    """Two sync jobs bootstrapping ONE movies table concurrently: the
    empty-create serializes to one winner, concurrent merges either
    serialize or fail LOUDLY with the single-writer ConcurrentMergeError
    (retried here, as a job scheduler would) — the end state is the
    union, never one job's rows silently clobbered (the old data-bearing
    bootstrap overwrite)."""
    import threading
    import time

    from tmdb_sync_spark.util import ConcurrentWriterError

    from pyspark.sql import functions as F

    from tmdb_sync_spark.streaming.ingest import _merge_batch

    movies = str(tmp_path / "movies")
    frames_t = ("array<struct<path:string,vote_average:double,"
                "width:bigint,aspect_ratio:double>>")

    def batch(ids, year):
        return spark.createDataFrame(
            [(i,) for i in ids], "id BIGINT"
        ).select(
            "id", F.lit("movie").alias("content_type"),
            F.lit(year).cast("int").alias("year"),
            F.array(F.struct(
                F.lit("/a.jpg").alias("path"),
                F.lit(5.0).alias("vote_average"),
                F.lit(640).cast("bigint").alias("width"),
                F.lit(1.78).alias("aspect_ratio"),
            )).cast(frames_t).alias("frames"),
            F.lit(1).cast("long").alias("n_valid_frames"),
            F.current_timestamp().alias("synced_at"),
        )

    results, errors = {}, []

    def run(name, ids, year):
        for attempt in range(20):
            try:
                results[name] = _merge_batch(spark, movies, batch(ids, year))
                return
            except ConcurrentWriterError:
                time.sleep(0.25)        # loud contention → retry, no loss
            except Exception as e:                  # pragma: no cover
                errors.append(e)
                return
        errors.append(AssertionError(f"{name}: never acquired the table"))

    t1 = threading.Thread(target=run, args=("a", [1, 2], 1999))
    t2 = threading.Thread(target=run, args=("b", [3, 4], 2000))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors
    assert results["a"] == (2, 0) and results["b"] == (2, 0)
    from tmdb_sync_spark.plans.partitioned import read_partitioned

    back = read_partitioned(spark, movies)
    assert {r["id"] for r in back.collect()} == {1, 2, 3, 4}
    assert back.where("created_at IS NULL").count() == 0


def test_point_read_prunes_by_manifest(spark):
    """read_partitioned_for_key: with disjoint per-partition key ranges
    (the ingest movies layout) a point lookup OPENS exactly the one
    candidate partition (asserted via inputFiles), returns the right
    row, an out-of-range key returns empty without a scan, and a table
    whose manifest serves a DIFFERENT key degrades to the full read."""
    import tempfile

    from tmdb_sync_spark.plans.partitioned import (
        read_partitioned_for_key,
        read_partitioned,
    )

    d = tempfile.mkdtemp(prefix="pr_")
    target = f"{d}/t"
    rows = [(y * 100 + i, y, float(i)) for y in (1, 2, 3, 4)
            for i in range(10)]
    df = spark.createDataFrame(rows, "k BIGINT, y INT, price DOUBLE")
    write_partitioned(df, target, "y", cluster_by=("k",),
                      manifest_key="k")

    hit = read_partitioned_for_key(spark, target, "k", 205)
    assert [r["k"] for r in hit.where("k = 205").collect()] == [205]
    assert all("/y=2" in f for f in hit.inputFiles())   # ONE partition
    # out-of-range: zero candidates → empty frame, schema intact
    miss = read_partitioned_for_key(spark, target, "k", 99_999)
    assert miss.count() == 0 and "price" in miss.columns
    # wrong key name → safe degrade to the full table
    full = read_partitioned_for_key(spark, target, "other_key", 205)
    assert full.count() == read_partitioned(spark, target).count()


class _CrashAfterJournal(Exception):
    pass


def _crash_after_journal(monkeypatch):
    """Make the next commit die right after its journal rename — the
    commit point — before anything is applied."""
    import tmdb_sync_spark.plans.partitioned as pp

    real = pp._write_swap_journal

    def crashing(*a, **k):
        real(*a, **k)
        monkeypatch.setattr(pp, "_write_swap_journal", real)
        raise _CrashAfterJournal

    monkeypatch.setattr(pp, "_write_swap_journal", crashing)


def _keyed_base(spark, target):
    base = spark.createDataFrame(
        [(1, 2000, 1.0), (3, 2000, 3.0), (10, 2001, 10.0), (12, 2001, 12.0)],
        "k BIGINT, y INT, price DOUBLE",
    )
    write_partitioned(base, target, "y", manifest_key="k")


_COMMIT_KINDS = ["merge", "overwrite", "overwrite_unkeyed"]


def _run_commit(spark, target, kind):
    if kind == "merge":
        # widens y=2000, moves k=10 out of y=2001 into a new y=2002
        src = spark.createDataFrame(
            [(50, 2000, 5.0), (10, 2002, 11.0)],
            "k BIGINT, y INT, price DOUBLE",
        )
        merge_into_partitioned(spark, target, src, ["k"], "y")
    else:
        new = spark.createDataFrame(
            [(40, 2000, 4.0), (2, 2003, 2.0)],
            "k BIGINT, y INT, price DOUBLE",
        )
        write_partitioned(
            new, target, "y",
            manifest_key="k" if kind == "overwrite" else None,
        )


def _side_files(target):
    import json as _json

    from tmdb_sync_spark.plans.partitioned import SCHEMA_NAME

    # the one record: schema and, for a keyed table, the key sets
    with open(os.path.join(target, SCHEMA_NAME)) as fh:
        return _json.load(fh)


@pytest.mark.parametrize("kind", _COMMIT_KINDS)
def test_crash_after_journal_recovers_same_side_files_as_clean_run(
    spark, monkeypatch, kind
):
    """A writer that dies right after its journal rename and is then
    rolled forward by recovery leaves the same key sets and table
    record as a clean run of the same write — the normal path
    and recovery apply one plan with one code path."""
    from tmdb_sync_spark.plans.partitioned import (
        SWAP_JOURNAL_NAME,
        _recover_leftovers,
    )

    d = tempfile.mkdtemp(prefix="pm_jside_")
    clean, crashed = f"{d}/clean", f"{d}/crashed"
    for t in (clean, crashed):
        _keyed_base(spark, t)
    _run_commit(spark, clean, kind)
    _crash_after_journal(monkeypatch)
    with pytest.raises(_CrashAfterJournal):
        _run_commit(spark, crashed, kind)
    assert os.path.exists(os.path.join(crashed, SWAP_JOURNAL_NAME))
    _recover_leftovers(crashed)
    assert not os.path.exists(os.path.join(crashed, SWAP_JOURNAL_NAME))
    assert _side_files(crashed) == _side_files(clean)
    spark.catalog.refreshByPath(crashed)
    rows = sorted(
        tuple(r) for r in spark.read.parquet(crashed).collect()
    )
    assert rows == sorted(
        tuple(r) for r in spark.read.parquet(clean).collect()
    )


@pytest.mark.parametrize("kind", ["merge", "overwrite"])
def test_older_writers_pending_journal_replays_same_rows(
    spark, monkeypatch, kind
):
    """A journal in the older layout — a ``manifest`` plan beside a
    ``schema_record`` without key sets — still replays: the swaps and
    rows equal a clean run's, its ``manifest`` field is ignored, and the
    published record is the journal's."""
    import json as _json

    from tmdb_sync_spark.plans.partitioned import (
        SCHEMA_NAME,
        SWAP_JOURNAL_NAME,
        _recover_leftovers,
    )

    d = tempfile.mkdtemp(prefix="pm_joldfmt_")
    clean, crashed = f"{d}/clean", f"{d}/crashed"
    for t in (clean, crashed):
        _keyed_base(spark, t)
    _run_commit(spark, clean, kind)
    _crash_after_journal(monkeypatch)
    with pytest.raises(_CrashAfterJournal):
        _run_commit(spark, crashed, kind)
    jpath = os.path.join(crashed, SWAP_JOURNAL_NAME)
    with open(jpath) as fh:
        j = _json.load(fh)
    rec = j["schema_record"]
    with open(jpath, "w") as fh:
        _json.dump({
            "staging": j["staging"], "partition_col": "y", "ops": j["ops"],
            "manifest": {"key": "k", "post": rec["parts"]},
            "schema_record": {"partition_col": "y", "schema": rec["schema"]},
        }, fh)
    _recover_leftovers(crashed)
    assert not os.path.exists(jpath)
    with open(os.path.join(crashed, SCHEMA_NAME)) as fh:
        assert _json.load(fh) == {"partition_col": "y",
                                  "schema": rec["schema"]}
    spark.catalog.refreshByPath(crashed)
    rows = sorted(tuple(r) for r in spark.read.parquet(crashed).collect())
    assert rows == sorted(
        tuple(r) for r in spark.read.parquet(clean).collect()
    )


@pytest.mark.parametrize("kind", ["merge", "overwrite"])
def test_next_commit_sweeps_crashed_publish_tmp_files(spark, kind):
    """A writer that died inside ``write_json_atomic`` leaves its
    ``<record>.tmp.<pid>`` beside the table's records; the next commit
    deletes those files and commits the same rows as a clean run. A
    lock contender's tmp file is not such a record, and stays."""
    from tmdb_sync_spark.plans.partitioned import (
        MERGE_LOCK_NAME,
        SCHEMA_NAME,
        SWAP_JOURNAL_NAME,
    )

    d = tempfile.mkdtemp(prefix="pm_tmp_")
    clean, crashed = f"{d}/clean", f"{d}/crashed"
    for t in (clean, crashed):
        _keyed_base(spark, t)
    _run_commit(spark, clean, kind)
    strays = [f"{n}.tmp.99999" for n in (SCHEMA_NAME, SWAP_JOURNAL_NAME)]
    contender = f"{MERGE_LOCK_NAME}.tmp.99999.1"
    for name in strays + [contender]:
        with open(os.path.join(crashed, name), "w") as fh:
            fh.write('{"torn')
    _run_commit(spark, crashed, kind)
    left = set(os.listdir(crashed))
    assert not left & set(strays)
    assert contender in left
    assert _side_files(crashed) == _side_files(clean)
    rows = sorted(tuple(r) for r in spark.read.parquet(crashed).collect())
    assert rows == sorted(
        tuple(r) for r in spark.read.parquet(clean).collect()
    )


@pytest.mark.parametrize("path", ["writer", "recovery"])
@pytest.mark.parametrize("kind", ["merge", "overwrite"])
def test_manifest_at_first_swap_covers_old_and_staged_ranges(
    spark, monkeypatch, kind, path
):
    """Pre-swap superset: when the first partition swap starts, the
    record's key sets on disk must already cover, for every installed
    partition, both its old key set and its staged one — a crash inside
    the swaps then leaves the moved-key probe over-inclusive, never
    wrong. Holds on the writer's own commit and on recovery's
    roll-forward alike."""
    import json as _json

    import tmdb_sync_spark.plans.partitioned as pp

    d = tempfile.mkdtemp(prefix="pm_jpre_")
    target = f"{d}/t"
    _keyed_base(spark, target)
    with open(os.path.join(target, pp.SCHEMA_NAME)) as fh:
        old = _json.load(fh)["parts"]
    seen: list = []
    real_swap = pp._swap_partition

    def recording_swap(target_dir, staging, pdir):
        if not seen:
            with open(os.path.join(target_dir, pp.SCHEMA_NAME)) as fh:
                seen.append(_json.load(fh)["parts"])
            with open(os.path.join(target_dir, pp.SWAP_JOURNAL_NAME)) as fh:
                seen.append(_json.load(fh)["ops"])
        real_swap(target_dir, staging, pdir)

    monkeypatch.setattr(pp, "_swap_partition", recording_swap)
    if path == "recovery":
        _crash_after_journal(monkeypatch)
        with pytest.raises(_CrashAfterJournal):
            _run_commit(spark, target, kind)
        assert not seen
        pp._recover_leftovers(target)
    else:
        _run_commit(spark, target, kind)
    with open(os.path.join(target, pp.SCHEMA_NAME)) as fh:
        staged = _json.load(fh)["parts"]
    at_swap, ops = seen
    installs = [n for n, op in ops if op == "install"]
    assert installs
    for n in installs:
        assert set(at_swap[n]) >= set(old.get(n) or []) | set(staged[n]), (
            n, at_swap[n], old.get(n), staged[n])


# --- count_actions: the counts are observed on the staging write --------

_KYP = "k BIGINT, y INT, price DOUBLE"


def _counted_merge(spark, target, source):
    return merge_into_partitioned(
        spark, target, source, keys=["k"], partition_col="y",
        count_actions=True,
    )["counts"]


def test_counted_merge_of_empty_source_returns_no_counts(spark, tmp_path):
    import threading

    target = str(tmp_path / "t")
    write_partitioned(
        spark.createDataFrame([(1, 1996, 1.0)], _KYP), target, "y")
    out: dict = {}
    t = threading.Thread(
        target=lambda: out.update(c=_counted_merge(
            spark, target, spark.createDataFrame([], _KYP))),
        daemon=True,
    )
    t.start()
    t.join(timeout=120)
    assert not t.is_alive(), "reading the observed counts hung"
    assert out["c"] == {}


def test_counted_all_update_batch_returns_only_updates(spark, tmp_path):
    target = str(tmp_path / "t")
    write_partitioned(spark.createDataFrame(
        [(1, 1996, 1.0), (2, 1996, 2.0), (3, 1997, 3.0)], _KYP), target, "y")
    source = spark.createDataFrame([(1, 1996, 10.0), (2, 1996, 20.0)], _KYP)
    assert _counted_merge(spark, target, source) == {"update": 2}


def test_counted_mixed_batch_equals_group_by_action(spark, tmp_path):
    from tmdb_sync_spark.plans.merge import ACTION_COL, merge_into

    target = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(k, 1996 + k % 3, float(k)) for k in range(1, 13)], _KYP)
    write_partitioned(base, target, "y")
    # updates and inserts in 1996/1997, an insert into a new 1999; the
    # untouched rows of 1996/1997 are noops, 1998 is not read at all
    source = spark.createDataFrame(
        [(3, 1996, 30.0), (4, 1997, 40.0), (7, 1997, 70.0),
         (20, 1996, 2.0), (21, 1999, 2.1)], _KYP)
    want = {
        r[ACTION_COL]: r["count"]
        for r in merge_into(
            spark.read.parquet(target).where(F.col("y").isin(1996, 1997)),
            source, ["k"], with_action=True,
        ).groupBy(ACTION_COL).count().collect()
    }
    assert set(want) == {"insert", "update", "noop"}
    assert _counted_merge(spark, target, source) == want


def test_concurrent_counted_merges_keep_their_own_counts(spark, tmp_path):
    import threading

    targets = [str(tmp_path / "a"), str(tmp_path / "b")]
    for t in targets:
        write_partitioned(spark.createDataFrame(
            [(1, 1996, 1.0), (2, 1997, 2.0)], _KYP), t, "y")
    sources = [
        spark.createDataFrame([(1, 1996, 9.0), (5, 1996, 5.0)], _KYP),
        spark.createDataFrame(
            [(k, 1997, 0.0) for k in range(10, 17)], _KYP),
    ]
    got: dict = {}
    errors: list = []

    def run(i):
        try:
            got[i] = _counted_merge(spark, targets[i], sources[i])
        except Exception as e:          # surfaced below, not swallowed
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads), "a counted merge hung"
    assert not errors, errors
    assert got == {0: {"update": 1, "insert": 1},
                   1: {"insert": 7, "noop": 1}}
