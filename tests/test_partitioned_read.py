"""Per-call planning cost of the partitioned readers and of the merge's
target read.

Building a frame over a maintained table must run no Spark job: the
session lists directories on the driver (``session.get_spark`` pins the
parallel-listing threshold), and the readers take the schema from the
table's ``_table_schema.json`` record instead of inferring it. A point
read opens only the partition whose exact key set holds the key.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.types import StructType

from tmdb_sync_spark.plans.partitioned import (
    SCHEMA_NAME,
    merge_into_partitioned,
    read_partitioned,
    read_partitioned_for_key,
    write_partitioned,
)
from tmdb_sync_spark.session import (
    LISTING_THRESHOLD,
    LISTING_THRESHOLD_CONF,
    get_spark,
)

# more partitions than Spark's default parallel-listing threshold (32)
N_PARTS = 40


def _wide_table(spark, path: str) -> None:
    # partition y holds keys y, 500 and 1000 + y, so every partition's
    # key set contains 500: a lookup of 500 keeps all N_PARTS candidates
    rows = [(k, y, f"v{k}") for y in range(N_PARTS)
            for k in (y, 500, 1000 + y)]
    df = spark.createDataFrame(rows, "k BIGINT, y INT, v STRING")
    write_partitioned(df, path, "y", cluster_by=("k",), manifest_key="k")


def _jobs_while(spark, build):
    sc = spark.sparkContext
    group = f"read-planning-{id(build)}"
    sc.setJobGroup(group, "frame construction")
    try:
        df = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, list(sc.statusTracker().getJobIdsForGroup(group))


def test_get_spark_pins_listing_threshold(spark):
    assert spark.conf.get(LISTING_THRESHOLD_CONF) == LISTING_THRESHOLD
    spark.conf.set(LISTING_THRESHOLD_CONF, "32")
    try:
        # a pre-existing session keeps its runtime conf through
        # getOrCreate; get_spark must enforce the pin anyway
        assert get_spark().conf.get(LISTING_THRESHOLD_CONF) == LISTING_THRESHOLD
    finally:
        spark.conf.set(LISTING_THRESHOLD_CONF, LISTING_THRESHOLD)


def test_frame_construction_runs_no_job(spark, tmp_path):
    path = str(tmp_path / "t")
    _wide_table(spark, path)
    with open(os.path.join(path, SCHEMA_NAME)) as fh:
        stored = StructType.fromJson(json.load(fh)["schema"])

    full, jobs = _jobs_while(spark, lambda: read_partitioned(spark, path))
    assert jobs == []
    point, jobs = _jobs_while(
        spark, lambda: read_partitioned_for_key(spark, path, "k", 500)
    )
    assert jobs == []
    assert len({os.path.dirname(f) for f in point.inputFiles()}) == N_PARTS

    for df in (full, point):
        assert [(f.name, f.dataType) for f in df.schema] == [
            (f.name, f.dataType) for f in stored
        ]
        assert df.columns[-1] == "y"
    # the stored schema reads back exactly as inference would
    assert full.schema == spark.read.parquet(path).schema
    assert full.count() == 3 * N_PARTS
    assert [r["v"] for r in point.where("k = 1005").collect()] == ["v1005"]
    assert point.where("k = 500").count() == N_PARTS


def _catalog_like_table(spark, path: str) -> None:
    # the movies layout: year-scoped ids y * 10_000 + i, plus low
    # top-feed ids 1..30 spread over every partition, so each
    # partition's key RANGE reaches down to its low ids and overlaps
    # the ranges of all the others
    rows = [(y * 10_000 + i, y, f"v{y}.{i}") for y in range(1, 11)
            for i in range(1, 6)]
    rows += [(k, 1 + k % 10, f"top{k}") for k in range(1, 31)]
    df = spark.createDataFrame(rows, "k BIGINT, y INT, v STRING")
    write_partitioned(df, path, "y", cluster_by=("k",), manifest_key="k")


def test_point_read_opens_only_the_partition_holding_the_key(spark, tmp_path):
    path = str(tmp_path / "t")
    _catalog_like_table(spark, path)
    for k, y, v in ((50_003, 5, "v5.3"), (13, 4, "top13")):
        point = read_partitioned_for_key(spark, path, "k", k)
        dirs = {os.path.dirname(f) for f in point.inputFiles()}
        assert [d.rsplit("/", 1)[1] for d in dirs] == [f"y={y}"]
        assert [r["v"] for r in point.where(f"k = {k}").collect()] == [v]


def _counting_target_reads(monkeypatch, spark) -> list:
    import tmdb_sync_spark.plans.partitioned as pp

    real, jobs = pp._read_target, []

    def counted(*a, **k):
        df, ids = _jobs_while(spark, lambda: real(*a, **k))
        jobs.append(len(ids))
        return df

    monkeypatch.setattr(pp, "_read_target", counted)
    return jobs


def _moderate(spark, path: str) -> list:
    from pyspark.sql import functions as F

    src = spark.createDataFrame(
        [(50_003, 5, "new")], "k BIGINT, y INT, v STRING"
    )
    merge_into_partitioned(
        spark, path, src, ["k"], "y",
        matched_update={"v": F.concat(F.col("t.v"), F.col("s.v"))},
        detect_moved_keys=False,
    )
    return sorted(tuple(r) for r in read_partitioned(spark, path).collect())


def test_merge_builds_target_frame_without_a_job(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    _catalog_like_table(spark, path)
    jobs = _counting_target_reads(monkeypatch, spark)
    rows = _moderate(spark, path)
    assert jobs == [0]
    assert (50_003, "v5.3new", 5) in rows and len(rows) == 80


def test_merge_without_schema_record_infers_and_matches(
    spark, tmp_path, monkeypatch
):
    with_rec, without = str(tmp_path / "a"), str(tmp_path / "b")
    for p in (with_rec, without):
        _catalog_like_table(spark, p)
    os.remove(os.path.join(without, SCHEMA_NAME))
    jobs = _counting_target_reads(monkeypatch, spark)
    assert _moderate(spark, without) == _moderate(spark, with_rec)
    # the inferred read runs its schema-inference job; the path read none
    assert jobs[0] > 0 and jobs[1] == 0


def _parquet_files(path: str) -> dict:
    return {
        d: sorted(f for f in os.listdir(os.path.join(path, d))
                  if f.endswith(".parquet"))
        for d in sorted(os.listdir(path)) if d.startswith("y=")
    }


def test_full_write_lands_one_file_per_partition_dir(spark, tmp_path):
    path = str(tmp_path / "t")
    rows = [(k, k % 5, f"v{k}") for k in range(200)]
    # every input task holds rows of every partition value
    df = spark.createDataFrame(rows, "k BIGINT, y INT, v STRING")
    df = df.repartition(8)
    assert df.rdd.getNumPartitions() == 8
    write_partitioned(df, path, "y", cluster_by=("k",), manifest_key="k")

    files = _parquet_files(path)
    assert sorted(files) == [f"y={y}" for y in range(5)]
    assert all(len(fs) == 1 for fs in files.values()), files
    assert sorted(
        tuple(r) for r in read_partitioned(spark, path).collect()
    ) == sorted((k, v, y) for k, y, v in rows)
    with open(os.path.join(path, SCHEMA_NAME)) as fh:
        parts = json.load(fh)["parts"]
    assert parts == {
        f"y={y}": [k for k in range(200) if k % 5 == y] for y in range(5)
    }


def test_one_row_merge_leaves_one_file_in_a_multi_file_dir(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    rows = [(k, k % 3, f"v{k}") for k in range(60)]
    # a table written without write_partitioned: several files per dir
    spark.createDataFrame(rows, "k BIGINT, y INT, v STRING").repartition(
        3
    ).write.partitionBy("y").parquet(path)
    assert len(_parquet_files(path)["y=1"]) > 1

    src = spark.createDataFrame([(4, 1, "new")], "k BIGINT, y INT, v STRING")
    merge_into_partitioned(
        spark, path, src, ["k"], "y",
        matched_update={"v": F.col("s.v")},
    )
    files = _parquet_files(path)
    assert len(files["y=1"]) == 1
    # untouched dirs keep their files
    assert len(files["y=0"]) > 1 and len(files["y=2"]) > 1
    want = sorted((k, "new" if k == 4 else v, y) for k, y, v in rows)
    assert sorted(
        tuple(r) for r in read_partitioned(spark, path).collect()
    ) == want


def test_meta_sync_status_sorts_in_one_task(spark, tmp_path):
    from datetime import datetime

    from pyspark.sql import functions as F

    from tmdb_sync_spark.api import meta_sync_status

    path = str(tmp_path / "movies")
    ts = datetime(2024, 5, 1, 12, 0)
    rows = [
        (i, "movie" if i % 4 else "tv", None if i % 11 == 0 else 1990 + i % 7,
         ts if i % 2 else None, ts if i % 3 == 0 else None)
        for i in range(1, 120)
    ]
    write_partitioned(
        spark.createDataFrame(rows, (
            "id BIGINT, content_type STRING, year INT, "
            "last_popularity_sync_at TIMESTAMP, "
            "last_vote_count_sync_at TIMESTAMP"
        )).repartition(4),
        path, "year", cluster_by=("id",),
    )
    movies = read_partitioned(spark, path)

    # the expression before the one-task sort: a global orderBy
    total = F.count(F.lit(1))
    with_pop = F.count(F.col("last_popularity_sync_at"))
    with_vc = F.count(F.col("last_vote_count_sync_at"))
    want = (
        movies.where(F.col("content_type") == "movie")
        .groupBy("year")
        .agg(
            total.alias("total"),
            F.max("last_popularity_sync_at").alias("last_popularity"),
            F.max("last_vote_count_sync_at").alias("last_vote_count"),
            (with_pop / total).alias("popularity_coverage"),
            (with_vc / total).alias("vote_count_coverage"),
        )
        .orderBy("year")
        .collect()
    )
    assert want[0]["year"] is None and len(want) == 8

    got, jobs = _jobs_while(
        spark, lambda: meta_sync_status(movies).collect()
    )
    assert got == want
    assert len(jobs) <= 2, jobs


def _record(path: str) -> dict:
    with open(os.path.join(path, SCHEMA_NAME)) as fh:
        return json.load(fh)


def test_keyed_commits_keep_key_sets_in_the_one_record(spark, tmp_path):
    from tmdb_sync_spark.plans import manifest as km

    path = str(tmp_path / "t")

    def assert_one_record():
        pdirs = sorted(e for e in os.listdir(path) if e.startswith("y="))
        assert sorted(os.listdir(path)) == [SCHEMA_NAME] + pdirs
        rec = _record(path)
        assert rec["key"] == "k" and rec["partition_col"] == "y"
        assert rec["parts"] == {
            d: km.harvest_keys(os.path.join(path, d), "k") for d in pdirs
        }

    _catalog_like_table(spark, path)
    assert_one_record()
    # moves top-feed key 13 from y=4 to y=7 and adds a new partition
    src = spark.createDataFrame(
        [(13, 7, "moved"), (110_001, 11, "new")], "k BIGINT, y INT, v STRING"
    )
    merge_into_partitioned(spark, path, src, ["k"], "y")
    assert_one_record()
    assert _record(path)["parts"]["y=11"] == [110_001]
    assert 13 in _record(path)["parts"]["y=7"]


def test_record_without_key_sets_reads_and_heals(spark, tmp_path):
    """A table of an older writer: a record without key sets, beside a
    stale ``_key_manifest.json`` that is never read. Point reads fall
    back to the full read, and the next merge publishes exact sets."""
    from tmdb_sync_spark.api import get_movie
    from tmdb_sync_spark.plans import manifest as km

    path = str(tmp_path / "movies")
    rows = [(y * 100 + i, "movie", f"m{y}.{i}", y)
            for y in (2001, 2002, 2003) for i in range(3)]
    df = spark.createDataFrame(
        rows, "id BIGINT, content_type STRING, title STRING, year INT")
    write_partitioned(df, path, "year", manifest_key="id")
    rec = _record(path)
    with open(os.path.join(path, SCHEMA_NAME), "w") as fh:
        json.dump({"partition_col": "year", "schema": rec["schema"]}, fh)
    # the stale file claims the id lives in another partition
    with open(os.path.join(path, "_key_manifest.json"), "w") as fh:
        json.dump({"version": 2, "key": "id", "partition_col": "year",
                   "parts": {"year=2001": [200_201], "year=2002": [],
                             "year=2003": []}}, fh)

    point = read_partitioned_for_key(spark, path, "id", 200_201)
    assert len({os.path.dirname(f) for f in point.inputFiles()}) == 3
    row = get_movie(point, 200_201)
    assert row is not None and row["title"] == "m2002.1"
    assert get_movie(read_partitioned_for_key(spark, path, "id", 7), 7) \
        is None

    src = spark.createDataFrame(
        [(200_201, "movie", "renamed", 2002)],
        "id BIGINT, content_type STRING, title STRING, year INT")
    merge_into_partitioned(spark, path, src, ["id", "content_type"], "year")
    pdirs = sorted(e for e in os.listdir(path) if e.startswith("year="))
    assert _record(path)["parts"] == {
        d: km.harvest_keys(os.path.join(path, d), "id") for d in pdirs
    }
    point = read_partitioned_for_key(spark, path, "id", 200_201)
    assert [os.path.basename(os.path.dirname(f))
            for f in point.inputFiles()] == ["year=2002"]
    assert get_movie(point, 200_201)["title"] == "renamed"


def test_damaged_record_degrades_like_a_missing_one(spark, tmp_path):
    """A record that is not a JSON object: reads infer the schema, a
    point read falls back to the full read, and the next merge
    re-harvests the key sets into a whole record."""
    from tmdb_sync_spark.plans import manifest as km

    path = str(tmp_path / "t")
    _catalog_like_table(spark, path)
    want = sorted(tuple(r) for r in read_partitioned(spark, path).collect())
    with open(os.path.join(path, SCHEMA_NAME), "w") as fh:
        fh.write("{not json")
    assert sorted(
        tuple(r) for r in read_partitioned(spark, path).collect()
    ) == want
    point = read_partitioned_for_key(spark, path, "k", 13)
    assert len({os.path.dirname(f) for f in point.inputFiles()}) == 10
    assert [r["v"] for r in point.where("k = 13").collect()] == ["top13"]

    src = spark.createDataFrame(
        [(50_003, 5, "new")], "k BIGINT, y INT, v STRING"
    )
    merge_into_partitioned(spark, path, src, ["k"], "y")
    pdirs = sorted(e for e in os.listdir(path) if e.startswith("y="))
    assert _record(path)["parts"] == {
        d: km.harvest_keys(os.path.join(path, d), "k") for d in pdirs
    }
    point = read_partitioned_for_key(spark, path, "k", 50_003)
    assert [os.path.basename(os.path.dirname(f))
            for f in point.inputFiles()] == ["y=5"]
    assert [r["v"] for r in point.where("k = 50003").collect()] == ["new"]
