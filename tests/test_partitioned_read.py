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
