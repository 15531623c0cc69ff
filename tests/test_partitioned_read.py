"""Per-call planning cost of the partitioned readers.

Building a frame over a maintained table must run no Spark job: the
session lists directories on the driver (``session.get_spark`` pins the
parallel-listing threshold), and the readers take the schema from the
table's ``_table_schema.json`` record instead of inferring it.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.types import StructType

from tmdb_sync_spark.plans.partitioned import (
    SCHEMA_NAME,
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
    # partition y holds keys y and 1000 + y, so every partition's key
    # range contains 500: a lookup of 500 keeps all N_PARTS candidates
    rows = [(k, y, f"v{k}") for y in range(N_PARTS) for k in (y, 1000 + y)]
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
    assert full.count() == 2 * N_PARTS
    assert [r["v"] for r in point.where("k = 1005").collect()] == ["v1005"]
