"""SparkSession factory.

Pins the session configuration the whole engine assumes:
- UTC session timezone (the reference stores naive-UTC ``utcnow()``
  timestamps, SURVEY.md §2.8 F5; parity with the DuckDB oracle requires a
  fixed zone).
- AQE on (runtime shuffle-partition coalescing, skew-join handling) — the
  scale posture for 100 TB runs.
- Arrow on for any pandas interchange (multimodal stubs, ``toPandas``).
- File listing on the driver. When a read names more paths than
  ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (Spark's
  default is 32), Spark lists them in a separate job. The master here is
  always ``local[N]``, so that job runs on this JVM's own task threads:
  it adds a job's scheduling cost and no I/O parallelism. On a 4-vCPU
  host the listing job over the 105-partition movies table took several
  hundred ms of every catalog read; the driver lists the same
  directories in about 60 ms.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

LISTING_THRESHOLD_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"
LISTING_THRESHOLD = str(1 << 30)


def get_spark(app_name: str = "tmdb-sync-spark", *, cpus: str | None = None,
              shuffle_partitions: str | None = None) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle_partitions)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # master is always local[N]: a listing job gains no parallelism
        .config(LISTING_THRESHOLD_CONF, LISTING_THRESHOLD)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    # getOrCreate on a pre-existing session ignores every builder
    # .config(); enforce ALL the runtime-settable SQL confs the engine's
    # documented posture assumes (not just the timezone — review finding:
    # a pre-built session with Arrow off would silently run every
    # mapInPandas stage through row-pickling). JVM-launch settings
    # (master, driver memory, UI) cannot be changed post-hoc and are
    # honestly the caller's.
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.shuffle.partitions", shuffle_partitions),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.parquet.aggregatePushdown", "true"),
        (LISTING_THRESHOLD_CONF, LISTING_THRESHOLD),
    ):
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)
    return spark
