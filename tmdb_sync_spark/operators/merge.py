"""MERGE / upsert operators (SURVEY.md §2.1 S8, §2.3 J1+J4, §2.4 A8).

The reference upsert pipeline (``app/catalog/upsert.py:46-103``): match on
the composite key, ``$set`` updated fields, ``$setOnInsert`` creation
fields, preserve manually-curated columns on update. Rebuilt as one
set-oriented MERGE (``tmdb_sync_spark.plans.merge``), oracled in DuckDB as
the equivalent FULL OUTER JOIN + COALESCE select (SURVEY §5.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tmdb_sync_spark.io import table
from tmdb_sync_spark.plans.merge import merge_into
from tmdb_sync_spark.registry import register
from tmdb_sync_spark.util import register_reset_hook

_SOURCE_SQL = """
    WITH updates AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice + 1000.0 AS o_totalprice,
               '1-URGENT' AS o_orderpriority,
               o_orderdate
        FROM orders WHERE o_orderkey % 10 = 0
    ),
    inserts AS (
        SELECT -(o_orderkey + 1) AS o_orderkey, o_custkey,
               'N' AS o_orderstatus,
               o_totalprice * 0.5 AS o_totalprice,
               '5-LOW' AS o_orderpriority,
               o_orderdate
        FROM orders WHERE o_orderkey % 100 = 0
    ),
    source AS (SELECT * FROM updates UNION ALL SELECT * FROM inserts)
"""


def _merge_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic delta derived from ``orders`` itself (FIXTURES.md §A):
    every 10th key gets an update, every 100th key spawns a synthetic new
    key ``-(k+1)`` — strictly negative for every real key (the driver's
    synthetic orderkeys start at 0, so a bare negation would collide on
    key 0), hence collision-free at ANY scale factor (the previous
    ``+10_000_000`` offset collided with real keys from SF≈2, which
    would trip merge_into's source-uniqueness guard)."""
    o = table(spark, sf_dir, "orders")
    updates = o.where(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        F.lit("1-URGENT").alias("o_orderpriority"),
        "o_orderdate",
    )
    inserts = o.where(F.col("o_orderkey") % 100 == 0).select(
        (-(F.col("o_orderkey") + 1)).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        (F.col("o_totalprice") * 0.5).alias("o_totalprice"),
        F.lit("5-LOW").alias("o_orderpriority"),
        "o_orderdate",
    )
    return updates.unionAll(inserts)


@register(
    "j1_merge_upsert",
    oracle=_SOURCE_SQL
    + """
    SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS order_key,
           COALESCE(t.o_custkey, s.o_custkey) AS cust_key,
           COALESCE(t.o_orderstatus, s.o_orderstatus) AS order_status,
           CASE WHEN t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL THEN s.o_totalprice
                WHEN t.o_orderkey IS NOT NULL THEN t.o_totalprice
                ELSE s.o_totalprice END AS total_price,
           CASE WHEN t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL THEN s.o_orderpriority
                WHEN t.o_orderkey IS NOT NULL THEN t.o_orderpriority
                ELSE s.o_orderpriority END AS order_priority,
           COALESCE(t.o_orderdate, s.o_orderdate) AS order_date,
           CASE WHEN t.o_orderkey IS NULL THEN 'insert'
                WHEN s.o_orderkey IS NULL THEN 'noop'
                ELSE 'update' END AS merge_action
    FROM orders t
    FULL OUTER JOIN source s ON t.o_orderkey = s.o_orderkey
    """,
)
def j1_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+J4+S8: post-state of MERGE INTO orders USING delta ON orderkey.

    - WHEN MATCHED: ``$set`` totalprice/priority, *preserve* order_date
      (J4's keep-existing rule, ``app/catalog/upsert.py:79-85``).
    - WHEN NOT MATCHED: insert the source row.
    - ``merge_action`` column = insert/update classification → the
      reference's inserted/updated counters (``app/sync_top.py:275-286``,
      A8) are per-action counts over this output (observed metrics) —
      value-checked here per-row (stronger than the count aggregate) and
      as live counters by ``st4_a8_cursor_errors``.
    """
    target = table(spark, sf_dir, "orders")
    source = _merge_source(spark, sf_dir)
    merged = merge_into(
        target,
        source,
        keys=["o_orderkey"],
        matched_update={
            "o_totalprice": F.col("s.o_totalprice"),
            "o_orderpriority": F.col("s.o_orderpriority"),
            "o_orderstatus": F.col("t.o_orderstatus"),  # preserve
            "o_custkey": F.col("t.o_custkey"),
            "o_orderdate": F.col("t.o_orderdate"),  # preserve (J4)
        },
        with_action=True,
    )
    return merged.select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_custkey").alias("cust_key"),
        F.col("o_orderstatus").alias("order_status"),
        F.col("o_totalprice").alias("total_price"),
        F.col("o_orderpriority").alias("order_priority"),
        F.col("o_orderdate").alias("order_date"),
        F.col("merge_action"),
    )


_PM_CACHE: dict[tuple, str] = {}
register_reset_hook(_PM_CACHE.clear)


def _partitioned_merge_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build a year-partitioned orders table and MERGE a delta batch into
    it — once per (application, sf_dir, orders content fingerprint);
    queries read the result. The fingerprint (and the reset hook above)
    follow the engine-wide invalidation contract: a driver-side
    regeneration of orders.parquet must rebuild this staged table, never
    serve aggregates computed from the previous corpus."""
    from tmdb_sync_spark.plans.partitioned import (
        merge_into_partitioned,
        write_partitioned,
    )
    from tmdb_sync_spark.util import file_fingerprint, scratch_dir

    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        file_fingerprint(f"{sf_dir}/orders.parquet"),
    )
    if key not in _PM_CACHE:
        d = scratch_dir("pm_orders_")
        target = f"{d}/orders"
        orders = table(spark, sf_dir, "orders").withColumn(
            "o_year", F.year("o_orderdate").cast("int")
        )
        write_partitioned(orders, target, "o_year",
                          manifest_key="o_orderkey")
        from tmdb_sync_spark.plans.partitioned import read_partitioned

        base = read_partitioned(spark, target)
        updates = (
            base.where(
                (F.col("o_orderkey") % 100 == 0)
                & F.col("o_year").isin(1996, 1997)
            )
            .select(
                "o_orderkey", "o_year",
                (F.col("o_totalprice") + 1000).alias("o_totalprice"),
            )
        )
        # negated synthetic keys: collision-free at any SF (see
        # _merge_source)
        inserts = base.where(F.col("o_orderkey") % 500 == 0).select(
            (-(F.col("o_orderkey") + 1)).alias("o_orderkey"),
            F.lit(1996).cast("int").alias("o_year"),
            "o_totalprice",
        )
        merge_into_partitioned(
            spark, target, updates.unionByName(inserts),
            keys=["o_orderkey"], partition_col="o_year",
        )
        _PM_CACHE[key] = target
    return _PM_CACHE[key]


@register(
    "j1_partitioned_merge",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year,
               o_totalprice
        FROM orders
    ),
    post AS (
        SELECT o_orderkey, o_year,
               CASE WHEN o_orderkey % 100 = 0 AND o_year IN (1996, 1997)
                    THEN o_totalprice + 1000 ELSE o_totalprice END AS price
        FROM base
        UNION ALL
        SELECT -(o_orderkey + 1), 1996, o_totalprice
        FROM base WHERE o_orderkey % 500 = 0
    )
    SELECT o_year,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           o_year IN (1996, 1997) AS is_touched
    FROM post
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def j1_partitioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/J1 at scale: MERGE that rewrites only touched partitions.

    A year-partitioned orders table takes a delta batch (price updates in
    1996-97 + new rows into 1996) through
    ``plans.partitioned.merge_into_partitioned``: the target scan carries
    a partition filter on the touched years (file-index pruning — the
    1995/1998-2001 partitions are never opened), and only those partition
    directories are rewritten. The oracle recomputes the post-state from
    the raw table; untouched-partition integrity is additionally asserted
    physically (file mtimes) in tests/test_partitioned_merge.py.
    """
    t = _partitioned_merge_dir(spark, sf_dir)
    from tmdb_sync_spark.plans.partitioned import read_partitioned

    post = read_partitioned(spark, t)
    return (
        post.groupBy("o_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .cast("double").alias("sum_price"),
        )
        .select(
            "o_year", "n_orders", "sum_price",
            F.col("o_year").isin(1996, 1997).alias("is_touched"),
        )
        .orderBy("o_year")
    )
