"""Oracle-checked queries over the incremental ingestion pipeline (ST1–ST5).

The scenario below actually *runs* the checkpointed pipeline (three bounded
sync runs into a temp state dir — initial, resumed, and a re-sync that
exercises the MERGE update path), then the registered queries read the
resulting state tables. The DuckDB oracles reproduce the expected post-state
purely from the fixture formulas — so cursor resume, dead-lettering, MERGE
insert/update classification, and $setOnInsert preservation are all
value-checked end-to-end, not just unit-tested.

Scenario (deterministic):
- run 1: resume from empty cursor → pages 1-5   (ids 1..100)
- run 2: resume → pages 6-10                    (ids 101..200)
- run 3: explicit re-sync of pages 1-3          (ids 1..60 → all updates)
- injected failures: id%97 → 'http', id%89 → 'other' (ids 89/97/178/194)
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tmdb_sync_spark.plans.partitioned import read_partitioned
from tmdb_sync_spark.registry import register
from tmdb_sync_spark.sources import fixture
from tmdb_sync_spark.streaming import state as st
from tmdb_sync_spark.streaming.ingest import CURSOR_KEY, run_sync_top

_SCENARIO: dict[str, str] = {}
_SCENARIO_LOCK = threading.Lock()


def scenario_dir(spark: SparkSession) -> str:
    """Run the three-run ingest scenario once per Spark application.

    Serialized under a lock: the engine supports concurrent driver
    threads (the streaming windows run on per-query sub-sessions for
    exactly that), and an unsynchronized check-then-act here would let
    two first callers each execute the full three-run scenario — the
    most expensive setup in the suite — into separate scratch dirs. The
    lock is held across the runs; concurrent callers of OTHER queries
    don't pass through here, so nothing else serializes."""
    key = spark.sparkContext.applicationId
    with _SCENARIO_LOCK:
        if key not in _SCENARIO:
            from tmdb_sync_spark.util import scratch_dir

            d = scratch_dir("tmdb_ingest_")
            run_sync_top(spark, d, max_pages=5, resume=True)
            run_sync_top(spark, d, max_pages=5, resume=True)
            run_sync_top(spark, d, max_pages=3, resume=False, start_page=1)
            _SCENARIO[key] = d
    return _SCENARIO[key]


_FAILED = "(id % 97 = 0 OR id % 89 = 0)"


@register(
    "st1_st3_ingest_resume",
    oracle=f"""
    WITH feed AS ({fixture.sql_top_feed(200)}),
    live AS (SELECT * FROM feed WHERE NOT {_FAILED}),
    cc AS (
        SELECT f.id, g.range AS k,
               {fixture.sql_country_code('f.id', 'g.range')} AS code
        FROM live f, range(0, 3) g
        WHERE g.range < 1 + f.id % 3
    ),
    cc_agg AS (
        SELECT id,
               COALESCE(string_agg(code, ',' ORDER BY k)
                        FILTER (WHERE code <> ''), '') AS cc_canon
        FROM cc GROUP BY id
    ),
    frames AS ({fixture.SQL_FRAMES_FROM_FEED}),
    valid AS (
        SELECT * FROM frames
        WHERE aspect_ratio BETWEEN 1.5 AND 2.2 AND vote_average >= 0
    ),
    dedup AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY id, path ORDER BY j) AS rn
            FROM valid) WHERE rn = 1
    ),
    best AS (
        SELECT id, path FROM (
            SELECT id, path, row_number() OVER (
                PARTITION BY id
                ORDER BY vote_average DESC, width DESC, path) AS rn
            FROM dedup) WHERE rn = 1
    ),
    cnt AS (SELECT id, COUNT(*) AS n FROM dedup GROUP BY id)
    SELECT f.id,
           CAST(substr(f.release_date, 1, 4) AS INT) AS year,
           list_contains(f.genre_ids, 16) AS is_animated,
           COALESCE({fixture.sql_title_ru('f.id')}, f.title, f.name)
               AS display_title,
           COALESCE(a.cc_canon, '') AS cc_canon,
           b.path AS backdrop_path,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_valid_frames,
           f.id <= 60 AS was_updated
    FROM live f
    LEFT JOIN cc_agg a USING (id)
    LEFT JOIN best b USING (id)
    LEFT JOIN cnt c USING (id)
    ORDER BY f.id
    """,
)
def st1_st3_ingest_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1+ST2+ST3+J1+J4: post-state of the resumable ingest scenario.

    ``was_updated`` proves $setOnInsert semantics: ``created_at`` survives
    the run-3 re-sync MERGE while ``synced_at`` advances
    (``app/catalog/upsert.py:68,91``); dead-lettered ids are absent.
    """
    d = scenario_dir(spark)
    movies = read_partitioned(spark, f"{d}/movies")
    return movies.select(
        "id", "year", "is_animated",
        F.coalesce("title_ru", "title", "name").alias("display_title"),
        F.array_join("country_codes", ",").alias("cc_canon"),
        "backdrop_path", "n_valid_frames",
        (F.col("synced_at") > F.col("created_at")).alias("was_updated"),
    ).orderBy("id")


@register(
    "st4_a8_cursor_errors",
    oracle=f"""
    WITH ids AS (SELECT range + 1 AS id FROM range(0, 200)),
    fail AS (
        SELECT id, CASE WHEN id % 97 = 0 THEN 'http' ELSE 'other' END AS category
        FROM ids WHERE {_FAILED}
    ),
    run3 AS (SELECT id FROM ids WHERE id <= 60 AND NOT {_FAILED})
    SELECT 'top_vote_count_movie' AS cursor_key,
           3 AS cursor_page,
           CAST(0 AS BIGINT) AS run_inserted,
           CAST((SELECT COUNT(*) FROM run3) AS BIGINT) AS run_updated,
           CAST((SELECT COUNT(*) FROM fail WHERE category = 'http') AS BIGINT)
               AS n_http_errors,
           CAST((SELECT COUNT(*) FROM fail WHERE category = 'other') AS BIGINT)
               AS n_other_errors,
           CAST((SELECT COUNT(*) FROM ids) -
                (SELECT COUNT(*) FROM fail) AS BIGINT) AS n_movies
    """,
)
def st4_a8_cursor_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1+ST4+A8: final cursor row, dead-letter taxonomy, table size.

    The cursor reflects the *last* run (explicit re-sync of pages 1-3 →
    page=3, 0 inserted, 60 updated — the reference's per-run counters,
    ``app/sync_top.py:275-286``); the error log is append-only across runs
    (``sync_errors`` semantics, ``app/mongo.py:11``).
    """
    d = scenario_dir(spark)
    # filter to THIS job's cursor row: the cursor file is multi-key by
    # design (the reference has a second years:{type}:{year} cursor
    # family), and an unfiltered read would explode the crossJoins below
    # one row per key
    cursor = st.read_state(spark, f"{d}/cursors").where(
        F.col("key") == CURSOR_KEY
    ).select(
        F.col("key").alias("cursor_key"),
        F.col("page").alias("cursor_page"),
        F.col("inserted").alias("run_inserted"),
        F.col("updated").alias("run_updated"),
    )
    # explicit schema: a scenario whose batches all pass would leave a
    # FILE-LESS errors root (dynamic overwrite of an empty frame), and
    # bare inference raises UNABLE_TO_INFER_SCHEMA; the declared schema
    # reads it as zero rows. Latent today (the fixture always fails some
    # ids) — found while building api.sync_status over the same table.
    from tmdb_sync_spark.streaming.ingest import ERROR_SCHEMA

    errors = spark.read.schema(ERROR_SCHEMA).parquet(f"{d}/errors")
    err_counts = errors.agg(
        F.sum(F.when(F.col("category") == "http", 1).otherwise(0))
         .cast("long").alias("n_http_errors"),
        F.sum(F.when(F.col("category") == "other", 1).otherwise(0))
         .cast("long").alias("n_other_errors"),
    )
    n_movies = read_partitioned(spark, f"{d}/movies").agg(
        F.count(F.lit(1)).alias("n_movies"))
    return cursor.crossJoin(err_counts).crossJoin(n_movies)


@register(
    "w1_j4_frames_moderation",
    oracle=f"""
    WITH feed AS ({fixture.sql_top_feed(200)}),
    live AS (SELECT * FROM feed WHERE NOT {_FAILED}),
    frames AS ({fixture.sql_frames_from("live")}),
    valid AS (
        SELECT * FROM frames
        WHERE aspect_ratio BETWEEN 1.5 AND 2.2 AND vote_average >= 0
    ),
    dedup AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY id, path ORDER BY j) AS rn
            FROM valid) WHERE rn = 1
    ),
    best AS (
        SELECT id, path FROM (
            SELECT id, path, row_number() OVER (
                PARTITION BY id
                ORDER BY vote_average DESC, width DESC, path) AS rn
            FROM dedup) WHERE rn = 1
    ),
    marked AS (SELECT id, path FROM best WHERE id % 10 = 0),
    kept AS (
        SELECT d.* FROM dedup d
        LEFT JOIN marked m ON d.id = m.id AND d.path = m.path
        WHERE m.path IS NULL
    ),
    best2 AS (
        SELECT id, path FROM (
            SELECT id, path, row_number() OVER (
                PARTITION BY id
                ORDER BY vote_average DESC, width DESC, path) AS rn
            FROM kept) WHERE rn = 1
    )
    SELECT f.id,
           b.path AS old_backdrop,
           b2.path AS new_backdrop,
           CAST(CASE WHEN m.path IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS n_incorrect
    FROM live f
    LEFT JOIN best b USING (id)
    LEFT JOIN marked m USING (id)
    LEFT JOIN best2 b2 USING (id)
    ORDER BY f.id
    """,
)
def w1_j4_frames_moderation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR3+AR6+W1 composed: the frames-moderation endpoint flow.

    The reference marks paths incorrect ($addToSet,
    ``app/endpoints/frames.py:52-55``) and recomputes ``backdrop_path``
    excluding them (``app/utils/frames.py:11-12`` + argmax) in a
    read-modify-write loop per document. Here: the moderation set is a
    DataFrame (every 10th item denylists its *current* backdrop), the
    exclusion is an anti-join on (id, path), and the recompute is one
    set-oriented argmax over the survivors — no per-row round trips.
    Runs against the ingested movies state, so the old backdrop comes
    from the pipeline's MERGE output, not recomputed from scratch.
    """
    d = scenario_dir(spark)
    movies = read_partitioned(spark, f"{d}/movies")
    from tmdb_sync_spark.sources.enrich import (
        best_path_expr,
        fetch_frames,
        valid_deduped_frames,
    )

    marked = movies.where(
        (F.col("id") % 10 == 0) & F.col("backdrop_path").isNotNull()
    ).select("id", F.col("backdrop_path").alias("bad_path"))

    dedup = valid_deduped_frames(fetch_frames(movies))
    kept = dedup.join(
        marked,
        (dedup.id == marked.id) & (dedup.path == marked.bad_path),
        "left_anti",
    )
    best2 = kept.groupBy("id").agg(best_path_expr().alias("new_backdrop"))
    return (
        movies.select("id", F.col("backdrop_path").alias("old_backdrop"))
        .join(marked.select("id", F.lit(1).alias("m")), "id", "left")
        .join(best2, "id", "left")
        .select(
            "id", "old_backdrop", "new_backdrop",
            F.coalesce("m", F.lit(0)).cast("long").alias("n_incorrect"),
        )
        .orderBy("id")
    )
