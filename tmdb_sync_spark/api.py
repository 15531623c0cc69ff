"""User-facing catalog API: the reference's read endpoints as DataFrame
functions (SURVEY §2.2 P1-P13 composed dynamically).

The reference exposes its catalog through a handful of HTTP endpoints
that BUILD a filter document from optional query parameters
(``app/endpoints/catalog.py:30-79``, ``app/endpoints/movies.py:20-78``).
The individual predicates are all implemented as fixed operator queries
(registry: p1..p12, o1/o2, p6_j2); this module is the missing
composition seam — a user of the reference switches by replacing each
endpoint call with the matching function over the ingest's movies table
(``streaming.ingest.run_sync_top`` output, read via
``plans.partitioned.read_partitioned``).

Design notes:

- Predicates append ONLY when their parameter is present — exactly the
  reference's imperative filter-dict build. Absent parameters add
  nothing to the plan, so Catalyst sees the minimal conjunction and
  pushes every sargable conjunct to the scan.
- Parameter validation mirrors the endpoints' FastAPI ``Query``
  contracts (sort whitelist, order whitelist, limit/skip bounds,
  _type ∈ {movie, tv}) as loud ``ValueError``s — the engine twin of a
  422 response.
- Pagination carries a unique ``(sort key, id, content_type)`` total
  order: Mongo's sort is non-stable, so page contents there are
  replay-dependent; pinning the order is the documented deviation
  (SURVEY §7 hard-part 2) every fixed pagination operator already
  makes.
- ``frames`` non-emptiness (the search endpoints' base predicate,
  ``catalog.py:47``) is rendered as ``n_valid_frames > 0`` — the
  sargable count twin of the stored ``frames`` array's non-emptiness
  (the ingest maintains ``n_valid_frames = size(frames)``), so the
  base predicate pushes to the scan instead of deserializing the
  array per row.

Scale notes: everything is one filtered scan + ``TakeOrderedAndProject``
(orderBy + offset/limit never global-sort); no joins, no shuffles beyond
the top-k merge. The search is exactly as 100 TB-safe as the fixed
pagination operator it composes.

Route → function map (every route the reference actually serves):

========================================  =================================
``GET  /movies/search`` (both routers)    :func:`search_movies`
``GET  /movies/by-ids``                   :func:`movies_by_ids`
``GET  /movies/{id}`` (+``/frames``)      :func:`get_movie`
``POST /frames/report``, ``/report``      :func:`report_frame`
``GET  /reports/stats``                   :func:`reports_stats`
``POST /frames/.../incorrect``            :func:`mark_incorrect_frames`
``POST /frames/.../unmark-incorrect``     :func:`unmark_incorrect_frames`
``POST /sync/top-votes``                  ``JobRunner.launch(run_sync_top)``
``POST /sync/years``                      ``JobRunner.launch(run_sync_years)``
``POST /sync/years/current``              ``streaming.ingest.run_sync_current_year``
``POST /sync/years/finalize``             ``streaming.ingest.run_sync_finalize_year``
``GET  /sync/status``                     :func:`sync_status`
``GET  /sync/status/years``               :func:`years_status`
``GET  /meta/sync-status``                :func:`meta_sync_status`
========================================  =================================

Deliberately not mirrored: ``POST /generate_rounds`` (imports a module
that does not exist in the reference — a dead endpoint) and
``sync_discover_movies`` (an uncalled tutorial function).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tmdb_sync_spark.util import literal_rows

# The endpoints' sort whitelists (movies.py:31-34 ∪ catalog.py:38):
# "year" resolves through the ingest's materialized year column.
SORT_FIELDS = (
    "popularity", "vote_average", "vote_count", "release_date", "year",
)
CONTENT_TYPES = ("movie", "tv")
MAX_LIMIT = 200          # movies.py:28 (catalog.py caps at 100; the
                         # wider bound is the union surface)

# _project_movie's keep-set (movies.py:10-17), translated to the ingest
# schema: _type → content_type; frames is the stored normalized array,
# plus its derived backdrop_path/n_valid_frames pair.
PROJECTION = (
    "id", "title", "title_ru", "name", "content_type", "genre_ids",
    "release_date", "popularity", "vote_average", "vote_count",
    "country_codes", "is_animated", "frames", "backdrop_path",
    "n_valid_frames",
)


def _validate(name: str, value, allowed) -> None:
    if value is not None and value not in allowed:
        raise ValueError(
            f"search_movies: {name}={value!r} not in {tuple(allowed)}"
        )


def _projection(movies: DataFrame) -> list[str]:
    # tolerate schema subsets (a caller may have pruned columns already);
    # the keep-set is a MAXIMUM, like the reference's dict filter
    return [c for c in PROJECTION if c in movies.columns]


def search_movies(
    movies: DataFrame,
    *,
    query: str | None = None,
    genre_id: int | None = None,
    country_code: str | None = None,
    year_from: int | None = None,
    year_to: int | None = None,
    is_animated: bool | None = None,
    content_type: str | None = None,
    sort_by: str = "vote_count",
    order: str = "desc",
    limit: int = 20,
    skip: int = 0,
) -> DataFrame:
    """``GET /movies/search`` (catalog.py:30-79 ∪ movies.py:20-69).

    Builds the conjunction imperatively, parameter by parameter, exactly
    like the endpoints build their Mongo filter dict; returns the
    projected page as a DataFrame.
    """
    _validate("sort_by", sort_by, SORT_FIELDS)
    _validate("order", order, ("asc", "desc"))
    _validate("content_type", content_type, CONTENT_TYPES)
    if not 1 <= limit <= MAX_LIMIT:
        raise ValueError(f"search_movies: limit={limit} not in 1..{MAX_LIMIT}")
    if skip < 0:
        raise ValueError(f"search_movies: skip={skip} negative")

    # base predicate: has frames (catalog.py:47 — $exists && $ne [])
    preds: list[Column] = [F.col("n_valid_frames") > 0]
    if query is not None:
        # ci substring-regex OR over both titles (catalog.py:50-53);
        # Mongo $regex + $options:i ≡ unanchored (?i) rlike. NULL titles
        # make rlike NULL; coalesce keeps the OR a two-sided decision
        # like Mongo's (a missing field simply doesn't match).
        pat = f"(?i){query}"
        preds.append(
            F.coalesce(F.col("title").rlike(pat), F.lit(False))
            | F.coalesce(F.col("title_ru").rlike(pat), F.lit(False))
        )
    if genre_id is not None:
        # multikey membership: scalar-vs-array equality (movies.py:40)
        preds.append(F.array_contains("genre_ids", F.lit(genre_id)))
    if country_code is not None:
        preds.append(F.array_contains("country_codes", F.lit(country_code)))
    if is_animated is not None:
        preds.append(F.col("is_animated").eqNullSafe(F.lit(is_animated)))
    if content_type is not None:
        preds.append(F.col("content_type") == content_type)
    if year_from is not None:
        # the reference's string-date idiom, kept bit-exact (movies.py:48)
        preds.append(F.col("release_date") >= f"{year_from}-01-01")
    if year_to is not None:
        preds.append(F.col("release_date") <= f"{year_to}-12-31")

    cond = preds[0]
    for p in preds[1:]:
        cond = cond & p

    key = F.col(sort_by)
    first = key.desc_nulls_last() if order == "desc" else key.asc_nulls_first()
    page = (
        movies.where(cond)
        .orderBy(first, F.col("id").asc(), F.col("content_type").asc())
        .offset(skip)
        .limit(limit)
    )
    return page.select(*_projection(movies))


def movies_by_ids(
    movies: DataFrame,
    ids: list[int],
    content_type: str | None = None,
) -> DataFrame:
    """``GET /movies/by-ids`` (movies.py:71-79): literal ``$in`` compiled
    to a pushed Catalyst ``In`` predicate — the P6 shape."""
    _validate("content_type", content_type, CONTENT_TYPES)
    if not ids:
        raise ValueError("movies_by_ids: ids must be non-empty (FastAPI "
                         "requires the parameter)")
    out = movies.where(F.col("id").isin([int(i) for i in ids]))
    if content_type is not None:
        out = out.where(F.col("content_type") == content_type)
    return out.select(*_projection(movies))


def years_status(
    spark,
    cursors_path: str,
    *,
    year: int | None = None,
    end_year: int | None = None,
    content_type: str = "movie",
):
    """``GET /sync/status/years`` (app/main.py:165-206): the year-sync
    cursor report.

    - single ``year`` → one cursor dict, zero-defaulted when absent (the
      endpoint's ``doc or {...}``);
    - ``year..end_year`` → a DataFrame of one row per year in range,
      MISSING YEARS ZERO-FILLED (the endpoint's found-set patch loop —
      the J3 fill-missing-group-keys shape: generated year dim, left
      join, coalesce), sorted by year;
    - neither → every ``years:{type}:\\d+`` cursor (the endpoint's regex
      scan — P10's anchored key filter + parse), sorted by year.
    """
    from tmdb_sync_spark.streaming.ingest import years_cursor_key
    from tmdb_sync_spark.streaming.state import read_cursor, read_state

    _validate("content_type", content_type, CONTENT_TYPES)
    if year is not None and end_year is None:
        return read_cursor(spark, cursors_path, years_cursor_key(
            year, content_type))

    state = read_state(spark, cursors_path)
    mine = state.where(
        F.col("key").rlike(f"^years:{content_type}:[0-9]+$")
    ).select(
        F.split(F.col("key"), ":")[2].cast("int").alias("year"),
        "key", "page", "inserted", "updated", "ts",
    )
    if year is None:
        return mine.orderBy("year")
    if end_year < year:
        year, end_year = end_year, year
    dim = spark.range(1).select(
        F.explode(F.sequence(F.lit(year), F.lit(end_year))).alias("year")
    ).select(
        "year",
        F.concat_ws(":", F.lit("years"), F.lit(content_type),
                    F.col("year").cast("string")).alias("key"),
    )
    # dim is the preserved side — broadcast the (tiny) found set instead
    # (the same hint-placement rule j3_fill_missing_years documents)
    return (
        dim.join(F.broadcast(mine.drop("key")), "year", "left")
        .select(
            "year", "key",
            F.coalesce("page", F.lit(0)).alias("page"),
            F.coalesce("inserted", F.lit(0)).alias("inserted"),
            F.coalesce("updated", F.lit(0)).alias("updated"),
            "ts",
        )
        .orderBy("year")
    )


def meta_sync_status(
    movies: DataFrame,
    *,
    content_type: str = "movie",
    year_from: int | None = None,
    year_to: int | None = None,
) -> DataFrame:
    """``GET /meta/sync-status`` (app/endpoints/meta_sync.py:9-62): the
    per-year coverage report over the movies table — the endpoint behind
    the engine's flagship ``a1_sync_coverage`` shape.

    Per year: row count, last sync time of each kind
    (``last_popularity_sync_at`` / ``last_vote_count_sync_at`` — the
    stamps the jobs maintain per sort kind), and the fraction of the
    year's rows carrying each stamp. One filtered scan → one hash
    aggregate → sort; the coverage ratios are single double divisions of
    exact counts. The result holds at most one row per year, so it is
    sorted in one task: a global ``orderBy`` would add a range-sampling
    job and an exchange to every call."""
    _validate("content_type", content_type, CONTENT_TYPES)
    out = movies.where(F.col("content_type") == content_type)
    if year_from is not None:
        out = out.where(F.col("year") >= year_from)
    if year_to is not None:
        out = out.where(F.col("year") <= year_to)
    total = F.count(F.lit(1))
    with_pop = F.count(F.col("last_popularity_sync_at"))
    with_vc = F.count(F.col("last_vote_count_sync_at"))
    return (
        out.groupBy("year")
        .agg(
            total.alias("total"),
            F.max("last_popularity_sync_at").alias("last_popularity"),
            F.max("last_vote_count_sync_at").alias("last_vote_count"),
            (with_pop / total).alias("popularity_coverage"),
            (with_vc / total).alias("vote_count_coverage"),
        )
        .coalesce(1)
        .sortWithinPartitions("year")
    )


def reports_stats(spark, reports_path: str) -> DataFrame:
    """``GET /reports/stats`` (app/endpoints/reports.py:18-46): the
    moderation-report rollup — count + per-reason histogram per
    (movie_id, path, content_type). The reference pushes every reason
    string through the wire and Counter()s host-side; here the histogram
    is a two-level aggregate ending in a ``map<reason, count>`` column
    (the A4/A5 reason-map shape), falsy reasons excluded from the map
    exactly like its ``[r for r in reasons if r]`` while the total count
    keeps them. Before the first report is filed there is no reports
    dir, and the rollup of that empty collection is an empty frame (the
    reference's aggregate returns ``[]``)."""
    import os

    from pyspark.sql.types import StructType

    keys = ["movie_id", "path", "content_type"]
    schema = StructType.fromDDL(REPORT_SCHEMA)
    reports = (
        spark.read.schema(schema).parquet(reports_path)
        if os.path.isdir(reports_path)
        else spark.createDataFrame([], schema)
    )
    per_reason = reports.groupBy(
        *keys, F.col("reason").alias("_r")
    ).agg(F.count(F.lit(1)).alias("_n"))
    return (
        per_reason.groupBy(*keys)
        .agg(
            F.sum("_n").alias("count"),
            F.map_from_entries(
                F.array_sort(F.collect_list(
                    F.when(
                        F.col("_r").isNotNull() & (F.col("_r") != ""),
                        F.struct(F.col("_r"), F.col("_n")),
                    )
                ))
            ).alias("reasons"),
        )
    )


def sync_status(spark, state_dir: str) -> dict:
    """``GET /sync/status`` (app/main.py:64-138): the one-call overview.

    - ``top_votes``: the top-feed cursor, ``None`` when that key never
      committed (the endpoint leaves it null, unlike the zero-default of
      a keyed read);
    - ``years``: every ``years:*`` cursor parsed into (content_type,
      year), MALFORMED KEYS SKIPPED like the endpoint's try/except
      (rendered as an anchored-regex filter — P10's shape), sorted by
      (content_type, year);
    - ``errors``: dead-letter counts in the last hour / last 24 h /
      total, by ``ts`` — one conditional-aggregate scan per error table
      (the A6/A7 shape), summed across the top job's page-keyed table
      and the years job's (year, page)-keyed one.
    """
    import datetime as _dt
    import os as _os

    from tmdb_sync_spark.streaming.state import read_cursors

    now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    cursors = read_cursors(f"{state_dir}/cursors")
    top_votes = cursors.get("top_vote_count_movie")
    years = [
        {"key": r["key"],
         "content_type": r["key"].split(":", 2)[1],
         "year": int(r["key"].split(":", 2)[2]),
         "page": r["page"], "inserted": r["inserted"],
         "updated": r["updated"], "ts": r["ts"]}
        for r in cursors.values()
        # the endpoint's try/except around split+int, as a regex
        if re.match(r"^years:[^:]+:\d+$", r["key"])
    ]
    years.sort(key=lambda x: (x["content_type"], x["year"]))

    from tmdb_sync_spark.streaming.ingest import (
        ERROR_SCHEMA,
        YEAR_ERROR_SCHEMA,
    )

    hour_ago = now - _dt.timedelta(hours=1)
    day_ago = now - _dt.timedelta(days=1)
    counts = {"last_hour": 0, "last_24h": 0, "total": 0}
    for table, ddl in (("errors", ERROR_SCHEMA),
                       ("errors_years", YEAR_ERROR_SCHEMA)):
        p = _os.path.join(state_dir, table)
        if not _os.path.isdir(p):
            continue
        row = (
            # explicit schema: a batch with ZERO failures leaves a
            # file-less table root behind (dynamic overwrite of an empty
            # frame), and schema INFERENCE on it raises — with the
            # declared schema an empty table is simply zero rows
            spark.read.schema(ddl).parquet(p)
            .agg(
                F.count(F.when(F.col("ts") >= F.lit(hour_ago), 1))
                .alias("h"),
                F.count(F.when(F.col("ts") >= F.lit(day_ago), 1))
                .alias("d"),
                F.count(F.lit(1)).alias("t"),
            )
            .first()
        )
        counts["last_hour"] += row["h"]
        counts["last_24h"] += row["d"]
        counts["total"] += row["t"]
    return {
        "top_votes": top_votes,
        "years": years,
        "errors": counts,
        "generated_at": now,
    }


REPORT_SCHEMA = (
    "movie_id BIGINT, path STRING, reason STRING, content_type STRING, "
    "reporter STRING, ts TIMESTAMP"
)


def report_frame(
    spark,
    reports_path: str,
    *,
    movie_id: int,
    path: str,
    reason: str = "not_a_scene",
    content_type: str = "movie",
    reporter: str | None = None,
) -> dict:
    """``POST /frames/report`` (frames.py:22-33): blind append of one
    moderation-report row, schema-enforced like the dead-letter table."""
    from pyspark.sql.types import StructType

    _validate("content_type", content_type, CONTENT_TYPES)
    if len(reason) > 200:                      # the endpoint's max_length
        raise ValueError("report_frame: reason longer than 200 chars")
    literal_rows(
        spark,
        "movie_id BIGINT, path STRING, reason STRING, content_type STRING, "
        "reporter STRING",
        [(int(movie_id), path, reason, content_type, reporter)],
    ).withColumn("ts", F.current_timestamp()).to(
        StructType.fromDDL(REPORT_SCHEMA)
    ).write.mode("append").parquet(reports_path)
    return {"ok": True}


def _movie_row(spark, movies_path: str, movie_id: int, content_type: str):
    # key-set-pruned point read: the table record's exact id sets send
    # it to the one partition holding the id, regardless of table size
    # (the serving-path requirement at scale); tables whose record holds
    # no id sets degrade to the full listing
    from tmdb_sync_spark.plans.partitioned import read_partitioned_for_key

    rows = (
        read_partitioned_for_key(spark, movies_path, "id", int(movie_id))
        .where(
            (F.col("id") == int(movie_id))
            & (F.col("content_type") == content_type)
        )
        .select("id", "content_type", "year", "frames", "incorrect_frames",
                "backdrop_path")
        .limit(2)
        .collect()
    )
    if not rows:
        raise LookupError(                     # the endpoint's 404
            f"movie {movie_id} ({content_type}) not found"
        )
    return rows[0]


def _moderate_frames(
    spark, movies_path: str, movie_id: int, paths: list[str],
    content_type: str, *, add: bool,
) -> dict:
    """Shared mark/unmark body: one single-row partitioned MERGE that
    updates ``incorrect_frames`` ($addToSet / $pull) and recomputes
    ``backdrop_path`` from the STORED frames with the new exclusion set —
    the reference's two update_one calls + re-read collapsed into one
    targeted merge (frames.py:52-65, 86-103). Scale shape: the source is
    one row, so the merge probes/rewrites exactly one partition — the
    CDC-style point-update path of the same machinery the bulk sync uses.
    """
    from tmdb_sync_spark.plans.partitioned import merge_into_partitioned
    from tmdb_sync_spark.sources.enrich import pick_backdrop_expr

    _validate("content_type", content_type, CONTENT_TYPES)
    if not paths:
        raise ValueError("frames moderation: paths must be non-empty "
                         "(the endpoint requires min_items=1)")
    row = _movie_row(spark, movies_path, movie_id, content_type)
    src = literal_rows(
        spark, "id BIGINT, content_type STRING, year INT",
        [(int(movie_id), content_type, row["year"])],
    )
    lit_paths = F.array(*[F.lit(p) for p in paths])
    if add:
        new_bad = F.array_union(                      # $addToSet $each
            F.coalesce(F.col("t.incorrect_frames"),
                       F.array().cast("array<string>")),
            lit_paths,
        )
    else:
        new_bad = F.array_except(                     # $pull $in
            F.coalesce(F.col("t.incorrect_frames"),
                       F.array().cast("array<string>")),
            lit_paths,
        )
    merge_into_partitioned(
        spark, movies_path, src,
        keys=["id", "content_type"], partition_col="year",
        matched_update={
            "incorrect_frames": new_bad,
            "backdrop_path": pick_backdrop_expr(F.col("t.frames"), new_bad),
        },
        # the row provably exists (just read) and its partition value
        # rides along unchanged, so the moved-key probe has nothing to do
        detect_moved_keys=False,
    )
    post = _movie_row(spark, movies_path, movie_id, content_type)
    out = {"ok": True, "backdrop_path": post["backdrop_path"]}
    if add:
        # the endpoint's UX extras (frames.py:67-78)
        in_frames = {f["path"] for f in (row["frames"] or [])}
        out.update(
            added=list(paths),
            present_in_frames=[p for p in paths if p in in_frames],
            not_in_frames=[p for p in paths if p not in in_frames],
        )
    else:
        out["removed"] = list(paths)
    return out


def mark_incorrect_frames(
    spark, movies_path: str, movie_id: int, paths: list[str],
    content_type: str = "movie",
) -> dict:
    """``POST /frames/movies/{id}/incorrect`` (frames.py:40-78):
    idempotently add ``paths`` to the movie's ``incorrect_frames`` and
    recompute ``backdrop_path`` excluding them."""
    return _moderate_frames(
        spark, movies_path, movie_id, paths, content_type, add=True
    )


def unmark_incorrect_frames(
    spark, movies_path: str, movie_id: int, paths: list[str],
    content_type: str = "movie",
) -> dict:
    """``POST /frames/movies/{id}/unmark-incorrect`` (frames.py:81-103):
    remove ``paths`` from ``incorrect_frames`` and recompute the
    backdrop."""
    return _moderate_frames(
        spark, movies_path, movie_id, paths, content_type, add=False
    )


def get_movie(
    movies: DataFrame, movie_id: int, content_type: str = "movie"
) -> dict | None:
    """``GET /movies/{id}`` (catalog.py:10-16): single-document fetch.
    Returns the projected row dict, or ``None`` (the 404 case). The
    ``collect`` is bounded by the key's uniqueness (the MERGE maintains
    one row per (id, content_type)). Callers holding the TABLE PATH
    should pass ``read_partitioned_for_key(spark, path, "id", id)`` as
    ``movies`` — the key-set-pruned point read that opens only the
    partition holding the id, at any table size (plans.partitioned)."""
    _validate("content_type", content_type, CONTENT_TYPES)
    rows = (
        movies.where(
            (F.col("id") == int(movie_id))
            & (F.col("content_type") == content_type)
        )
        .select(*_projection(movies))
        .limit(2)
        .collect()
    )
    return rows[0].asDict() if rows else None
