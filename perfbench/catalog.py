"""The ``catalog_moderate`` workload: catalog serving with moderation.

Set-up builds one movies table the way the sync jobs lay it out: fixture
feed rows (per-year items far beyond the feed's per-year cap, plus the
whole top feed) go through the ingest's enrichment derivations and are
committed with ``write_partitioned(cluster_by=("id", "content_type"),
manifest_key="id")``. Year-feed ids are year-scoped (``year * 10000 +
rank``), so the key-range manifest can prune a point read of such an id,
but top-feed ids (1..2743) lower the minimum key of every partition from
1950 on: a lookup opens the id's own partition plus every partition from
max(year, 1950) on that its key range reaches (see ``TOP_ID_MIN``).

Readers call the public API over ``read_partitioned`` (searches, id
lists, the coverage aggregate) and ``read_partitioned_for_key`` (single
movie). A seeded sample of every read type is compared with DuckDB over
the same parquet files after the window closes.
"""

from __future__ import annotations

import itertools
import random

import duckdb

from harness import CYCLE_END, NullTracer
from tmdb_sync_spark import api
from tmdb_sync_spark.plans import partitioned
from tmdb_sync_spark.sources import fixture

YEARS = range(1920, 2025)          # 105 year partitions
RANKS_PER_YEAR = 100               # the feed itself stops at rank 97
# The reader mix (55 % searches, 30 % point reads, 15 % aggregates) as
# one fixed, evenly interleaved cycle: every prefix of it stays within
# one op of those shares, so short windows see the same mix on every
# seed. The seed picks each op's parameters.
READER_WEIGHTS = {"search": 11, "get_movie": 3, "by_ids": 3, "meta": 3}


def _interleave(weights: dict) -> list[str]:
    """Smooth weighted round-robin over ``weights``."""
    total = sum(weights.values())
    credit = dict.fromkeys(weights, 0)
    out = []
    for _ in range(total):
        for k, w in weights.items():
            credit[k] += w
        pick = max(credit, key=credit.get)
        credit[pick] -= total
        out.append(pick)
    return out


READER_CYCLE = _interleave(READER_WEIGHTS)
# The moderating client's cycle: 7 reads from the reader mix around one
# mark / read-back / unmark / report / rollup round.
MODERATED_CYCLE = ["mark", "get_after_mark", "read", "read", "unmark",
                   "read", "read", "report", "read", "stats", "read", "read"]
# the ops that change a table; every other op only reads
WRITE_KINDS = frozenset({"mark", "unmark", "report"})
CHECKS_PER_KIND = 3
HOT_IDS = 2000
# Partition 1950 + k holds top-feed ids = k mod 75, so its minimum key is
# k: a lookup of top-feed id x opens min(x, 75) partitions. Point reads
# and moderation of top-feed movies use ids from 75 on, which all open
# the same 75, so the work of a run does not depend on its seed.
TOP_ID_MIN = 75


def _parquet_glob(path: str) -> str:
    return f"read_parquet('{path}/year=*/*.parquet', hive_partitioning=true)"


def build_catalog(spark, path: str) -> int:
    """Write the catalog table; returns its row count."""
    import pandas as pd
    from pyspark.sql import functions as F

    from tmdb_sync_spark.sources.enrich import pick_backdrop_expr
    from tmdb_sync_spark.sources.tmdb_source import SCHEMA
    # the sync jobs' own enrichment + derived columns, so the table has
    # exactly the schema and values a sync would have written
    from tmdb_sync_spark.streaming.ingest import _build_source

    rows = [fixture.year_item(y, r, "movie")
            for y in YEARS for r in range(RANKS_PER_YEAR)]
    rows += [fixture.top_movie(r) for r in range(fixture.TOTAL_TOP)]
    feed = spark.createDataFrame(pd.DataFrame(rows), SCHEMA)
    src = _build_source(feed)
    from_year_feed = F.col("id") >= 10_000
    no_bad = F.array().cast("array<string>")
    # target-only columns as the sync jobs leave them: year runs stamp
    # the popularity sync and record their category / sort order, the
    # top run stamps nothing
    table = (
        src.drop("page")
        .withColumn("created_at", F.col("synced_at"))
        .withColumn("incorrect_frames", no_bad)
        .withColumn("backdrop_path",
                    pick_backdrop_expr(F.col("frames"), no_bad))
        .withColumn("last_popularity_sync_at",
                    F.when(from_year_feed, F.col("synced_at")))
        .withColumn("last_vote_count_sync_at",
                    F.lit(None).cast("timestamp"))
        .withColumn("category", F.when(
            from_year_feed,
            F.concat(F.lit("discover_year_"), F.col("year").cast("string")),
        ).otherwise(F.lit("discover_top_votes")))
        .withColumn("sort_by",
                    F.when(from_year_feed, F.lit("popularity.desc")))
    )
    partitioned.write_partitioned(
        table, path, "year", cluster_by=("id", "content_type"),
        manifest_key="id",
    )
    return len(rows)


class Catalog:
    """One built catalog table plus the seeded op generators and the
    records the post-window checks need."""

    def __init__(self, spark, root: str, seed: int) -> None:
        self.spark = spark
        self.path = f"{root}/movies"
        self.reports = f"{root}/reports"
        self.seed = seed
        self.tr = NullTracer()
        self.results: list[tuple] = []      # (kind, params, result)
        self.mismatches: list[str] = []
        self.outstanding: set[int] = set()   # marked, not yet unmarked
        self.n_rows = 0

    # --- set-up --------------------------------------------------------

    def build(self) -> None:
        self.n_rows = build_catalog(self.spark, self.path)
        rng = random.Random(self.seed)
        # Zipf-hot point-read pools, drawn from alternately. How many
        # partitions a lookup opens depends on the id (see the module
        # docstring), so hot rank k of the year pool always lies in year
        # YEARS[k mod 105] and every seed reads the same mix of pruned
        # and unpruned lookups; the seed picks the item in the year and
        # the order of the top feed.
        self.year_ids = [YEARS[k % len(YEARS)] * 10_000
                         + rng.randrange(RANKS_PER_YEAR) + 1
                         for k in range(HOT_IDS)]
        self.top_ids = list(range(TOP_ID_MIN, fixture.TOTAL_TOP + 1))
        rng.shuffle(self.top_ids)
        self._zipf_w = [1.0 / (k + 1) ** 1.1 for k in range(HOT_IDS)]
        # moderators fix popular movies: top-feed ids with a backdrop
        # to move off
        with duckdb.connect() as con:
            self.targets = con.execute(f"""
                SELECT id, year, backdrop_path FROM {_parquet_glob(self.path)}
                WHERE n_valid_frames >= 2 AND backdrop_path IS NOT NULL
                  AND id BETWEEN {TOP_ID_MIN} AND {fixture.TOTAL_TOP}
                ORDER BY id
            """).fetchall()
        rng.shuffle(self.targets)

    def warm(self) -> None:
        """One of each read the workload runs and a first report, so the
        window starts with their code generated, as on a long-running
        server. The moderation MERGE is not warmed: a warm-up mark costs
        a whole MERGE (~4-8 s), while the first mark of the window
        compiles in ~2 s more than the rest, the same in every run."""
        rng = random.Random(self.seed ^ 0x5EED)
        for kind in READER_WEIGHTS:
            self._reader_op(kind, rng, 0, record=False)()
        mid, _, bad = self.targets[-1]
        api.report_frame(self.spark, self.reports, movie_id=mid,
                         path=bad, reporter="warmup")
        api.reports_stats(self.spark, self.reports).collect()

    # --- ops ----------------------------------------------------------

    def _point_id(self, rng, i: int) -> int:
        pool = self.top_ids if i % 2 else self.year_ids
        return pool[rng.choices(range(HOT_IDS), weights=self._zipf_w)[0]]

    def _reader_op(self, kind: str, rng, nth: int, record: bool = True):
        """The ``nth`` op of ``kind`` in a deck, parameters drawn now."""
        spark, path, tr = self.spark, self.path, self.tr
        if kind == "search":
            params = search_params(rng)

            def op():
                rows = tr.span("api.search_movies", lambda: api.search_movies(
                    partitioned.read_partitioned(spark, path), **params
                ).collect())
                if record:
                    self.results.append((kind, params, [
                        (r["id"], r["content_type"]) for r in rows]))
        elif kind == "get_movie":
            mid = self._point_id(rng, nth)

            def op():
                row = tr.span("api.get_movie", lambda: api.get_movie(
                    partitioned.read_partitioned_for_key(
                        spark, path, "id", mid), mid))
                if row is None:
                    raise LookupError(f"movie {mid} not found")
                if record:
                    self.results.append((kind, mid, (
                        row["id"], row["title"], row["release_date"],
                        row["vote_count"])))
        elif kind == "by_ids":
            ids = sorted({self._point_id(rng, j)
                          for j in range(rng.randint(1, 50))})

            def op():
                rows = tr.span("api.movies_by_ids", lambda: api.movies_by_ids(
                    partitioned.read_partitioned(spark, path), ids
                ).collect())
                got = sorted(r["id"] for r in rows)
                if got != ids:
                    raise LookupError(
                        f"movies_by_ids: {len(got)} of {len(ids)} found")
                if record:
                    self.results.append((kind, ids, got))
        elif kind == "meta":
            params = {}
            if rng.random() < 0.5:
                params["year_from"] = rng.randint(YEARS[0], 2010)
            if rng.random() < 0.5:
                params["year_to"] = rng.randint(
                    params.get("year_from", YEARS[0]), YEARS[-1])

            def op():
                rows = tr.span("api.meta_sync_status", lambda: (
                    api.meta_sync_status(
                        partitioned.read_partitioned(spark, path), **params
                    ).collect()))
                if record:
                    self.results.append((kind, params, [
                        (r["year"], r["total"]) for r in rows]))
        else:
            raise ValueError(kind)
        return op

    def reads(self):
        """Endless deck of ``(kind, op)`` over the reader cycle."""
        rng = random.Random(self.seed * 1000)
        seen: dict[str, int] = {}
        for kind in itertools.cycle(READER_CYCLE):
            seen[kind] = seen.get(kind, 0) + 1
            yield kind, self._reader_op(kind, rng, seen[kind])

    def deck(self):
        """Endless deck of one client that serves the reader mix and
        moderates in between: mark a movie's current backdrop, read it
        back, unmark it, file a report, roll reports up.

        One client, not a reader and a writer side by side: a read that
        overlaps a MERGE's partition swap fails (the program gives reads
        no snapshot isolation), and keeping the two apart with a lock
        made each latency depend on how ops happened to overlap."""
        spark, path, tr = self.spark, self.path, self.tr
        rng = random.Random(f"{self.seed}-moderation")
        reads = self.reads()
        for mid, year, bad in itertools.cycle(self.targets):
            marked: list = []

            def mark(mid=mid, bad=bad):
                marked.append(tr.span(
                    "api.mark_incorrect_frames", api.mark_incorrect_frames,
                    spark, path, mid, [bad]))
                self.outstanding.add(mid)

            def get_after_mark(mid=mid, bad=bad):
                row = tr.span("api.get_movie", lambda: api.get_movie(
                    partitioned.read_partitioned_for_key(
                        spark, path, "id", mid), mid))
                if row is None:
                    raise LookupError(f"movie {mid} not found")
                if row["backdrop_path"] == bad:
                    self.mismatches.append(
                        f"movie {mid}: read after mark still serves {bad}")
                    raise AssertionError(self.mismatches[-1])

            def unmark(mid=mid, bad=bad):
                tr.span("api.unmark_incorrect_frames",
                        api.unmark_incorrect_frames, spark, path, mid, [bad])
                self.outstanding.discard(mid)

            reason = rng.choice(["not_a_scene", "blurry", "", "spoiler"])
            reporter = f"user{rng.randint(1, 50)}"

            def report(mid=mid, bad=bad, reason=reason, reporter=reporter):
                tr.span("api.report_frame", api.report_frame, spark,
                        self.reports, movie_id=mid, path=bad, reason=reason,
                        reporter=reporter)

            def stats():
                tr.span("api.reports_stats", lambda: api.reports_stats(
                    spark, self.reports).collect())

            ops = {"mark": mark, "get_after_mark": get_after_mark,
                   "unmark": unmark, "report": report, "stats": stats}
            for kind in MODERATED_CYCLE:
                if kind == "read":
                    yield next(reads)
                    continue
                yield kind, ops[kind]
                if kind == "mark" and marked:
                    # resumed only once the mark returned: off the clock
                    self._check_mark(mid, year, bad, marked[0])
            yield CYCLE_END

    def _check_mark(self, mid, year, bad, res) -> None:
        """Read-after-write: the stored row carries the mark and the
        served backdrop moved off the marked path."""
        if res.get("backdrop_path") == bad or bad not in res["added"]:
            self.mismatches.append(f"mark {mid}: response {res}")
        with duckdb.connect() as con:
            got = con.execute(f"""
                SELECT list_contains(incorrect_frames, ?), backdrop_path
                FROM read_parquet('{self.path}/year={year}/*.parquet')
                WHERE id = ?
            """, [bad, mid]).fetchall()
        if len(got) != 1 or not got[0][0] or got[0][1] == bad:
            self.mismatches.append(f"mark {mid}: stored row {got}")

    # --- post-window checks -------------------------------------------

    def check(self) -> list[str]:
        """Compare a seeded sample of every read kind with DuckDB over the
        same files, and the table's key invariants. Returns mismatches."""
        rng = random.Random(self.seed ^ 0xC4EC)
        bad = list(self.mismatches)
        by_kind: dict[str, list] = {}
        for rec in self.results:
            by_kind.setdefault(rec[0], []).append(rec)
        src = _parquet_glob(self.path)
        with duckdb.connect() as con:
            for kind, recs in sorted(by_kind.items()):
                for _, params, got in rng.sample(
                        recs, min(CHECKS_PER_KIND, len(recs))):
                    want = _oracle(con, src, kind, params)
                    if want != got:
                        bad.append(f"{kind} {params}: spark {str(got)[:200]}"
                                   f" != duckdb {str(want)[:200]}")
            n, keys = con.execute(f"""
                SELECT count(*), count(DISTINCT (id, content_type))
                FROM {src}
            """).fetchone()
            marked = {r[0] for r in con.execute(
                f"SELECT id FROM {src} WHERE len(incorrect_frames) > 0"
            ).fetchall()}
        if n != self.n_rows or keys != n:
            bad.append(f"table: {n} rows, {keys} distinct keys, "
                       f"expected {self.n_rows} unique")
        if marked != self.outstanding:
            bad.append(f"table: marked rows {sorted(marked)} != "
                       f"{sorted(self.outstanding)} marked and not unmarked")
        return bad


def search_params(rng) -> dict:
    """A random subset of the search endpoint's parameters."""
    p: dict = {}
    if rng.random() < 0.3:
        p["query"] = f"Movie {rng.randint(10, 99)}"
    if rng.random() < 0.35:
        p["genre_id"] = rng.randint(1, 19)
    if rng.random() < 0.25:
        p["country_code"] = rng.choice(fixture.COUNTRY_CODES[:-1])
    if rng.random() < 0.4:
        p["year_from"] = rng.randint(YEARS[0], 2020)
        if rng.random() < 0.7:
            p["year_to"] = p["year_from"] + rng.randint(0, 20)
    if rng.random() < 0.2:
        p["is_animated"] = rng.random() < 0.5
    if rng.random() < 0.2:
        p["content_type"] = "movie"
    p["sort_by"] = rng.choice(api.SORT_FIELDS)
    p["order"] = rng.choice(("asc", "desc"))
    p["limit"] = rng.choice((10, 20, 20, 50, 100, 200))
    # skewed deep pagination: mostly the first pages, a long tail
    p["skip"] = min(int(20 * (rng.paretovariate(1.0) - 1)), 20_000)
    return p


def _oracle(con, src: str, kind: str, params):
    if kind == "search":
        where, args = ["n_valid_frames > 0"], []
        if "query" in params:
            where.append("(coalesce(regexp_matches(title, ?, 'i'), false) "
                         "OR coalesce(regexp_matches(title_ru, ?, 'i'), "
                         "false))")
            args += [params["query"]] * 2
        if "genre_id" in params:
            where.append("list_contains(genre_ids, ?)")
            args.append(params["genre_id"])
        if "country_code" in params:
            where.append("list_contains(country_codes, ?)")
            args.append(params["country_code"])
        if "is_animated" in params:
            where.append("is_animated IS NOT DISTINCT FROM ?")
            args.append(params["is_animated"])
        if "content_type" in params:
            where.append("content_type = ?")
            args.append(params["content_type"])
        if "year_from" in params:
            where.append("release_date >= ?")
            args.append(f"{params['year_from']}-01-01")
        if "year_to" in params:
            where.append("release_date <= ?")
            args.append(f"{params['year_to']}-12-31")
        key = params["sort_by"]
        first = (f"{key} DESC NULLS LAST" if params["order"] == "desc"
                 else f"{key} ASC NULLS FIRST")
        rows = con.execute(
            f"SELECT id, content_type FROM {src} WHERE {' AND '.join(where)}"
            f" ORDER BY {first}, id, content_type"
            f" LIMIT {params['limit']} OFFSET {params['skip']}", args,
        ).fetchall()
        return [tuple(r) for r in rows]
    if kind == "get_movie":
        row = con.execute(
            f"SELECT id, title, release_date, vote_count FROM {src} "
            "WHERE id = ? AND content_type = 'movie'", [params]).fetchone()
        return tuple(row) if row else None
    if kind == "by_ids":
        rows = con.execute(
            f"SELECT id FROM {src} WHERE list_contains(?, id) ORDER BY id",
            [params]).fetchall()
        return [r[0] for r in rows]
    if kind == "meta":
        where = ["content_type = 'movie'"]
        if "year_from" in params:
            where.append(f"year >= {int(params['year_from'])}")
        if "year_to" in params:
            where.append(f"year <= {int(params['year_to'])}")
        rows = con.execute(
            f"SELECT year, count(*) FROM {src} WHERE {' AND '.join(where)} "
            "GROUP BY year ORDER BY year").fetchall()
        return [tuple(r) for r in rows]
    raise ValueError(kind)
