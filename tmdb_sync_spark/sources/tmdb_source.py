"""``tmdb_discover`` — a PySpark Python Data Source for the paginated feed.

Rebuilds SURVEY §2.1 S1-S4 Spark-first: the reference fetches discover
pages in a sequential driver-side loop (``app/sync_top.py:124-286``,
``app/sync_years.py:151-281``); here the page space is *partitioned* and
each executor scans its page range independently — the scan parallelism the
reference never had. Options mirror the reference's request parameters:

- ``mode``: ``top`` (vote_count.desc feed, app/sync_top.py:32-121) or
  ``years`` (per-year window, app/sync_years.py:34-148)
- ``year``, ``content_type``: the ``years``-mode shard key
- ``start_page`` / ``max_pages``: resume offset + bound (ST2/ST3;
  app/sync_top.py:133-134, app/sync_years.py:15,184)

All fetches go through the injectable client seam
(``sources/http_client.py``): the shared bounded-attempt retry loop
(5 attempts, app/sync_top.py:46) runs over either the deterministic
fixture transport (default — discover pages where page % 7 == 0 only
respond after 1 + page % 3 attempts, so the retry path is exercised
without a network or sleeps) or a pooled httpx transport (TMDB_API_BASE
opt-in) — same code path either way.

At 100 TB posture: one partition per small page range keeps every task
bounded-memory; no driver-side materialization ever happens (rows stream
from ``read()`` generators).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from tmdb_sync_spark.sources import fixture
from tmdb_sync_spark.sources.http_client import get_api

SCHEMA = (
    "id BIGINT, content_type STRING, title STRING, name STRING, "
    "release_date STRING, popularity DOUBLE, vote_average DOUBLE, "
    "vote_count BIGINT, genre_ids ARRAY<BIGINT>, page INT"
)
_COLS = ("id", "content_type", "title", "name", "release_date",
         "popularity", "vote_average", "vote_count", "genre_ids", "page")
PAGES_PER_PARTITION = 4


class _PageRange(InputPartition):
    def __init__(self, first: int, last: int):
        self.first, self.last = first, last


def _page_results(api, mode: str, page: int, *, year: int,
                  content_type: str, category: str) -> list[dict]:
    """One discover page through the shared retry/backoff client,
    normalized to the source schema.

    Normalization is the seam that keeps the real-API opt-in honest
    (review finding): genuine TMDB discover items carry no
    ``content_type`` or ``page`` (the caller's request context) and only
    one of ``title``/``name`` (movies vs tv) — the fixture stamps all of
    them, but indexing ``r[c]`` strictly would KeyError on every real
    row. Context fields are stamped from the request; absent item fields
    become NULL, exactly the schema's nullability."""
    if mode == "top":
        raw = api.discover_top(page)["results"]
    elif mode == "category":
        raw = api.category(category, page, content_type)["results"]
    else:
        raw = api.discover_year(year, page, content_type)["results"]
    rows = []
    for r in raw:
        gi = r.get("genre_ids")
        rows.append({
            "id": r.get("id"),
            "content_type": r.get("content_type", content_type),
            "title": r.get("title"),
            "name": r.get("name"),
            "release_date": r.get("release_date"),
            "popularity": r.get("popularity"),
            "vote_average": r.get("vote_average"),
            "vote_count": r.get("vote_count"),
            "genre_ids": list(gi) if gi is not None else None,
            "page": r.get("page", page),
        })
    return rows


def feed_total_pages(mode: str, start_page: int, *, year: int = 0,
                     content_type: str = "movie",
                     category: str = "top_rated") -> int | None:
    """The feed's length from its OWN pagination metadata (the TMDB
    discover envelope, which every transport reports): one probe of
    ``start_page`` through the shared retry client; ``None`` when the
    transport omits ``total_pages``. The reader plans its partitions from
    it, and the sync loops stop at it on the driver — fixture-sized plans
    silently truncated or over-scanned a live feed (review finding)."""
    api = get_api()
    if mode == "top":
        resp = api.discover_top(start_page)
    elif mode == "category":
        resp = api.category(category, start_page, content_type)
    else:
        resp = api.discover_year(year, start_page, content_type)
    tp = resp.get("total_pages")
    return int(tp) if tp is not None else None


class TmdbDiscoverReader(DataSourceReader):
    def __init__(self, options: dict):
        self.mode = options.get("mode", "top")
        self.year = int(options.get("year", 0))
        self.content_type = options.get("content_type", "movie")
        self.start_page = int(options.get("start_page", 1))
        self.max_pages = int(options.get("max_pages", 10**9))
        self.category = options.get("category", "top_rated")

    def _total_items(self) -> int:
        if self.mode == "top":
            return fixture.TOTAL_TOP
        if self.mode == "category":
            return fixture.CAT_ITEMS
        return fixture.YEAR_ITEMS[self.content_type]

    def _total_pages(self) -> int:
        """:func:`feed_total_pages` at ``start_page``, memoized per reader
        (a feed that grows mid-scan is the next run's work); the fixture
        math is the fallback for a transport that omits the field."""
        if getattr(self, "_tp", None) is None:
            tp = feed_total_pages(
                self.mode, self.start_page, year=self.year,
                content_type=self.content_type, category=self.category,
            )
            self._tp = (
                tp if tp is not None
                else -(-self._total_items() // fixture.PAGE_SIZE)
            )
        return self._tp

    def partitions(self):
        total_pages = self._total_pages()
        last = min(total_pages, self.start_page + self.max_pages - 1)
        parts = [
            _PageRange(p, min(p + PAGES_PER_PARTITION - 1, last))
            for p in range(self.start_page, last + 1, PAGES_PER_PARTITION)
        ]
        if not parts:
            # start_page beyond the feed (a feed that shrank after the
            # sync loop's driver probe): an EMPTY page range, not an empty
            # list — PySpark substitutes [None] for an empty partitions()
            # and read(None) would crash the scan instead of yielding the
            # empty page the ingest loop's ST3 backstop expects.
            parts = [_PageRange(self.start_page, self.start_page - 1)]
        return parts

    def read(self, part: _PageRange):
        # One Arrow RecordBatch per page range: columnar transfer into the
        # JVM instead of per-row pickling (~10× on wide scans).
        import pyarrow as pa

        api = get_api()   # per-executor-process client (pooled connection)
        rows: list[dict] = []
        for page in range(part.first, part.last + 1):
            rows.extend(_page_results(
                api, self.mode, page, year=self.year,
                content_type=self.content_type, category=self.category,
            ))
        if rows:
            yield pa.RecordBatch.from_pylist(
                [{c: r[c] for c in _COLS} for r in rows],
                schema=pa.schema([
                    ("id", pa.int64()),
                    ("content_type", pa.string()),
                    ("title", pa.string()),
                    ("name", pa.string()),
                    ("release_date", pa.string()),
                    ("popularity", pa.float64()),
                    ("vote_average", pa.float64()),
                    ("vote_count", pa.int64()),
                    ("genre_ids", pa.list_(pa.int64())),
                    ("page", pa.int32()),
                ]),
            )


class TmdbDiscoverStreamReader(SimpleDataSourceStreamReader):
    """The same feed as a STREAMING source: offset = last fully-read page.

    This is the Spark-native form of the reference's cursor protocol
    (``app/sync_top.py:22-29,267-273``): the page offset lives in the
    query's checkpoint, so resume-after-restart (ST2) and replay of an
    un-committed batch (``readBetweenOffsets``) come from the engine —
    no hand-rolled cursor table required. ``max_pages`` bounds the feed
    (ST3): once reached, reads report no new data and an
    ``availableNow``/``processAllAvailable`` run terminates.
    """

    def __init__(self, options: dict):
        self.batch = TmdbDiscoverReader(options)   # reuse page math
        self.start_page = self.batch.start_page
        self.pages_per_batch = int(options.get("pages_per_batch", 2))

    def initialOffset(self) -> dict:
        return {"page": self.start_page - 1}

    def _read_pages(self, first: int, last: int):
        # materialized list, not a generator: the engine's prefetch cache
        # copy.copy()s the returned iterator when a later trigger replans
        # the same offset range, and generators aren't copyable. A batch
        # is ≤ pages_per_batch × PAGE_SIZE rows — bounded by construction.
        api = get_api()
        r = self.batch
        rows = []
        for page in range(first, last + 1):
            for row in _page_results(
                api, r.mode, page, year=r.year,
                content_type=r.content_type, category=r.category,
            ):
                rows.append(tuple(row[c] for c in _COLS))
        return iter(rows)

    def read(self, start: dict):
        first = start["page"] + 1
        last = min(
            first + self.pages_per_batch - 1,
            self.batch.start_page + self.batch.max_pages - 1,
            self.batch._total_pages(),   # the feed's own metadata, memoized
        )
        if last < first:   # caught up / bounded out (ST3)
            return iter([]), start
        return self._read_pages(first, last), {"page": last}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._read_pages(start["page"] + 1, end["page"])


class TmdbDiscoverDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "tmdb_discover"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> TmdbDiscoverReader:
        return TmdbDiscoverReader(self.options)

    def simpleStreamReader(self, schema) -> TmdbDiscoverStreamReader:
        return TmdbDiscoverStreamReader(self.options)


def register_tmdb_source(spark) -> None:
    """Idempotently register the source on a session."""
    spark.dataSource.register(TmdbDiscoverDataSource)
