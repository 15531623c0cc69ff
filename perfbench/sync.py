"""The ``sync_ingest`` workload: one caller drives the bulk write path,
and the analysts' registry batch runs between its calls.

Ops alternate bounded top-feed syncs and one-year ``run_sync_years``
calls over a seeded year order. A top-feed sync is ``run_sync_top(
max_pages=BATCH_PAGES, resume=True, start_page=...)`` starting
``OVERLAP`` pages before the cursor, as a feed sync re-fetches the tail
of its last batch to catch items whose rank moved: one MERGE then
updates rows already synced (the matched path) and inserts new ones.
After each sync call every registry query runs once (see
``analytics``), so a cycle holds both sync calls and two runs of every
query.
Every sync call is checked against counters derived from the fixture
formulas: ids divisible by 97 or 89 are dead-lettered, everything else
is merged.
"""

from __future__ import annotations

import os
import random

import duckdb

from analytics import Analytics
from harness import CYCLE_END, NullTracer
from tmdb_sync_spark.sources import fixture
from tmdb_sync_spark.streaming import ingest
from tmdb_sync_spark.streaming import state

BATCH_PAGES = 5                       # one micro-batch per call
OVERLAP = 2                           # pages re-fetched from the last batch
SYNC_KINDS = ("top", "years")
# the sync calls write; the registry queries between them only read
WRITE_KINDS = frozenset(SYNC_KINDS)
YEARS = range(1900, 2025)


def _dead(mid: int) -> bool:
    return mid % 97 == 0 or mid % 89 == 0


def _top_page_ids(page: int) -> list[int]:
    lo = (page - 1) * fixture.PAGE_SIZE
    hi = min(lo + fixture.PAGE_SIZE, fixture.TOTAL_TOP)
    return [r + 1 for r in range(lo, hi)]


def _year_ids(year: int) -> list[int]:
    return [year * 10_000 + r + 1
            for r in range(fixture.YEAR_ITEMS["movie"])]


class Sync:
    """One fresh state dir and the model of what it must contain."""

    def __init__(self, spark, root: str, seed: int) -> None:
        self.spark = spark
        self.state_dir = f"{root}/sync"
        self.analytics = Analytics(spark, root, seed)
        self.rng = random.Random(seed)
        self.years = list(YEARS)
        self.rng.shuffle(self.years)
        self.cursor = 0                   # top-feed cursor page
        self.synced_pages: set[int] = set()
        self.synced_years: list[int] = []
        self.mismatches: list[str] = []
        self.tr = NullTracer()

    def _expect_top(self, start: int, pages: int = BATCH_PAGES) -> dict:
        ins = upd = 0
        last = None
        for page in range(start, start + pages):
            ids = _top_page_ids(page)
            if not ids:
                break
            ok = sum(1 for i in ids if not _dead(i))
            if page in self.synced_pages:
                upd += ok
            else:
                ins += ok
            last = page
        return {"page": last if last is not None else start - 1,
                "inserted": ins, "updated": upd}

    def _apply_top(self, start: int, got: dict, want: dict) -> None:
        if got != want:
            self.mismatches.append(
                f"run_sync_top from page {start}: {got} != {want}")
        for page in range(start, want["page"] + 1):
            self.synced_pages.add(page)
        self.cursor = want["page"]

    def warm(self) -> None:
        """Before the window: sync the first top page, which creates the
        movies table (a one-off bootstrap), starts the Python workers and
        compiles the top-feed plans, then run each registry query once.
        The per-year plans are not warmed: they share most of the top
        feed's, and the window's first ``years`` call comes after a
        ``top`` call, so it costs little more than later ones, where a
        warm-up call of its own would cost ~8 s."""
        want = self._expect_top(1, pages=1)
        got = ingest.run_sync_top(self.spark, self.state_dir, max_pages=1,
                                  resume=True)
        self._apply_top(1, got, want)
        self.analytics.warm()

    def _sync_year(self, year: int) -> None:
        ok = sum(1 for m in _year_ids(year) if not _dead(m))
        got = self.tr.span(
            "ingest.run_sync_years", ingest.run_sync_years,
            self.spark, self.state_dir, start_year=year, end_year=year)
        want = {"status": "ok", "start_year": year, "end_year": year,
                "last_year": year, "processed": ok, "inserted": ok,
                "updated": 0}
        if got != want:
            self.mismatches.append(f"run_sync_years {year}: {got} != {want}")
        self.synced_years.append(year)

    def deck(self):
        """Endless deck of ``(kind, op)``: each sync call followed by one
        run of every registry query."""
        spark, sd = self.spark, self.state_dir
        i = 0
        while True:
            for kind in SYNC_KINDS:
                if kind == "top":
                    def op():
                        start = max(1, self.cursor - OVERLAP + 1)
                        want = self._expect_top(start)
                        got = self.tr.span(
                            "ingest.run_sync_top", ingest.run_sync_top,
                            spark, sd, max_pages=BATCH_PAGES, resume=True,
                            start_page=start)
                        self._apply_top(start, got, want)
                else:
                    year = self.years[i % len(self.years)]
                    i += 1

                    def op(year=year):
                        self._sync_year(year)
                yield kind, op
                for name in self.analytics.order:
                    yield f"query.{name}", lambda name=name: self.tr.span(
                        f"query.{name}", self.analytics.run, name)
            yield CYCLE_END

    def check(self) -> list[str]:
        """The committed state against the model: movies rows and keys,
        dead-letter rows and the top-feed cursor; then the registry
        queries against their oracles."""
        bad = list(self.mismatches)
        top_ids = [i for p in sorted(self.synced_pages)
                   for i in _top_page_ids(p)]
        year_ids = [i for y in self.synced_years for i in _year_ids(y)]
        want_rows = sum(1 for i in top_ids + year_ids if not _dead(i))
        want_dead = (sum(1 for i in top_ids if _dead(i)),
                     sum(1 for i in year_ids if _dead(i)))
        sd = self.state_dir
        with duckdb.connect() as con:
            n, keys = con.execute(f"""
                SELECT count(*), count(DISTINCT (id, content_type))
                FROM read_parquet('{sd}/movies/year=*/*.parquet',
                                  hive_partitioning=true)
            """).fetchone()
            dead = []
            for table in ("errors", "errors_years"):
                files = f"{sd}/{table}/**/*.parquet"
                dead.append(con.execute(
                    f"SELECT count(*) FROM read_parquet('{files}')"
                ).fetchone()[0] if _has_files(sd, table) else 0)
        if (n, keys) != (want_rows, want_rows):
            bad.append(f"movies: {n} rows / {keys} keys, "
                       f"expected {want_rows}")
        if tuple(dead) != want_dead:
            bad.append(f"dead letters {tuple(dead)} != {want_dead}")
        cur = state.read_cursor(self.spark, f"{sd}/cursors",
                                ingest.CURSOR_KEY)
        if self.synced_pages and cur["page"] != self.cursor:
            bad.append(f"cursor page {cur['page']} != {self.cursor}")
        return bad + self.analytics.check()


def _has_files(root: str, table: str) -> bool:
    for _, _, files in os.walk(os.path.join(root, table)):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False
