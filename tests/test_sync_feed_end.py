"""The sync loops stop at the feed's end on the driver (ST3): a call
stages only batches that hold pages, with the same return dicts,
cursors and dead letters as an empty-batch stop. Tiny fixture feeds
only: the tv year feed is 53 items, 3 pages."""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile

import pytest

from tmdb_sync_spark import util
from tmdb_sync_spark.sources import fixture
from tmdb_sync_spark.streaming import ingest
from tmdb_sync_spark.streaming.ingest import run_sync_top, run_sync_years
from tmdb_sync_spark.streaming.state import read_cursor

YEAR = 2001
TV_ITEMS = fixture.YEAR_ITEMS["tv"]
TV_PAGES = -(-TV_ITEMS // fixture.PAGE_SIZE)
TOP_PAGES = fixture.top_total_pages()


@contextlib.contextmanager
def staged_keys(tag: str):
    """Collect the cache keys of the ``tag`` feeds staged in the block,
    through the ``ingest.materialize_once`` seam."""
    keys: list[tuple] = []
    real = ingest.materialize_once

    def record(df, cache_key, prefix):
        if cache_key[0] == tag:
            keys.append(cache_key)
        return real(df, cache_key, prefix)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ingest, "materialize_once", record)
        yield keys


def _sync_tv_year(spark, state, **kw):
    """Run the tv year; return its result and the feeds it staged."""
    with staged_keys("years_feed") as staged:
        out = run_sync_years(spark, state, start_year=YEAR,
                             content_type="tv", batch_pages=TV_PAGES, **kw)
    return out, staged


@pytest.fixture(scope="module")
def synced_year(spark, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("feed_end") / "s")
    out, staged = _sync_tv_year(spark, state)
    return state, out, staged


def test_year_of_exactly_one_batch_stages_one_feed(spark, synced_year):
    state, out, staged = synced_year
    assert len(staged) == 1, "a trailing empty batch was staged"
    ok = [i for i in range(YEAR * 10_000 + 1, YEAR * 10_000 + TV_ITEMS + 1)
          if i % 97 != 0 and i % 89 != 0]
    assert out == {
        "status": "ok", "start_year": YEAR, "end_year": YEAR,
        "last_year": YEAR, "processed": len(ok), "inserted": len(ok),
        "updated": 0,
    }
    cur = read_cursor(spark, f"{state}/cursors", f"years:tv:{YEAR}")
    assert (cur["page"], cur["inserted"], cur["updated"]) == (
        TV_PAGES, len(ok), 0)


def test_resumed_finished_year_stages_nothing(spark, synced_year):
    state, _, _ = synced_year
    path = f"{state}/cursors/cursors.json"
    with open(path, "rb") as f:
        before = f.read()
    out, staged = _sync_tv_year(spark, state)
    assert staged == []
    assert (out["processed"], out["inserted"], out["updated"]) == (0, 0, 0)
    with open(path, "rb") as f:
        assert f.read() == before


def test_top_start_past_the_feed_stages_nothing(spark, tmp_path):
    state = str(tmp_path / "s")
    with staged_keys("ingest_feed") as staged:
        out = run_sync_top(spark, state, max_pages=5,
                           start_page=TOP_PAGES + 1)
    assert staged == []
    assert out == {"page": TOP_PAGES, "inserted": 0, "updated": 0}
    assert not os.path.exists(f"{state}/cursors/cursors.json")


def test_empty_batch_still_stops_an_over_reported_feed(
    spark, synced_year, tmp_path, monkeypatch
):
    """A live feed can shrink after the driver's probe: the empty-batch
    break stays the backstop and commits nothing."""
    monkeypatch.setattr(ingest, "feed_total_pages",
                        lambda *a, **kw: TOP_PAGES + 10)
    state = str(tmp_path / "s")
    shutil.copytree(f"{synced_year[0]}/cursors", f"{state}/cursors")
    path = f"{state}/cursors/cursors.json"
    with open(path, "rb") as f:
        before = f.read()
    out, staged = _sync_tv_year(spark, state)
    assert len(staged) == 1                 # one empty batch, then stop
    assert (out["processed"], out["inserted"], out["updated"]) == (0, 0, 0)
    with open(path, "rb") as f:
        assert f.read() == before

    with staged_keys("ingest_feed") as staged:
        out = run_sync_top(spark, state, max_pages=5,
                           start_page=TOP_PAGES + 1)
    assert len(staged) == 1
    assert out == {"page": TOP_PAGES, "inserted": 0, "updated": 0}
    with open(path, "rb") as f:
        assert f.read() == before


def test_sync_calls_free_their_staged_feeds(spark, tmp_path, monkeypatch):
    """A staged feed is used by its batch only: after each job's
    finished calls (top, years, category) and a top call stopped by the
    empty-batch backstop, no cache entry, scratch path or scratch dir of
    theirs is left."""
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    before = (len(util._MAT_CACHE), len(util._SCRATCH))
    state = str(tmp_path / "s")

    def top():
        run_sync_top(spark, state, max_pages=1)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(ingest, "feed_total_pages",
                       lambda *a, **kw: TOP_PAGES + 10)
            run_sync_top(spark, state, max_pages=1,
                         start_page=TOP_PAGES + 1)

    def years():
        run_sync_years(spark, state, start_year=YEAR, content_type="tv",
                       batch_pages=2)

    def category():
        ingest.run_sync_category(spark, state, category="top_rated")

    for tag, job, n_feeds in (("ingest_feed", top, 2),
                              ("years_feed", years, 2),
                              ("cat_feed", category, 1)):
        with staged_keys(tag) as staged:
            job()
        assert len(staged) == n_feeds, tag
        assert (len(util._MAT_CACHE), len(util._SCRATCH)) == before, tag
        assert os.listdir(scratch) == [], tag
