"""The sync loops stop at the feed's end on the driver (ST3): a call
stages only batches that hold pages, with the same return dicts,
cursors and dead letters as an empty-batch stop. Tiny fixture feeds
only: the tv year feed is 53 items, 3 pages."""

from __future__ import annotations

import os
import shutil

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


def _staged(tag: str) -> set:
    return {k for k in util._MAT_CACHE if tag in k}


def _sync_tv_year(spark, state, **kw):
    """Run the tv year; return its result and the feeds it staged."""
    before = _staged("years_feed")
    out = run_sync_years(spark, state, start_year=YEAR,
                         content_type="tv", batch_pages=TV_PAGES, **kw)
    return out, _staged("years_feed") - before


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
    assert staged == set()
    assert (out["processed"], out["inserted"], out["updated"]) == (0, 0, 0)
    with open(path, "rb") as f:
        assert f.read() == before


def test_top_start_past_the_feed_stages_nothing(spark, tmp_path):
    state = str(tmp_path / "s")
    before = _staged("ingest_feed")
    out = run_sync_top(spark, state, max_pages=5, start_page=TOP_PAGES + 1)
    assert _staged("ingest_feed") == before
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

    top_before = _staged("ingest_feed")
    out = run_sync_top(spark, state, max_pages=5, start_page=TOP_PAGES + 1)
    assert len(_staged("ingest_feed") - top_before) == 1
    assert out == {"page": TOP_PAGES, "inserted": 0, "updated": 0}
    with open(path, "rb") as f:
        assert f.read() == before
