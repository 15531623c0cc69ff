"""The frames moderation endpoints over the LIVE ingest state.

mark/unmark are single-row partitioned MERGEs updating the persisted
``incorrect_frames`` and recomputing ``backdrop_path`` from the STORED
frames array — the reference's update_one + re-read + pick_backdrop flow
(app/endpoints/frames.py:40-103, app/utils/frames.py:4-19). The re-sync
test pins upsert.py:76-90's preserve semantics: manual marks survive a
full re-sync MERGE and keep excluding frames from the recomputed
backdrop.
"""

from __future__ import annotations

import pytest

from tmdb_sync_spark.api import (
    mark_incorrect_frames,
    report_frame,
    unmark_incorrect_frames,
)
from tmdb_sync_spark.plans.partitioned import read_partitioned
from tmdb_sync_spark.streaming.ingest import run_sync_top


@pytest.fixture(scope="module")
def state(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("frames_api") / "state")
    run_sync_top(spark, d, max_pages=2, batch_pages=2)
    return d


def movie_row(spark, state, movie_id):
    return (
        read_partitioned(spark, f"{state}/movies")
        .where(f"id = {movie_id}")
        .collect()[0]
    )


def pick(frames, bad):
    """Independent Python pick_backdrop (app/utils/frames.py:4-19 with
    the engine's pinned path tiebreak)."""
    valid = [f for f in frames if f["path"] not in set(bad)]
    if not valid:
        return None
    valid.sort(key=lambda f: (-(f["vote_average"] or 0.0),
                              -(f["width"] or 0), f["path"]))
    return valid[0]["path"]


def pick_target(spark, state):
    """A movie with ≥2 frames, so marking the backdrop changes it."""
    for r in (
        read_partitioned(spark, f"{state}/movies")
        .where("n_valid_frames >= 2").orderBy("id").limit(5).collect()
    ):
        return r["id"]
    raise AssertionError("fixture produced no movie with 2+ frames")


def test_mark_recomputes_backdrop_and_persists(spark, state):
    mid = pick_target(spark, state)
    before = movie_row(spark, state, mid)
    frames = [f.asDict() for f in before["frames"]]
    old = before["backdrop_path"]
    assert old == pick(frames, [])          # stored argmax is the model's

    out = mark_incorrect_frames(spark, f"{state}/movies", mid, [old])
    assert out["ok"] and out["backdrop_path"] == pick(frames, [old])
    assert out["present_in_frames"] == [old] and out["not_in_frames"] == []

    after = movie_row(spark, state, mid)
    assert list(after["incorrect_frames"]) == [old]
    assert after["backdrop_path"] == pick(frames, [old]) != old
    # frames array itself is untouched by moderation
    assert [f.asDict() for f in after["frames"]] == frames

    # idempotent ($addToSet): marking again changes nothing
    out2 = mark_incorrect_frames(spark, f"{state}/movies", mid, [old])
    assert out2["backdrop_path"] == out["backdrop_path"]
    assert list(movie_row(spark, state, mid)["incorrect_frames"]) == [old]


def test_marks_survive_resync_and_keep_excluding(spark, state):
    """upsert.py:76-90: a re-sync refreshes frames and recomputes the
    backdrop but PRESERVES manual marks — the merge's target-only
    default plus the matched_update recompute against t.incorrect_frames."""
    mid = pick_target(spark, state)
    row = movie_row(spark, state, mid)
    frames = [f.asDict() for f in row["frames"]]
    marked = list(row["incorrect_frames"]) or [row["backdrop_path"]]
    if not list(row["incorrect_frames"]):
        mark_incorrect_frames(spark, f"{state}/movies", mid, marked)

    run_sync_top(spark, state, max_pages=2, batch_pages=2,
                 resume=False, start_page=1)   # full re-sync, same pages
    after = movie_row(spark, state, mid)
    assert list(after["incorrect_frames"]) == marked      # preserved
    assert after["backdrop_path"] == pick(frames, marked)  # still excluded
    # and created_at survived while synced_at advanced ($setOnInsert)
    assert after["synced_at"] > after["created_at"]


def test_unmark_restores_backdrop(spark, state):
    mid = pick_target(spark, state)
    row = movie_row(spark, state, mid)
    frames = [f.asDict() for f in row["frames"]]
    marked = list(row["incorrect_frames"])
    assert marked, "previous tests left a mark"

    out = unmark_incorrect_frames(spark, f"{state}/movies", mid, marked)
    assert out["ok"] and out["removed"] == marked
    after = movie_row(spark, state, mid)
    assert list(after["incorrect_frames"]) == []
    assert after["backdrop_path"] == pick(frames, []) == out["backdrop_path"]


def test_moderation_contracts(spark, state):
    mid = pick_target(spark, state)
    with pytest.raises(LookupError, match="not found"):    # the 404
        mark_incorrect_frames(spark, f"{state}/movies", -999, ["/x.jpg"])
    with pytest.raises(ValueError, match="non-empty"):     # min_items=1
        mark_incorrect_frames(spark, f"{state}/movies", mid, [])
    with pytest.raises(ValueError, match="content_type"):
        unmark_incorrect_frames(spark, f"{state}/movies", mid, ["/x.jpg"],
                                content_type="show")
    # marking a path that is not in frames: allowed (the reference adds
    # it to the set and reports it as not_in_frames)
    out = mark_incorrect_frames(spark, f"{state}/movies", mid,
                                ["/nowhere.jpg"])
    assert out["not_in_frames"] == ["/nowhere.jpg"]
    unmark_incorrect_frames(spark, f"{state}/movies", mid, ["/nowhere.jpg"])


def test_report_frame_appends(spark, state, tmp_path):
    reports = str(tmp_path / "reports")
    assert report_frame(spark, reports, movie_id=5, path="/a.jpg",
                        reporter="qa")["ok"]
    assert report_frame(spark, reports, movie_id=5, path="/a.jpg")["ok"]
    rows = spark.read.parquet(reports).collect()
    assert len(rows) == 2                       # blind insert, no dedup
    assert {r["reason"] for r in rows} == {"not_a_scene"}
    assert all(r["ts"] is not None for r in rows)
    assert {r["reporter"] for r in rows} == {"qa", None}
    assert dict(spark.read.parquet(reports).dtypes)["movie_id"] == "bigint"
    with pytest.raises(ValueError, match="200"):
        report_frame(spark, reports, movie_id=1, path="/b.jpg",
                     reason="x" * 201)


def test_stored_frames_carry_aspect_ratio(spark, state):
    """r6-ADVICE: the reference's _normalize_frames keeps aspect_ratio on
    every stored frame (app/catalog/upsert.py:26-34) and _project_movie
    serves it verbatim — the stored struct must not be narrower. The
    fixture's generator pins the exact expected value per (id, j)."""
    mid = pick_target(spark, state)
    frames = [f.asDict() for f in movie_row(spark, state, mid)["frames"]]
    assert frames and all("aspect_ratio" in f for f in frames)
    # every survivor passed the validity filter, so its stored ratio is
    # in-range AND matches the fixture formula for SOME api slot j
    from tmdb_sync_spark.sources import fixture

    # keep-FIRST-valid per path (the dedup runs after the validity
    # filter): a duplicate path at j+5 has a different ratio, so the
    # order of this dict build is load-bearing
    expect: dict = {}
    for j in range(fixture.n_frames(mid)):
        f = fixture.frame(mid, j)
        if 1.5 <= f["aspect_ratio"] <= 2.2 and f["vote_average"] >= 0:
            expect.setdefault(f["path"], f["aspect_ratio"])
    for f in frames:
        assert 1.5 <= f["aspect_ratio"] <= 2.2
        assert f["aspect_ratio"] == expect[f["path"]]
