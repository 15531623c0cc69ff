"""run_sync_years: the reference's year-by-year backfill job
(app/sync_years.py:150-281) — per-(year, content_type) cursors,
independent resume, cumulative counters, the shared upsert contracts —
plus the /sync/status/years report (app/main.py:165-206)."""

from __future__ import annotations

import pytest

from tmdb_sync_spark.api import years_status
from tmdb_sync_spark.plans.partitioned import read_partitioned
from tmdb_sync_spark.sources import fixture
from tmdb_sync_spark.streaming.ingest import run_sync_years
from tmdb_sync_spark.streaming.state import read_cursor

# Long property/chaos/replay suite: excluded from the default
# (driver-time-boxed) profile; the full local gate runs it — see
# pytest.ini and scripts/run_full_tests.sh.
pytestmark = pytest.mark.slow



def movie_ids(spark, state):
    return {r["id"] for r in
            read_partitioned(spark, f"{state}/movies").select("id").collect()}


def expected_ok_ids(year, n_items):
    """The fixture feed's ids minus the deterministic dead-letter set."""
    ids = [year * 10_000 + r + 1 for r in range(n_items)]
    return {i for i in ids if i % 97 != 0 and i % 89 != 0}


def test_two_year_backfill_with_per_year_cursors(spark, tmp_path):
    state = str(tmp_path / "s")
    out = run_sync_years(spark, state, start_year=1999, end_year=2000,
                         batch_pages=3)
    n = fixture.YEAR_ITEMS["movie"]            # 97 items = 5 pages / year
    want = expected_ok_ids(1999, n) | expected_ok_ids(2000, n)
    assert out["status"] == "ok" and out["last_year"] == 2000
    assert out["inserted"] == len(want) and out["updated"] == 0
    assert out["processed"] == len(want)
    assert movie_ids(spark, state) == want

    # one cursor per year, page = the year's last non-empty page
    pages = -(-n // fixture.PAGE_SIZE)
    for y in (1999, 2000):
        cur = read_cursor(spark, f"{state}/cursors", f"years:movie:{y}")
        assert cur["page"] == pages
        assert cur["inserted"] == len(expected_ok_ids(y, n))

    # dead letters keyed by (content_type, year, page): both years'
    # page-1 rows coexist
    errs = spark.read.parquet(f"{state}/errors_years")
    got = {(r["year"], r["item_id"]) for r in errs.collect()}
    bad = {i for i in range(19990001, 19990001 + n)
           if i % 97 == 0 or i % 89 == 0}
    bad |= {i for i in range(20000001, 20000001 + n)
            if i % 97 == 0 or i % 89 == 0}
    assert got == {(i // 10_000, i) for i in bad}


def test_resume_continues_each_year_independently(spark, tmp_path):
    """A second run over the same range RESUMES from each year's cursor:
    every year's feed is already consumed, so the run processes nothing
    and the movies table and cumulative counters are unchanged."""
    state = str(tmp_path / "s")
    first = run_sync_years(spark, state, start_year=1999, end_year=2000)
    before = movie_ids(spark, state)
    again = run_sync_years(spark, state, start_year=1999, end_year=2000)
    assert again["processed"] == 0
    assert again["inserted"] == 0 and again["updated"] == 0
    assert movie_ids(spark, state) == before
    cur = read_cursor(spark, f"{state}/cursors", "years:movie:1999")
    assert cur["inserted"] == first["inserted"] // 2   # unchanged, cumulative

    # resume=False re-syncs from page 1: every existing row updates
    resync = run_sync_years(spark, state, start_year=1999, resume=False)
    assert resync["inserted"] == 0
    assert resync["updated"] == len(expected_ok_ids(
        1999, fixture.YEAR_ITEMS["movie"]))
    # cumulative counters: the year's cursor accumulates across runs
    cur2 = read_cursor(spark, f"{state}/cursors", "years:movie:1999")
    assert cur2["updated"] == cur["updated"] + resync["updated"]


def test_item_budget_stops_between_batches(spark, tmp_path):
    """limit is the reference's total item budget, enforced here at batch
    granularity: the run stops before starting a batch that would follow
    a budget-exceeding one, so later years are untouched."""
    state = str(tmp_path / "s")
    out = run_sync_years(spark, state, start_year=1999, end_year=2001,
                         limit=30, batch_pages=1)
    assert out["processed"] >= 30                  # whole batches commit
    assert out["processed"] <= 60                  # but only just past it
    # year 2000+ never started: no cursor row beyond 1999
    assert read_cursor(spark, f"{state}/cursors", "years:movie:2000")["page"] == 0
    assert read_cursor(spark, f"{state}/cursors", "years:movie:2001")["page"] == 0


def test_years_status_report(spark, tmp_path):
    state = str(tmp_path / "s")
    run_sync_years(spark, state, start_year=1999, end_year=2000)
    cursors = f"{state}/cursors"

    # single year: dict, zero-defaulted when absent (the endpoint's 404-less default)
    one = years_status(spark, cursors, year=1999)
    assert one["page"] > 0 and one["inserted"] > 0
    absent = years_status(spark, cursors, year=1985)
    assert absent["page"] == 0 and absent["inserted"] == 0

    # range: missing years zero-filled, sorted (J3's fill shape)
    rng = years_status(spark, cursors, year=1998, end_year=2001).collect()
    assert [r["year"] for r in rng] == [1998, 1999, 2000, 2001]
    assert [r["key"] for r in rng] == [
        f"years:movie:{y}" for y in (1998, 1999, 2000, 2001)]
    assert rng[0]["page"] == 0 and rng[3]["page"] == 0      # zero-filled
    assert rng[1]["page"] > 0 and rng[2]["page"] > 0
    # reversed bounds swap, like the endpoint
    rev = years_status(spark, cursors, year=2001, end_year=1998).collect()
    assert [r["year"] for r in rev] == [1998, 1999, 2000, 2001]

    # no bounds: every years:{type}: cursor, regex-scoped to the type
    allm = years_status(spark, cursors).collect()
    assert [r["year"] for r in allm] == [1999, 2000]
    assert years_status(spark, cursors, content_type="tv").collect() == []
    with pytest.raises(ValueError, match="content_type"):
        years_status(spark, cursors, content_type="show")


def test_top_and_years_share_upsert_contracts(spark, tmp_path):
    """Both jobs funnel through _merge_batch: a years backfill over a
    movies table the TOP sync bootstrapped must classify overlaps as
    updates, preserve created_at, and keep the frames/marks machinery —
    disjoint fixture id spaces mean zero overlap here, so assert the
    schema contract and that both jobs' rows coexist."""
    from tmdb_sync_spark.streaming.ingest import run_sync_top

    state = str(tmp_path / "s")
    run_sync_top(spark, state, max_pages=1, batch_pages=1)
    top_ids = movie_ids(spark, state)
    out = run_sync_years(spark, state, start_year=1999, batch_pages=5)
    assert out["updated"] == 0                     # disjoint id spaces
    movies = read_partitioned(spark, f"{state}/movies")
    assert movie_ids(spark, state) > top_ids
    row = movies.where("id >= 10000000").select(
        "frames", "incorrect_frames", "created_at").first()
    assert row["created_at"] is not None
    assert list(row["incorrect_frames"]) == []


def test_category_sync_skips_frameless_and_reports_raw_count(spark, tmp_path):
    """run_sync_category (app/sync.py:112-133): one feed page, items with
    zero VALID frames skipped entirely, inserted_or_updated reporting the
    RAW page size (the reference's quirk), honest counts alongside.
    Expected id set computed independently from the fixture formulas."""
    from tmdb_sync_spark.streaming.ingest import run_sync_category

    def n_valid(mid):
        # fixture.frame: valid iff 1.5 <= (13+(mid+3j)%10)/10 <= 2.2;
        # dedup keeps first per path (path repeats every 5 slots)
        seen, n = set(), 0
        for j in range(mid % 9):
            if not 2 <= (mid + 3 * j) % 10 <= 9:
                continue
            p = f"/f/{mid}_{j % 5}.jpg"
            if p not in seen:
                seen.add(p)
                n += 1
        return n

    page1 = [90_100_000 + r + 1 for r in range(fixture.PAGE_SIZE)]
    want = {i for i in page1 if n_valid(i) > 0}
    assert want != set(page1), "fixture page 1 should contain frameless items"

    state = str(tmp_path / "s")
    out = run_sync_category(spark, state, category="top_rated")
    assert out["inserted_or_updated"] == fixture.PAGE_SIZE   # raw, w/ skips
    assert out["inserted"] == len(want) and out["updated"] == 0
    assert movie_ids(spark, state) == want
    assert out["type"] == "movie" and out["category"] == "top_rated"

    # re-run = re-sync: same rows, all updates, created_at preserved
    again = run_sync_category(spark, state, category="top_rated")
    assert again["inserted"] == 0 and again["updated"] == len(want)
    movies = read_partitioned(spark, f"{state}/movies")
    assert movies.where("synced_at <= created_at").count() == 0
    # a different category's ids land disjointly in the same table
    tv = run_sync_category(spark, state, category="popular",
                           content_type="tv")
    assert tv["inserted"] > 0 and tv["updated"] == 0


def test_sync_status_overview(spark, tmp_path):
    """GET /sync/status (app/main.py:64-138): top cursor (None until the
    top job commits), parsed+sorted year cursors with malformed keys
    skipped, and dead-letter counts summed across BOTH error tables."""
    from tmdb_sync_spark.api import sync_status
    from tmdb_sync_spark.streaming.ingest import run_sync_top
    from tmdb_sync_spark.streaming.state import write_cursor

    state = str(tmp_path / "s")
    run_sync_years(spark, state, start_year=2000, content_type="movie")
    # a malformed years key: the endpoint's try/except skips it
    write_cursor(spark, f"{state}/cursors", {
        "key": "years:movie:abc", "page": 1, "inserted": 0, "updated": 0,
        "ts": None})

    st1 = sync_status(spark, state)
    assert st1["top_votes"] is None            # top job never ran
    assert [(y["content_type"], y["year"]) for y in st1["years"]] == [
        ("movie", 2000)]
    n_years_errs = spark.read.parquet(f"{state}/errors_years").count()
    assert n_years_errs > 0
    # fixture ts is current_timestamp → every window sees every row
    assert st1["errors"] == {"last_hour": n_years_errs,
                             "last_24h": n_years_errs,
                             "total": n_years_errs}

    run_sync_top(spark, state, max_pages=1, batch_pages=1)
    st2 = sync_status(spark, state)
    assert st2["top_votes"] is not None and st2["top_votes"]["page"] == 1
    # page 1 of the top feed has zero failing ids → the dead-letter
    # write leaves a FILE-LESS table root; the status must read it as
    # zero rows, not crash on schema inference (explicit-schema read)
    from tmdb_sync_spark.streaming.ingest import ERROR_SCHEMA

    n_top = spark.read.schema(ERROR_SCHEMA).parquet(
        f"{state}/errors").count()
    assert n_top == 0
    assert st2["errors"]["total"] == n_years_errs + n_top
    assert st2["generated_at"] is not None


def test_meta_sync_status_coverage_per_sort_kind(spark, tmp_path):
    """GET /meta/sync-status (meta_sync.py:9-62) over the per-sort sync
    stamps: a popularity backfill stamps only last_popularity_sync_at, a
    vote_count finalize adds the other stamp, and the category job (no
    _sort_by in its upsert) stamps neither — the coverage ratios expose
    exactly which years were refreshed which way."""
    from tmdb_sync_spark.api import meta_sync_status
    from tmdb_sync_spark.streaming.ingest import (
        run_sync_category,
        run_sync_current_year,
        run_sync_finalize_year,
    )

    state = str(tmp_path / "s")
    # monthly refresh of "current" year 1999 (wrapper, popularity.desc)
    out = run_sync_current_year(spark, state, year=1999)
    assert out["inserted"] > 0
    movies = read_partitioned(spark, f"{state}/movies")
    rows = meta_sync_status(movies).collect()
    r99 = {r["year"]: r for r in rows}[1999]
    assert r99["popularity_coverage"] == 1.0
    assert r99["vote_count_coverage"] == 0.0
    assert r99["last_popularity"] is not None and r99["last_vote_count"] is None

    # finalize the same year by vote_count.desc: resume=False re-sync
    run_sync_finalize_year(spark, state, year=1999, resume=False)
    movies = read_partitioned(spark, f"{state}/movies")
    r99 = {r["year"]: r for r in meta_sync_status(movies).collect()}[1999]
    assert r99["popularity_coverage"] == 1.0    # preserved on update
    assert r99["vote_count_coverage"] == 1.0    # newly stamped
    assert r99["last_vote_count"] >= r99["last_popularity"]

    # category rows carry NO stamp; their (scattered) years read 0.0
    run_sync_category(spark, state, category="top_rated")
    movies = read_partitioned(spark, f"{state}/movies")
    all_rows = meta_sync_status(movies).collect()
    cat_years = [r for r in all_rows if r["year"] != 1999]
    assert cat_years and all(
        r["popularity_coverage"] == 0.0 and r["vote_count_coverage"] == 0.0
        for r in cat_years)
    # year-range + content_type filters
    only99 = meta_sync_status(movies, year_from=1999, year_to=1999).collect()
    assert [r["year"] for r in only99] == [1999]
    assert meta_sync_status(movies, content_type="tv").collect() == []


def test_reports_stats_rollup(spark, tmp_path):
    """GET /reports/stats (reports.py:18-46): count + reason histogram
    per (movie_id, path, content_type); falsy reasons excluded from the
    map but counted in the total, like the endpoint's Counter over
    [r for r in reasons if r]."""
    from tmdb_sync_spark.api import report_frame, reports_stats

    reports = str(tmp_path / "reports")
    for reason in ("not_a_scene", "not_a_scene", "spoiler", ""):
        report_frame(spark, reports, movie_id=7, path="/a.jpg",
                     reason=reason)
    report_frame(spark, reports, movie_id=7, path="/b.jpg")
    report_frame(spark, reports, movie_id=8, path="/a.jpg",
                 content_type="tv")

    rows = {(r["movie_id"], r["path"], r["content_type"]): r
            for r in reports_stats(spark, reports).collect()}
    assert len(rows) == 3
    a = rows[(7, "/a.jpg", "movie")]
    assert a["count"] == 4                       # the empty reason counts
    assert dict(a["reasons"]) == {"not_a_scene": 2, "spoiler": 1}
    assert dict(rows[(7, "/b.jpg", "movie")]["reasons"]) == {
        "not_a_scene": 1}
    assert rows[(8, "/a.jpg", "tv")]["count"] == 1


def test_reports_stats_before_first_report(spark, tmp_path):
    """A fresh install has no reports dir yet: the rollup is empty (the
    reference aggregates an empty collection to ``[]``), with the same
    columns it has once reports exist."""
    from tmdb_sync_spark.api import report_frame, reports_stats

    reports = str(tmp_path / "reports")
    empty = reports_stats(spark, reports)
    assert empty.collect() == []
    report_frame(spark, reports, movie_id=7, path="/a.jpg")
    assert empty.schema == reports_stats(spark, reports).schema


def test_concurrent_top_and_years_jobs_interleave(spark, tmp_path):
    """The reference launches top and years syncs as concurrent
    background tasks against one collection; here two threads drive both
    jobs into ONE movies table. The bounded merge-lock wait
    (MERGE_LOCK_WAIT_S) makes their micro-batch merges interleave
    batch-by-batch instead of one run dying on first lock contention —
    and the end state is exactly the union of both feeds' surviving ids,
    with each job's own cursor committed."""
    import threading

    from tmdb_sync_spark.streaming.ingest import run_sync_top

    state = str(tmp_path / "s")
    results, errors = {}, []

    def drive(name, fn, **kw):
        try:
            results[name] = fn(spark, state, **kw)
        except Exception as e:                      # pragma: no cover
            errors.append((name, e))

    t1 = threading.Thread(
        target=drive, args=("top", run_sync_top),
        kwargs=dict(max_pages=3, batch_pages=1))
    t2 = threading.Thread(
        target=drive, args=("years", run_sync_years),
        kwargs=dict(start_year=1999, batch_pages=2))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors

    n = fixture.YEAR_ITEMS["movie"]
    top_ok = {i for i in range(1, 61) if i % 97 and i % 89}   # 3 pages
    want = top_ok | expected_ok_ids(1999, n)
    assert movie_ids(spark, state) == want
    assert results["top"]["inserted"] == len(top_ok)
    assert results["years"]["inserted"] == len(expected_ok_ids(1999, n))
    assert read_cursor(spark, f"{state}/cursors",
                       "top_vote_count_movie")["page"] == 3
    assert read_cursor(spark, f"{state}/cursors",
                       "years:movie:1999")["page"] == 5


def test_provenance_fields_category_and_sort_by(spark, tmp_path):
    """The doc's provenance fields (_category / _sort_by → category /
    sort_by): _category rides every $set (last writer wins), _sort_by is
    written only by year runs and PRESERVED otherwise — and the TOP sync
    stamps neither last_*_sync_at (it never puts _sort_by on the doc,
    app/sync_top.py:190-214 — the cursor name notwithstanding)."""
    from tmdb_sync_spark.streaming.ingest import run_sync_top

    state = str(tmp_path / "s")
    run_sync_top(spark, state, max_pages=1, batch_pages=1)
    movies = read_partitioned(spark, f"{state}/movies")
    top = movies.where("id < 1000000").select(
        "category", "sort_by",
        "last_popularity_sync_at", "last_vote_count_sync_at").first()
    assert top["category"] == "discover_top_votes"
    assert top["sort_by"] is None
    assert top["last_popularity_sync_at"] is None     # reference quirk:
    assert top["last_vote_count_sync_at"] is None     # top stamps nothing

    run_sync_years(spark, state, start_year=1999)
    movies = read_partitioned(spark, f"{state}/movies")
    yr = movies.where("id >= 10000000").first()
    assert yr["category"] == "discover_year_1999"
    assert yr["sort_by"] == "popularity.desc"
    assert yr["last_popularity_sync_at"] is not None


def test_dead_letters_isolated_per_content_type(spark, tmp_path):
    """r6-ADVICE (medium): the fixture's ids repeat across content types
    within a year (year*10000 + rank), so a tv run over the same
    year/page range as an earlier movie run used to _clear_batch_errors
    and dynamically overwrite the movie run's year=Y/page=P partitions —
    silently destroying the other feed's current-failure rows. The table
    is now partitioned by (content_type, year, page) and the clear keys
    on content_type too: both runs' dead letters coexist, each keyed by
    its own feed identity."""
    state = str(tmp_path / "s")
    run_sync_years(spark, state, start_year=1999, content_type="movie")
    run_sync_years(spark, state, start_year=1999, content_type="tv")

    errs = spark.read.parquet(f"{state}/errors_years")
    got = {(r["content_type"], r["item_id"]) for r in errs.collect()}

    def bad(n):
        return {i for i in range(19990001, 19990001 + n)
                if i % 97 == 0 or i % 89 == 0}

    want = ({("movie", i) for i in bad(fixture.YEAR_ITEMS["movie"])}
            | {("tv", i) for i in bad(fixture.YEAR_ITEMS["tv"])})
    assert got == want
    # a replay of ONE content type clears and rewrites only its own
    # partitions: the other feed's rows survive byte-for-byte
    run_sync_years(spark, state, start_year=1999, content_type="movie",
                   resume=False)
    errs2 = spark.read.parquet(f"{state}/errors_years")
    got2 = {(r["content_type"], r["item_id"]) for r in errs2.collect()}
    assert got2 == want


def test_legacy_errors_layout_refused_loudly(spark, tmp_path):
    """A pre-content_type errors_years table (year=Y at the root) must
    be refused with migration instructions — the mixed-depth layout
    breaks parquet partition discovery AND the clear step would
    silently skip legacy rows (review finding)."""
    import os

    import pytest as _pt

    state = str(tmp_path / "s")
    legacy = os.path.join(state, "errors_years", "year=1999", "page=1")
    os.makedirs(legacy)
    with open(os.path.join(legacy, "junk.parquet"), "w") as fh:
        fh.write("")
    with _pt.raises(ValueError, match="pre-upgrade"):
        run_sync_years(spark, state, start_year=1999)
