"""The sync cursors as one JSON file per state dir.

A cursor read or commit is file bookkeeping: it must start no Spark job.
Only ``read_state`` builds a frame, and it always has the cursor schema
(zero rows for a dir that holds no cursors). ``ts`` is naive UTC and
round-trips exactly, microseconds included, through the file and
through a frame built from it.
"""

from __future__ import annotations

import datetime

from pyspark.sql.types import StructType

from tmdb_sync_spark.api import sync_status, years_status
from tmdb_sync_spark.streaming import state as st

TS = datetime.datetime(2024, 1, 15, 12, 34, 56, 789012)


def _cursor(key: str, page: int, ts=None) -> dict:
    return {"key": key, "page": page, "inserted": page * 10,
            "updated": page, "ts": ts}


def _jobs_while(spark, fn):
    sc = spark.sparkContext
    group = f"cursor-state-{id(fn)}"
    sc.setJobGroup(group, "cursor bookkeeping")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_cursor_read_and_write_start_no_spark_job(spark, tmp_path):
    path = str(tmp_path / "cursors")

    def bookkeeping():
        first = st.read_cursor(spark, path, "k")
        st.write_cursor(spark, path, _cursor("k", 1, TS))
        st.write_cursor(spark, path, _cursor("other", 2))
        return first, st.read_cursor(spark, path, "k")

    (first, after), jobs = _jobs_while(spark, bookkeeping)
    assert jobs == []
    assert first == {"key": "k", "page": 0, "inserted": 0, "updated": 0,
                     "ts": None}
    assert after == _cursor("k", 1, TS)


def test_ts_round_trips_with_microseconds(spark, tmp_path):
    path = str(tmp_path / "cursors")
    st.write_cursor(spark, path, _cursor("years:movie:2001", 3, TS))
    st.write_cursor(spark, path, _cursor("top_vote_count_movie", 4))
    assert st.read_cursor(spark, path, "years:movie:2001")["ts"] == TS
    [row] = years_status(spark, path).collect()
    assert (row["year"], row["page"], row["ts"]) == (2001, 3, TS)
    [row] = years_status(spark, path, year=2001, end_year=2001).collect()
    assert row["ts"] == TS


def test_read_state_has_the_cursor_schema_for_any_row_count(spark, tmp_path):
    path = str(tmp_path / "cursors")
    # names, types and nullability, whatever the row count
    schema = StructType.fromDDL(st.CURSOR_SCHEMA)
    assert st.read_state(spark, path).schema == schema
    assert st.read_state(spark, path).collect() == []
    for n in (1, 2, 3):
        st.write_cursor(spark, path, _cursor(f"k{n}", n))
        df = st.read_state(spark, path)
        assert df.schema == schema
        assert sorted(r["page"] for r in df.collect()) == list(
            range(1, n + 1))


def test_years_status_over_a_missing_dir_is_empty(spark, tmp_path):
    assert years_status(spark, str(tmp_path / "nowhere")).collect() == []


def test_sync_status_reads_cursors_without_a_frame(spark, tmp_path):
    state = str(tmp_path / "s")
    for key, page in (("years:movie:2001", 2), ("years:movie:1999", 1),
                      ("years:tv:1990", 5), ("years:movie:abc", 9),
                      ("top_vote_count_movie", 7)):
        st.write_cursor(spark, f"{state}/cursors", _cursor(key, page, TS))
    status, jobs = _jobs_while(spark, lambda: sync_status(spark, state))
    assert jobs == []                     # no error tables, no frame
    assert status["top_votes"] == _cursor("top_vote_count_movie", 7, TS)
    assert [(y["content_type"], y["year"], y["page"])
            for y in status["years"]] == [
        ("movie", 1999, 1), ("movie", 2001, 2), ("tv", 1990, 5)]
