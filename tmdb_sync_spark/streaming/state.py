"""Checkpoint state for the incremental ingestion (SURVEY §2.10 ST1/ST2).

The reference keeps one cursor document per job in ``sync_cursors``
(``app/sync_top.py:22-29,267-273``, ``app/sync_years.py:23-31,259-267``):
``{key, page, inserted, updated, ts}``, committed after every page.

Here all of a state dir's cursors live in ONE small JSON file,
``{path}/cursors.json``: a map from key to row, with ``ts`` as naive-UTC
ISO text. A commit is a read-modify-write under ``{path}/_state.lock``
published with :func:`util.write_json_atomic` (fsynced tmp file,
``os.replace``, dir fsync), the same commit step the partitioned
tables' journal and table record use. A reader sees the
old file or the new one, never a torn one, and neither side starts a
Spark job: a cursor is bookkeeping, not data to scan. Only
:func:`read_state` builds a Spark frame, for the callers that join or
filter the cursors in a plan.

A state dir from the older parquet version-dir layout (``v000017``)
holds no ``cursors.json``, so it reads as "no cursor". The job restarts
at page 0 and its cumulative ``inserted``/``updated`` counters restart
from 0; the replayed pages spend the run's item ``limit`` again, and
rows already stored count as updated. The stored data is unchanged by
the replay: dead letters are keyed by page and the movies MERGE
upserts.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from tmdb_sync_spark.util import (
    acquire_dir_lock,
    literal_rows,
    release_dir_lock,
    write_json_atomic,
)

CURSOR_SCHEMA = (
    "key STRING, page INT, inserted BIGINT, updated BIGINT, ts TIMESTAMP"
)
CURSORS_FILE = "cursors.json"
STATE_LOCK_NAME = "_state.lock"


def _load(path: str) -> dict:
    """The stored doc: key → row, ``ts`` still ISO text (``{}`` when the
    dir or the file does not exist)."""
    try:
        with open(os.path.join(path, CURSORS_FILE)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def read_cursors(path: str) -> dict[str, dict]:
    """Every committed cursor of the state dir, key → row dict."""
    out = {}
    for key, row in _load(path).items():
        ts = row["ts"]
        out[key] = {**row, "ts": datetime.fromisoformat(ts) if ts else None}
    return out


def read_state(spark: SparkSession, path: str) -> DataFrame:
    """The cursors as a ``CURSOR_SCHEMA`` frame of literal rows (zero rows
    for a missing or empty dir), for callers that use them in a plan."""
    return literal_rows(spark, CURSOR_SCHEMA, [
        (r["key"], r["page"], r["inserted"], r["updated"], r["ts"])
        for r in read_cursors(path).values()
    ])


def read_cursor(spark: SparkSession, path: str, key: str) -> dict:
    """ST1: cursor fetch with the reference's page-0 default
    (``app/sync_top.py:22-25``)."""
    return read_cursors(path).get(
        key, {"key": key, "page": 0, "inserted": 0, "updated": 0,
              "ts": None})


def write_cursor(spark: SparkSession, path: str, cursor: dict) -> None:
    """ST1: commit the cursor row (replace this key's row in the doc).

    The read-modify-write runs under the state dir's lock: two
    concurrent jobs committing different keys would otherwise both load
    the same doc and the later publish would silently discard the
    earlier job's committed page. Commits take milliseconds, so
    contenders WAIT (bounded) instead of failing — a cursor commit
    losing to a transient overlap should not abort a whole sync run.
    """
    ts = cursor["ts"]
    row = {"key": cursor["key"], "page": int(cursor["page"]),
           "inserted": int(cursor["inserted"]),
           "updated": int(cursor["updated"]),
           "ts": ts.isoformat() if ts else None}
    lock = acquire_dir_lock(path, STATE_LOCK_NAME, wait_s=60.0)
    try:
        # only the lock holder writes here: a tmp file left now is a
        # crashed writer's, never a live one's
        for name in os.listdir(path):
            if name.startswith(CURSORS_FILE + ".tmp."):
                os.unlink(os.path.join(path, name))
        doc = _load(path)
        doc[row["key"]] = row
        write_json_atomic(os.path.join(path, CURSORS_FILE), doc)
    finally:
        release_dir_lock(lock)
