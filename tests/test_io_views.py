"""register_views idempotence memo (r12 optimization), and the footer
row-count memo behind ``parallel_table``.

The memo must (a) skip re-registration when nothing changed — the whole
point, q1_sql paid ~0.7 s of footer re-reads per construction — while
(b) re-registering on a table-content change (the driver regenerates
/root/testdata in place between rounds) and (c) re-registering when the
SAME session switches sf_dir (the view names are shared, so a stale skip
would leave views pointing at the other directory's data).
"""

from __future__ import annotations

import os
import shutil

import tmdb_sync_spark.io as io


def _registration_counter(monkeypatch):
    calls = {"n": 0}
    real = io.table

    def counting(spark, sf_dir, name):
        calls["n"] += 1
        return real(spark, sf_dir, name)

    monkeypatch.setattr(io, "table", counting)
    return calls


def test_repeat_call_skips_reregistration(spark, sf_dir, monkeypatch):
    calls = _registration_counter(monkeypatch)
    io._VIEWS_REGISTERED.pop(spark, None)
    io.register_views(spark, sf_dir)
    assert calls["n"] == len(io.TABLES)
    io.register_views(spark, sf_dir)
    assert calls["n"] == len(io.TABLES)   # memo hit: no table() calls


def test_content_change_reregisters(spark, sf_dir, monkeypatch, tmp_path):
    # copy one sf_dir so the file mtimes are ours to touch
    d = tmp_path / "sf"
    d.mkdir()
    for t in io.TABLES:
        shutil.copy2(f"{sf_dir}/{t}.parquet", d / f"{t}.parquet")
    calls = _registration_counter(monkeypatch)
    io.register_views(spark, str(d))
    first = calls["n"]
    os.utime(d / "orders.parquet")   # simulate in-place regeneration
    io.register_views(spark, str(d))
    assert calls["n"] == 2 * first   # fingerprint miss: full re-register


def test_sf_dir_switch_always_reregisters(spark, sf_dir, monkeypatch, tmp_path):
    d = tmp_path / "sf2"
    d.mkdir()
    for t in io.TABLES:
        shutil.copy2(f"{sf_dir}/{t}.parquet", d / f"{t}.parquet")
    calls = _registration_counter(monkeypatch)
    io.register_views(spark, sf_dir)
    io.register_views(spark, str(d))
    io.register_views(spark, sf_dir)   # switch BACK must also re-register
    assert calls["n"] == 3 * len(io.TABLES)


def test_footer_rows_not_served_stale_when_dir_grows(tmp_path, monkeypatch):
    """A directory that grows from one part file to several, its first
    file untouched, must stop reporting the first footer's count: that
    count is now only a lower bound of the table's rows. A multi-file
    directory is answered without opening any footer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"x": list(range(5))}), d / "part-00000.parquet")
    assert io.table_rows_from_footer(str(d)) == 5
    pq.write_table(pa.table({"x": list(range(7))}), d / "part-00001.parquet")
    opened = []
    real = pq.ParquetFile
    monkeypatch.setattr(
        pq, "ParquetFile", lambda f, *a, **k: opened.append(f) or real(f, *a, **k)
    )
    assert io.table_rows_from_footer(str(d)) is None
    assert opened == []
