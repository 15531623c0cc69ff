"""Streaming JSONL drop ingest (streaming/file_ingest.py): exactly-once
file processing across runs, MERGE idempotency on redelivered keys,
deterministic in-batch duplicate folding, and dead-letter capture."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from tmdb_sync_spark.plans.partitioned import read_partitioned
from tmdb_sync_spark.streaming.file_ingest import ingest_file_stream

import pytest

# Long property/chaos/replay suite: excluded from the default
# (driver-time-boxed) profile; the full local gate runs it — see
# pytest.ini and scripts/run_full_tests.sh.
pytestmark = pytest.mark.slow


DOC_DDL = (
    "doc_id bigint, text string, lang string, source string, "
    "n_chars bigint"
)


def _doc(i, text, lang="en"):
    return json.dumps({
        "doc_id": i, "text": text, "lang": lang, "source": "drop",
        "n_chars": len(text),
    })


def _run(spark, src, state):
    return ingest_file_stream(
        spark, src, DOC_DDL, state,
        keys=["doc_id"], partition_col="lang", table_name="corpus",
    )


def test_drops_merge_resume_and_dead_letter(spark, tmp_path):
    src = os.path.join(str(tmp_path), "drops")
    state = os.path.join(str(tmp_path), "state")
    os.makedirs(src)

    # drop 1: three docs, one corrupt line, one in-batch duplicate key
    # (doc 2 twice — the greater full row must win deterministically)
    with open(os.path.join(src, "drop1.jsonl"), "w") as fh:
        fh.write("\n".join([
            _doc(1, "alpha"),
            _doc(2, "beta"),
            "{not json at all",
            _doc(2, "zeta"),          # same key, greater row
            _doc(3, "gamma", "de"),
        ]) + "\n")
    res = _run(spark, src, state)
    assert res["dead"] == 1
    t = read_partitioned(spark, res["table_path"])
    assert t.count() == 3
    assert t.where(F.col("doc_id") == 2).collect()[0]["text"] == "zeta"
    dead = spark.read.parquet(res["errors_path"])
    assert dead.count() == 1
    assert "not json" in dead.collect()[0]["raw_record"]

    # drop 2: update doc 3 (lang moves de->en: a moved key across
    # partitions), add doc 4. Re-run: ONLY the new file is processed
    # (drop1's corrupt line must NOT dead-letter again).
    with open(os.path.join(src, "drop2.jsonl"), "w") as fh:
        fh.write("\n".join([
            _doc(3, "gamma-updated"),
            _doc(4, "delta"),
        ]) + "\n")
    res2 = _run(spark, src, state)
    assert res2["dead"] == 0
    t2 = read_partitioned(spark, res2["table_path"])
    assert t2.count() == 4
    r3 = t2.where(F.col("doc_id") == 3).collect()
    assert len(r3) == 1
    assert r3[0]["text"] == "gamma-updated" and r3[0]["lang"] == "en"
    assert spark.read.parquet(res2["errors_path"]).count() == 1
    # materialize NOW: t2's lazy plan pins pre-drop3 part files, and
    # the next merge swaps them away (the documented
    # stale-frame-after-rewrite contract)
    t2_rows = {tuple(r) for r in t2.collect()}

    # redeliver drop2's CONTENT as a new file: idempotent on the table
    with open(os.path.join(src, "drop3.jsonl"), "w") as fh:
        fh.write("\n".join([
            _doc(3, "gamma-updated"),
            _doc(4, "delta"),
        ]) + "\n")
    res3 = _run(spark, src, state)
    t3 = read_partitioned(spark, res3["table_path"])
    assert t3.count() == 4
    assert {tuple(r) for r in t3.collect()} == t2_rows

    # no new files: a run is a no-op, not an error
    res4 = _run(spark, src, state)
    assert res4["dead"] == 0
    assert read_partitioned(spark, res4["table_path"]).count() == 4


def test_ingest_with_near_dup_index(spark, tmp_path):
    """The full operational pipeline: drops parse, dead-letter,
    near-dup-filter against the growing index, and merge — a later
    drop's near-duplicate (under a NEW doc_id) never reaches the
    table."""
    src = os.path.join(str(tmp_path), "drops")
    state = os.path.join(str(tmp_path), "state")
    idx = os.path.join(str(tmp_path), "sig_index")
    os.makedirs(src)
    base = " ".join(f"word{i}" for i in range(60))
    other = " ".join(f"token{i}" for i in range(60))
    edited = base.replace("word30", "EDITED")

    with open(os.path.join(src, "d1.jsonl"), "w") as fh:
        fh.write(_doc(1, base) + "\n")
    r1 = ingest_file_stream(
        spark, src, DOC_DDL, state,
        keys=["doc_id"], partition_col="lang",
        dedup_index_path=idx,
    )
    assert r1["near_dups"] == 0

    # d2: a near-dup of doc 1 under a new id, and a genuinely new doc
    with open(os.path.join(src, "d2.jsonl"), "w") as fh:
        fh.write("\n".join([_doc(7, edited), _doc(8, other)]) + "\n")
    r2 = ingest_file_stream(
        spark, src, DOC_DDL, state,
        keys=["doc_id"], partition_col="lang",
        dedup_index_path=idx,
    )
    assert r2["near_dups"] == 1
    t = read_partitioned(spark, r2["table_path"])
    assert sorted(r["doc_id"] for r in t.collect()) == [1, 8]


def test_replay_is_idempotent_on_table_errors_and_index(spark, tmp_path):
    """Maximal crash-replay (checkpoint wiped, every file reprocessed
    with the same epoch ids): the table is unchanged, dead letters are
    NOT doubled (dynamic overwrite by batch_id), and the index gains no
    duplicate band rows (the update is ordered AFTER the merge, so
    replayed docs match their own signatures and everything no-ops)."""
    import shutil

    src = os.path.join(str(tmp_path), "drops")
    state = os.path.join(str(tmp_path), "state")
    idx = os.path.join(str(tmp_path), "sig_index")
    os.makedirs(src)
    base = " ".join(f"xray{i}" for i in range(60))
    with open(os.path.join(src, "d1.jsonl"), "w") as fh:
        fh.write("\n".join([_doc(1, base), "{corrupt"]) + "\n")

    def run():
        return ingest_file_stream(
            spark, src, DOC_DDL, state,
            keys=["doc_id"], partition_col="lang",
            dedup_index_path=idx,
        )

    run()
    table_path = os.path.join(state, "corpus")
    errors_path = os.path.join(state, "errors_corpus")
    rows = {tuple(r) for r in read_partitioned(spark, table_path).collect()}
    n_err = spark.read.parquet(errors_path).count()
    n_index_rows = spark.read.parquet(idx).count()

    shutil.rmtree(os.path.join(state, "_ckpt_corpus"))
    run()
    assert {
        tuple(r) for r in read_partitioned(spark, table_path).collect()
    } == rows
    assert spark.read.parquet(errors_path).count() == n_err
    assert spark.read.parquet(idx).count() == n_index_rows


def test_csv_drops_ingest(spark, tmp_path):
    """CSV drops route through the shared parser: headers dropped per
    line, type-mismatched rows dead-lettered, clean rows merged."""
    src = os.path.join(str(tmp_path), "drops")
    state = os.path.join(str(tmp_path), "state")
    os.makedirs(src)
    with open(os.path.join(src, "d1.csv"), "w") as fh:
        fh.write("doc_id,text,lang,source,n_chars\n")
        fh.write("1,hello,en,s,5\n")
        fh.write("oops,bad,en,s,0\n")
    with open(os.path.join(src, "d2.csv"), "w") as fh:
        fh.write("doc_id,text,lang,source,n_chars\n")
        fh.write("2,welt,de,s,4\n")
    res = ingest_file_stream(
        spark, src, DOC_DDL, state,
        keys=["doc_id"], partition_col="lang", fmt="csv",
    )
    assert res["dead"] == 1
    t = read_partitioned(spark, res["table_path"])
    assert sorted(r["doc_id"] for r in t.collect()) == [1, 2]
    dead = spark.read.parquet(res["errors_path"]).collect()
    assert len(dead) == 1 and "oops" in dead[0]["raw_record"]


def test_key_and_partition_must_be_in_schema(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError):
        ingest_file_stream(
            spark, str(tmp_path), DOC_DDL, str(tmp_path),
            keys=["nope"], partition_col="lang",
        )
    with pytest.raises(ValueError):
        ingest_file_stream(
            spark, str(tmp_path), DOC_DDL, str(tmp_path),
            keys=["doc_id"], partition_col="lang", fmt="xml",
        )


def test_gzip_drops_ingest(spark, tmp_path):
    """Vendor deliveries arrive gzipped: the file-stream text source
    decompresses .gz transparently (one task per gz file — the files.py
    splittability note), and the parse/dead-letter path is unchanged.
    A mixed drop dir (plain + gz) processes both exactly once."""
    import gzip

    src = os.path.join(str(tmp_path), "drops")
    state = os.path.join(str(tmp_path), "state")
    os.makedirs(src)

    with gzip.open(os.path.join(src, "drop1.jsonl.gz"), "wt") as fh:
        fh.write("\n".join([
            _doc(1, "packed alpha"),
            "corrupt { line",
            _doc(2, "packed beta", "de"),
        ]) + "\n")
    with open(os.path.join(src, "drop2.jsonl"), "w") as fh:
        fh.write(_doc(3, "plain gamma") + "\n")

    res = _run(spark, src, state)
    assert res["dead"] == 1
    t = read_partitioned(spark, res["table_path"])
    assert {r["doc_id"] for r in t.select("doc_id").collect()} == {1, 2, 3}
    assert t.where(F.col("doc_id") == 1).collect()[0]["text"] == \
        "packed alpha"

    # resume: nothing new → nothing reprocessed
    res2 = _run(spark, src, state)
    assert res2["batches"] == 0 or read_partitioned(
        spark, res2["table_path"]
    ).count() == 3


def test_maintained_profile_exactly_once_across_replay(spark, tmp_path):
    """profile_path composes the incremental profile into the ingest:
    one immutable drop-state partition per SOURCE FILE, written AFTER
    the merge; a maximal crash replay (checkpoint wiped, files
    re-batched into one epoch) re-merges idempotently and SKIPS both
    files via the immutability filter — the report never
    double-counts."""
    import shutil

    from tmdb_sync_spark.functions.stats import incremental_report

    src = os.path.join(str(tmp_path), "drops")
    state = os.path.join(str(tmp_path), "state")
    prof = os.path.join(str(tmp_path), "profile")
    os.makedirs(src)

    def run():
        return ingest_file_stream(
            spark, src, DOC_DDL, state,
            keys=["doc_id"], partition_col="lang",
            profile_path=prof, profile_dims=("source", "lang"),
        )

    with open(os.path.join(src, "d1.jsonl"), "w") as fh:
        fh.write("\n".join([
            _doc(1, "alpha"), _doc(2, "beta"), _doc(3, "gamma", "de"),
        ]) + "\n")
    r1 = run()
    assert r1["profile_replays"] == 0

    with open(os.path.join(src, "d2.jsonl"), "w") as fh:
        fh.write("\n".join([
            _doc(3, "gamma-updated"),   # key UPDATE: arrival #4
            _doc(4, "delta"),
        ]) + "\n")
    r2 = run()
    assert r2["profile_replays"] == 0
    drops = sorted(e for e in os.listdir(prof) if e.startswith("drop="))
    # one drop per SOURCE FILE (id = hash of the file path)
    assert len(drops) == 2
    assert all(d.startswith("drop=f") for d in drops)

    total = incremental_report(spark, prof, ()).collect()[0]
    # n_docs counts ARRIVALS (doc 3 landed twice); the HLL counts KEYS
    assert total["n_docs"] == 5
    assert total["n_distinct_keys_approx"] == 4
    assert total["total_size"] == sum(
        len(t) for t in
        ("alpha", "beta", "gamma", "gamma-updated", "delta")
    )
    per_lang = {
        r["lang"]: r
        for r in incremental_report(spark, prof, ("lang",)).collect()
    }
    # doc 3's update moved it de -> en: the de arrival stays recorded
    # in drop b000000's state (profiles are arrival logs, not the
    # table's current partition map)
    assert per_lang["de"]["n_docs"] == 1
    assert per_lang["en"]["n_docs"] == 4

    # maximal replay: same epochs, both files in one batch (epoch 0)
    def report_rows():
        return sorted(
            str(r) for r in
            incremental_report(spark, prof, ("source", "lang")).collect()
        )

    before = report_rows()
    shutil.rmtree(os.path.join(state, "_ckpt_corpus"))
    r3 = run()
    # both files re-arrive (coalesced into ONE batch this time — the
    # re-batching that defeats any epoch-keyed scheme); both hit the
    # immutability filter
    assert r3["profile_replays"] == 2
    assert sorted(
        e for e in os.listdir(prof) if e.startswith("drop=")
    ) == drops
    assert report_rows() == before


def test_profile_requires_columns_in_schema(spark, tmp_path):
    import pytest as _pt

    with _pt.raises(ValueError, match="'n_chars' not in schema"):
        ingest_file_stream(
            spark, str(tmp_path), "doc_id bigint, text string, lang string",
            str(tmp_path / "s"),
            keys=["doc_id"], partition_col="lang",
            profile_path=str(tmp_path / "p"), profile_dims=(),
        )


def test_second_feed_sharing_profile_path_is_not_swallowed(
    spark, tmp_path
):
    """A DIFFERENT feed (fresh checkpoint, epochs restart at 0) sharing
    the same profile_path must have its drops RECORDED, not silently
    treated as replays of the first feed's epoch ids (review finding:
    content rides the drop id)."""
    from tmdb_sync_spark.functions.stats import incremental_report

    prof = os.path.join(str(tmp_path), "profile")

    def feed(name, docs):
        src = os.path.join(str(tmp_path), f"drops_{name}")
        os.makedirs(src)
        with open(os.path.join(src, "d.jsonl"), "w") as fh:
            fh.write("\n".join(docs) + "\n")
        return ingest_file_stream(
            spark, src, DOC_DDL,
            os.path.join(str(tmp_path), f"state_{name}"),
            keys=["doc_id"], partition_col="lang",
            profile_path=prof, profile_dims=("source", "lang"),
        )

    r1 = feed("a", [_doc(1, "alpha"), _doc(2, "beta")])
    r2 = feed("b", [_doc(10, "gamma"), _doc(11, "delta"), _doc(12, "eps")])
    assert r1["profile_replays"] == 0
    assert r2["profile_replays"] == 0          # NOT swallowed
    drops = [e for e in os.listdir(prof) if e.startswith("drop=")]
    assert len(drops) == 2                     # one per feed, both epoch 0
    total = incremental_report(spark, prof, ()).collect()[0]
    assert total["n_docs"] == 5
    assert total["n_distinct_keys_approx"] == 5


def test_full_chain_ingest_to_verified_shards(spark, tmp_path):
    """The complete operational composition as a CI pin (the 1x/16x/64x
    timing lives in scripts/exp_chain_ramp.py at cb774a3): jsonl drops ->
    ingest (dead-letter + index dedup + MERGE + per-file profile drop) ->
    quality_gate -> incremental profile report -> split + leakage audit
    -> compact the profile -> export -> manifest-verified read-back.
    Every stage's invariant holds on the composed artifact."""
    import json as _json

    from tmdb_sync_spark.functions.export import (
        export_training_shards,
        read_training_shards,
    )
    from tmdb_sync_spark.functions.leakage import (
        leakage_rates,
        split_leakage_audit,
    )
    from tmdb_sync_spark.functions.sampling import split_corpus
    from tmdb_sync_spark.functions.stats import (
        compact_profile_drops,
        incremental_report,
    )
    from tmdb_sync_spark.functions.text import quality_gate
    from tmdb_sync_spark.plans.partitioned import read_partitioned

    src = os.path.join(str(tmp_path), "drops")
    state = os.path.join(str(tmp_path), "state")
    idx = os.path.join(str(tmp_path), "sig_index")
    prof = os.path.join(str(tmp_path), "profile")
    os.makedirs(src)

    def words(tag, n=40):
        return " ".join(f"{tag}w{j}" for j in range(n))

    # two drops: 20 clean docs, 1 near-dup across drops, 1 boilerplate
    # paste (the gate's prey), 1 corrupt line
    with open(os.path.join(src, "d0.jsonl"), "w") as fh:
        fh.write("\n".join(
            [_doc(i, words(f"a{i}")) for i in range(10)]
        ) + "\n")
    with open(os.path.join(src, "d1.jsonl"), "w") as fh:
        fh.write("\n".join(
            [_doc(100 + i, words(f"b{i}")) for i in range(10)]
            + [_doc(200, words("a3"))]            # near-dup of doc 3
            + [_doc(201, "spam spam " * 60)]      # gate victim
            + ["{torn"]                            # dead-letter
        ) + "\n")

    res = ingest_file_stream(
        spark, src, DOC_DDL, state,
        keys=["doc_id"], partition_col="lang",
        dedup_index_path=idx, profile_path=prof,
        profile_dims=("source", "lang"),
    )
    assert res["dead"] == 1
    assert res["near_dups"] == 1                  # doc 200 vs doc 3
    corpus = read_partitioned(spark, res["table_path"])
    assert corpus.count() == 21                   # 20 clean + gate victim

    g = quality_gate(corpus)
    kept = g["kept"]
    assert g["audit"]["n_kept"] == 20             # boilerplate dropped
    assert kept.where(F.col("doc_id") == 201).count() == 0

    # profile: 2 file-drops, exact columns match the table's arrivals
    total = incremental_report(spark, prof, ()).collect()[0]
    assert total["n_docs"] == 22                  # arrivals, pre-dedup
    c = compact_profile_drops(spark, prof)
    assert c["compacted"] and c["drops_before"] == 2
    spark.catalog.refreshByPath(prof)
    assert incremental_report(spark, prof, ()).collect()[0][
        "n_docs"
    ] == 22                                       # identical after fold

    labeled = split_corpus(kept, weights={"train": 0.8, "val": 0.2})
    leaks = split_leakage_audit(labeled, split_col="split")
    # the cross-drop near-dup was already deduped at ingest; the clean
    # corpus must audit clean
    assert leaks.count() == 0
    rates = {r["split"]: r for r in leakage_rates(labeled, leaks).collect()}
    assert all(r["n_leaked"] == 0 for r in rates.values())

    out = os.path.join(str(tmp_path), "train_v1")
    train = labeled.where(F.col("split") == "train").drop("split")
    m = export_training_shards(train, out, 3, tokens_col="n_chars")
    back = read_training_shards(spark, out)
    assert back.count() == m["total_rows"] == train.count()
    assert back.join(kept, "doc_id", "left_anti").count() == 0
    with open(os.path.join(out, "_export_manifest.json")) as fh:
        assert _json.load(fh)["total_rows"] == m["total_rows"]


def test_normalize_form_makes_ingest_dedup_canonical(spark, tmp_path):
    """normalize_form="NFC" (r8): a combining-accent re-send of an
    indexed precomposed document is caught by the near-dup index, and
    the merged table holds NFC bytes with recomputed n_chars. Without
    normalization the same pair sails through as two documents (the
    control pins the hazard is real)."""
    combining = "resumé builder tool " + " ".join(
        f"w{j}" for j in range(30)
    )
    precomposed = "resumé builder tool " + " ".join(
        f"w{j}" for j in range(30)
    )
    assert combining != precomposed and len(combining) != len(precomposed)

    def run(tag, normalize_form):
        src = os.path.join(str(tmp_path), f"drops_{tag}")
        os.makedirs(src)
        with open(os.path.join(src, "d0.jsonl"), "w") as fh:
            fh.write(_doc(1, precomposed) + "\n")
        with open(os.path.join(src, "d1.jsonl"), "w") as fh:
            fh.write(_doc(2, combining) + "\n")
        return ingest_file_stream(
            spark, src, DOC_DDL,
            os.path.join(str(tmp_path), f"state_{tag}"),
            keys=["doc_id"], partition_col="lang",
            dedup_index_path=os.path.join(str(tmp_path), f"idx_{tag}"),
            normalize_form=normalize_form,
        )

    # control: raw bytes — the band index still near-dup-catches the
    # pair (one token differs out of 33; that IS a near-dup), but the
    # SURVIVOR keeps whatever byte form arrived first: the stored
    # corpus is not canonical, and exact-hash consumers (dd_exact, the
    # export fingerprints, diff_corpora) see phantom distinctions
    res_raw = run("raw", None)
    raw_row = read_partitioned(spark, res_raw["table_path"]).collect()[0]
    assert raw_row["n_chars"] == len(precomposed)  # lying: raw ingest
    # trusts the arriving n_chars even when bytes differ (both senders
    # reported the visual length) — exactly the drift normalization +
    # recompute closes

    # normalized: canonical NFC bytes stored, n_chars true to them
    res = run("nfc", "NFC")
    assert res["near_dups"] == 1
    rows = read_partitioned(spark, res["table_path"]).collect()
    assert len(rows) == 1
    assert rows[0]["text"] == precomposed          # NFC bytes stored
    assert rows[0]["n_chars"] == len(precomposed)  # recomputed, true


def test_batch_granularity_sweep_and_bound(spark, tmp_path):
    """Drop-granularity contracts (r8 verdict #6): an availableNow pass
    folds EVERY pending drop into ONE micro-batch — the natural
    amortization of the measured ~9 s per-batch constant
    (scripts/exp_ingest_drops.py at cb774a3) — while max_files_per_batch
    bounds a batch to N files for backlog-memory control, with identical final
    state either way."""
    import pytest

    def feed(n_files, state, **kw):
        src = os.path.join(str(tmp_path), f"drops_{state}")
        os.makedirs(src)
        for d in range(n_files):
            with open(os.path.join(src, f"d{d}.jsonl"), "w") as fh:
                fh.write(_doc(d, f"text {d}") + "\n")
        return ingest_file_stream(
            spark, src, DOC_DDL, os.path.join(str(tmp_path), state),
            keys=["doc_id"], partition_col="lang", **kw,
        )

    swept = feed(4, "sweep")
    assert swept["batches"] == 1          # 4 pending files, one batch

    bounded = feed(4, "bounded", max_files_per_batch=2)
    assert bounded["batches"] == 2        # 2 files per batch

    a = read_partitioned(spark, swept["table_path"]).orderBy("doc_id")
    b = read_partitioned(spark, bounded["table_path"]).orderBy("doc_id")
    assert [r["text"] for r in a.collect()] == [
        r["text"] for r in b.collect()]

    with pytest.raises(ValueError, match="must be >= 1"):
        feed(1, "bad", max_files_per_batch=0)
