"""Unified contamination audit — the three lenses as one API.

The engine keeps three independent contamination probes, each blind to
the other two's leak shape:

- **whole_doc** (``dedup_index.contamination_check``): minhash bands —
  verbatim or lightly-edited WHOLE-document inclusion;
- **substring** (``winnow_index.substring_contamination_check``):
  winnowed local fingerprints — a copied PARAGRAPH inside an
  otherwise-novel document (invisible to doc-level signatures);
- **semantic** (``vector_index.vector_index_match_pairs``): sign-LSH
  bucketed embedding cosine — paraphrase, translation, near-duplicate
  meaning with different surface text.

Operationally they were three calls with three output shapes, so every
standing eval gate re-composed them by hand (r9 verdict #6). This
module is that composition, done once:

``contamination_audit(spark, eval_docs, index_root)`` probes all three
indexes under one store root (``signatures/`` / ``vectors/`` /
``fingerprints/`` — the layout ``append_corpus_to_audit_indexes``
maintains) and returns per-pair detail, one per-doc per-lens verdict
frame, and the clean eval subset as an anti-join — lazily composed so
the caller decides what to evaluate.

Contract notes, inherited deliberately from the lens family:

- a MISSING index for a requested lens RAISES — auditing against
  nothing and reporting "clean" is the worst failure mode;
- the ``semantic`` lens needs ``eval_embeddings``; requesting it
  without them raises rather than silently skipping a lens;
- each lens's pair frame is pinned (eager ``localCheckpoint``) before
  verdict composition — the verdict/clean frames reuse the pinned
  blocks instead of re-running every probe per downstream action, and
  ``eval_docs`` is persisted across the two text-lens pins so the eval
  scan runs once, not once per lens.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tmdb_sync_spark.functions.dedup_index import (
    contamination_check,
    index_exists,
)
from tmdb_sync_spark.functions.pipeline import NEAR_DUP_MIN
from tmdb_sync_spark.functions.similarity import (
    DUP_THRESHOLD,
    N_DUP_BITS,
    bucketed_from,
)
from tmdb_sync_spark.functions.vector_index import (
    vector_index_exists,
    vector_index_match_pairs,
)
from tmdb_sync_spark.functions.winnow import (
    HOT_FP_DOC_CAP,
    MIN_SHARED_FPS,
)
from tmdb_sync_spark.functions.winnow_index import (
    fp_index_exists,
    substring_contamination_check,
)

LENSES = ("whole_doc", "substring", "semantic")

SIGNATURES_SUBDIR = "signatures"
VECTORS_SUBDIR = "vectors"
FINGERPRINTS_SUBDIR = "fingerprints"


def audit_index_paths(index_root: str) -> dict:
    return {
        "whole_doc": os.path.join(index_root, SIGNATURES_SUBDIR),
        "semantic": os.path.join(index_root, VECTORS_SUBDIR),
        "substring": os.path.join(index_root, FINGERPRINTS_SUBDIR),
    }


def append_corpus_to_audit_indexes(
    spark: SparkSession,
    index_root: str,
    docs: DataFrame,
    vecs: DataFrame | None = None,
    *,
    lock_wait_s: float = 60.0,
) -> None:
    """Maintain all audit indexes under one root from a corpus drop:
    ``docs`` is ``(doc_id, text, ...)`` (feeds the band + fingerprint
    indexes); ``vecs`` is the drop's ``(vec_id, embedding)`` rows (feeds
    the vector index; omit to leave the semantic lens unmaintained).
    Same caller contracts as the individual appends: ids NEW to the
    corpus, ordered AFTER the caller's table commit. Each index has its
    own writer lock, so the three appends serialize independently —
    this is a convenience composition, not a transaction: a crash
    between appends leaves the indexes at different drop cursors, which
    the drop-cursor replay discipline already tolerates (re-appending
    only the missing index is the caller's replay job)."""
    from tmdb_sync_spark.functions.dedup_index import append_docs_to_index
    from tmdb_sync_spark.functions.vector_index import (
        append_vectors_to_index,
    )
    from tmdb_sync_spark.functions.winnow_index import (
        append_fingerprints_to_index,
    )

    paths = audit_index_paths(index_root)
    append_docs_to_index(
        spark, paths["whole_doc"], docs, lock_wait_s=lock_wait_s
    )
    append_fingerprints_to_index(
        spark, paths["substring"], docs, lock_wait_s=lock_wait_s
    )
    if vecs is not None:
        append_vectors_to_index(
            spark, paths["semantic"], vecs, lock_wait_s=lock_wait_s
        )


def contamination_audit(
    spark: SparkSession,
    eval_docs: DataFrame,
    index_root: str,
    *,
    eval_embeddings: DataFrame | None = None,
    lenses: tuple = LENSES,
    min_equal: int = NEAR_DUP_MIN,
    min_shared: int = MIN_SHARED_FPS,
    df_cap: int = HOT_FP_DOC_CAP,
    threshold: float = DUP_THRESHOLD,
) -> dict:
    """Audit an eval set against all three contamination lenses.

    ``eval_docs``: ``(doc_id, text, ...)``. ``eval_embeddings``:
    ``(doc_id, embedding)`` — required iff ``"semantic"`` is in
    ``lenses``. Returns::

        {
          "pairs": {           # per-lens detail, pinned frames
            "whole_doc": (doc_id, corpus_doc_id, n_equal_hashes),
            "substring": (doc_id, corpus_doc_id, n_shared_fps,
                          c_span_chars),
            "semantic":  (doc_id, corpus_vec_id, cosine_sim),
          },
          "verdicts": one row per eval doc — doc_id, one boolean per
                      requested lens, and `contaminated` (any-lens OR),
          "clean":    eval_docs anti-joined on contaminated ids,
        }

    Per-lens sensitivity knobs pass through unchanged (``min_equal`` —
    bands; ``min_shared``/``df_cap`` — winnow; ``threshold`` — cosine).
    A missing index for any REQUESTED lens raises; drop a lens from
    ``lenses`` to audit without it (the verdict frame then simply lacks
    that column — absence is visible, never a silent all-clear).

    Caveat: ``eval_docs`` is persisted for the duration of the text-lens
    probes and unpersisted after — pass an unpersisted frame (a caller's
    own ``persist()`` on the SAME plan would be released with it).

    For exact matched-substring extents of the ``substring`` pairs, feed
    them through :func:`verify_substring_spans` with the corpus text.
    """
    unknown = [x for x in lenses if x not in LENSES]
    if unknown:
        raise ValueError(f"contamination_audit: unknown lenses {unknown}")
    if not lenses:
        raise ValueError("contamination_audit: no lenses requested")
    if "semantic" in lenses and eval_embeddings is None:
        raise ValueError(
            "contamination_audit: the 'semantic' lens needs "
            "eval_embeddings (doc_id, embedding) — pass them, or drop "
            "the lens explicitly with lenses=('whole_doc', 'substring')"
        )
    paths = audit_index_paths(index_root)
    missing = [
        lens for lens, ok in (
            ("whole_doc", index_exists(paths["whole_doc"])),
            ("substring", fp_index_exists(paths["substring"])),
            ("semantic", vector_index_exists(paths["semantic"])),
        )
        if lens in lenses and not ok
    ]
    if missing:
        raise ValueError(
            f"contamination_audit: no index for lens(es) {missing} under "
            f"{index_root!r} — build them with "
            "append_corpus_to_audit_indexes (auditing against nothing "
            "would report a false all-clear)"
        )

    pairs: dict[str, DataFrame] = {}
    eval_docs.persist()
    try:
        if "whole_doc" in lenses:
            pairs["whole_doc"] = contamination_check(
                spark, paths["whole_doc"], eval_docs, min_equal=min_equal,
            ).localCheckpoint(eager=True)
        if "substring" in lenses:
            pairs["substring"] = substring_contamination_check(
                spark, paths["substring"], eval_docs,
                min_shared=min_shared, df_cap=df_cap,
            ).localCheckpoint(eager=True)
    finally:
        eval_docs.unpersist()
    if "semantic" in lenses:
        # pinned once — it feeds the bucket-list collect, the broadcast
        # row-count gate, and the match join (the same 3×-evaluation
        # shape the winnow probe fixed this round)
        b = bucketed_from(
            eval_embeddings.select(
                F.col("doc_id").alias("vec_id"), "embedding"
            ),
            N_DUP_BITS,
        ).localCheckpoint(eager=True)
        bbs = [r["bucket"] for r in b.select("bucket").distinct().collect()]
        idx = spark.read.parquet(paths["semantic"])
        if bbs:
            idx = idx.where(F.col("bucket").isin(bbs))
        pairs["semantic"] = (
            vector_index_match_pairs(idx, b, threshold, probe_rows=b.count())
            .withColumnRenamed("vec_id", "doc_id")
            .localCheckpoint(eager=True)
        )

    ids = eval_docs.select("doc_id").distinct()
    verdicts = ids
    for lens in LENSES:
        if lens not in pairs:
            continue
        flagged = (
            pairs[lens].select("doc_id").distinct()
            .withColumn(lens, F.lit(True))
        )
        verdicts = verdicts.join(flagged, "doc_id", "left").withColumn(
            lens, F.coalesce(F.col(lens), F.lit(False))
        )
    flags = [F.col(lens) for lens in LENSES if lens in pairs]
    # greatest() requires ≥2 columns — a single-lens audit's verdict is
    # that lens's flag itself (caught by the span-adapter test, which
    # audits with lenses=("substring",) only)
    verdicts = verdicts.withColumn(
        "contaminated", F.greatest(*flags) if len(flags) > 1 else flags[0]
    )
    contaminated_ids = (
        verdicts.where(F.col("contaminated")).select("doc_id")
    )
    clean = eval_docs.join(contaminated_ids, "doc_id", "left_anti")
    return {"pairs": pairs, "verdicts": verdicts, "clean": clean}


def verify_substring_spans(
    eval_docs: DataFrame,
    corpus_docs: DataFrame,
    substring_pairs: DataFrame,
    **kwargs,
) -> DataFrame:
    """Exact matched-substring alignments for an audit's ``substring``
    pair frame — the audit-shaped adapter over
    ``winnow.verify_overlap_spans`` (the index probe's ``c_span_chars``
    is an upper bound; this recovers exact extents).

    ``substring_pairs`` is ``(doc_id, corpus_doc_id, ...)`` as returned
    under ``pairs["substring"]``; ``corpus_docs`` must provide the
    matched corpus documents' TEXT (``(doc_id, text)`` — the index
    stores fingerprints, not text, so exact spans need one read of the
    pair docs from the corpus table; the verify stage semi-joins it
    down to the pair set before anything widens). Returns
    ``(doc_id, corpus_doc_id, q_start, c_start, match_len)``.

    Every pair's documents MUST be present on both sides: a pair whose
    corpus (or eval) text is missing would otherwise fall out of the
    span join silently — and a DETECTED pair vanishing from the verify
    output reads as "nothing to verify", the audit's worst failure mode
    (r11 hostile probe). Raises ``ValueError`` naming the missing ids;
    the check is id-sized (distinct pair ids anti-joined to the
    provided docs — never a text scan).
    """
    from tmdb_sync_spark.functions.winnow import verify_overlap_spans

    # ONE job for both sides: union the two id anti-joins, tagged by
    # side, so an unmaterialized pair plan is evaluated once here (not
    # once per side) and the empty-pair case costs a single empty scan.
    missing = (
        substring_pairs.select(
            F.col("corpus_doc_id").alias("_mid"),
            F.lit("corpus_docs").alias("_side"),
        )
        .distinct()
        .join(
            corpus_docs.select(F.col("doc_id").alias("_mid")).distinct(),
            "_mid", "left_anti",
        )
        .unionByName(
            substring_pairs.select(
                F.col("doc_id").alias("_mid"),
                F.lit("eval_docs").alias("_side"),
            )
            .distinct()
            .join(
                eval_docs.select(F.col("doc_id").alias("_mid")).distinct(),
                "_mid", "left_anti",
            )
        )
    )
    missing_rows = missing.limit(20).collect()
    if missing_rows:
        by_side: dict[str, list] = {}
        for r in missing_rows:
            by_side.setdefault(r["_side"], []).append(r["_mid"])
        detail = "; ".join(
            f"missing from {side}: {ids}" for side, ids in by_side.items()
        )
        raise ValueError(
            "verify_substring_spans: pair document(s) missing — a "
            f"detected pair would silently vanish from the span output. "
            f"{detail}"
        )

    out = verify_overlap_spans(
        eval_docs.withColumnRenamed("doc_id", "query_id"),
        corpus_docs.withColumnRenamed("doc_id", "corpus_doc_id"),
        substring_pairs.withColumnRenamed("doc_id", "query_id"),
        query_id_col="query_id",
        corpus_id_col="corpus_doc_id",
        **kwargs,
    )
    return out.withColumnRenamed("query_id", "doc_id")


# ---------------------------------------------------------------------------
# Oracle-pinned verdict surface (r10 verdict #5): the three-lens verdict
# frame over a DETERMINISTIC planted eval set. Lives in the LOCAL parity
# window (the driver's 50-slot window is frozen to the r11-certified
# set during the optimization rounds); verified at the identical oracle
# bar in tests/test_oracle_parity.py. The Spark side runs the REAL
# production path — staged persisted indexes + contamination_audit —
# while the DuckDB oracle recomputes all three lens pair rules
# declaratively from the same parquet tables
# (bands: dd_minhash_lsh's twin; winnow: wn_substring_overlap's twin;
# cosine: dd_embedding_cosine's twin).

import threading

from tmdb_sync_spark.functions.dedup import (
    N_HASHES,
    _sig_chunk_sql,
)
from tmdb_sync_spark.functions.similarity import (
    DIM,
    _DUP_BITS_SQL,
    _VALID_SQL,
)
from tmdb_sync_spark.functions.text import WS_SQL, trim_sql
from tmdb_sync_spark.functions.winnow import WINNOW_K, WINNOW_W
from tmdb_sync_spark.io import table
from tmdb_sync_spark.registry import register_retired
from tmdb_sync_spark.util import (
    file_fingerprint,
    register_reset_hook,
    scratch_dir,
)

_AV_SS_PREFIX = "novel eval wrapper words quoting the corpus follows here "

# Deterministic planted eval set, mirrored verbatim in the oracle's `ev`
# CTE: verbatim whole-doc copies (% 101), excerpt-inside-novel-wrapper
# substring plants (% 103), synthetic clean prompts (% 107), and
# semantic plants whose TEXT is clean but whose EMBEDDING is a corpus
# vector (% 109). Offsets keep eval ids disjoint from corpus ids and
# from each other at every test SF.
_EV_CTE = f"""
    ev AS (
        SELECT doc_id + 1000000 AS doc_id, text FROM documents
        WHERE doc_id % 101 = 0
        UNION ALL
        SELECT doc_id + 1100000 AS doc_id,
               '{_AV_SS_PREFIX}' || substr(text, 8, 150) AS text
        FROM documents WHERE doc_id % 103 = 0 AND length(text) >= 200
        UNION ALL
        SELECT doc_id + 1200000 AS doc_id,
               'entirely original evaluation prompt number ' || doc_id
               || ' with fresh phrasing' AS text
        FROM documents WHERE doc_id % 107 = 0
        UNION ALL
        SELECT vec_id + 1300000 AS doc_id,
               'semantic eval probe number ' || vec_id
               || ' clean surface text' AS text
        FROM embeddings WHERE vec_id % 109 = 0
    )"""

_AV_SIG_COLS = ",\n               ".join(
    _sig_chunk_sql(i) for i in range(N_HASHES)
)


def _av_shingle_sig_ctes(src: str, tag: str) -> str:
    """toks → shingles → minhash-signature CTEs over ``src``, with
    ``tag``-prefixed names so corpus and eval instances coexist in one
    WITH (dedup.shingle_sql's twins, renamed)."""
    trim = trim_sql("text")
    return f"""
    {tag}toks AS (
        SELECT doc_id, regexp_split_to_array({trim}, '[{WS_SQL}]+') AS t
        FROM {src}
    ),
    {tag}sh AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3
                    THEN list_distinct(list_transform(generate_series(1, len(t)-2),
                                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                    ELSE [array_to_string(t, ' ')] END AS shingles
        FROM {tag}toks
    ),
    {tag}sigs AS (
        SELECT doc_id,
               {_AV_SIG_COLS}
        FROM {tag}sh
    )"""


def _av_winnow_fp_ctes(src: str, tag: str, distinct_only: bool) -> str:
    """k-gram → winnowed-fingerprint CTEs over ``src`` (winnow.py's
    oracle twins, renamed). ``distinct_only`` emits the probe shape
    (DISTINCT doc_id, fp); otherwise per-(doc, fp) extents."""
    k, w = WINNOW_K, WINNOW_W
    head = f"""
    {tag}h AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, length(text) - {k - 1}),
                   i -> md5(substr(text, i, {k}))) AS hs
        FROM {src} WHERE length(text) >= {k}
    ),
    {tag}w AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, greatest(len(hs) - {w - 1}, 1)),
                   j -> struct_pack(
                       pos := j + list_position(
                           hs[j:j+{w - 1}],
                           list_aggregate(hs[j:j+{w - 1}], 'min')) - 1,
                       fp := list_aggregate(hs[j:j+{w - 1}], 'min')
                   )) AS wins
        FROM {tag}h
    )"""
    if distinct_only:
        return head + f""",
    {tag}f AS (
        SELECT DISTINCT doc_id, u.fp AS fp
        FROM {tag}w, UNNEST({tag}w.wins) AS _(u)
    )"""
    return head + f""",
    {tag}f AS (
        SELECT doc_id, u.fp AS fp,
               MIN(u.pos) AS min_pos, MAX(u.pos) AS max_pos
        FROM {tag}w, UNNEST({tag}w.wins) AS _(u)
        GROUP BY doc_id, u.fp
    )"""


def _av_band_or() -> str:
    return " OR ".join(
        f"(e.h{2 * j} = c.h{2 * j} AND e.h{2 * j + 1} = c.h{2 * j + 1})"
        for j in range(N_HASHES // 2)
    )


def _av_n_equal() -> str:
    return " + ".join(
        f"(e.h{i} = c.h{i})::INT" for i in range(N_HASHES)
    )


_AV_DOT = (
    f"CAST(list_aggregate(list_transform(generate_series(1, {DIM}), "
    f"i -> e.v[i] * c.v[i]), 'sum') AS BIGINT)"
)

_AUDIT_VERDICTS_SQL = f"""
    WITH {_EV_CTE},
    {_av_shingle_sig_ctes("documents", "c")},
    {_av_shingle_sig_ctes("ev", "e")},
    wd AS (
        SELECT DISTINCT e.doc_id
        FROM esigs e JOIN csigs c
          ON ({_av_band_or()})
        WHERE ({_av_n_equal()}) >= {NEAR_DUP_MIN}
    ),
    {_av_winnow_fp_ctes("documents", "wc", distinct_only=False)},
    wok AS (
        SELECT fp FROM wcf GROUP BY fp
        HAVING COUNT(*) <= {HOT_FP_DOC_CAP}
    ),
    wcfo AS (SELECT wcf.* FROM wcf JOIN wok USING (fp)),
    {_av_winnow_fp_ctes("ev", "eq", distinct_only=True)},
    ss AS (
        SELECT DISTINCT q.doc_id
        FROM eqf q JOIN wcfo c ON q.fp = c.fp
        GROUP BY q.doc_id, c.doc_id
        HAVING COUNT(*) >= {MIN_SHARED_FPS}
    ),
    vq AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS v
        FROM embeddings
        WHERE {_VALID_SQL}
    ),
    vn AS (
        SELECT vec_id, v,
               CAST(list_aggregate(list_transform(generate_series(1, {DIM}), i -> v[i] * v[i]),
                                   'sum') AS BIGINT) AS nrm
        FROM vq
    ),
    vb AS (
        SELECT emb.vec_id, {_DUP_BITS_SQL} AS bucket, n.v, n.nrm
        FROM embeddings emb JOIN vn n ON emb.vec_id = n.vec_id
        WHERE n.nrm > 0
    ),
    sem AS (
        SELECT DISTINCT e.vec_id + 1300000 AS doc_id
        FROM vb e JOIN vb c ON e.bucket = c.bucket
        WHERE e.vec_id % 109 = 0
          AND {_AV_DOT} / (sqrt(e.nrm) * sqrt(c.nrm)) >= {DUP_THRESHOLD}
    )
    SELECT ev.doc_id,
           COALESCE(w.f, FALSE) AS whole_doc,
           COALESCE(s.f, FALSE) AS "substring",
           COALESCE(m.f, FALSE) AS semantic,
           (COALESCE(w.f, FALSE) OR COALESCE(s.f, FALSE)
            OR COALESCE(m.f, FALSE)) AS contaminated
    FROM ev
    LEFT JOIN (SELECT doc_id, TRUE AS f FROM wd) w USING (doc_id)
    LEFT JOIN (SELECT doc_id, TRUE AS f FROM ss) s USING (doc_id)
    LEFT JOIN (SELECT doc_id, TRUE AS f FROM sem) m USING (doc_id)
    ORDER BY ev.doc_id
"""

# Build-once memo for the staged audit indexes (the file_fingerprint
# keys invalidate on a driver-side table regeneration).
_AUDIT_STORE_MEMO: dict[tuple, str] = {}
_AUDIT_STORE_LOCK = threading.Lock()
register_reset_hook(_AUDIT_STORE_MEMO.clear)


def _staged_audit_indexes(spark: SparkSession, sf_dir: str) -> str:
    docs_path = os.path.join(sf_dir, "documents.parquet")
    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        file_fingerprint(docs_path),
        file_fingerprint(emb_path),
    )
    with _AUDIT_STORE_LOCK:
        root = _AUDIT_STORE_MEMO.get(key)
        if root is not None:
            return root
        root = scratch_dir("audit_store_")
        docs = table(spark, sf_dir, "documents").select("doc_id", "text")
        vecs = table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        append_corpus_to_audit_indexes(spark, root, docs, vecs)
        _AUDIT_STORE_MEMO[key] = root
        return root


def _audit_eval_set(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = table(spark, sf_dir, "embeddings")
    # The four +1.0M/+1.1M/+1.2M/+1.3M eval-id branches are disjoint
    # from each other and from the corpus ONLY while source ids stay
    # under the branch spacing — enforce it loudly instead of assuming
    # it (a collision would emit duplicate oracle rows against a single
    # Spark verdict and fail parity confusingly). One column-pruned
    # max() job over each tiny id column.
    max_doc = docs.agg(F.max("doc_id")).first()[0] or 0
    max_vec = emb.agg(F.max("vec_id")).first()[0] or 0
    if max(max_doc, max_vec) >= 100_000:
        raise ValueError(
            "audit_verdicts: corpus ids reach "
            f"{max(max_doc, max_vec)} — the planted eval-id offsets "
            "(1.0e6 + 1e5 per branch) would collide; widen the offsets "
            "in _audit_eval_set AND the oracle's ev CTE together"
        )
    whole = docs.where(F.col("doc_id") % 101 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    sub = docs.where(
        (F.col("doc_id") % 103 == 0) & (F.length("text") >= 200)
    ).select(
        (F.col("doc_id") + 1100000).alias("doc_id"),
        F.concat(
            F.lit(_AV_SS_PREFIX), F.substring("text", 8, 150)
        ).alias("text"),
    )
    clean = docs.where(F.col("doc_id") % 107 == 0).select(
        (F.col("doc_id") + 1200000).alias("doc_id"),
        F.concat(
            F.lit("entirely original evaluation prompt number "),
            F.col("doc_id").cast("string"),
            F.lit(" with fresh phrasing"),
        ).alias("text"),
    )
    sem = emb.where(F.col("vec_id") % 109 == 0).select(
        (F.col("vec_id") + 1300000).alias("doc_id"),
        F.concat(
            F.lit("semantic eval probe number "),
            F.col("vec_id").cast("string"),
            F.lit(" clean surface text"),
        ).alias("text"),
    )
    ev = (
        whole.unionByName(sub).unionByName(clean).unionByName(sem)
    )
    ev_emb = emb.where(F.col("vec_id") % 109 == 0).select(
        (F.col("vec_id") + 1300000).alias("doc_id"), "embedding"
    )
    return ev, ev_emb


@register_retired(
    # r12 optimization round: the driver window is frozen to the exact
    # r11-certified 50-query set (a declared query that disappears reads
    # as a regression), so this surface stays in the LOCAL parity window
    # at the identical oracle bar (tests/test_oracle_parity.py).
    "audit_verdicts",
    oracle=_AUDIT_VERDICTS_SQL,
)
def audit_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-lens contamination verdicts over a deterministic planted
    eval set — the unified audit's verdict frame, oracle-pinned.

    The Spark side is the REAL audit path: persisted signature /
    fingerprint / vector indexes staged once per corpus fingerprint,
    probed through :func:`contamination_audit`. The oracle recomputes
    each lens's pair rule declaratively (bands: NEAR_DUP_MIN-of-8 equal
    minhashes on a shared band; winnow: MIN_SHARED_FPS shared df-capped
    fingerprints; sign-LSH-bucketed quantized cosine at DUP_THRESHOLD —
    the same constants both sides interpolate) — so a drift in ANY
    lens's semantics between the index path and the declarative
    definition breaks this row."""
    root = _staged_audit_indexes(spark, sf_dir)
    ev, ev_emb = _audit_eval_set(spark, sf_dir)
    audit = contamination_audit(spark, ev, root, eval_embeddings=ev_emb)
    return audit["verdicts"].orderBy("doc_id")
