"""Deduplication operators over the ``documents`` corpus (SURVEY.md Phase 5).

Four dedup families, each the standard large-corpus construction:
- exact: hash-groupBy on ``md5(text)`` — one shuffle on the hash.
- MinHash + LSH: shingle → K minhashes → band → bucket-equi-join. The
  band join is the scale path: candidate pairs come from per-band
  equi-joins (shuffle on band key), never an O(n²) cross join.
- SimHash: per-token md5 nibbles → bitwise majority → 16-bit signature;
  near-dups collide on the signature (or low hamming distance).
- n-gram Jaccard: exact set overlap on shingles for candidate pairs.

W2's "dedup keep-best" (``app/catalog/upsert.py:26-34``) is the
reference's in-document precedent; these generalize it corpus-wide.

Cross-engine determinism: md5 everywhere (identical bytes-in/hex-out on
Spark and DuckDB); set sizes are exact ints; ratios are single double
divisions.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from tmdb_sync_spark.functions.similarity import _VALID_SQL
from tmdb_sync_spark.functions.text import WS_SQL, tokens_expr, trim_sql

_TRIM = trim_sql("text")
from tmdb_sync_spark.io import parallel_table, table
from tmdb_sync_spark.registry import register, register_retired

N_HASHES = 8  # minhash signature length
N_BANDS = 4   # bands of 2 hashes -> candidate recall at jaccard ~0.5+

def shingle_sql(src: str = "documents") -> str:
    """DuckDB CTEs ``toks``/``sh`` computing 3-word shingles of ``src``."""
    return rf"""
    toks AS (
        SELECT doc_id, regexp_split_to_array({_TRIM}, '[{WS_SQL}]+') AS t
        FROM {src}
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3
                    THEN list_distinct(list_transform(generate_series(1, len(t)-2),
                                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                    ELSE [array_to_string(t, ' ')] END AS shingles
        FROM toks
    )
"""


_SHINGLE_SQL = "WITH " + shingle_sql("documents")


def _tokens_col(text: Column) -> Column:
    # single-sourced from text.py: the shingle oracle's
    # regexp_split_to_array twin assumes exactly this tokenizer
    return tokens_expr(text)


def _shingles_from(t: Column) -> Column:
    """3-word shingles from an already-MATERIALIZED token-array column.

    ``t`` must be an attribute reference (a projected column), never the
    raw ``split(...)`` expression: expressions inside array-HOF lambdas
    are evaluated interpreted, once per element — an embedded regex split
    here re-tokenizes the document for every ``element_at`` call (3× per
    shingle), measured ~20× slower than this two-step form. The
    enclosing two projections stay separate because Catalyst's
    CollapseProject refuses to inline a non-cheap alias referenced more
    than once.
    """
    return F.when(
        F.size(t) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(t, i),
                    F.element_at(t, i + 1),
                    F.element_at(t, i + 2),
                ),
            )
        ),
    ).otherwise(F.array(F.array_join(t, " ")))


def shingled(docs: DataFrame, *keep: str) -> DataFrame:
    """``doc_id`` + ``keep`` columns + materialized ``shingles`` array."""
    toks = docs.select(
        "doc_id", *keep, _tokens_col(F.col("text")).alias("_toks")
    )
    return toks.select(
        "doc_id", *keep, _shingles_from(F.col("_toks")).alias("shingles")
    )


def minhash_signature(docs: DataFrame, carry: Sequence[str] = ()) -> DataFrame:
    """doc_id + h0..h7 minhash signature columns for (doc_id, text) rows.

    ``carry`` rides extra per-doc columns (constant within a doc_id)
    through the signature aggregation via ``first`` — so a caller that
    needs both the signature AND doc-level attributes downstream can
    stage ONE table instead of two full passes over the corpus
    (pipeline_curation's kept-corpus stage; parquet column pruning then
    serves each consumer just its columns).

    Shape: explode shingles → TWO md5 digests per shingle → slice each
    128-bit digest into four disjoint 8-hex (32-bit) chunks = 8
    independent hash functions (the Kirsch–Mitzenmacher "less hashing"
    construction: disjoint bits of a strong digest behave as independent
    hashes) → partial+final ``min`` aggregation back to one row per doc.
    Two md5 calls per shingle instead of eight (and minima of 8-char
    instead of 32-char strings through the shuffle) — measured ~2× faster
    end-to-end. The tempting pure-HOF form (``array_min(transform(...))``
    × 8 columns) recomputes the shingle array per signature column and
    evaluates interpreted — measured ~8× slower than the explode form,
    which runs inside whole-stage codegen with map-side combine.
    """
    # explode_OUTER, deliberately: for a plain explode over an attribute,
    # InferFiltersFromGenerate adds `size(shingles)>0 AND isnotnull(...)`,
    # and predicate pushdown re-substitutes the full interpreted shingle
    # expression into that filter BELOW the repartition — tripling the
    # HOF work and pinning it to the single scan partition. The outer
    # variant is exempt from the rule and identical here: both branches
    # of _shingles_from yield a non-empty array.
    carry = list(carry)
    exploded = shingled(docs, *carry).select(
        "doc_id", *carry, F.explode_outer("shingles").alias("s")
    )
    d0 = F.md5(F.col("s").cast("binary"))
    d1 = F.md5(F.concat(F.lit("x|"), F.col("s")).cast("binary"))
    hashed = exploded.select(
        "doc_id",
        *carry,
        *[
            F.substring(d0 if i < 4 else d1, 1 + 8 * (i % 4), 8).alias(f"x{i}")
            for i in range(N_HASHES)
        ],
    )
    return hashed.groupBy("doc_id").agg(
        # carry columns are constant per doc_id, so first() is
        # deterministic and rides the same map-side partial aggregation
        *[F.first(c).alias(c) for c in carry],
        *[F.min(f"x{i}").alias(f"h{i}") for i in range(N_HASHES)],
    )


# SQL twin of minhash_signature: the same two digests sliced into the
# same 8-hex chunks, min-aggregated per doc.
def _sig_chunk_sql(i: int) -> str:
    digest = "md5(s)" if i < 4 else "md5('x|' || s)"
    return (
        f"list_aggregate(list_transform(shingles, "
        f"s -> substr({digest}, {1 + 8 * (i % 4)}, 8)), 'min') AS h{i}"
    )


SIGS_CTE = """
    sigs AS (
        SELECT doc_id,
""" + ",\n".join(
    f"               {_sig_chunk_sql(i)}" for i in range(N_HASHES)
) + """
        FROM sh
    )
"""

_SIG_SQL = _SHINGLE_SQL + ", " + SIGS_CTE


@register(
    "dd_exact",
    oracle="""
    SELECT doc_id,
           md5(text) AS text_hash,
           MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
           COUNT(*) OVER (PARTITION BY md5(text)) AS group_size,
           doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
    FROM documents
    """,
)
def dd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-group on md5(text), keep the min-id canonical doc.

    At 100 TB this is the cheapest dedup pass: one shuffle on a 128-bit
    hash (uniform, no skew), map-side partial grouping; duplicates are
    flagged, not dropped, so downstream policy stays a filter.
    """
    docs = table(spark, sf_dir, "documents")
    h = F.md5(F.col("text").cast("binary"))
    w = Window.partitionBy(h)
    return docs.select(
        "doc_id",
        h.alias("text_hash"),
        F.min("doc_id").over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).alias("group_size"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_duplicate"),
    )


def banded_pairs_with_overlap(
    sig: DataFrame,
    probe_key: tuple | None = None,
    probe_fingerprint: tuple | None = None,
) -> DataFrame:
    """Candidate pairs ``(doc_a, doc_b, n_equal_hashes)`` from a minhash
    signature frame via banded LSH. ``probe_key``/``probe_fingerprint``
    pass through to the skew guard's memoized hot-band probe.

    One exploded band table + ONE equi-join — instead of a join per band —
    so candidate generation is a single shuffle on the band key; never an
    O(n²) cross join. Shared by ``dd_minhash_lsh`` and the curation
    pipeline's near-dup stage.

    Skew guard (r5 verdict item 5): the band equi-join goes through
    :func:`functions.pairs.tiled_self_pairs`, so a degenerate corpus that
    collapses into one hot band (the 94 s affine-generator incident) is
    triangle-tiled across sub-buckets instead of handed to one task;
    results are bit-identical — the tiling is an exact cover.
    """
    from tmdb_sync_spark.functions.pairs import tiled_self_pairs

    band_cols = F.array(
        *[
            F.concat(F.lit(f"{j}:"), F.col(f"h{2 * j}"), F.col(f"h{2 * j + 1}"))
            for j in range(N_BANDS)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_cols).alias("band_key"))
    pairs = (
        tiled_self_pairs(
            bands, "band_key", "doc_id",
            probe_key=probe_key, probe_fingerprint=probe_fingerprint,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa, sb = sig.alias("sa"), sig.alias("sb")
    n_equal = reduce(
        lambda x, y: x + y,
        [
            (F.col(f"sa.h{i}") == F.col(f"sb.h{i}")).cast("int")
            for i in range(N_HASHES)
        ],
    )
    return (
        pairs.join(sa, pairs.doc_a == F.col("sa.doc_id"))
        .join(sb, pairs.doc_b == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", n_equal.alias("n_equal_hashes"))
    )


@register(
    "dd_minhash_lsh",
    oracle=_SIG_SQL
    + """
    SELECT a.doc_id AS doc_a,
           b.doc_id AS doc_b,
           CAST(((a.h0 = b.h0)::INT + (a.h1 = b.h1)::INT + (a.h2 = b.h2)::INT + (a.h3 = b.h3)::INT
               + (a.h4 = b.h4)::INT + (a.h5 = b.h5)::INT + (a.h6 = b.h6)::INT + (a.h7 = b.h7)::INT) AS INT) AS n_equal_hashes,
           ((a.h0 = b.h0)::INT + (a.h1 = b.h1)::INT + (a.h2 = b.h2)::INT + (a.h3 = b.h3)::INT
           + (a.h4 = b.h4)::INT + (a.h5 = b.h5)::INT + (a.h6 = b.h6)::INT + (a.h7 = b.h7)::INT) / 8.0 AS est_jaccard
    FROM sigs a
    JOIN sigs b
      ON a.doc_id < b.doc_id
     AND ((a.h0 = b.h0 AND a.h1 = b.h1) OR (a.h2 = b.h2 AND a.h3 = b.h3)
       OR (a.h4 = b.h4 AND a.h5 = b.h5) OR (a.h6 = b.h6 AND a.h7 = b.h7))
    """,
)
def dd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via MinHash + banded LSH.

    Pipeline: 3-word shingles → 8 seeded md5 minhashes (array HOFs, no
    shuffle) → 4 bands of 2 → per-band *equi*-join on the band key →
    distinct pairs → signature-overlap estimate. The oracle's OR-join is
    the semantic spec; the Spark plan is the scalable union-of-equi-joins
    (each band join shuffles on its 256-bit key; no cross join anywhere).
    """
    # The signature fans out to 3 uses below (bands + both pair sides):
    # materialize it ONCE into a scratch parquet table and read that back
    # — the temp-table form used at 100 TB (a bucketed staging table).
    # Unlike persist(), nothing is retained in executor storage after the
    # action; keyed on sf_dir so repeated invocations in a long-lived
    # session reuse one dir instead of accumulating /tmp state.
    from tmdb_sync_spark.util import file_fingerprint, materialize_once

    # the fingerprint folds the table's content version into the key:
    # an in-place regeneration of documents.parquet (the driver does
    # this between rounds) must miss the cache, not serve candidate
    # pairs computed from the previous corpus
    docs_path = f"{sf_dir}/documents.parquet"
    sig = materialize_once(
        minhash_signature(parallel_table(spark, sf_dir, "documents")),
        cache_key=("mh_sig", sf_dir, file_fingerprint(docs_path)),
        prefix="mh_sig_",
    )

    cand = banded_pairs_with_overlap(
        sig,
        probe_key=("mh_bands", sf_dir),
        probe_fingerprint=file_fingerprint(docs_path),
    )
    return cand.select(
        "doc_a",
        "doc_b",
        "n_equal_hashes",
        (F.col("n_equal_hashes") / F.lit(float(N_HASHES))).alias("est_jaccard"),
    )


_NIBBLE = "89abcdef"  # high bit of a hex nibble


@register(
    "dd_simhash_fingerprint",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array({_TRIM}, '[{WS_SQL}]+') AS t,
               list_transform(list_distinct(regexp_split_to_array({_TRIM}, '[{WS_SQL}]+')),
                              x -> md5(x)) AS hs
        FROM documents
    ),
    sh AS (
        SELECT doc_id, hs,
               CASE WHEN len(t) >= 3
                    THEN list_distinct(list_transform(generate_series(1, len(t)-2),
                                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                    ELSE [array_to_string(t, ' ')] END AS shingles
        FROM toks
    )
    SELECT doc_id,
    """
    + " || ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> regexp_matches(substr(h, {i + 1}, 1), '[89a-f]'))) >= len(hs) THEN '1' ELSE '0' END)"
        for i in range(16)
    )
    + """ AS simhash,
           CAST(len(hs) AS INT) AS n_tokens,
           CAST(len(shingles) AS INT) AS n_shingles,
           substr(list_aggregate(list_transform(shingles, s -> md5(s)), 'min'), 1, 16) AS fingerprint
    FROM sh
    """,
)
def dd_simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit) + min-hash document fingerprint, one projection.

    - SimHash: per-bit majority vote over the md5 nibbles of the
      distinct-token set. Near-identical documents agree on most bits;
      grouping on the signature (or banding substrings of it) gives the
      candidate buckets. Bit i uses hex digit i of each token hash — a
      deterministic, engine-portable stand-in for 64-bit simhash with
      per-bit weights.
    - Fingerprint: min-hash over 3-word shingles (a 1-permutation
      MinHash — the rolling-hash fingerprint generalized). md5 is the
      hash on both engines (engine-native ``hash()`` differs, registry
      rule).

    Both are per-row HOFs — one row in, one row out, no shuffle; fusing
    them shares the tokenization scan.
    """
    docs = parallel_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", _tokens_col(F.col("text")).alias("_toks")
    )
    # hs/shingles read the materialized token array (attribute ref), so
    # the regex split runs once per row, not once per lambda element.
    tokens = toks.select(
        "doc_id",
        F.transform(
            F.array_distinct(F.col("_toks")),
            lambda x: F.md5(x.cast("binary")),
        ).alias("hs"),
        _shingles_from(F.col("_toks")).alias("shingles"),
    )
    def majority_bit(i: int) -> Column:
        pos = i + 1
        return (
            F.when(
                2
                * F.size(
                    F.filter(
                        F.col("hs"),
                        # hex digit with its high bit set: '8','9','a'-'f'
                        # are exactly the lowercase-hex chars >= '8' — a
                        # byte compare, not a per-element regex match
                        lambda h: F.substring(h, pos, 1) >= "8",
                    )
                )
                >= F.size("hs"),
                "1",
            ).otherwise("0")
        )

    bits = [majority_bit(i) for i in range(16)]
    return tokens.select(
        "doc_id",
        F.concat(*bits).alias("simhash"),
        F.size("hs").alias("n_tokens"),
        F.size("shingles").alias("n_shingles"),
        F.substring(
            F.array_min(F.transform("shingles", lambda s: F.md5(s.cast("binary")))),
            1, 16,
        ).alias("fingerprint"),
    )


@register_retired(
    # Rotated to the local parity gate r9 to free the driver slot for
    # wn_substring_overlap (functions/winnow.py): this operator is the
    # exact-Jaccard VERIFY stage of the near-dup pipeline whose
    # candidate stage (dd_minhash_lsh) keeps its driver slot; winnowing
    # adds a detection capability no current slot covers (paragraph-
    # level overlap inside otherwise-different documents). Coverage is
    # unchanged — retired queries run at the identical oracle bar in
    # tests/test_oracle_parity.py.
    "dd_ngram_jaccard",
    oracle=_SHINGLE_SQL
    + """
    SELECT a.doc_id AS doc_a,
           b.doc_id AS doc_b,
           CAST(len(list_filter(a.shingles, x -> list_contains(b.shingles, x))) AS INT) AS n_common,
           CAST(len(a.shingles) + len(b.shingles)
                - len(list_filter(a.shingles, x -> list_contains(b.shingles, x))) AS INT) AS n_union,
           len(list_filter(a.shingles, x -> list_contains(b.shingles, x)))
             / (len(a.shingles) + len(b.shingles)
                - len(list_filter(a.shingles, x -> list_contains(b.shingles, x)))) AS jaccard
    FROM sh a
    JOIN sh b ON b.doc_id = a.doc_id + 1
    """,
)
def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard for candidate pairs.

    Pairing here is consecutive doc_ids (a deterministic linear probe);
    in production the pair list comes from ``dd_minhash_lsh`` candidates —
    this operator is the *verify* stage of the two-phase near-dup
    pipeline, so its cost is |candidates|, never O(n²).
    """
    docs = parallel_table(spark, sf_dir, "documents")
    sh = shingled(docs)
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(
        F.filter(
            F.col("a.shingles"),
            lambda x: F.array_contains(F.col("b.shingles"), x),
        )
    )
    union = F.size(F.col("a.shingles")) + F.size(F.col("b.shingles")) - inter
    return (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            inter.alias("n_common"),
            union.alias("n_union"),
            (inter / union).alias("jaccard"),
        )
    )


# Shared oracle prefix for the components family: the near-dup graph
# (sign-LSH buckets → exact quantized cosine ≥ threshold) and its
# connected components as a recursive min-reachable-id CTE — the
# declarative twin of the Spark-side min-label fixpoint loop. Ends at
# the ``comp`` CTE ``(vec_id, component)``; consumers append their own
# final SELECT (dd_cluster_components sizes it, dd_cluster_representatives
# picks a keep-policy representative per component).
_COMPONENTS_CTES = f"""
    WITH RECURSIVE q AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS v
        FROM embeddings
        WHERE {_VALID_SQL}
    ),
    n AS (
        SELECT vec_id, v,
               CAST(list_aggregate(list_transform(generate_series(1, 64), i -> v[i] * v[i]),
                                   'sum') AS BIGINT) AS nrm
        FROM q
    ),
    b AS (
        SELECT e.vec_id,
               (CASE WHEN e.embedding[1] >= 0 THEN '1' ELSE '0' END)
               || (CASE WHEN e.embedding[2] >= 0 THEN '1' ELSE '0' END)
               || (CASE WHEN e.embedding[3] >= 0 THEN '1' ELSE '0' END)
               || (CASE WHEN e.embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket,
               n.v, n.nrm
        FROM embeddings e JOIN n ON e.vec_id = n.vec_id
        WHERE n.nrm > 0
    ),
    edges AS (
        SELECT a.vec_id AS u, c.vec_id AS w
        FROM b a
        JOIN b c ON a.vec_id < c.vec_id AND a.bucket = c.bucket
        WHERE CAST(list_aggregate(list_transform(generate_series(1, 64),
                                   i -> a.v[i] * c.v[i]), 'sum') AS BIGINT)
                / (sqrt(a.nrm) * sqrt(c.nrm)) >= 0.30
    ),
    nodes AS (SELECT DISTINCT u AS v FROM edges
              UNION SELECT DISTINCT w FROM edges),
    sym AS (SELECT u, w FROM edges UNION ALL SELECT w, u FROM edges),
    reach AS (
        SELECT v, v AS r FROM nodes
        UNION
        SELECT s.w AS v, reach.r FROM reach JOIN sym s ON s.u = reach.v
    ),
    comp AS (SELECT v AS vec_id, MIN(r) AS component FROM reach GROUP BY v)
"""


@register(
    "dd_cluster_components",
    oracle=_COMPONENTS_CTES + """
    SELECT c.vec_id, c.component,
           COUNT(*) OVER (PARTITION BY c.component) AS comp_size
    FROM comp c
    ORDER BY c.vec_id
    """,
)
def dd_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup graph (iterative operator).

    Dedup at corpus scale keeps ONE representative per duplicate
    *cluster*, not per pair — so the pair output of
    ``dd_embedding_cosine`` feeds min-label propagation until fixpoint:
    each node repeatedly takes the smallest label among itself and its
    neighbors. Spark has no recursive SQL; the loop is driver-controlled
    with ``localCheckpoint()`` per round to truncate lineage (the
    standard large-graph pattern — label exchange is one shuffle per
    round, rounds ≈ graph diameter). The oracle is DuckDB's recursive
    CTE computing min reachable id — same fixpoint, declaratively.
    """
    return cluster_components(spark, sf_dir)


def cluster_components(
    spark: SparkSession, sf_dir: str, n_bits: int | None = None
) -> DataFrame:
    """The cluster operator with the occupancy knob exposed (r8):
    ``n_bits`` defaults to the registered fixed plane count (oracle
    stability); scale consumers pass
    ``similarity.scaled_dup_bits(n_vectors)`` so the candidate pair
    density — the input to every label-propagation round — stays
    constant per vector as the corpus grows (the r6 ramp's 28.3 s x16
    blowup was exactly fixed-bits quadratic pair growth; the scaled
    row is measured in scripts/exp_scale_ramp.py at cb774a3 §D)."""
    from tmdb_sync_spark.functions.similarity import (
        DUP_THRESHOLD, N_DUP_BITS, _dup_candidate_pairs,
    )

    # skew-tiled bucket self-join over the staged bucket table
    # (similarity._dup_candidate_pairs): a hot LSH bucket fans out
    # across sub-tiles instead of one quadratic task
    edges = (
        _dup_candidate_pairs(
            spark, sf_dir, N_DUP_BITS if n_bits is None else n_bits
        )
        .where(F.col("cosine_sim") >= DUP_THRESHOLD)
        .select(
            F.col("a.vec_id").alias("u"),
            F.col("b.vec_id").alias("w"),
        )
    )
    # min_label_components materializes edges itself (localCheckpoint)
    # before counting/symmetrizing — no pre-checkpoint needed here.
    labels = min_label_components(edges)
    w = Window.partitionBy("component")
    return (
        labels.select(F.col("v").alias("vec_id"),
                      F.col("label").alias("component"))
        .withColumn("comp_size", F.count(F.lit(1)).over(w))
        .orderBy("vec_id")
    )


@register_retired(
    "dd_cluster_representatives",
    oracle=_COMPONENTS_CTES + """,
    sized AS (
        SELECT vec_id, component,
               COUNT(*) OVER (PARTITION BY component) AS comp_size
        FROM comp
    )
    SELECT s.vec_id AS doc_id, s.component, s.comp_size,
           FIRST_VALUE(s.vec_id) OVER (
               PARTITION BY s.component
               ORDER BY d.n_chars DESC NULLS LAST, s.vec_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS keep_doc_id,
           s.vec_id = FIRST_VALUE(s.vec_id) OVER (
               PARTITION BY s.component
               ORDER BY d.n_chars DESC NULLS LAST, s.vec_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS is_kept
    FROM sized s
    JOIN documents d ON d.doc_id = s.vec_id
    """,
)
def dd_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep-policy tail of the dedup family: detect → cluster →
    CHOOSE. ``dd_cluster_components`` labels every near-dup cluster;
    this operator decides which member survives — the largest document
    (``n_chars`` best-first, ``doc_id`` ascending tiebreak), the
    "keep the most complete copy" policy a curation pipeline applies
    before dropping the rest.

    Output, one row per clustered doc present in ``documents``:
    ``(doc_id, component, comp_size, keep_doc_id, is_kept)``.
    ``comp_size`` is the FULL cluster size (counted before the
    documents join — a member whose text is missing still counts;
    it just can't be elected representative). Downstream dedup is
    ``WHERE NOT is_kept`` → the drop list.

    Scale shape: the components labels (one checkpointed frame,
    log₂(diameter) shuffles to produce) join ``documents`` on the
    unique id — an equi-join Catalyst plans broadcast-or-shuffle by
    size — then ONE window over ``component`` whose per-group state is
    a single running first-value, never a buffered group. The argmax is
    deterministic: (n_chars, doc_id) is a total order; NULL sizes sort
    last in both engines (Spark ``desc`` = ``DESC NULLS LAST``)."""
    comp = cluster_components(spark, sf_dir)
    docs = parallel_table(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.col("n_chars")
    )
    j = comp.join(docs, comp.vec_id == docs.doc_id).select(
        "doc_id", "component", "comp_size", "n_chars"
    )
    w = (
        Window.partitionBy("component")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    keep = F.first("doc_id").over(w)
    return j.select(
        "doc_id",
        "component",
        "comp_size",
        keep.alias("keep_doc_id"),
        (F.col("doc_id") == keep).alias("is_kept"),
    )


def min_label_components(
    edges: DataFrame,
    max_rounds: int = 64,
    stats: dict | None = None,
    *,
    edges_materialized: bool = False,
    local_finish: bool = True,
) -> DataFrame:
    """Connected components of an undirected edge list ``(u, w)`` →
    ``(v, label)`` where label = min node id in v's component.

    Tiny graphs take a LOCAL path (r12, guide §1.2/§4.2): when the
    edge-count keying below collapses the loop to ONE partition
    (≤ ~25k edges) and no edge endpoint is NULL, the whole graph is the
    working set of a single task anyway — so instead of ~log2(diameter)
    driver-scheduled rounds (each a plan + job at pure scheduling cost
    at this size) the labels come from ONE ``mapInPandas`` task running
    union-find with union-by-min + path compression (root = component
    minimum by construction, so labels are bit-identical to the
    fixpoint's). This is the standard "finish small graphs locally"
    step of distributed CC algorithms; at scale ``loop_parts`` equals
    the session count and the distributed loop below runs unchanged.
    ``local_finish=False`` forces the loop (tests/ramps pin the
    distributed path's behavior with it). Edges with a NULL endpoint
    (never produced by the near-dup candidate generators, but the loop
    tolerates them as non-edges) are detected in the same one-row agg
    that counts edges and route to the loop, whose NULL semantics stay
    the contract.

    Iterates to FIXPOINT — never exits silently on a round cap: a
    component whose diameter exceeds the cap would yield labels that
    diverge from the exact fixpoint (round-1 advisor finding). Each round
    is neighbor-min propagation PLUS one pointer-jumping step
    (label ← label-of-label, Shiloach-Vishkin style): labels chase the
    component minimum along paths that double in length every round, so
    rounds ≈ log2(diameter) instead of diameter — the difference between
    ~40 and ~10 shuffles on a 100 TB near-dup graph with long chains.
    Every step is an equi-join shuffle with ``localCheckpoint()`` lineage
    truncation; no driver-side data. The hard cap only guards against a
    non-terminating bug and fails loudly.

    Shuffle sizing (r10 verdict #8): every round pays its exchanges at
    the session's configured ``spark.sql.shuffle.partitions`` — AQE
    coalescing does NOT shrink them below default parallelism
    (``coalescePartitions.parallelismFirst`` favors parallelism over the
    advisory size), so a tiny label frame at bench SF schedules ~32
    tasks per exchange, ~10 rounds × 4 exchanges a round of pure
    scheduling overhead. The loop therefore keys its shuffle partitions
    to the materialized edge count — capped AT the session's setting, so
    a 100 TB edge list keeps the session's shape and only small graphs
    shrink — for the loop's duration, restored in ``finally`` (the
    returned frame is checkpointed, so downstream plans never see the
    loop's setting).

    .. warning:: the ``spark.sql.shuffle.partitions`` window is
       SESSION-scoped: any UNRELATED query planned on the same session
       while a fixpoint loop runs will plan its shuffles at the loop's
       (usually smaller) partition count. The internal lock only
       serializes concurrent fixpoint loops against each other. Fine
       under this engine's serial execution model; callers interleaving
       large independent shuffles on the same session should plan them
       outside this call. Two scoped alternatives were A/B'd in r12
       (scripts/exp_components_conf_ab.py at cb774a3, both orderings to
       cancel the JIT-warmup confound) and both measured ~2× slower warm at sf0.1:
       AQE-policy-only (``coalescePartitions.parallelismFirst=false``,
       partitions untouched) 7.7 s and plan-local
       ``repartition(loop_parts)`` 8.6 s vs 4.3 s shipped — coalescing
       happens after each exchange is planned and scheduled at the
       session count, and the repartition pins only its own exchange
       while the groupBy/join/distinct exchanges still fan out
       (numbers in COVERAGE.md r12).

    ``edges`` is materialized here (``localCheckpoint``) before the row
    count and the symmetrizing union — callers may pass an arbitrary
    unmaterialized plan without paying extra whole-plan evaluations
    (one for the count + two for the union's branches). Callers that
    ALREADY hold a checkpointed/persisted edge frame pass
    ``edges_materialized=True`` to skip the redundant copy — a full
    edge-list materialization job per call, which both wastes work on
    repeated invocations over one staged frame and pollutes timing
    harnesses that deliberately exclude edge generation from their
    timed window (r12 review finding: the ramp/A-B scripts were
    re-paying it inside every timed rep).
    """
    spark = edges.sparkSession
    if not edges_materialized:
        edges = edges.localCheckpoint()
    sym = edges.unionByName(
        edges.select(F.col("w").alias("u"), F.col("u").alias("w"))
    )
    # ~50k label/edge rows per task: enough per-task work to amortize
    # scheduling (the win for tiny graphs — sf0.1's 2k edges collapse
    # to 1 partition, measured −44%/round) WITHOUT starving
    # parallelism on mid-size graphs (500k rows/task was measured
    # SLOWER at 593k edges: 3 partitions left 29 cores idle, 7.3 s vs
    # 4.7 s at 32). Never raises the session's configured count.
    # NULL endpoints ride the same one-job agg: the local path below
    # must not see them (loop semantics: a NULL-endpoint edge is a
    # non-edge and NULL is an isolated node — dict/NaN round-trips
    # can't replicate that faithfully in pandas).
    cnt_row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(
                (F.col("u").isNull() | F.col("w").isNull()).cast("long")
            ),
            F.lit(0),
        ).alias("nulls"),
    ).collect()[0]
    n_edges, null_edges = int(cnt_row["n"]), int(cnt_row["nulls"])
    conf_key = "spark.sql.shuffle.partitions"
    prev_parts = spark.conf.get(conf_key)
    try:
        session_parts = int(prev_parts)
    except (TypeError, ValueError):
        session_parts = None   # exotic conf value — leave it untouched
    if session_parts is None:
        if stats is not None:
            stats["shuffle_partitions"] = prev_parts
        return _min_label_fixpoint(sym, max_rounds, stats)
    loop_parts = max(1, min(session_parts, -(-2 * n_edges // 50_000)))
    # Tiny graphs (loop_parts == 1): run the fixpoint entirely in ONE
    # partition with the frames coalesce(1)-wrapped. CoalesceExec(1)
    # reports SinglePartition, which satisfies every clustered
    # distribution, so EnsureRequirements plans ZERO exchanges inside
    # the round — each round is one straight-line task instead of ~6
    # single-task shuffle stages whose per-stage scheduling dominates
    # at this size (measured: AQE on/off was a wash, the stages were).
    # Labels bit-identical (exceptAll both ways = 0); at scale
    # loop_parts == the session count and this path never engages.
    # Measured at sf0.1 (1,969 edges, 10 rounds): loop 3.9 s → 2.9 s.
    single_partition = loop_parts == 1
    if local_finish and single_partition and null_edges == 0:
        # local finish (see docstring): one task, union-find, labels
        # bit-identical to the fixpoint's. sym's u carries the
        # union-promoted id type, so mixed-width callers round-trip.
        if stats is not None:
            stats["shuffle_partitions"] = loop_parts
            stats["rounds"] = 0
            stats["local_finish"] = True
        return _local_union_find(
            edges, sym.schema["u"].dataType
        ).localCheckpoint()
    if stats is not None:
        stats["shuffle_partitions"] = loop_parts
    # Session-conf window (the engine-wide shared one — see
    # util.shuffle_partitions_window for the visibility caveat and the
    # scoped-alternatives A/B that keeps this mechanism).
    from tmdb_sync_spark.util import shuffle_partitions_window

    with shuffle_partitions_window(spark, loop_parts):
        return _min_label_fixpoint(
            sym, max_rounds, stats, single_partition=single_partition
        )


def _min_label_fixpoint(
    sym: DataFrame,
    max_rounds: int,
    stats: dict | None,
    *,
    single_partition: bool = False,
) -> DataFrame:
    def _sp(df: DataFrame) -> DataFrame:
        # SinglePartition wrapper for the tiny-graph path (see
        # min_label_components): coalesce(1) satisfies every required
        # distribution, so the round plans exchange-free
        return df.coalesce(1) if single_partition else df

    sym = _sp(sym)
    labels = _sp(
        sym.select(F.col("u").alias("v")).distinct()
        .withColumn("label", F.col("v"))
        .localCheckpoint()
    )
    changed = 1
    rounds = 0
    while changed:
        rounds += 1
        if rounds > max_rounds:   # log2-bounded; more means a broken graph
            raise RuntimeError(
                f"min_label_components: no fixpoint after {max_rounds} rounds"
            )
        neigh_min = (
            sym.join(labels, sym.u == labels.v)
            .groupBy(F.col("w").alias("v"))
            .agg(F.min("label").alias("nl"))
        )
        # _old rides along so the fixpoint check below is a filter over
        # the round's own checkpointed output — the previous shape
        # re-joined the FULL label set against the new one every round
        # just to count changes, one whole extra V-row shuffle per round
        # (r10 extended-bench review)
        prop = (
            labels.join(neigh_min, "v", "left")
            .select(
                "v",
                F.col("label").alias("_old"),
                F.least("label", "nl").alias("label"),
            )
        )
        # pointer jump: follow the current label one hop (labels always
        # point at a node id in the same component, so the lookup is a
        # self-equi-join; coalesce covers label == v roots). Exactly ONE
        # jump per round, measured: a second jump per round was tried
        # (r10) and LOST — rounds stayed at 10 on the sf0.1 near-dup
        # graph (convergence there is gated by neighbor-min's one-hop
        # spread, not by chain length) while the doubled self-join of
        # the unmaterialized prop subtree ~5×'d per-round cost.
        jumped = (
            prop.alias("a")
            .join(
                prop.select(
                    F.col("v").alias("jv"), F.col("label").alias("jl")
                ).alias("b"),
                F.col("a.label") == F.col("b.jv"),
                "left",
            )
            .select(
                F.col("a.v").alias("v"),
                F.col("a._old").alias("_old"),
                F.least(
                    F.col("a.label"), F.coalesce("b.jl", "a.label")
                ).alias("label"),
            )
        )
        # fixpoint test rides the checkpoint job itself as a
        # CollectMetrics side effect (r12): the previous shape ran a
        # second plan+job per round (a count over the checkpoint
        # blocks) — at tiny-graph sizes each round's cost is driver
        # planning + round latency, so one plan/job per round instead
        # of two measured 2.51 → 2.25 s on the sf0.1 loop, labels
        # bit-identical. Labels only ever DECREASE, so
        # label != _old iff it changed; the sum is NULL on an empty
        # label frame — coalesce keeps the loop's exit condition.
        obs = Observation()
        jumped = (
            jumped.observe(
                obs,
                F.coalesce(
                    F.sum((F.col("label") != F.col("_old")).cast("long")),
                    F.lit(0),
                ).alias("changed"),
            )
            .drop("_old")
            .localCheckpoint()
        )
        changed = obs.get["changed"]
        labels = _sp(jumped)
    if stats is not None:
        stats["rounds"] = rounds   # observability for the scale ramp
    return labels


def _local_union_find(edges: DataFrame, id_type) -> DataFrame:
    """Exact components of a one-task-sized edge list: ``coalesce(1)``
    + union-find in a single ``mapInPandas`` batch loop. Union-by-min
    attaches the larger root under the smaller, so every root IS its
    component's minimum id (each member starts as its own root) —
    identical labels to the distributed fixpoint, no second min pass.
    Arrow-batched (sanctioned boundary, guide §4.2): the Python work is
    one O(E·α) pass over ≤ ~25k edges per the caller's threshold, a
    few ms against the ~10 plan+job round trips it replaces. Callers
    guarantee NULL-free endpoints (min_label_components routes NULLs
    to the loop)."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("v", id_type), StructField("label", id_type)]
    )

    def uf(batches):  # pragma: no cover — executor-side
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for b in batches:
            for u_, w_ in zip(b["u"].tolist(), b["w"].tolist()):
                if u_ not in parent:
                    parent[u_] = u_
                if w_ not in parent:
                    parent[w_] = w_
                ru, rw = find(u_), find(w_)
                if ru != rw:
                    if rw < ru:
                        ru, rw = rw, ru
                    parent[rw] = ru   # larger root under smaller
        if parent:
            nodes = list(parent)
            yield pd.DataFrame(
                {"v": nodes, "label": [find(x) for x in nodes]}
            )

    return edges.select("u", "w").coalesce(1).mapInPandas(uf, schema)
