"""Skew-guarded within-group pair enumeration (shared by the dedup and
similarity pair joins).

The r5 scale ramp manufactured the failure mode this module closes: an
LSH bucketing whose generator collapses most rows into ONE bucket turns
a bucket self-join quadratic *in a single join key* — at cluster scale
(both sides too large to broadcast, so the join is a sort-merge on the
bucket key) one task owns the whole hot bucket's pair space (the 94 s
affine-generator incident, COVERAGE.md). Neither of Spark's own skew
defenses applies there: AQE's skew-join split partitions by BYTES (a
hot bucket of a few thousand rows is compute-skewed, not byte-skewed),
and the broadcast-hash escape — whose probe side distributes the hot
key across input partitions for free — is exactly what stops existing
at 100 TB.

The guard is the classic triangle-tiling decomposition of a self-join:
rows of an oversized group get a deterministic salt in ``0..S-1``
(``S = ceil(n / cap)``), and the group's unordered-pair space — a
triangle — is covered by the ``S·(S+1)/2`` sub-blocks
``(i ≤ j)``: pairs *within* sub-bucket ``i`` plus pairs *across* each
salt boundary ``(i, j)``. Total comparisons are unchanged (tiling
cannot shrink a quadratic pair space — truncating it would change
results), but the hot key fans out into ``O(S²)`` independent join
keys, so the work rides every core/executor instead of one straggler
task, and each tile's build side is bounded by ``cap`` rows.

The tiling is CONDITIONAL, decided by one bounded driver-side probe:
when no group exceeds ``cap`` — every real corpus measured — the
output plan IS the naive bucket equi-join, with zero replication,
zero extra join machinery, and Spark free to pick broadcast-hash.
Measured (scripts/exp_skew_guard.py at cb774a3): the always-tiled first
draft cost +97% on the unskewed sf0.1 corpus and even LOST on the skewed
one locally, because the local-scale naive plan is a broadcast join
that is already parallel; the conditional form pays one count job.

Exactly-once construction of the tiled branch (no post-hoc distinct):
a row with salt ``s`` is replicated LEFT under tile keys ``(s, t)``
for ``t = s..S-1`` and RIGHT under tile keys ``(u, s)`` for
``u = 0..s``. A pair with salts ``(s₁ ≤ s₂)`` meets at exactly the
tile ``(s₁, s₂)`` — in both role assignments when ``s₁ = s₂``, which
the ``id`` tie-break reduces to one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Tile side bound: a hot group is split so no tile's build side exceeds
# this many rows (~cap² bounded comparisons per task). 4096² ≈ 16.8M
# pair evaluations per tile — seconds of work, far below straggler
# territory — while normal corpora (bucket sizes ≪ cap) never tile.
SKEW_PAIR_CAP = 4096

# (applicationId, probe_key, cap) -> (probe_fingerprint, hot rows).
# The probe answer is derived table metadata, so it follows the IVF
# codebook memo's fingerprint discipline (fingerprint in the VALUE — a
# rewrite replaces the entry). Deliberately NOT wired to the
# reset-hooks flush: a stale probe answer can only mis-choose the PLAN
# (an un-hot group tiled, or a hot one joined naively — the pre-guard
# behavior), never the RESULT, since both branches are exact covers.
_HOT_MEMO: dict = {}
_HOT_MEMO_LIMIT = 10_000


def _pair_output(pairs: DataFrame, sym: dict | None) -> DataFrame:
    # The payload struct deliberately duplicates key and id (full input
    # rows) instead of carrying only the non-key columns: a "lean
    # payload" rewrite that reconstructed a/b by name from the top-level
    # join columns was A/B-measured 60% SLOWER end-to-end (curation
    # 2.1 → 3.5 s, minhash 1.2 → 2.2 s) — the per-row struct
    # reconstruction through the role CaseWhen costs far more than the
    # duplicated bytes save at these widths. Rejected; re-evaluate only
    # if a profile shows the candidate-join shuffle is byte-bound.
    a_first = F.col("_id") < F.col("_id2")
    return pairs.select(
        F.when(a_first, F.col("_r")).otherwise(F.col("_r2")).alias("a"),
        F.when(a_first, F.col("_r2")).otherwise(F.col("_r")).alias("b"),
        *[
            fn(F.col("_r"), F.col("_r2")).alias(name)
            for name, fn in (sym or {}).items()
        ],
    )


def tiled_self_pairs(
    df: DataFrame,
    key: str,
    id_col: str,
    cap: int = SKEW_PAIR_CAP,
    sym: dict | None = None,
    probe_key: tuple | None = None,
    probe_fingerprint: tuple | None = None,
) -> DataFrame:
    """All unordered within-``key`` row pairs of ``df`` as struct columns
    ``a`` / ``b`` (full input rows, ``a[id_col] < b[id_col]``), each pair
    exactly once; groups larger than ``cap`` rows are triangle-tiled
    (module docstring) so no single sort-merge task owns a quadratic hot
    bucket.

    The salt is ``pmod(xxhash64(id), S)`` — deterministic per row, but
    the OUTPUT is salt-independent (the tiling is an exact cover), so
    consumers' oracles need no mirror of it.

    ``sym``: ``{name: fn(left_row_struct, right_row_struct)}`` of
    **symmetric** pair expressions (``fn(l, r) == fn(r, l)`` — e.g. a
    cosine), emitted as top-level output columns computed on the
    UN-swapped join sides. This matters for cost, measured in-session:
    a consumer filter like ``sim >= θ`` gets pushed into the join
    condition by Catalyst; expressed over the swapped ``a``/``b``
    structs it drags the role ``CASE WHEN`` into every candidate-pair
    evaluation (2× the per-pair work), while the symmetric form is the
    one plain expression the naive join evaluates.

    Cost when nothing is hot: exactly the naive join plus ONE bounded
    probe job (``groupBy(key).count`` — map-side partials, tiny
    shuffle). Feed this function a STAGED/cheap frame when its
    projection is expensive, since the probe scans it once more.

    ``probe_key`` (+ ``probe_fingerprint``, e.g. a
    ``util.file_fingerprint`` of the source table) memoizes the probe
    answer per application: the hot-group list is derived table
    metadata, so repeat invocations over unchanged content skip the
    probe job entirely — and the memoized list doubles as the
    driver-side build of the salting broadcast, removing the hot-agg
    recompute from the tiled branch too. Staleness here is
    performance-only by construction (both branches are exact covers),
    so the memo needs no reset hook. Lists past ``_HOT_MEMO_LIMIT``
    groups are not memoized (the tiled branch then recomputes the
    hot frame distributively).

    The hot-group probe runs at PLAN TIME (driver-side, like the IVF
    codebook collect): the input frame must be deterministic between
    that probe and execution — a frame read from a staged/parquet table
    qualifies; one derived from e.g. ``rand()`` does not.
    """
    row = F.struct(*[F.col(c) for c in df.columns])
    base = df.select(
        F.col(key).alias("_k"), F.col(id_col).alias("_id"), row.alias("_r")
    )
    hot = (
        base.groupBy("_k")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > cap)
        .select(
            "_k", F.ceil(F.col("_n") / F.lit(cap)).cast("int").alias("_s")
        )
    )
    base2 = base.select(
        F.col("_k").alias("_k2"), F.col("_id").alias("_id2"),
        F.col("_r").alias("_r2"),
    )
    # bounded plan-time probe, memoized per (application, probe_key,
    # table fingerprint) when the caller identifies the source content
    spark = df.sparkSession
    mk = (
        (spark.sparkContext.applicationId, probe_key, cap)
        if probe_key is not None else None
    )
    hot_rows = None
    if mk is not None:
        memo = _HOT_MEMO.get(mk)
        if memo is not None and memo[0] == probe_fingerprint:
            hot_rows = memo[1]
    if hot_rows is None:
        hot_rows = hot.take(_HOT_MEMO_LIMIT + 1)
        if mk is not None and len(hot_rows) <= _HOT_MEMO_LIMIT:
            _HOT_MEMO[mk] = (probe_fingerprint, hot_rows)

    if not hot_rows:
        pairs = base.join(
            base2,
            (F.col("_k") == F.col("_k2")) & (F.col("_id") < F.col("_id2")),
        )
        return _pair_output(pairs, sym)

    if len(hot_rows) <= _HOT_MEMO_LIMIT:
        # the collected list doubles as the broadcast build side — the
        # salting join then needs no second pass over the hot aggregate
        hot = spark.createDataFrame(hot_rows, hot.schema)
        hot = F.broadcast(hot)
    # else: the hot-key set is larger than we were willing to hold on the
    # driver — don't FORCE a broadcast of a frame we just declined to
    # collect; leave the build-side choice to Catalyst/AQE, which will
    # still broadcast it at runtime if it is in fact small
    salted = (
        base.join(hot, "_k", "left")
        .withColumn("_s", F.coalesce(F.col("_s"), F.lit(1)))
        .withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("_id")), F.col("_s")).cast("int")
        )
    )
    left = salted.select(
        "_k", "_id", "_r", "_salt",
        F.explode(
            F.sequence(F.col("_salt"), F.col("_s") - F.lit(1))
        ).alias("_t"),
    )
    right = salted.select(
        F.col("_k").alias("_k2"), F.col("_id").alias("_id2"),
        F.col("_r").alias("_r2"), F.col("_salt").alias("_salt2"),
        F.explode(F.sequence(F.lit(0), F.col("_salt"))).alias("_u"),
    )
    # tile key: (group, left-salt-region, right-salt-region). The join
    # guarantees _salt <= _salt2; equal-salt tiles see each pair in both
    # role orders, so the id tie-break keeps exactly one.
    #
    # EXPLICIT-count repartition on the tile key: the pair join is
    # compute-bound but byte-light, and AQE's partition coalescing
    # (which only sees shuffle BYTES) would fold the tiles back into few
    # partitions — recreating the very straggler the tiling breaks. A
    # repartition with an explicit numPartitions is REPARTITION_BY_NUM,
    # which AQE never coalesces; the sort-merge join reuses it (same
    # keys, same count — no extra exchange).
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    left = left.repartition(n_parts, "_k", "_salt", "_t")
    right = right.repartition(n_parts, "_k2", "_u", "_salt2")
    pairs = left.join(
        right,
        (F.col("_k") == F.col("_k2"))
        & (F.col("_salt") == F.col("_u"))
        & (F.col("_t") == F.col("_salt2"))
        & (
            (F.col("_salt") != F.col("_salt2"))
            | (F.col("_id") < F.col("_id2"))
        )
        # equal ids never pair (the naive form's `a.id < b.id` excludes
        # them); without this, a cross-salt tile would admit a dup-id pair
        & (F.col("_id") != F.col("_id2")),
    )
    return _pair_output(pairs, sym)
