"""tiled_self_pairs: the skew-guarded self-join must be an EXACT cover —
same pairs as the naive bucket equi-join, each exactly once, for any
salt layout the cap induces."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tmdb_sync_spark.functions.pairs import tiled_self_pairs


def _naive_pairs(rows):
    by_key: dict = {}
    for k, i, p in rows:
        by_key.setdefault(k, []).append((i, p))
    out = []
    for k, members in by_key.items():
        for x in range(len(members)):
            for y in range(len(members)):
                ia, pa = members[x]
                ib, pb = members[y]
                if ia < ib:
                    out.append((k, ia, ib, pa, pb))
    return sorted(out)


@pytest.mark.parametrize("cap", [1, 2, 3, 5, 100])
def test_exact_cover_at_every_cap(spark, cap):
    """One hot group (12 rows → S up to 12 at cap=1), two normal groups,
    a singleton, and non-contiguous ids: the tiled output must equal the
    naive quadratic enumeration at every tile size."""
    rows = (
        [("hot", 7 * i + 3, f"p{i}") for i in range(12)]
        + [("a", 1, "x"), ("a", 2, "y"), ("a", 5, "z")]
        + [("b", 10, "q"), ("b", 11, "r")]
        + [("solo", 99, "s")]
    )
    df = spark.createDataFrame(rows, "k STRING, id BIGINT, payload STRING")
    got = sorted(
        (r["a"]["k"], r["a"]["id"], r["b"]["id"],
         r["a"]["payload"], r["b"]["payload"])
        for r in tiled_self_pairs(df, "k", "id", cap=cap).collect()
    )
    assert got == _naive_pairs(rows)


def test_matches_untiled_join_on_real_buckets(spark, sf_dir):
    """End-to-end equivalence on the real embeddings buckets: the tiled
    pair join must reproduce the naive a.id < b.id bucket self-join
    byte for byte (this is why the consumers' oracles need no change)."""
    from tmdb_sync_spark.functions.similarity import N_DUP_BITS, _bucketed

    b = _bucketed(spark, sf_dir, N_DUP_BITS)
    naive = (
        b.alias("x")
        .join(
            b.alias("y"),
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("a_id"), F.col("y.vec_id").alias("b_id")
        )
    )
    # cap=8 forces real multi-tile splitting on every bucket (~30+ rows
    # per 4-bit bucket at sf0.001)
    tiled = tiled_self_pairs(b, "bucket", "vec_id", cap=8).select(
        F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id")
    )
    a = sorted(map(tuple, naive.collect()))
    t = sorted(map(tuple, tiled.collect()))
    assert a == t and len(t) == len(set(t))


def test_duplicate_ids_never_pair(spark):
    """The naive form's a.id < b.id excludes equal-id pairs; the tiled
    form must too, even across salt boundaries."""
    rows = [("k", 1, "a"), ("k", 1, "b"), ("k", 1, "c"), ("k", 2, "d")]
    df = spark.createDataFrame(rows, "k STRING, id BIGINT, payload STRING")
    for cap in (1, 2, 10):
        got = [
            (r["a"]["id"], r["b"]["id"])
            for r in tiled_self_pairs(df, "k", "id", cap=cap).collect()
        ]
        assert sorted(got) == [(1, 2), (1, 2), (1, 2)]


def test_exact_cover_property(spark):
    """Hypothesis sweep: arbitrary group layouts (including negative and
    duplicate ids, multiple hot groups, cap down to 1) — the tiled
    output must equal the naive enumeration every time."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as hs

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        layout=hs.lists(
            hs.tuples(
                hs.sampled_from(["g0", "g1", "g2"]),
                hs.integers(min_value=-20, max_value=20),
            ),
            min_size=0,
            max_size=24,
        ),
        cap=hs.integers(min_value=1, max_value=6),
    )
    def run(layout, cap):
        rows = [(k, i, f"p{n}") for n, (k, i) in enumerate(layout)]
        if not rows:
            return
        df = spark.createDataFrame(
            rows, "k STRING, id BIGINT, payload STRING"
        )
        got = sorted(
            (r["a"]["k"], r["a"]["id"], r["b"]["id"],
             r["a"]["payload"], r["b"]["payload"])
            for r in tiled_self_pairs(df, "k", "id", cap=cap).collect()
        )
        assert got == _naive_pairs(rows)

    run()


def test_embeddings_spread_per_consumer_class(spark, tmp_path, monkeypatch):
    """The two embedding consumer classes spread their input differently.
    The per-row scorers (``_quantized``, the sign-LSH top-k's
    ``_bucketed``) key the spread on row count, so ~2,000 vectors run as
    ONE task. The pair-dedup family (``dd_embedding_cosine``,
    ``dd_cluster_components``) scores bucket PAIRS, so its input keeps
    the session's full spread — keyed on rows, the whole pair space ran
    on one core."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tmdb_sync_spark.functions import similarity as sim

    par = spark.sparkContext.defaultParallelism
    if par < 2:
        pytest.skip("needs a session with more than one core")
    rng = random.Random(7)
    n = 2000
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [[rng.uniform(-1, 1) for _ in range(sim.DIM)]
                 for _ in range(n)],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([i % 7 for i in range(n)], pa.int32()),
        }),
        tmp_path / "embeddings.parquet",
    )
    d = str(tmp_path)
    spreads: list[int] = []
    real = sim.parallel_table

    def recording(*a, **k):
        df = real(*a, **k)
        spreads.append(df.rdd.getNumPartitions())
        return df

    monkeypatch.setattr(sim, "parallel_table", recording)
    sim._dup_candidate_pairs(spark, d)
    assert spreads == [par]
    assert sim._quantized(spark, d).rdd.getNumPartitions() == 1
    assert sim._bucketed(spark, d, sim.N_SIGN_BITS).rdd.getNumPartitions() == 1
