"""ANN recall contract (r8 verdict #3).

A production ANN is specified by recall@k at a probe budget — hash
parity and determinism checks alone can't catch an operator that is
deterministically, reproducibly bad at retrieving. These tests pin:

- recall FLOORS for the registered defaults on a planted-cluster corpus
  (the data shape ANN exists for — same generator as
  tests/test_ivf_training.py, which established in r6 that the driver's
  synthetic embeddings are isotropic iid noise where no prune can keep
  true neighbors, by math);
- deterministic REGRESSION pins on the driver sf0.1 corpus (the
  adversarial case — the values are properties of the fixed data and
  fixed algorithms, floored with margin for a driver-side regeneration
  under a new seed);
- the kernel sanity law: probing every inverted list IS exact search
  (recall 1.0 identically, any corpus);
- multi-probe monotonicity: radius-1 candidates are a superset of
  radius-0's, so recall must not decrease.

The full n_probe × bits × radius sweep is recorded in COVERAGE.md
(scripts/exp_ann_recall.py at cb774a3).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tmdb_sync_spark.functions import similarity as sim
from tmdb_sync_spark.functions.similarity import (
    ann_ground_truth,
    ann_ivf_topk_at,
    ann_recall_at_k,
    ann_signlsh_topk_at,
)

# Long property/chaos/replay suite: excluded from the default
# (driver-time-boxed) profile; the full local gate runs it — see
# pytest.ini and scripts/run_full_tests.sh.
pytestmark = pytest.mark.slow

SF01 = "/root/testdata/sf0.1"


@pytest.fixture(scope="module")
def clustered_dir(tmp_path_factory):
    """8 well-separated Gaussian clusters, fixed seed (the
    test_ivf_training corpus shape)."""
    rng = np.random.default_rng(7)
    centers = rng.normal(0, 1.0, (sim.N_CENTROIDS, sim.DIM))
    X = np.concatenate(
        [c + rng.normal(0, 0.35, (120, sim.DIM)) for c in centers]
    )
    ids = np.arange(len(X), dtype=np.int64)
    d = tmp_path_factory.mktemp("ann_recall_clustered")
    pq.write_table(
        pa.table({
            "vec_id": ids,
            "embedding": [r.astype(np.float32).tolist() for r in X],
        }),
        str(d / "embeddings.parquet"),
    )
    return str(d)


def test_recall_floors_on_clustered_corpus(spark, clustered_dir):
    """The production-shape contract: registered defaults retrieve.
    Measured r9 (sweep table in COVERAGE.md): IVF n_probe=2 → 1.000,
    sign-LSH 8 bits radius 1 → 0.633/0.620; floors leave margin only
    for numerical edge regressions, not behavior change."""
    truth3 = ann_ground_truth(spark, clustered_dir, 3).cache()
    truth3.count()
    ivf = ann_ivf_topk_at(spark, clustered_dir, sim.N_PROBE, 3)
    assert ann_recall_at_k(ivf, truth3, 3) >= 0.95

    lsh_r1 = ann_signlsh_topk_at(spark, clustered_dir, 8, 3, 1)
    r1 = ann_recall_at_k(lsh_r1, truth3, 3)
    assert r1 >= 0.55

    # multi-probe monotonicity: radius-1 candidate set ⊇ radius-0's
    lsh_r0 = ann_signlsh_topk_at(spark, clustered_dir, 8, 3, 0)
    r0 = ann_recall_at_k(lsh_r0, truth3, 3)
    assert r1 >= r0
    truth3.unpersist()


def test_exhaustive_probe_is_exact(spark, clustered_dir):
    """n_probe = N_CENTROIDS degenerates IVF to exact search: recall
    1.0 identically — the kernel sanity law that holds on ANY corpus
    (here the clustered one; the sweep confirms it on the isotropic
    driver corpus too)."""
    truth5 = ann_ground_truth(spark, clustered_dir, 5).cache()
    truth5.count()
    full = ann_ivf_topk_at(spark, clustered_dir, sim.N_CENTROIDS, 5)
    assert ann_recall_at_k(full, truth5, 5) == 1.0
    truth5.unpersist()


@pytest.mark.skipif(
    not os.path.isdir(SF01), reason="driver sf0.1 testdata not present"
)
def test_recall_regression_pins_sf01(spark):
    """Deterministic regression pins on the driver's isotropic sf0.1
    corpus (measured r9: ivf p2 0.425, p4 0.770, lsh b8 r1 0.110 at
    k=5). These are NOT quality claims — on iid-noise embeddings true
    neighbors are barely closer than random points and low recall at a
    small probe budget is a property of the data — but a code
    regression (broken probe selection, wrong bucket arithmetic) would
    crater them, so they are pinned with regeneration margin."""
    truth5 = ann_ground_truth(spark, SF01, 5).cache()
    truth5.count()
    assert ann_recall_at_k(
        ann_ivf_topk_at(spark, SF01, 2, 5), truth5, 5
    ) >= 0.30
    assert ann_recall_at_k(
        ann_ivf_topk_at(spark, SF01, 4, 5), truth5, 5
    ) >= 0.60
    # registered sign-LSH defaults (8 bits, radius 1)
    assert ann_recall_at_k(
        ann_signlsh_topk_at(spark, SF01, 8, 5, 1), truth5, 5
    ) >= 0.05
    truth5.unpersist()
