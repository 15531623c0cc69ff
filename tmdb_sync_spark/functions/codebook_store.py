"""Persisted IVF codebook — the trained coarse quantizer as a versioned
store artifact.

``ann_ivf_topk``'s k-means codebook is memoized per (application, table
fingerprint) — correct within one driver process, but a STANDING gate
(a cron'd contamination audit, a fresh session per eval drop) retrained
every session even though the codebook is immutable for a given corpus
content (r9 verdict #4). This module persists the trained centroids
beside the engine's other index stores, with the exact same operational
contracts:

- **store contract** (``_store_contract.json``): the constants that
  define the codebook's meaning — centroid count, embedding DIM, the
  quantization scheme the centroid components were computed under, and
  the training recipe (Lloyd passes, sample modulus, init-hash seed
  pair). Loading a codebook trained under different constants would
  assign vectors to silently-wrong lists; the contract refuses instead.
- **fingerprint invalidation**: the artifact carries the embeddings
  table's content stamp (``util.file_fingerprint``); a probe against a
  REWRITTEN table gets ``None`` (stale) from :func:`load_codebook` and
  the caller retrains + saves — never serves neighbors from the old
  corpus's geometry.
- **single-writer lock + atomic publish**: saves serialize under the
  store's ``_merge.lock`` and publish with ``util.write_json_atomic``,
  so a reader never observes a torn artifact; each save increments a
  ``version`` counter (the artifact is versioned, not overwritten
  blindly — an operator can see a retrain happened).

The artifact is TINY by construction (≤ ``N_CENTROIDS`` × ``DIM``
64-bit ints, single-digit KB), so JSON + atomic rename is the right
storage — a parquet table would be heavier machinery for less
atomicity.
"""

from __future__ import annotations

import json
import os

from tmdb_sync_spark.functions.similarity import (
    DIM,
    N_CENTROIDS,
    N_LLOYD,
    TRAIN_SAMPLE_MOD,
    _HASH_M,
    _HASH_P,
)

CODEBOOK_NAME = "ivf_codebook.json"


def _contract() -> dict:
    return {
        "kind": "ivf_codebook",
        "n_centroids": N_CENTROIDS,
        "dim": DIM,
        "quant": "floor-x1000-long",
        "n_lloyd": N_LLOYD,
        "train_sample_mod": TRAIN_SAMPLE_MOD,
        "init_hash": [_HASH_P, _HASH_M],
    }


def _writer_lock(store_path: str, wait_s: float):
    from tmdb_sync_spark.plans.partitioned import MERGE_LOCK_NAME
    from tmdb_sync_spark.util import acquire_dir_lock

    return acquire_dir_lock(store_path, MERGE_LOCK_NAME, wait_s=wait_s)


def save_codebook(
    store_path: str, cents, fingerprint: tuple, *, lock_wait_s: float = 60.0,
) -> int:
    """Persist a trained codebook (the ``Row(vec_id, v, nrm)`` list
    ``_train_codebook`` returns) stamped with its source table's content
    fingerprint. Returns the artifact version written."""
    from tmdb_sync_spark.util import (
        check_store_contract,
        release_dir_lock,
        write_json_atomic,
    )

    check_store_contract(store_path, _contract(), "save_codebook")
    lock = _writer_lock(store_path, lock_wait_s)
    try:
        f = os.path.join(store_path, CODEBOOK_NAME)
        version = 1
        if os.path.exists(f):
            try:
                with open(f) as fh:
                    version = int(json.load(fh).get("version", 0)) + 1
            except (OSError, ValueError):
                pass  # unreadable previous artifact → replace as v1
        doc = {
            "version": version,
            "fingerprint": list(fingerprint),
            "centroids": [
                {"cid": int(c.vec_id), "v": [int(x) for x in c.v],
                 "nrm": int(c.nrm)}
                for c in cents
            ],
        }
        write_json_atomic(f, doc)
        return version
    finally:
        release_dir_lock(lock)


def load_codebook(store_path: str, fingerprint: tuple):
    """Load the persisted codebook IF it matches ``fingerprint``.

    Returns the ``Row(vec_id, v, nrm)`` list, or ``None`` when the
    store has no artifact yet OR the artifact is STALE (trained on a
    different table content — the caller retrains and saves). A store
    written under different key-space constants raises (contract)."""
    from pyspark.sql import Row

    from tmdb_sync_spark.util import check_store_contract

    # read-only: validate an existing contract, never create one
    check_store_contract(store_path, _contract(), "load_codebook",
                         record=False)
    f = os.path.join(store_path, CODEBOOK_NAME)
    if not os.path.exists(f):
        return None
    with open(f) as fh:
        doc = json.load(fh)
    if doc.get("fingerprint") != list(fingerprint):
        return None                      # stale: table content changed
    return [
        Row(vec_id=int(c["cid"]), v=[int(x) for x in c["v"]],
            nrm=int(c["nrm"]))
        for c in doc["centroids"]
    ]


def codebook_version(store_path: str) -> int | None:
    """The persisted artifact's version counter (None = no artifact)."""
    f = os.path.join(store_path, CODEBOOK_NAME)
    if not os.path.exists(f):
        return None
    with open(f) as fh:
        return int(json.load(fh).get("version", 0))
