"""Measured recall@k of the approximate-NN paths vs the exact
brute-force baseline — the quality side of the ANN speed/quality
trade-off (the plans' scale behavior is covered by tests/test_plans.py
and the x10 bench tier; this pins what the speed buys).

Two regimes, both deterministic (seeded numpy, fixed ids):

* clustered vectors — the realistic shape for text/document
  embeddings (modes = topics); every ANN path should be near-exact at
  its cheap default settings, because near-neighbors share cells and
  sign-sketch buckets by construction.
* isotropic vectors — ANN's worst case (no structure, neighbors are
  barely closer than random points).  Absolute recall is expectedly
  poor at cheap settings; what must hold is that the recall knob
  works: more probed cells -> strictly more candidates -> recall
  rises to usable levels.  This is the knob a deployment turns at
  100 TB instead of falling back to the O(n^2) exact path.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ragflow_spark.ops.cluster import knn_ivf_trained
from ragflow_spark.ops.simsearch import knn_bruteforce, knn_lsh


def _vectors(spark, clustered: bool, n: int = 600, dim: int = 16, seed: int = 7):
    rng = np.random.default_rng(seed)
    if clustered:
        centers = rng.normal(size=(10, dim))
        rows = [
            (
                i,
                [float(x) for x in centers[i % 10] + 0.15 * rng.normal(size=dim)],
            )
            for i in range(n)
        ]
    else:
        rows = [
            (i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)
        ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _recall(ann, truth, n_truth: int) -> float:
    hits = (
        ann.select("query_id", "neighbor_id")
        .join(truth, ["query_id", "neighbor_id"])
        .count()
    )
    return hits / n_truth


@pytest.fixture(scope="module")
def clustered(spark):
    emb = _vectors(spark, clustered=True)
    q = emb.where(F.col("vec_id") % 60 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = knn_bruteforce(emb, q, k=5).select("query_id", "neighbor_id")
    truth = truth.cache()
    return emb, q, truth, truth.count()


@pytest.fixture(scope="module")
def isotropic(spark):
    emb = _vectors(spark, clustered=False)
    q = emb.where(F.col("vec_id") % 60 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = knn_bruteforce(emb, q, k=5).select("query_id", "neighbor_id")
    truth = truth.cache()
    return emb, q, truth, truth.count()


def test_clustered_ivf_near_exact_at_cheap_settings(clustered):
    emb, q, truth, n = clustered
    ann = knn_ivf_trained(emb, q, k=5, n_cells=10, n_probe=2)
    assert _recall(ann, truth, n) >= 0.95


def test_clustered_lsh_near_exact_at_cheap_settings(clustered):
    emb, q, truth, n = clustered
    ann = knn_lsh(emb, q, k=5)
    assert _recall(ann, truth, n) >= 0.95


def test_isotropic_ivf_probe_knob_raises_recall(isotropic):
    emb, q, truth, n = isotropic
    cheap = _recall(knn_ivf_trained(emb, q, k=5, n_cells=8, n_probe=2), truth, n)
    deep = _recall(knn_ivf_trained(emb, q, k=5, n_cells=8, n_probe=6), truth, n)
    # probing 6 of 8 cells must recover most true neighbors even with
    # zero cluster structure; and the knob must actually move recall
    assert deep >= 0.7
    assert deep >= cheap
