"""From-scratch UMAP (ops/umap.py): structure preservation,
determinism, the reference's RAPTOR parameterization, and the
integration into the BIC-GMM layer clustering."""

from __future__ import annotations

import numpy as np
import pytest

from ragflow_spark.ops.umap import _fit_ab, raptor_reduce, umap_reduce


def _three_clusters(n_per: int = 60, dim: int = 32, seed: int = 0):
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 1, (3, dim)) * 8
    x = np.vstack([c + rng.normal(0, 0.5, (n_per, dim)) for c in centers])
    return x, np.repeat([0, 1, 2], n_per)


def test_cluster_structure_preserved():
    x, labels = _three_clusters()
    y = umap_reduce(x, n_components=2, n_neighbors=12, seed=1)
    cents = np.array([y[labels == k].mean(0) for k in range(3)])
    pred = np.argmin(((y[:, None, :] - cents[None]) ** 2).sum(-1), axis=1)
    assert (pred == labels).mean() == 1.0
    within = np.mean(
        [np.linalg.norm(y[labels == k] - cents[k], axis=1).mean() for k in range(3)]
    )
    between = np.mean(
        [np.linalg.norm(cents[a] - cents[b]) for a in range(3) for b in range(a + 1, 3)]
    )
    assert between / within > 4.0


def test_deterministic_given_seed():
    x, _ = _three_clusters(n_per=30)
    a = umap_reduce(x, n_components=2, n_neighbors=8, seed=7)
    b = umap_reduce(x, n_components=2, n_neighbors=8, seed=7)
    assert np.allclose(a, b)


def test_ab_fit_matches_published_defaults():
    # umap-learn's curve fit for min_dist=0.1, spread=1.0 gives
    # a~1.577, b~0.895; the grid fit must land nearby
    a, b = _fit_ab()
    assert abs(a - 1.577) < 0.15
    assert abs(b - 0.895) < 0.08


def test_raptor_parameterization_shapes():
    x, _ = _three_clusters(n_per=20)  # n=60
    y = raptor_reduce(x, seed=3)
    assert y.shape == (60, 12)  # min(12, n-2)
    tiny = raptor_reduce(x[:5], seed=3)
    assert tiny.shape == (5, 3)  # n-2 caps components


def test_degenerate_inputs():
    assert umap_reduce(np.zeros((0, 8))).shape == (0, 2)
    assert umap_reduce(np.zeros((2, 8)), n_components=4).shape[0] == 2


@pytest.mark.usefixtures("spark")
def test_gmm_umap_reducer_finds_structure(spark):
    from pyspark.sql import functions as F

    from ragflow_spark.ops.cluster import gmm_bic_clusters

    x, labels = _three_clusters(n_per=40, dim=16, seed=2)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    )
    out = gmm_bic_clusters(
        df, max_cluster=6, reduce_dim=8, restarts=2, reducer="umap"
    ).collect()
    by_id = {r["vec_id"]: r["cluster"] for r in out}
    assert len(by_id) == len(labels)
    # the found partition must REFINE the true one: BIC may over-split
    # a cluster (the reference's BIC does too — RAPTOR summarizes
    # whatever it gets), but no found cluster may straddle two true
    # clusters
    found: dict[int, set[int]] = {}
    for i, true_k in enumerate(labels):
        found.setdefault(by_id[i], set()).add(int(true_k))
    assert all(len(trues) == 1 for trues in found.values()), found
    assert 3 <= len(found) <= 6