"""From-scratch UMAP dimensionality reduction (driver-side, layer-scale).

The reference's RAPTOR layer clustering reduces each layer's chunk
embeddings with ``umap.UMAP(n_neighbors=max(2, (n-1)**0.8),
n_components=min(12, n-2), metric="cosine")`` before the GMM
(rag/raptor.py:138-143).  umap-learn is not installable here, so this
module implements the published algorithm (McInnes, Healy, Melville
2018, arXiv:1802.03426) from scratch in numpy:

1. exact cosine k-NN (layers are 10^2-10^4 rows — the
   reference also runs this driver-side at that scale);
2. fuzzy simplicial set: per-point connectivity radius ``rho`` (nearest
   neighbour distance) and bandwidth ``sigma`` solved by bisection so
   the smoothed neighbour cardinality is log2(k);
3. symmetrization by probabilistic t-conorm ``A + A^T - A o A^T``;
4. spectral initialization from the normalized graph Laplacian;
5. SGD over sampled edges with the standard low-dimensional attraction
   / repulsion curve (a, b fit from min_dist; negative sampling).

Numerical output cannot be identical to umap-learn (different RNG
streams and optimization schedule — documented deviation), but the
algorithm, parameters, and pipeline position match; cluster structure
is preserved, which is all the downstream BIC-GMM consumes.

Everything is seeded — no global RNG state — so executors and repeat
runs agree.
"""

from __future__ import annotations

import numpy as np

_SMOOTH_TOL = 1e-5
_SMOOTH_ITER = 64
_MIN_K_DIST_SCALE = 1e-3


def _cosine_dist(x: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms = np.where(norms == 0, 1.0, norms)
    sims = (x / norms) @ (x / norms).T
    return np.clip(1.0 - sims, 0.0, 2.0)


def _smooth_knn_dist(dists: np.ndarray, k: float) -> tuple[np.ndarray, np.ndarray]:
    """Per-row (rho, sigma): rho = nearest positive distance, sigma by
    bisection so sum_j exp(-max(0, d_j - rho) / sigma) = log2(k)."""
    target = np.log2(k)
    n = dists.shape[0]
    rho = np.zeros(n)
    sigma = np.ones(n)
    for i in range(n):
        row = dists[i]
        pos = row[row > 0]
        if pos.size:
            rho[i] = pos.min()
        lo, hi, mid = 0.0, np.inf, 1.0
        for _ in range(_SMOOTH_ITER):
            val = np.exp(-np.maximum(row - rho[i], 0.0) / mid).sum()
            if abs(val - target) < _SMOOTH_TOL:
                break
            if val > target:
                hi = mid
                mid = (lo + hi) / 2.0
            else:
                lo = mid
                mid = mid * 2.0 if hi == np.inf else (lo + hi) / 2.0
        sigma[i] = max(mid, _MIN_K_DIST_SCALE * (row.mean() or 1.0))
    return rho, sigma


def _fuzzy_graph(x: np.ndarray, n_neighbors: int) -> np.ndarray:
    n = x.shape[0]
    d = _cosine_dist(x)
    np.fill_diagonal(d, np.inf)
    k = min(n_neighbors, n - 1)
    nn_idx = np.argsort(d, axis=1)[:, :k]
    nn_d = np.take_along_axis(d, nn_idx, axis=1)
    rho, sigma = _smooth_knn_dist(nn_d, k)
    w = np.zeros((n, n))
    rows = np.repeat(np.arange(n), k)
    cols = nn_idx.ravel()
    vals = np.exp(
        -np.maximum(nn_d - rho[:, None], 0.0) / sigma[:, None]
    ).ravel()
    w[rows, cols] = vals
    return w + w.T - w * w.T  # probabilistic t-conorm


def _spectral_init(graph: np.ndarray, n_components: int, seed: int) -> np.ndarray:
    deg = graph.sum(1)
    deg = np.where(deg == 0, 1.0, deg)
    d_inv_sqrt = 1.0 / np.sqrt(deg)
    lap = np.eye(graph.shape[0]) - (d_inv_sqrt[:, None] * graph * d_inv_sqrt[None, :])
    try:
        vals, vecs = np.linalg.eigh(lap)
        order = np.argsort(vals)[1 : n_components + 1]
        emb = vecs[:, order]
        scale = np.abs(emb).max() or 1.0
        return (emb / scale * 10.0).astype(np.float64)
    except np.linalg.LinAlgError:  # pragma: no cover - degenerate graph
        rng = np.random.default_rng(seed)
        return rng.uniform(-10, 10, (graph.shape[0], n_components))


# umap-learn's defaults, which the reference keeps
_MIN_DIST = 0.1
_N_EPOCHS = 200
_NEGATIVE_SAMPLE_RATE = 5


def _fit_ab() -> tuple[float, float]:
    """Least-squares fit of 1/(1 + a*d^(2b)) to the piecewise target
    curve (umap-learn's curve-fit, grid-searched here: no scipy)."""
    xs = np.linspace(0, 3.0, 300)
    target = np.where(xs < _MIN_DIST, 1.0, np.exp(-(xs - _MIN_DIST)))
    best = (1.577, 0.895)
    best_err = np.inf
    for a in np.linspace(0.5, 3.0, 26):
        for b in np.linspace(0.5, 2.0, 31):
            y = 1.0 / (1.0 + a * xs ** (2 * b))
            err = ((y - target) ** 2).sum()
            if err < best_err:
                best_err, best = err, (float(a), float(b))
    return best


def umap_reduce(
    x: np.ndarray,
    n_components: int = 2,
    n_neighbors: int = 15,
    seed: int = 42,
) -> np.ndarray:
    """Reduce ``x`` (n, dim) -> (n, n_components)."""
    x = np.asarray(x, dtype=np.float64)
    n = x.shape[0]
    if n == 0:
        return x.reshape(0, n_components)
    n_components = max(1, min(n_components, max(n - 2, 1)))
    if n <= 2:
        return np.zeros((n, n_components))
    graph = _fuzzy_graph(x, max(2, n_neighbors))
    emb = _spectral_init(graph, n_components, seed)
    a, b = _fit_ab()

    rows, cols = np.nonzero(np.triu(graph))
    weights = np.maximum(graph[rows, cols], 1e-12)  # underflow floor
    if rows.size == 0:
        return emb
    # epochs-per-sample schedule: stronger edges update more often.
    # Updates are batched per epoch (gather -> gradient -> scatter-add)
    # — the same objective as per-edge SGD; umap-learn itself runs
    # asynchronous ("hogwild") updates, so batch staleness is within
    # the algorithm's tolerance and this keeps the loop in BLAS.
    eps = weights.max() / weights
    rng = np.random.default_rng(seed)
    next_due = eps.copy()
    for epoch in range(1, _N_EPOCHS + 1):
        alpha = 1.0 - epoch / _N_EPOCHS
        idx = np.nonzero(next_due <= epoch)[0]
        if idx.size == 0:
            continue
        next_due[idx] += eps[idx]
        i, j = rows[idx], cols[idx]
        diff = emb[i] - emb[j]
        d2 = (diff * diff).sum(1)
        pos = d2 > 0
        coef = np.zeros_like(d2)
        coef[pos] = (-2.0 * a * b * d2[pos] ** (b - 1.0)) / (
            1.0 + a * d2[pos] ** b
        )
        g = np.clip(coef[:, None] * diff, -4.0, 4.0)
        np.add.at(emb, i, alpha * g)
        np.add.at(emb, j, -alpha * g)
        # negative sampling: repel each due edge's head from random points
        ti = np.repeat(i, _NEGATIVE_SAMPLE_RATE)
        tt = rng.integers(0, n, size=ti.size)
        mask = tt != ti
        ti, tt = ti[mask], tt[mask]
        diff = emb[ti] - emb[tt]
        d2 = (diff * diff).sum(1)
        coef = (2.0 * b) / ((0.001 + d2) * (1.0 + a * d2**b))
        g = np.clip(coef[:, None] * diff, -4.0, 4.0)
        np.add.at(emb, ti, alpha * g)
    return emb


def raptor_reduce(
    x: np.ndarray, seed: int = 42, n_components_cap: int = 12
) -> np.ndarray:
    """The reference's exact RAPTOR parameterization
    (rag/raptor.py:138-143): ``n_neighbors = max(2, (n-1)**0.8)``,
    ``n_components = min(12, n-2)``, cosine metric."""
    n = len(x)
    return umap_reduce(
        x,
        n_components=min(n_components_cap, max(n - 2, 1)),
        n_neighbors=max(2, int((n - 1) ** 0.8)) if n > 1 else 2,
        seed=seed,
    )
