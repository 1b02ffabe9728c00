"""Product-quantization ANN: quality, determinism and spec cross-check.

PQ is the compression rung of the ANN ladder (ops/pq.py): codes are
``n_sub`` small ints per vector and ADC scoring is ``n_sub`` lookups
per pair.  These tests pin

* recall@5 vs the exact brute force on clustered vectors (the
  realistic regime) at the default knobs, and that the ``k_sub`` knob
  moves recall the right way on isotropic vectors;
* an independent NumPy replay of the full train->encode spec (md5
  init, rounded-L2 argmin with first-minimum ties, rounded means,
  empty-cell keep-previous) — the same role the DuckDB twins play for
  the oracle-backed paths;
* degenerate-row handling (NaN / zero vectors never reach a codebook).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from ragflow_spark.ops.pq import knn_pq, pq_encode, pq_train
from ragflow_spark.ops.simsearch import knn_bruteforce


def _vectors(spark, clustered: bool, n: int = 600, dim: int = 16, seed: int = 7):
    rng = np.random.default_rng(seed)
    if clustered:
        centers = rng.normal(size=(10, dim))
        rows = [
            (i, [float(x) for x in centers[i % 10] + 0.15 * rng.normal(size=dim)])
            for i in range(n)
        ]
    else:
        rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)]
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
    truth = knn_bruteforce(emb, q, k=5).select("query_id", "neighbor_id").cache()
    return emb, q, truth, truth.count()


def test_clustered_pq_recall_at_default_knobs(clustered):
    emb, q, truth, n = clustered
    ann = knn_pq(emb, q, k=5, n_sub=8, k_sub=16, iters=3)
    assert _recall(ann, truth, n) >= 0.95


def test_clustered_pure_adc_ties_justify_the_rerank_stage(clustered):
    """Contrast pin: pure ADC (rerank=1) collapses tight clusters onto
    identical codes, ties the scores and tie-breaks by id — recall
    craters.  This is WHY knn_pq re-ranks; if this starts passing at
    high recall, the default rerank cost can be revisited."""
    emb, q, truth, n = clustered
    pure = knn_pq(emb, q, k=5, n_sub=8, k_sub=16, iters=3, rerank=1)
    reranked = knn_pq(emb, q, k=5, n_sub=8, k_sub=16, iters=3, rerank=10)
    assert _recall(reranked, truth, n) > _recall(pure, truth, n)


def test_isotropic_pq_ksub_knob_raises_recall(spark):
    emb = _vectors(spark, clustered=False)
    q = emb.where(F.col("vec_id") % 60 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = knn_bruteforce(emb, q, k=5).select("query_id", "neighbor_id").cache()
    n = truth.count()
    cheap = _recall(knn_pq(emb, q, k=5, n_sub=8, k_sub=4, iters=3), truth, n)
    deep = _recall(knn_pq(emb, q, k=5, n_sub=8, k_sub=32, iters=3), truth, n)
    # 32 codes per 2-dim subspace quantize isotropic gaussians finely
    # enough for usable recall; the knob must actually move it
    assert deep >= 0.6
    assert deep >= cheap


def _numpy_pq(rows, n_sub, k_sub, iters):
    """Independent replay of the pq_train + pq_encode spec."""
    ids = [r[0] for r in rows]
    vs = {}
    for i, v in rows:
        a = np.asarray(v, dtype=np.float64)
        nrm = float(np.sqrt(np.sum(a * a)))
        if not (nrm > 0 and np.isfinite(nrm)):
            continue
        vs[i] = a / nrm
    dim = len(next(iter(vs.values())))
    d_sub = dim // n_sub
    order = sorted(vs, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    seeds = order[:k_sub]
    books = [
        [
            [round(float(x), 6) for x in vs[i][s * d_sub : (s + 1) * d_sub]]
            for i in seeds
        ]
        for s in range(n_sub)
    ]

    def argmin_code(sv, book):
        dists = [
            round(float(np.sum((sv - np.asarray(c)) ** 2)), 6) for c in book
        ]
        return dists.index(min(dists))

    for _ in range(iters):
        sums: dict[tuple[int, int], np.ndarray] = {}
        counts: dict[tuple[int, int], int] = {}
        for i in vs:
            for s in range(n_sub):
                sv = vs[i][s * d_sub : (s + 1) * d_sub]
                j = argmin_code(sv, books[s])
                key = (s, j)
                sums[key] = sums.get(key, 0) + sv
                counts[key] = counts.get(key, 0) + 1
        books = [
            [
                (
                    [
                        round(float(x), 6)
                        for x in sums[(s, j)] / counts[(s, j)]
                    ]
                    if (s, j) in counts
                    else books[s][j]
                )
                for j in range(k_sub)
            ]
            for s in range(n_sub)
        ]
    codes = {
        i: [
            argmin_code(vs[i][s * d_sub : (s + 1) * d_sub], books[s])
            for s in range(n_sub)
        ]
        for i in vs
    }
    return books, codes, ids


def test_pq_spec_replay_matches_numpy(spark):
    """Train + encode on adversarial rows (NaN, zero, duplicates) and
    compare codebooks AND codes against the independent NumPy replay.

    Caveat pinned here on purpose: Spark's round() is HALF_UP and
    Python's is HALF_EVEN, but the probability of a mean/distance
    landing exactly on a 0.5e-6 boundary from continuous inputs is ~0;
    the seeds are fixed, so this either always passes or flags a real
    spec drift."""
    rng = np.random.default_rng(5)
    dim, n_sub, k_sub, iters = 8, 4, 4, 2
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(50)]
    rows.append((50, [float("nan")] * dim))
    rows.append((51, [0.0] * dim))
    rows.append((52, list(rows[3][1])))

    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got_books = pq_train(emb, n_sub=n_sub, k_sub=k_sub, iters=iters)
    got_codes = {
        int(r["vec_id"]): list(r["codes"])
        for r in pq_encode(emb, got_books).collect()
    }
    exp_books, exp_codes, _ = _numpy_pq(rows, n_sub, k_sub, iters)
    assert got_books == exp_books
    assert got_codes == exp_codes
    assert 50 not in got_codes and 51 not in got_codes  # degenerates dropped
    for mv in (c for book in got_books for c in book):
        assert all(np.isfinite(mv))


def test_pq_code_stats_spread_and_bounds(clustered):
    emb, _, _, _ = clustered
    books = pq_train(emb, n_sub=8, k_sub=16, iters=3)
    stats = (
        pq_encode(emb, books)
        .select(F.posexplode("codes").alias("sub_id", "code"))
        .groupBy("sub_id", "code")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    by_sub: dict[int, int] = {}
    for r in stats:
        assert 0 <= r["code"] < 16
        by_sub[r["sub_id"]] = by_sub.get(r["sub_id"], 0) + 1
    assert set(by_sub) == set(range(8))
    # a healthy fit uses more than one code everywhere
    assert all(v >= 2 for v in by_sub.values())
    # and the histogram covers the full corpus per subspace
    n = emb.count()
    per_sub: dict[int, int] = {}
    for r in stats:
        per_sub[r["sub_id"]] = per_sub.get(r["sub_id"], 0) + r["n"]
    assert all(v == n for v in per_sub.values())


@pytest.mark.parametrize(
    "rows", [[], [(0, [0.0, 0.0, 0.0, 0.0]), (1, [float("nan"), 1.0, 0.0, 0.0])]]
)
def test_pq_train_rejects_corpus_without_finite_norm_vectors(spark, rows):
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="no finite-norm vectors"):
        pq_train(emb, n_sub=2, k_sub=2)
