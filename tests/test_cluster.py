"""Spark ML clustering ops: determinism + IVF integration."""

from __future__ import annotations

from pyspark.sql import functions as F

from ragflow_spark.ops.cluster import cluster_sizes, kmeans_clusters, knn_ivf_trained


def _emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_kmeans_deterministic(spark):
    emb = _emb(spark)
    a1, c1 = kmeans_clusters(emb, k=5, seed=42)
    a2, c2 = kmeans_clusters(emb, k=5, seed=42)
    assert {tuple(r) for r in a1.collect()} == {tuple(r) for r in a2.collect()}
    assert c1.count() == 5
    sizes = cluster_sizes(emb, k=5, seed=42)
    assert sizes.agg(F.sum("n_members")).collect()[0][0] == emb.count()


def test_knn_ivf_trained_shape(spark):
    emb = _emb(spark)
    q = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = knn_ivf_trained(emb, q, k=3, n_cells=5)
    rows = top.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    assert all(r["neighbor_id"] != r["query_id"] for r in rows)


def test_embedding_near_dup_exact_and_lsh(spark):
    """LSH near-dup pairs must be a subset of the exact pairs with the
    same rounded cosine; exact must agree pairwise-symmetric."""
    from ragflow_spark.ops.dedup import (
        embedding_near_dup_lsh,
        embedding_near_dup_pairs,
    )

    emb = _emb(spark)
    exact = embedding_near_dup_pairs(emb, threshold=0.30)
    lsh = embedding_near_dup_lsh(emb, threshold=0.30)
    e = {(r.id_a, r.id_b): r.sim for r in exact.collect()}
    l = {(r.id_a, r.id_b): r.sim for r in lsh.collect()}
    assert e, "threshold too high: no exact pairs in fixture"
    assert set(l) <= set(e)
    for k, v in l.items():
        assert abs(e[k] - v) < 1e-9
    # ordering invariant: id_a < id_b everywhere
    assert all(a < b for a, b in e)
    # the shipped banding (3 bands x 4 bits) targets closer pairs than
    # this fixture's 0.30-0.45 ones; it must still find some
    assert l


def test_gmm_bic_recovers_separated_clusters(spark):
    import random

    from ragflow_spark.ops.cluster import gmm_bic_clusters

    rng = random.Random(5)
    rows = []
    for i in range(120):
        c = i % 3
        rows.append(
            (i, [c * 8.0 + rng.gauss(0, 0.4) for _ in range(4)])
        )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = gmm_bic_clusters(emb, max_cluster=6, reduce_dim=4)
    rows_out = out.collect()
    assert len(rows_out) == 120
    # BIC must pick >= 3 components and members of one true mode must
    # share a label (purity check on mode 0)
    labels = {r["vec_id"]: r["cluster"] for r in rows_out}
    assert len(set(labels.values())) >= 3
    # the reference's assignment quirk (FIRST component with posterior
    # > threshold, not argmax) can shave boundary points off a mode, so
    # assert majority purity + distinct majorities, not exact purity
    from collections import Counter

    majorities = []
    for m in range(3):
        counts = Counter(labels[i] for i in range(m, 120, 3))
        top, n_top = counts.most_common(1)[0]
        assert n_top >= 0.8 * 40, (m, counts)
        majorities.append(top)
    assert len(set(majorities)) == 3


def test_umap_branch_keeps_id_column_type(spark):
    """The driver-side umap branch must label non-long ids (the PCA
    branch already does) — the schema derives from the input column."""
    import random

    from ragflow_spark.ops.cluster import gmm_bic_clusters

    rng = random.Random(7)
    rows = [
        (f"doc-{i}", [(i % 2) * 6.0 + rng.gauss(0, 0.3) for _ in range(4)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    out = gmm_bic_clusters(
        emb, max_cluster=4, reduce_dim=2, reducer="umap"
    )
    assert dict(out.dtypes)["vec_id"] == "string"
    got = out.collect()
    assert len(got) == 40
    assert {r["vec_id"] for r in got} == {f"doc-{i}" for i in range(40)}


def test_gmm_bic_single_gaussian_stays_one_cluster(spark):
    import random

    from ragflow_spark.ops.cluster import gmm_bic_clusters

    rng = random.Random(9)
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1.0) for _ in range(4)]) for i in range(80)],
        "vec_id long, embedding array<float>",
    )
    out = gmm_bic_clusters(emb, max_cluster=5, reduce_dim=4)
    assert {r["cluster"] for r in out.collect()} == {0}
