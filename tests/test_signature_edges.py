"""Edge-input regressions for the r4 single-pass signature rewrites.

The array-accumulator forms index their input with element_at inside a
lambda; under Spark 4 ANSI mode an unguarded sequence(0, size-1) on an
EMPTY array yields a descending [0, -1] whose element_at(1) throws and
aborts the whole job on one bad row (found in r4 self-review with a
live repro).  These tests pin the guards.
"""

from pyspark.sql import functions as F


def test_lsh_signature_empty_and_null_vectors(spark):
    """Empty/null embeddings must yield signature 0 (the unrolled
    form's value) instead of throwing INVALID_ARRAY_INDEX_IN_ELEMENT_AT."""
    from ragflow_spark.ops.simsearch import lsh_signature_from

    df = spark.createDataFrame(
        [(1, [0.5, -0.25, 0.75]), (2, []), (3, None)],
        "id long, v array<double>",
    )
    rows = {
        r["id"]: r["sig"]
        for r in df.select(
            "id", lsh_signature_from(F.col("v"), 16).alias("sig")
        ).collect()
    }
    assert rows[2] == 0 and rows[3] == 0
    assert rows[1] != 0  # real vector gets a real sketch


def test_embedding_near_dup_lsh_survives_empty_vector(spark):
    """One empty embedding row in the corpus must not abort the job."""
    from ragflow_spark.ops.dedup import embedding_near_dup_lsh

    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, [])],
        "vec_id long, embedding array<double>",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_lsh(df, threshold=0.9).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_minhash_signature_empty_grams_keeps_null_api(spark):
    """Parity with the pre-rewrite array_min form: an empty hash array
    signs as [null]*K, never leaking the aggregate's _M31 init
    sentinels into persisted signatures."""
    from ragflow_spark.ops.dedup import _M31, _affine_min_signature

    df = spark.createDataFrame(
        [(1, ["abc", "bcd"]), (2, [])], "id long, grams array<string>"
    )
    hashes = F.transform(F.col("grams"), lambda g: F.pmod(F.xxhash64(g), F.lit(_M31)))
    rows = {
        r["id"]: r["sig"]
        for r in df.select("id", _affine_min_signature(hashes, 4).alias("sig")).collect()
    }
    assert rows[2] == [None, None, None, None]
    assert all(v is not None for v in rows[1])


def test_cosine_null_on_zero_norm_vectors(spark):
    """cosine_pre() must return NULL (not DIVIDE_BY_ZERO under ANSI)
    for empty / all-zero / null vectors, and real pairs are unaffected."""
    from ragflow_spark.ops.simsearch import as_double, cosine_pre, norm

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], [1.0, 0.0]),
            (2, [], []),
            (3, [0.0, 0.0], [1.0, 0.0]),
            (4, None, [1.0, 0.0]),
        ],
        "id long, a array<double>, b array<double>",
    )
    a, b = as_double(F.col("a")), as_double(F.col("b"))
    rows = {
        r["id"]: r["sim"]
        for r in df.select(
            "id",
            cosine_pre(a, b, norm(a), norm(b)).alias("sim"),
        ).collect()
    }
    assert rows[1] == 1.0
    assert rows[2] is None and rows[3] is None and rows[4] is None


def test_degenerate_vectors_never_rank_or_crash(spark):
    """One empty / null / zero-norm / NaN-element corpus row must
    neither abort the job (ANSI 0/0) nor occupy a top-k slot with an
    undefined sim, in any of the four rankers or the exact near-dup
    baseline.  The NaN row is the ADVICE-r4 case: its norm is NaN and
    Spark's NaN ordering makes ``NaN > 0`` TRUE, so a bare positivity
    filter passes it through to a sim = NaN that ranks FIRST in every
    desc window sort — finite_norm() must exclude it per side."""
    from ragflow_spark.ops.dedup import embedding_near_dup_pairs
    from ragflow_spark.ops.simsearch import (
        ivf_build_stats,
        knn_bruteforce,
        knn_ivf,
        knn_lsh,
        knn_lsh_md5,
    )

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, []),
            (4, None),
            (5, [0.0, 0.0, 0.0]),
            (6, [float("nan"), 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0])], "query_id long, embedding array<double>"
    )
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "centroid_id long, embedding array<double>",
    )
    for fn in (
        lambda: knn_bruteforce(corpus, q, k=5),
        lambda: knn_lsh(corpus, q, k=5),
        lambda: knn_ivf(corpus, q, cent, k=5),
        lambda: knn_lsh_md5(corpus, q, k=5),
    ):
        rows = fn().collect()
        ids = {r["neighbor_id"] for r in rows}
        assert ids == {1, 2}, rows
        assert all(r["sim"] is not None for r in rows)
    pairs = embedding_near_dup_pairs(corpus, threshold=0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    # degenerate members still land in a cell (complete partitioning),
    # with a null quality score that avg() ignores — including the NaN
    # row: ivf_assign nullifies a NaN sim (NULL sorts last and avg()
    # skips it; raw NaN would both win the desc assignment sort and
    # poison the cell's avg_sim to NaN)
    import math

    stats = ivf_build_stats(corpus, cent).collect()
    assert sum(r["n_members"] for r in stats) == 6
    for r in stats:
        assert r["avg_sim"] is None or not math.isnan(r["avg_sim"]), r


def test_dimension_mismatch_rows_excluded_not_null(spark):
    """A corpus row whose vector has a different dimensionality than
    the query (junk input — zip_with pads with NULL, making the dot
    NULL) must be excluded by the size guard in the join, not surface
    as a NULL-sim rank row and not crash."""
    from ragflow_spark.ops.simsearch import knn_bruteforce, knn_lsh

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [1.0, 0.0]),  # wrong dimensionality
            (4, [1.0, 0.0, 0.0, 0.0]),  # wrong dimensionality
        ],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0])], "query_id long, embedding array<double>"
    )
    for fn in (
        lambda: knn_bruteforce(corpus, q, k=5),
        lambda: knn_lsh(corpus, q, k=5),
    ):
        rows = fn().collect()
        assert {r["neighbor_id"] for r in rows} == {1, 2}, rows
        assert all(r["sim"] is not None for r in rows)


def test_nan_centroid_cannot_swallow_the_corpus(spark):
    """A NaN centroid (e.g. KMeans trained on a NaN-element vector)
    scores sim = NaN against EVERY vector, and NaN sorts first under
    desc — unguarded, one bad centroid wins every assignment rank and
    every probe rank, silently degenerating IVF into a single-cell
    scan.  ivf_assign/ivf_probe_cells must drop it per side, and
    kmeans_clusters must exclude degenerate vectors from training so
    such centroids are never produced."""
    import math

    from ragflow_spark.ops.cluster import kmeans_clusters
    from ragflow_spark.ops.simsearch import ivf_assign, knn_ivf

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]), (3, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0])], "query_id long, embedding array<double>"
    )
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]),
         (2, [float("nan"), 0.0, 0.0])],
        "centroid_id long, embedding array<double>",
    )
    assigned = {r["vec_id"]: r["centroid_id"] for r in ivf_assign(corpus, cent).collect()}
    assert assigned == {1: 0, 2: 0, 3: 1}  # nobody lands in the NaN cell
    rows = knn_ivf(corpus, q, cent, k=5, n_probe=1).collect()
    assert {r["neighbor_id"] for r in rows} == {1, 2}
    assert all(r["sim"] is not None and not math.isnan(r["sim"]) for r in rows)

    # KMeans training excludes degenerate vectors -> finite centroids
    poisoned = corpus.union(
        spark.createDataFrame(
            [(4, [float("nan"), 0.0, 0.0]), (5, [])],
            "vec_id long, embedding array<double>",
        )
    )
    _, cents = kmeans_clusters(poisoned, k=2, seed=1)
    for r in cents.collect():
        assert all(math.isfinite(x) for x in r["embedding"]), r
