"""Embedding-space clustering (Spark ML) — the trained-IVF / RAPTOR
building block.

The reference's RAPTOR recursively clusters chunk embeddings with
UMAP + GaussianMixture before LLM summarization (rag/raptor.py:34-174);
the LLM side is out of scope, but the clustering itself is exactly
Spark ML territory.  The same trained centroids also upgrade the
similarity-search IVF path (ops/simsearch.py) from a fixed centroid
subset to learned cells.

Scale notes: KMeans fit is iterative (J jobs over the corpus) but each
iteration is one map + tree-aggregate; seeded for determinism.
"""

from __future__ import annotations

from pyspark.ml.clustering import KMeans
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def kmeans_clusters(
    emb: DataFrame,
    k: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """(assignments (id, cluster), centroids (centroid_id, embedding)).

    Deterministic under a fixed seed + input; centroids come back as
    plain ``array<float>`` so they drop into ``simsearch.knn_ivf``.
    """
    from .simsearch import as_double, finite_norm, norm

    # a single NaN/Inf element poisons a KMeans cluster sum into a NaN
    # centroid (which downstream IVF would then have to discard) —
    # exclude degenerate vectors from training the same way every
    # search entry point excludes them from scoring
    feats = (
        emb.where(finite_norm(norm(as_double(F.col(vec_col)))))
        .select(F.col(id_col), array_to_vector(F.col(vec_col)).alias("features"))
    )
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feats)
    assigned = model.transform(feats).select(
        F.col(id_col), F.col("prediction").alias("cluster")
    )
    spark = emb.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "centroid_id int, embedding array<float>",
    )
    return assigned, centroids


def cluster_sizes(
    emb: DataFrame, k: int = 10, seed: int = 42, **kw
) -> DataFrame:
    assigned, _ = kmeans_clusters(emb, k=k, seed=seed, **kw)
    return (
        assigned.groupBy("cluster")
        .agg(F.count("*").alias("n_members"))
        .select("cluster", "n_members")
    )


def kmeans_lloyd(
    emb: DataFrame,
    k: int = 8,
    iters: int = 4,
) -> DataFrame:
    """Deterministic spherical k-means: Lloyd's algorithm with an
    md5-shuffled init and a FIXED iteration count, every step an
    order-independent column expression with a ``round(·, 6)``
    boundary — so an external SQL engine can replay the whole fit
    exactly (the twin-oracle pattern; ``oracle_sql()["knn_ivf_trained"]``
    unrolls these iterations as chained DuckDB CTEs).

    * init — the ``k`` corpus vectors with the smallest
      ``md5(cast(id as string))``: a deterministic uniform shuffle both
      engines compute identically (no RNG state, no seed plumbing).
    * assign — argmax of the rounded cosine against the current
      centroids, ties to the lowest ``centroid_id`` (the exact tie
      rules of :func:`ragflow_spark.ops.simsearch.ivf_assign`).
    * update — element-wise mean of each cell's members, components
      rounded to 6 decimals; a cell that loses every member keeps its
      previous centroid (replayed as a LEFT JOIN + coalesce).

    Each iteration's centroids (``k`` rows of ``dim`` doubles) are
    materialized on the driver — the same bounded-collect pattern as
    ``ops/skew.py``'s top-k keys — so the corpus is scanned O(iters)
    times, not O(iters²) through re-derived lineage, and the broadcast
    side of every assignment join is a literal local relation.

    Reference anchor: the trained-cell upgrade over the fixed-subset
    IVF mirrors how rag/raptor.py:138-143 fits cluster structure over
    chunk embeddings before using it (there with GMM; the GMM/UMAP
    shape lives in :func:`gmm_bic_clusters`).
    """
    from .simsearch import as_double, cosine_pre, finite_norm, norm

    spark = emb.sparkSession
    v = (
        emb.select(
            F.col("vec_id").alias("_id"), as_double(F.col("embedding")).alias("_vv")
        )
        .withColumn("_vn", norm(F.col("_vv")))
        .where(finite_norm(F.col("_vn")))
    )
    init = (
        v.select(
            F.md5(F.col("_id").cast("string").cast("binary")).alias("_h"),
            F.transform("_vv", lambda x: F.round(x, 6)).alias("_mv"),
        )
        .orderBy("_h")
        .limit(k)
        .collect()
    )
    cents = [(i, list(r["_mv"])) for i, r in enumerate(init)]
    for _ in range(iters):
        c = spark.createDataFrame(
            cents, "centroid_id int, _mv array<double>"
        ).withColumn("_mn", norm(F.col("_mv")))
        sim = F.nanvl(
            F.round(
                cosine_pre(F.col("_vv"), F.col("_mv"), F.col("_vn"), F.col("_mn")),
                6,
            ),
            F.lit(None).cast("double"),
        )
        aw = Window.partitionBy("_id").orderBy(
            F.desc("_sim"), F.asc("centroid_id")
        )
        assigned = (
            v.crossJoin(F.broadcast(c))
            .withColumn("_sim", sim)
            .withColumn("_rn", F.row_number().over(aw))
            .where(F.col("_rn") == 1)
            .select("centroid_id", "_vv")
        )
        means = (
            assigned.select(
                "centroid_id", F.posexplode("_vv").alias("_p", "_x")
            )
            .groupBy("centroid_id", "_p")
            .agg(F.avg("_x").alias("_m"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_p", "_m"))),
                    lambda s: F.round(s["_m"], 6),
                ).alias("_nv")
            )
            .collect()
        )
        new = {int(r["centroid_id"]): list(r["_nv"]) for r in means}
        # empty cell -> previous centroid persists
        cents = [(cid, new.get(cid, mv)) for cid, mv in cents]
    return spark.createDataFrame(
        cents, "centroid_id int, embedding array<double>"
    )


def knn_ivf_trained(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 10,
    n_probe: int = 3,
    iters: int = 4,
) -> DataFrame:
    """IVF ANN over *learned* cells: deterministic Lloyd centroids
    (:func:`kmeans_lloyd`) feed the cell-probing search in
    ops/simsearch.py.  Fully SQL-replayable end to end — training,
    assignment, probing and the top-k all carry twin-oracle rounding/
    tie rules, so the driver hash-gates this path against DuckDB."""
    from .simsearch import knn_ivf

    centroids = kmeans_lloyd(emb, k=n_cells, iters=iters)
    return knn_ivf(emb, queries, centroids, k=k, n_probe=n_probe)


UMAP_MAX_DRIVER_ROWS = 50_000


def _em_fit_numpy(x, k: int, seed: int):
    """Full-covariance EM with sklearn GaussianMixture's semantics
    (kmeans++-style mean seeding, reg_covar on the diagonal, mean-ll
    tolerance).  Returns (total_log_likelihood, (weights, means, covs))."""
    import numpy as np

    n, d = x.shape
    rng = np.random.default_rng(seed)
    means = [x[int(rng.integers(n))]]
    for _ in range(k - 1):
        d2 = np.min([((x - m) ** 2).sum(1) for m in means], axis=0)
        tot = d2.sum()
        p = d2 / tot if tot > 0 else None
        means.append(x[int(rng.choice(n, p=p))])
    means = np.asarray(means, dtype=np.float64)
    base_cov = np.atleast_2d(np.cov(x.T)) + 1e-6 * np.eye(d)
    covs = np.repeat(base_cov[None, :, :], k, axis=0)
    weights = np.full(k, 1.0 / k)
    prev_mean_ll = -np.inf
    total_ll = -np.inf
    for _ in range(100):
        log_prob = np.empty((n, k))
        for c in range(k):
            chol = np.linalg.cholesky(covs[c])
            diff = x - means[c]
            # mahalanobis via cholesky: solve L z = diff^T
            z = np.linalg.solve(chol, diff.T)
            maha = (z * z).sum(0)
            logdet = 2.0 * np.log(np.diag(chol)).sum()
            log_prob[:, c] = -0.5 * (d * np.log(2 * np.pi) + logdet + maha)
        log_weighted = log_prob + np.log(weights)[None, :]
        mx = log_weighted.max(1, keepdims=True)
        log_norm = mx[:, 0] + np.log(np.exp(log_weighted - mx).sum(1))
        total_ll = float(log_norm.sum())
        resp = np.exp(log_weighted - log_norm[:, None])
        nk = resp.sum(0) + 1e-10
        means = (resp.T @ x) / nk[:, None]
        for c in range(k):
            diff = x - means[c]
            covs[c] = (diff.T * resp[:, c]) @ diff / nk[c] + 1e-6 * np.eye(d)
        weights = nk / n
        mean_ll = total_ll / n
        if abs(mean_ll - prev_mean_ll) < 1e-3:
            break
        prev_mean_ll = mean_ll
    return total_ll, (weights, means, covs)


def _gmm_bic_labels_numpy(
    x, max_cluster: int, seed: int, threshold: float, restarts: int
):
    """Driver-side BIC model selection + the reference's posterior
    assignment quirk (first component whose posterior exceeds the
    threshold, argmax fallback) — the sklearn-shaped counterpart of
    the distributed path, used at RAPTOR layer scale."""
    import math

    import numpy as np

    n, d = x.shape

    def bic(ll: float, k: int) -> float:
        n_params = k * d + k * d * (d + 1) // 2 + (k - 1)
        return -2.0 * ll + n_params * math.log(n)

    cov = np.atleast_2d(np.cov(x.T, bias=True)) + 1e-12 * np.eye(d)
    _sign, logdet = np.linalg.slogdet(cov)
    ll1 = -n / 2.0 * (d * math.log(2 * math.pi) + logdet + d)
    best_k, best_bic, best_params = 1, bic(ll1, 1), None
    for k in range(2, max(min(max_cluster, n), 2)):
        best_ll, best_p = -np.inf, None
        for r in range(restarts):
            try:
                ll, params = _em_fit_numpy(x, k, seed + 101 * r)
            except np.linalg.LinAlgError:
                continue
            if ll > best_ll:
                best_ll, best_p = ll, params
        if best_p is None:
            continue
        b = bic(best_ll, k)
        if b < best_bic:
            best_k, best_bic, best_params = k, b, best_p
    if best_k == 1 or best_params is None:
        return np.zeros(n, dtype=int)
    weights, means, covs = best_params
    log_prob = np.empty((n, best_k))
    for c in range(best_k):
        chol = np.linalg.cholesky(covs[c])
        z = np.linalg.solve(chol, (x - means[c]).T)
        logdet = 2.0 * np.log(np.diag(chol)).sum()
        log_prob[:, c] = -0.5 * (
            d * math.log(2 * math.pi) + logdet + (z * z).sum(0)
        )
    log_weighted = log_prob + np.log(weights)[None, :]
    mx = log_weighted.max(1, keepdims=True)
    resp = np.exp(log_weighted - mx)
    resp /= resp.sum(1, keepdims=True)
    labels = np.empty(n, dtype=int)
    for i in range(n):
        over = np.nonzero(resp[i] > threshold)[0]
        labels[i] = int(over[0]) if over.size else int(resp[i].argmax())
    return labels


def gmm_bic_clusters(
    emb: DataFrame,
    max_cluster: int = 8,
    seed: int = 42,
    threshold: float = 0.1,
    reduce_dim: int = 12,
    restarts: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    reducer: str = "pca",
) -> DataFrame:
    """The RAPTOR clustering core (rag/raptor.py:72-155): dimensionality
    reduction, then GaussianMixture with the component count chosen by
    BIC over 1..max_cluster-1, then soft assignment where a row's label
    is the FIRST component whose posterior exceeds ``threshold`` (the
    reference takes ``np.where(prob > thr)[0][0]`` — first index, not
    argmax; quirk preserved, with an argmax guard for the
    all-below-threshold case the reference would crash on).

    ``reducer="umap"`` runs the from-scratch UMAP (``ops/umap.py``)
    with the reference's exact parameterization (rag/raptor.py:138-143)
    — driver-side, as the reference itself does at RAPTOR layer scale;
    above ``UMAP_MAX_DRIVER_ROWS`` it falls back to distributed PCA
    (the deterministic linear reducer, also the ``reducer="pca"``
    default).  The LLM summarize/recurse loop is out of scope per
    SURVEY §2.8; this operator is the per-layer clustering it calls.

    Scale notes: each candidate k fits one Spark ML GMM (iterative
    tree-aggregates); at 10^12 rows you fit on a deterministic sample
    and only the final assignment pass touches the full corpus.
    Returns (id, cluster).
    """
    import math

    from pyspark.ml.clustering import GaussianMixture
    from pyspark.ml.feature import PCA

    n = emb.count()
    if n < 2:
        return emb.select(F.col(id_col), F.lit(0).alias("cluster"))
    dim = len(emb.select(vec_col).first()[0])
    k_red = max(1, min(reduce_dim, dim, n - 2))
    if reducer == "umap" and n <= UMAP_MAX_DRIVER_ROWS and k_red < dim:
        # the reference runs this whole layer step driver-side
        # (umap + sklearn GMM, rag/raptor.py:138-155); mirror that at
        # layer scale — reduce, select k by BIC, assign — all in numpy,
        # and only the label table goes back to Spark
        import numpy as np

        from .umap import raptor_reduce

        rows = emb.select(F.col(id_col), F.col(vec_col)).collect()
        ids = [r[0] for r in rows]
        x = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
        red = raptor_reduce(x, seed=seed, n_components_cap=reduce_dim)
        labels = _gmm_bic_labels_numpy(
            red, min(max_cluster, n), seed, threshold, restarts
        )
        from pyspark.sql.types import IntegerType, StructField, StructType

        # keep the input id column's type (string/int ids work like the
        # PCA branch) instead of assuming long
        schema = StructType(
            [emb.schema[id_col], StructField("cluster", IntegerType())]
        )
        return emb.sparkSession.createDataFrame(
            [(i, int(lb)) for i, lb in zip(ids, labels)], schema
        )
    feats = emb.select(
        F.col(id_col), array_to_vector(F.col(vec_col)).alias("features")
    )
    if k_red < dim:
        pca = PCA(k=k_red, inputCol="features", outputCol="reduced").fit(feats)
        feats = pca.transform(feats).select(
            F.col(id_col), F.col("reduced").alias("features")
        )
    feats = feats.cache()
    max_k = min(max_cluster, n)
    d = k_red

    def _bic(ll: float, k: int) -> float:
        n_params = k * d + k * d * (d + 1) // 2 + (k - 1)
        return -2.0 * ll + n_params * math.log(n)

    # k=1: Spark ML needs k >= 2, but the single-Gaussian MLE
    # log-likelihood is closed-form: -n/2 (d ln 2pi + ln det S_mle + d)
    # with S_mle the 1/n covariance — the same optimum sklearn's EM
    # converges to, so the reference's k=1 outcome stays reachable.
    import numpy as np
    from pyspark.ml.stat import Correlation, Summarizer

    stats = feats.select(
        Summarizer.metrics("variance").summary(F.col("features")).alias("s")
    ).first()["s"]
    var = np.array(stats[0])
    corr = Correlation.corr(feats, "features").first()[0].toArray()
    sd = np.sqrt(var)
    cov = corr * np.outer(sd, sd) * ((n - 1) / n)
    sign, logdet = np.linalg.slogdet(cov + 1e-12 * np.eye(d))
    ll1 = -n / 2.0 * (d * math.log(2 * math.pi) + logdet + d)
    best_k, best_bic, best_model = 1, _bic(ll1, 1), None

    # Spark ML's GMM starts from random points (sklearn initializes
    # with k-means), so a single run lands in poor local optima on
    # anisotropic data — a few seeded restarts per k, best LL kept,
    # recovers the reference's behavior.
    for k in range(2, max(max_k, 2)):
        best_ll, best_gm = -float("inf"), None
        for r in range(restarts):
            gm = GaussianMixture(k=k, seed=seed + 101 * r, maxIter=100).fit(feats)
            if gm.summary.logLikelihood > best_ll:
                best_ll, best_gm = gm.summary.logLikelihood, gm
        bic = _bic(best_ll, k)
        if bic < best_bic:
            best_k, best_bic, best_model = k, bic, best_gm
    if best_k == 1 or best_model is None:
        out = feats.select(F.col(id_col), F.lit(0).alias("cluster"))
        feats.unpersist()
        return out
    probs = vector_to_array(F.col("probability"))
    # F.get (0-based) returns NULL on an empty array instead of the
    # ANSI out-of-bounds error element_at would raise
    first_over = F.get(
        F.filter(
            F.transform(
                probs, lambda p, i: F.when(p > threshold, i).otherwise(F.lit(-1))
            ),
            lambda x: x >= 0,
        ),
        F.lit(0),
    )
    argmax = F.array_position(probs, F.array_max(probs)).cast("int") - 1
    out = (
        best_model.transform(feats)
        .select(
            F.col(id_col),
            F.coalesce(first_over, argmax).cast("int").alias("cluster"),
        )
    )
    feats.unpersist()
    return out


def gmm_cluster_sizes(emb: DataFrame, **kw) -> DataFrame:
    return (
        gmm_bic_clusters(emb, **kw)
        .groupBy("cluster")
        .agg(F.count("*").alias("n_members"))
        .select("cluster", "n_members")
    )
