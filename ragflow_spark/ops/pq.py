"""Product quantization (PQ) — the memory-compression rung of the ANN
ladder (brute force -> IVF/LSH candidate pruning -> PQ code scoring).

At 100 TB the dominant ANN cost is not compute but the bytes a scan
must move: a 64-dim float32 corpus is 256 B/vector, while 8-subspace
PQ codes are 8 small ints — a ~32x scan-width reduction — and
asymmetric-distance scoring (ADC) replaces the per-pair ``dim``-mult
dot product with ``n_sub`` table lookups.  This module implements the
classic Jégou/Douze/Schmid scheme (public: "Product Quantization for
Nearest Neighbor Search", TPAMI 2011) in the repo's deterministic,
engine-replayable style:

* **train** — per-subspace L2 Lloyd's with the same md5-shuffled init,
  fixed iteration count and round(·, 6) boundaries as
  ``ops/cluster.kmeans_lloyd`` (every codebook is a pure function of
  the input, no RNG state).  Codebooks are tiny
  (``n_sub · k_sub · d_sub`` doubles) and materialize on the driver —
  the bounded-collect pattern — so the corpus is scanned O(iters)
  times and every downstream stage embeds them as literals.
* **encode** — ONE map-side projection, zero shuffles: per subspace the
  code is the argmin of ``k_sub`` rounded L2 distances
  (``array_position(dists, array_min(dists))`` = first minimum = the
  lowest centroid on ties).  Vectors are unit-normalized first so the
  ADC score approximates cosine directly.
* **search (ADC)** — each query precomputes a lookup table
  ``lut[s][j] = round(dot(q_s, codebook[s][j]), 6)`` (``dim · k_sub``
  mults, once per query); scoring a candidate is then
  ``sum_s lut[s][code_s]`` — ``zip_with(codes, lut, element_at)`` +
  a fold, no per-pair dot product at all.  Top-k resolution reuses the
  two-phase local-top-k shape of ``simsearch.knn_bruteforce`` (the
  scored set never shuffles; k·P narrow rows per query resolve
  globally).

The reference delegates dense search to an external vector store
(rag/nlp/search.py:48-56); PQ is part of this repo's
training-data-pipeline surface (task brief: similarity search at
scale), quality-gated by recall tests (tests/test_pq.py) and the
bench's ann_recall record rather than an oracle row (the 50-slot
registry is full; the trainer itself is SQL-replayable by the same
construction as kmeans_lloyd's unrolled CTEs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .simsearch import as_double, dot, finite_norm, norm


def _l2(a: Column, b: Column) -> Column:
    """Squared L2 distance, left-to-right fold (replayable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def _normalized(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, _nv unit-normalized double vector); degenerate rows dropped
    with the standard per-side finite-norm guard."""
    out = (
        df.select(F.col(id_col), as_double(F.col(vec_col)).alias("_dv"))
        .withColumn("_dn", norm(F.col("_dv")))
        .where(finite_norm(F.col("_dn")))
    )
    nv = F.transform(F.col("_dv"), lambda x: x / F.col("_dn"))
    return out.select(F.col(id_col), nv.alias("_nv"))


def pq_train(
    emb: DataFrame,
    n_sub: int = 8,
    k_sub: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Fit PQ codebooks: ``codebooks[s][j]`` = centroid ``j`` of
    subspace ``s`` (driver-side lists; tiny by construction).

    All ``n_sub`` subspace fits run in the SAME Spark pass per
    iteration — the corpus explodes into (id, sub_id, subvector) rows
    once, each iteration is one broadcast join + argmin + grouped mean.
    Determinism contract identical to kmeans_lloyd: md5-shuffled init
    (the ``k_sub`` rows with the smallest ``md5(id)`` seed every
    subspace), rounded-distance argmin with ties to the lowest
    centroid id, rounded means, empty cells keep their centroid.
    """
    spark = emb.sparkSession
    v = _normalized(emb, id_col, vec_col)
    first = v.select("_nv").first()
    if first is None:
        raise ValueError("no finite-norm vectors to train PQ codebooks")
    dim = len(first["_nv"])
    if dim % n_sub != 0:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    d_sub = dim // n_sub

    init_rows = (
        v.select(
            F.md5(F.col(id_col).cast("string").cast("binary")).alias("_h"),
            "_nv",
        )
        .orderBy("_h")
        .limit(k_sub)
        .collect()
    )
    # codebooks[s][j] = rounded subvector j of subspace s
    books = [
        [
            [round(x, 6) for x in r["_nv"][s * d_sub : (s + 1) * d_sub]]
            for r in init_rows
        ]
        for s in range(n_sub)
    ]

    subs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("sub_id"),
                    F.slice("_nv", s * d_sub + 1, d_sub).alias("_sv"),
                )
                for s in range(n_sub)
            ]
        )
    )
    train = v.select(F.col(id_col).alias("_id"), subs.alias("_p")).select(
        "_id", F.col("_p.sub_id").alias("_s"), F.col("_p._sv").alias("_sv")
    )
    for _ in range(iters):
        cb = spark.createDataFrame(
            [
                (s, j, books[s][j])
                for s in range(n_sub)
                for j in range(len(books[s]))
            ],
            "_s int, _cid int, _cv array<double>",
        )
        dist = F.round(_l2(F.col("_sv"), F.col("_cv")), 6)
        aw = Window.partitionBy("_id", "_s").orderBy(
            F.asc("_d"), F.asc("_cid")
        )
        assigned = (
            train.join(F.broadcast(cb), "_s")
            .withColumn("_d", dist)
            .withColumn("_rn", F.row_number().over(aw))
            .where(F.col("_rn") == 1)
            .select("_s", "_cid", "_sv")
        )
        means = (
            assigned.select("_s", "_cid", F.posexplode("_sv").alias("_p", "_x"))
            .groupBy("_s", "_cid", "_p")
            .agg(F.avg("_x").alias("_m"))
            .groupBy("_s", "_cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_p", "_m"))),
                    lambda t: F.round(t["_m"], 6),
                ).alias("_nvc")
            )
            .collect()
        )
        new = {(int(r["_s"]), int(r["_cid"])): list(r["_nvc"]) for r in means}
        books = [
            [new.get((s, j), books[s][j]) for j in range(len(books[s]))]
            for s in range(n_sub)
        ]
    return books


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — one zero-shuffle projection.

    Per subspace the code is ``array_position(dists, array_min(dists))
    - 1`` over the ``k_sub`` rounded L2 distances to the literal
    codebook (first minimum = lowest centroid id on ties, matching the
    trainer's argmin)."""
    n_sub = len(codebooks)
    d_sub = len(codebooks[0][0])
    v = _normalized(emb, id_col, vec_col)

    def _code(s: int) -> Column:
        sv = F.slice("_nv", s * d_sub + 1, d_sub)
        dists = F.array(
            *[
                F.round(_l2(sv, F.array(*[F.lit(x) for x in c])), 6)
                for c in codebooks[s]
            ]
        )
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    return v.select(
        F.col(id_col),
        F.array(*[_code(s) for s in range(n_sub)]).alias("codes"),
    )


def knn_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_sub: int = 8,
    k_sub: int = 16,
    iters: int = 3,
    rerank: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k cosine via PQ/ADC with exact re-ranking:
    train, encode the corpus, score every (query, code) pair through
    the query's lookup table, shortlist ``rerank·k`` candidates per
    query with the two-phase local-top-k plan, then re-rank ONLY the
    shortlist with the exact cosine.

    The ADC join's per-pair work is ``n_sub`` element_at lookups + a
    length-``n_sub`` fold — independent of ``dim`` — and codes are the
    only corpus-side payload that crosses it; the full vectors are
    touched again solely for the ``rerank·k`` survivors per query (a
    broadcast-hash join back to the corpus).  The re-rank stage is
    what makes PQ usable for FINE ranking: vectors of one tight
    cluster quantize to identical codes, so pure ADC ties them and
    tie-breaks by id — measured 0.26 recall@5 on 10-mode clustered
    vectors vs ≥0.95 with the shortlist re-ranked (tests/test_pq.py).
    Size ``rerank·k`` ABOVE the expected tie-class (≈ cluster size):
    a 600-vector/10-mode corpus has ~60-member code-tie classes, so a
    50-row shortlist still cut true neighbors by id (measured 0.94);
    the default 16·k=80 clears it.
    ``rerank=1`` degrades to pure ADC ordering (the paper's
    non-reranked variant) for contrast/benchmarks."""
    books = pq_train(
        corpus, n_sub=n_sub, k_sub=k_sub, iters=iters,
        id_col=id_col, vec_col=vec_col,
    )
    codes = pq_encode(corpus, books, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), "codes"
    )
    qn = _normalized(queries, query_id_col, vec_col)
    # lut[s][j] = round(dot(q_s, books[s][j]), 6): dim·k_sub mults once
    # per query row, inside the broadcast relation
    d_sub = len(books[0][0])
    lut = F.array(
        *[
            F.array(
                *[
                    F.round(
                        dot(
                            F.slice("_nv", s * d_sub + 1, d_sub),
                            F.array(*[F.lit(x) for x in c]),
                        ),
                        6,
                    )
                    for c in books[s]
                ]
            )
            for s in range(n_sub)
        ]
    )
    q = qn.select(F.col(query_id_col), lut.alias("_lut"))
    score = F.round(
        F.aggregate(
            F.zip_with(
                F.col("codes"),
                F.col("_lut"),
                lambda c, l: F.element_at(l, c + F.lit(1)),
            ),
            F.lit(0.0),
            lambda s, x: s + x,
        ),
        6,
    )
    scored = codes.join(
        F.broadcast(q), F.col("neighbor_id") != F.col(query_id_col)
    ).select(F.col(query_id_col), F.col("neighbor_id"), score.alias("sim"))

    # two-phase shortlist (same shape as knn_bruteforce: per-partition
    # heap over narrow rows, then a shortlist·P-row global resolve)
    shortlist = max(k, rerank * k)

    def _local_topk(batches):
        import pandas as pd

        best = None
        for pdf in batches:
            t = pd.concat([best, pdf]) if best is not None else pdf
            t = t.sort_values(
                [query_id_col, "sim", "neighbor_id"],
                ascending=[True, False, True],
                kind="mergesort",
            )
            best = t.groupby(query_id_col, sort=False).head(shortlist)
        if best is not None:
            yield best

    local = scored.mapInPandas(_local_topk, schema=scored.schema)
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    cand = (
        local.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= shortlist)
        .select(query_id_col, "neighbor_id")
    )
    if rerank <= 1:
        return (
            local.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k)
            .select(query_id_col, "neighbor_id", "rank", "sim")
        )
    # exact re-rank of the shortlist: norms materialized per side below
    # the joins, one dot traversal per surviving pair (cosine_pre)
    from .simsearch import cosine_pre

    cv = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            as_double(F.col(vec_col)).alias("_cv"),
        )
        .withColumn("_cn", norm(F.col("_cv")))
        .where(finite_norm(F.col("_cn")))
    )
    qv = (
        queries.select(
            F.col(query_id_col), as_double(F.col(vec_col)).alias("_qv")
        )
        .withColumn("_qn", norm(F.col("_qv")))
        .where(finite_norm(F.col("_qn")))
    )
    exact = F.round(
        cosine_pre(F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")), 6
    )
    rw = Window.partitionBy(query_id_col).orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        cand.join(cv, "neighbor_id")
        .join(F.broadcast(qv), query_id_col)
        .withColumn("sim", exact)
        .withColumn("rank", F.row_number().over(rw).cast("long"))
        .where(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "rank", "sim")
    )


def pq_code_stats(
    corpus: DataFrame,
    n_sub: int = 8,
    k_sub: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Code-utilization histogram (sub_id, code, n) — the PQ 'index
    build' summary, and a cheap skew check: a healthy fit spreads each
    subspace across its ``k_sub`` codes."""
    books = pq_train(
        corpus, n_sub=n_sub, k_sub=k_sub, iters=iters,
        id_col=id_col, vec_col=vec_col,
    )
    codes = pq_encode(corpus, books, id_col=id_col, vec_col=vec_col)
    return (
        codes.select(F.posexplode("codes").alias("sub_id", "code"))
        .groupBy("sub_id", "code")
        .agg(F.count("*").alias("n"))
        .select("sub_id", "code", "n")
    )
