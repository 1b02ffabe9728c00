"""Similarity search over an embedding column (``array<float>``).

The reference's dense-retrieval path is an external vector store
(cosine top-k + fusion, rag/nlp/search.py:48-56,110-120); here the same
semantics are expressed corpus-level in the DataFrame API:

* **Brute-force cosine top-k** — the correctness baseline.  The query
  set is broadcast (it is always small relative to the corpus); the
  corpus side streams through one scan, so at 100 TB this is a single
  map-side pass plus a top-k-per-query aggregation.  All arithmetic is
  a left-to-right double fold so an external oracle (DuckDB
  ``list_dot_product``) reproduces it bit-for-bit before rounding.
* **Deterministic IVF** — the scale path: a fixed, deterministic
  centroid subset partitions the corpus (argmax cosine, ties -> lowest
  centroid id); queries probe only their ``n_probe`` nearest cells.
  Centroid assignment is one broadcast join; per-cell search shuffles
  on ``centroid_id`` so each cell is co-located.
* **Hyperplane LSH** — sign-sketch bucketing: ``n_bits`` pseudo-random
  hyperplanes (seeded, hash-derived, no RNG state) -> bit signature;
  candidates share a signature band.  Join is bucketed on the band key,
  never a cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# -- shared column expressions ---------------------------------------------


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-to-right fold — matches a sequential C loop bit-for-bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )


def norm(v: Column) -> Column:
    """Euclidean norm, the exact ``sqrt(dot(v, v))`` form the DuckDB
    oracles replay bit-for-bit."""
    return F.sqrt(dot(v, v))


def cosine_pre(a: Column, b: Column, a_norm: Column, b_norm: Column) -> Column:
    """Cosine similarity with the norms (:func:`norm`) materialized as
    columns once per row, so a vector meeting many partners (a k-NN
    join, a scan against one query) is traversed once per pair, not
    five times.  NULL when either vector has zero norm (empty array,
    all-zero, or null) — cosine is undefined there, and under ANSI mode
    an unguarded 0/0 raises DIVIDE_BY_ZERO, aborting a whole job on one
    degenerate row.  Keep the exact ``dot / (sqrt(dot) * sqrt(dot))``
    denominator form the DuckDB oracles replay bit-for-bit — do NOT
    fold it into sqrt(dot*dot), which differs in ulp and can flip
    round(_, 6).  A NULL norm fails ``den > 0`` and yields NULL — but
    a NaN norm does NOT:
    Spark orders NaN above every other double, so ``NaN > 0`` is TRUE
    and the guard passes, producing a NaN sim that then outranks every
    real similarity in a desc sort.  Callers must therefore exclude
    NaN-norm rows per side BEFORE the join (:func:`finite_norm`) —
    every k-NN/near-dup entry point in this module does."""
    den = a_norm * b_norm
    return F.when(den > 0, dot(a, b) / den).otherwise(F.lit(None).cast("double"))


def finite_norm(n: Column) -> Column:
    """Per-side degeneracy guard for a materialized norm column: TRUE
    iff the norm is a finite positive double.  ``n > 0`` alone is NOT
    enough — a vector containing NaN has norm NaN, and Spark's NaN
    ordering makes ``NaN > 0`` TRUE, so such a row would sail through
    the filter, score sim = NaN, and take rank 1 in every desc window
    sort (displacing a real neighbour).  Verified: a [NaN,0,0] corpus
    vector ranked first in knn_lsh before this guard (ADVICE r4)."""
    return (n > 0) & ~F.isnan(n)


# -- brute force ------------------------------------------------------------


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Top-k cosine neighbours per query (self excluded), two-phase.

    Phase 1 scores corpus x broadcast(queries) in one codegen
    projection and reduces each *input partition* to its local top-k
    per query inside an Arrow-batched ``mapInPandas`` stage — three
    narrow columns cross the Arrow boundary, never the vectors, and no
    shuffle of the scored set happens at all.  Phase 2 resolves the
    global top-k from the surviving ``k x n_partitions`` rows per
    query.  Top-k under the total order (-sim, neighbor_id) commutes
    with per-partition top-k, so the result is identical to the naive
    single-window form (the r2 plan, which funneled the entire scored
    corpus into one task per query — unusable at 10^12 rows).

    Ties broken on the *rounded* similarity then neighbour id, so the
    result is stable across engines/ulp differences.
    """
    # norms materialize BELOW the join — once per query row (inside the
    # broadcast relation) and once per corpus row (before the stream
    # side's inner loop) — so the per-pair work is ONE dot traversal +
    # scalar ops (see cosine_pre).
    # Degenerate vectors (zero-norm, empty, null, null-element — all of
    # which make the norm NULL or 0) are filtered per SIDE here, not
    # via where(sim.isNotNull()) after the join: an isnotnull filter on
    # a both-sides expression gets substituted into the JOIN CONDITION,
    # duplicating the whole dot product per pair (the nullability-
    # pushdown corollary, docs/PLANS.md).  The size guard in the join
    # covers the remaining NULL source (dimension mismatch), so sim is
    # provably non-NULL and no post-join filter is needed.
    q = queries.select(
        F.col("query_id"), as_double(F.col("embedding")).alias("_qv")
    ).withColumn("_qn", norm(F.col("_qv"))).where(finite_norm(F.col("_qn")))
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), as_double(F.col("embedding")).alias("_cv")
    ).withColumn("_cn", norm(F.col("_cv"))).where(finite_norm(F.col("_cn")))
    sim = F.round(
        cosine_pre(F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")), 6
    )
    scored = c.join(
        F.broadcast(q),
        (F.col("neighbor_id") != F.col("query_id"))
        & (F.size(F.col("_cv")) == F.size(F.col("_qv"))),
    ).select(F.col("query_id"), F.col("neighbor_id"), sim.alias("sim"))

    def _local_topk(batches):
        import pandas as pd

        best: pd.DataFrame | None = None
        for pdf in batches:
            t = pd.concat([best, pdf]) if best is not None else pdf
            t = t.sort_values(
                ["query_id", "sim", "neighbor_id"],
                ascending=[True, False, True],
                kind="mergesort",
            )
            best = t.groupby("query_id", sort=False).head(k)
        if best is not None:
            yield best

    schema = scored.schema
    local = scored.mapInPandas(_local_topk, schema=schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


# -- deterministic IVF ------------------------------------------------------


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
) -> DataFrame:
    """Assign every vector to its max-cosine centroid (broadcast join;
    ties -> lowest centroid id on the rounded similarity)."""
    c = (
        centroids.select(
            F.col("centroid_id"), as_double(F.col("embedding")).alias("_mv")
        )
        .withColumn("_mn", norm(F.col("_mv")))
        # a NaN centroid (e.g. KMeans trained on a NaN-element vector)
        # scores sim=NaN vs EVERY vector, and NaN sorts first under
        # desc — one bad centroid would swallow the whole corpus into
        # its cell.  Same per-side guard as every other entry point.
        .where(finite_norm(F.col("_mn")))
    )
    v = corpus.select(
        F.col("vec_id"), as_double(F.col("embedding")).alias("_vv")
    ).withColumn("_vn", norm(F.col("_vv")))
    # nanvl (single evaluation — no when() re-materialization) turns a
    # NaN sim into NULL: assignment keeps COMPLETE partitioning (every
    # corpus row lands in a cell, degenerate ones included, so member
    # counts reconcile), but a NaN-element vector must not win rank 1
    # in every cell's desc sort (NaN orders above every real sim) nor
    # poison ivf_build_stats' avg_sim to NaN — as NULL it sorts last
    # and avg() ignores it, exactly like the zero/empty-vector rows.
    sim = F.nanvl(
        F.round(
            cosine_pre(F.col("_vv"), F.col("_mv"), F.col("_vn"), F.col("_mn")), 6
        ),
        F.lit(None).cast("double"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("centroid_id"))
    return (
        v.crossJoin(F.broadcast(c))
        .withColumn("sim", sim)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("vec_id", "centroid_id", F.col("sim").alias("centroid_sim"))
    )


def ivf_build_stats(
    corpus: DataFrame,
    centroids: DataFrame,
) -> DataFrame:
    """Cell sizes + mean member similarity — the IVF 'index build'."""
    assigned = ivf_assign(corpus, centroids)
    return (
        assigned.groupBy("centroid_id")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.avg("centroid_sim"), 4).alias("avg_sim"),
        )
        .select("centroid_id", "n_members", "avg_sim")
    )


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 3,
) -> DataFrame:
    """Approximate top-k: probe the n_probe best cells per query only.

    Plan shape at scale: corpus->cells once (broadcast centroids), then
    a co-partitioned join on centroid_id between probed cells and cell
    members — the cross join is bounded by cell size, never corpus size.
    """
    assigned = ivf_assign(corpus, centroids)
    # degenerate vectors filtered per side BELOW the join; dimension
    # mismatch guarded by the size check — so sim is provably non-NULL
    # and no where(sim.isNotNull()) re-materializes the dot product
    # inside the join condition (see knn_bruteforce)
    members = (
        assigned.join(corpus.select(F.col("vec_id"), F.col("embedding")), "vec_id")
        .select(
            "centroid_id",
            F.col("vec_id").alias("neighbor_id"),
            as_double(F.col("embedding")).alias("_cv"),
        )
        .withColumn("_cn", norm(F.col("_cv")))  # once per member row
        .where(finite_norm(F.col("_cn")))
    )
    # _qn rides out of ivf_probe_cells (materialized there once per
    # query row, below its crossJoin) — recomputing it here cost one
    # redundant full-array traversal per probe row (ADVICE r4)
    probes = ivf_probe_cells(queries, centroids, n_probe).where(finite_norm(F.col("_qn")))
    sim = F.round(
        cosine_pre(F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")), 6
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        probes.join(members, "centroid_id")
        .where(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.size(F.col("_cv")) == F.size(F.col("_qv")))
        )
        .withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def ivf_probe_cells(
    queries: DataFrame,
    centroids: DataFrame,
    n_probe: int,
) -> DataFrame:
    c = (
        centroids.select(
            F.col("centroid_id"), as_double(F.col("embedding")).alias("_mv")
        )
        .withColumn("_mn", norm(F.col("_mv")))
        .where(finite_norm(F.col("_mn")))  # NaN centroid: see ivf_assign
    )
    q = queries.select(
        F.col("query_id"), as_double(F.col("embedding")).alias("_qv")
    ).withColumn("_qn", norm(F.col("_qv")))
    sim = F.round(
        cosine_pre(F.col("_qv"), F.col("_mv"), F.col("_qn"), F.col("_mn")), 6
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_psim"), F.asc("centroid_id"))
    return (
        q.crossJoin(F.broadcast(c))
        .withColumn("_psim", sim)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n_probe)
        .select("query_id", "centroid_id", "_qv", "_qn")
    )


# -- hyperplane LSH ---------------------------------------------------------


# the hyperplanes' hash seed, shared by both plane families, and the
# sign-sketch width and banding every LSH path runs; the md5 twins'
# oracles replay them
PLANE_SEED = 7
LSH_BITS = 12
LSH_BANDS = 3


def _plane_component(bit: int | Column, dim_idx: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    hash of (bit, dim) -> uniform double.  No RNG state, so every
    executor derives the identical planes.  ``bit`` may be a lambda
    variable (F.lit passes Columns through)."""
    h = F.xxhash64(F.lit(PLANE_SEED), F.lit(bit), dim_idx)
    return (h.cast("double") / F.lit(float(1 << 63)))


def lsh_signature_from(v: Column, n_bits: int = 16) -> Column:
    """Sign sketch from a MATERIALIZED double-array column: bit b =
    [<v, plane_b> >= 0], packed into a long.  Materialize ``v`` (and
    feed the signature through its own projection) on hot paths.

    One traversal of the vector with an n_bits-double accumulator of
    partial projections, then a pack fold — NOT n_bits unrolled
    per-bit aggregates (that shape paid n_bits passes over the vector
    plus a codegen unit growing with n_bits; measured 2.1-2.4x slower
    at sf0.1, bit-identical — docs/PLANS.md codegen-size cliff).
    Left-to-right add order per bit is preserved (dim 0..d-1), so
    signatures are unchanged vs the unrolled form.  Empty and null
    vectors short-circuit to signature 0 (the unrolled form's value
    for both) BEFORE the element_at lambda runs — sequence(0, -1)
    yields a descending [0, -1] index list whose element_at would
    throw under ANSI mode, aborting the job on one bad row."""
    didx = F.sequence(F.lit(0), F.size(v) - 1)
    bidx = F.sequence(F.lit(0), F.lit(n_bits - 1))
    sums = F.aggregate(
        didx,
        F.array_repeat(F.lit(0.0), n_bits),
        lambda acc, i: F.zip_with(
            acc,
            F.transform(
                bidx, lambda b: F.element_at(v, i + 1) * _plane_component(b, i)
            ),
            lambda s, x: s + x,
        ),
    )
    packed = F.aggregate(
        F.zip_with(
            sums,
            bidx,
            lambda p, b: F.when(
                p >= 0, F.call_function("shiftleft", F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return F.when(
        F.coalesce(F.size(v), F.lit(0)) <= 0, F.lit(0).cast("long")
    ).otherwise(packed)


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k via banded sign sketches: a pair is a candidate
    iff some band of the signature matches; candidates get the exact
    rounded cosine.  Shuffle key = (band, band_signature)."""

    def banded(df: DataFrame, idc: str, vc: str) -> DataFrame:
        # three materialized stages: _v once, the signature once, then
        # the band keys — per-bit aggregates re-evaluate their inputs,
        # so inlining costs n_bits x on the cast and n_bands x on the
        # signature.  The norm rides along from here (one traversal per
        # input row) and degenerate vectors exit before any signature
        # work — so the candidate stage needs no where(sim.isNotNull()),
        # which would re-materialize the dot inside the band-join
        # condition (nullability-pushdown corollary, docs/PLANS.md).
        step_v = (
            df.select(F.col(idc), as_double(F.col(vc)).alias("_v"))
            .withColumn("_n", norm(F.col("_v")))
            .where(finite_norm(F.col("_n")))
        )
        step_s = step_v.select(
            idc, "_v", "_n", lsh_signature_from(F.col("_v"), LSH_BITS).alias("_sig")
        )
        bands = banded_keys(F.col("_sig"), LSH_BITS, LSH_BANDS)
        return step_s.select(idc, "_v", "_n", bands.alias("bb")).select(
            idc,
            "_v",
            "_n",
            F.col("bb.band").alias("band"),
            F.col("bb.bkey").alias("bkey"),
        )

    cb = (
        banded(corpus, "vec_id", "embedding")
        .withColumnRenamed("vec_id", "neighbor_id")
        .withColumnRenamed("_n", "_cn")
    )
    qb = (
        banded(queries, "query_id", "embedding")
        .withColumnRenamed("_v", "_qv")
        .withColumnRenamed("_n", "_qn")
    )
    sim = F.round(
        cosine_pre(F.col("_qv"), F.col("_v"), F.col("_qn"), F.col("_cn")), 6
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        qb.join(cb, ["band", "bkey"])
        .where(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.size(F.col("_qv")) == F.size(F.col("_v")))
        )
        # norms are functions of the vectors, so adding them to the
        # distinct key changes nothing; carrying them (8 bytes/row)
        # beats recomputing per pair
        .select("query_id", "neighbor_id", "_qv", "_qn", "_v", "_cn")
        .distinct()
        .withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


# -- md5-derived hyperplanes (oracle-parity twins) ---------------------------


def lsh_signature_md5_from(v: Column) -> Column:
    """Sign sketch with md5-derived plane components — the cross-engine
    twin of :func:`lsh_signature_from` (xxhash64 has no DuckDB equivalent;
    md5 hex prefixes do).  Component c(bit, dim) =
    int(md5("seed|bit|dim")[:15], 16) / 2^59 - 1 in [-1, 1); the
    long -> double cast rounds identically in both engines.
    Takes a MATERIALIZED double-array column (see lsh_signature_from)."""
    idx = F.sequence(F.lit(0), F.size(v) - 1)

    def plane(bit: int):
        return lambda i: (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|", F.lit(str(PLANE_SEED)), F.lit(str(bit)), i.cast("string")
                        ).cast("binary")
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .cast("double")
            / F.lit(float(1 << 59))
            - F.lit(1.0)
        )

    sig = F.lit(0).cast("long")
    for b in range(LSH_BITS):
        proj = dot(v, F.transform(idx, plane(b)))
        sig = sig + F.when(proj >= 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sig


def banded_keys(sig: Column, n_bits: int, n_bands: int) -> Column:
    """Explodeable (band, bkey) structs from a packed signature."""
    bits_per_band = n_bits // n_bands
    return F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.pmod(
                    F.floor(sig / F.pow(F.lit(2.0), b * bits_per_band)),
                    F.lit(1 << bits_per_band),
                )
                .cast("long")
                .alias("bkey"),
            ),
        )
    )


def knn_lsh_md5(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """:func:`knn_lsh` with md5-derived planes — identical plan shape
    (banded candidate join, exact rounded cosine, per-query rank), but
    reproducible in an external SQL engine for the correctness gate."""

    def banded(df: DataFrame, idc: str) -> DataFrame:
        # norm rides from the input projection; degenerates exit before
        # signature work (same shape as knn_lsh — no isnotnull(sim)
        # filter to duplicate the dot into the band-join condition)
        step_v = (
            df.select(F.col(idc), as_double(F.col("embedding")).alias("_v"))
            .withColumn("_n", norm(F.col("_v")))
            .where(finite_norm(F.col("_n")))
        )
        step_s = step_v.select(
            idc, "_v", "_n", lsh_signature_md5_from(F.col("_v")).alias("_sig")
        )
        return step_s.select(
            idc, "_v", "_n", banded_keys(F.col("_sig"), LSH_BITS, LSH_BANDS).alias("bb")
        ).select(
            idc,
            "_v",
            "_n",
            F.col("bb.band").alias("band"),
            F.col("bb.bkey").alias("bkey"),
        )

    cb = (
        banded(corpus, "vec_id")
        .withColumnRenamed("vec_id", "neighbor_id")
        .withColumnRenamed("_n", "_cn")
    )
    qb = (
        banded(queries, "query_id")
        .withColumnRenamed("_v", "_qv")
        .withColumnRenamed("_n", "_qn")
    )
    sim = F.round(
        cosine_pre(F.col("_qv"), F.col("_v"), F.col("_qn"), F.col("_cn")), 6
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        qb.join(cb, ["band", "bkey"])
        .where(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.size(F.col("_qv")) == F.size(F.col("_v")))
        )
        .select("query_id", "neighbor_id", "_qv", "_qn", "_v", "_cn")
        .distinct()
        .withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def embedding_near_dup_lsh_md5(
    emb: DataFrame,
    threshold: float = 0.35,
) -> DataFrame:
    """Near-dup pairs via md5-plane banded buckets + exact cosine
    confirm — the oracle-parity twin of
    :func:`ragflow_spark.ops.dedup.embedding_near_dup_lsh`."""
    keyed = (
        emb.select(F.col("vec_id").alias("id"), as_double(F.col("embedding")).alias("_v"))
        .withColumn("_n", norm(F.col("_v")))
        .where(finite_norm(F.col("_n")))  # degenerates exit before signature work
        .select("id", "_v", "_n", lsh_signature_md5_from(F.col("_v")).alias("_sig"))
        .select("id", "_v", "_n", banded_keys(F.col("_sig"), LSH_BITS, LSH_BANDS).alias("bb"))
        .select(
            "id", "_v", "_n", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
        )
    )
    left = keyed.select(
        F.col("id").alias("id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na"),
        "band", "bkey",
    )
    right = keyed.select(
        F.col("id").alias("id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb"),
        "band", "bkey",
    )
    sim = F.round(
        cosine_pre(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")), 6
    )
    return (
        left.join(right, ["band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_va", "_na", "_vb", "_nb")
        .distinct()
        .withColumn("sim", sim)
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )
