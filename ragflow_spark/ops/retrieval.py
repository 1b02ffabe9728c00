"""Retrieval-side operators (reference §2.9) at corpus scale.

The reference delegates scoring to Elasticsearch/Infinity (weighted
full-text + dense fusion, rag/nlp/search.py:48-133); here the same
semantics are native DataFrame plans:

* **BM25** — inverted stats via two aggregations (df/idf, doc length),
  scoring via a broadcast join of the query terms against the flat
  (doc, term, tf) postings.  Shuffles: one per aggregation, keyed by
  term/doc — partial aggregation keeps shuffle volume at O(distinct
  terms) and O(docs).  Lucene-style idf: ln(1 + (N - df + .5)/(df + .5)).
* **Hybrid fusion** — 0.05 * normalized-BM25 + 0.95 * cosine
  (fusion weights parity: rag/nlp/search.py:114), with the dense side
  from the deterministic hash encoder (ops/embed.py).

Terms here are whitespace tokens of the canonical text so an external
SQL oracle reproduces scores exactly; the tokenizer-backed variant
(content_tokens) plugs in by swapping the term column.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textstats import norm_text

K1, B = 1.2, 0.75


def bm25_raw_scores(
    df: DataFrame,
    query_terms: list[str],
) -> DataFrame:
    """Unranked BM25 scores (id, score) for every matching doc.

    All corpus statistics (N, avgdl) are part of the plan — 1-row
    aggregates cross-joined in (Spark broadcasts them) — so the whole
    query is ONE job with no driver round-trips.

    Shuffle audit (the 10^12-row properties): the broadcast query-term
    semi-filter lands BEFORE any aggregation, so the only wide
    exchange carries the query-matched postings — O(docs containing a
    query term), not O(all postings).  Per-doc length rides the
    exploded rows from the scan (``dl`` is computed on the token
    array pre-explode), so there is no corpus-wide ``groupBy(id)``
    and no postings↔lengths join; ``df(term)`` aggregates the
    already-matched (id, term) relation — O(query terms) rows out.
    ``avgdl`` folds in one partial-aggregate pass over the scan
    (docs with ≥1 token, matching the postings-derived definition).
    """
    toks = F.filter(
        F.split(norm_text("text"), " "), lambda t: t != ""
    )
    # (id, dl, term) exploded rows, pre-filtered to query terms by a
    # broadcast hash join — dl is per-doc state carried from the scan.
    exploded = df.select(
        F.col("doc_id").alias("id"), toks.alias("_toks")
    ).select(
        "id",
        F.size("_toks").alias("dl"),
        F.explode("_toks").alias("term"),
    )
    spark = df.sparkSession
    qt = spark.createDataFrame([(t,) for t in query_terms], "term string").distinct()
    matched = exploded.join(F.broadcast(qt), "term")
    # dl is functionally dependent on id; grouping on it adds 8 bytes
    # per shuffle row and saves the corpus-wide doc-length aggregation.
    postings = matched.groupBy("id", "term", "dl").agg(F.count("*").alias("tf"))
    dfreq = postings.groupBy("term").agg(F.count("*").alias("df"))
    stats = df.agg(F.count("*").cast("double").alias("n_docs"))
    ad = df.select(F.size(toks).alias("dl")).where(F.col("dl") > 0).agg(
        F.avg("dl").alias("avgdl")
    )

    scored = (
        postings.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(ad))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "partial",
            F.col("idf")
            * (F.col("tf") * (K1 + 1))
            / (
                F.col("tf")
                + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return scored.groupBy("id").agg(F.round(F.sum("partial"), 4).alias("score"))


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    top_k: int = 20,
) -> DataFrame:
    """Top-k docs for a bag-of-terms query: (doc_id, score, rank).

    Deterministic across engines: per-term partial scores are summed
    after an ORDER-insensitive aggregate, then rounded; ranking ties
    break on doc id.

    Plan shape: orderBy().limit(k) -> TakeOrderedAndProject (each
    partition keeps a local top-k heap; only k rows cross the exchange),
    then ranks attach via a window over just those k rows.  Never a
    global unpartitioned row_number over the full corpus.
    """
    agg = bm25_raw_scores(df, query_terms)
    topk = agg.orderBy(F.desc("score"), F.asc("id")).limit(top_k)
    w = Window.orderBy(F.desc("score"), F.asc("id"))
    return (
        topk.withColumn("rank", F.row_number().over(w).cast("long"))
        .select(F.col("id").alias("doc_id"), "score", "rank")
    )


def hybrid_rerank(
    df: DataFrame,
    query_text: str,
    top_k: int = 10,
) -> DataFrame:
    """Weighted text+dense fusion (0.05/0.95 parity): BM25 normalized by
    the per-query max, dense side = cosine vs the hash-encoded query.

    One job: the BM25 side is the *unranked* score relation (no
    global sort), its max comes in as a broadcast 1-row aggregate, and
    the final top-k is orderBy().limit() (TakeOrderedAndProject) with
    ranks attached over only the k survivors."""
    from .embed import _HashEncoder, embed_chunks
    from .simsearch import as_double, cosine_pre, norm

    terms = [t for t in query_text.lower().split() if t]
    bm = bm25_raw_scores(df, terms)
    bm_max = bm.agg(F.coalesce(F.max("score"), F.lit(1.0)).alias("m"))

    chunks = df.select(
        F.col("doc_id").alias("chunk_id"), F.col("text").alias("content")
    )
    # doc-side cast + norm materialize once per row below the join;
    # query-side once total inside the 1-row broadcast (see cosine_pre)
    emb = (
        embed_chunks(chunks, dim=32)
        .withColumnRenamed("chunk_id", "doc_id")
        .withColumn("_dv", as_double(F.col("q_vec")))
        .withColumn("_dn", norm(F.col("_dv")))
    )
    qv = _HashEncoder(32).encode([query_text])[0]
    spark = df.sparkSession
    qdf = (
        spark.createDataFrame([(qv,)], "qv array<float>")
        .select(as_double(F.col("qv")).alias("_qdv"))
        .withColumn("_qn", norm(F.col("_qdv")))
    )

    fused = (
        emb.crossJoin(F.broadcast(qdf))
        .crossJoin(F.broadcast(bm_max))
        .join(bm.select(F.col("id").alias("doc_id"), "score"), "doc_id", "left")
        .withColumn(
            "dense_sim",
            F.round(
                cosine_pre(
                    F.col("_dv"), F.col("_qdv"), F.col("_dn"), F.col("_qn")
                ),
                6,
            ),
        )
        .withColumn(
            "fused",
            F.round(
                F.lit(0.05) * F.coalesce(F.col("score") / F.col("m"), F.lit(0.0))
                + F.lit(0.95) * F.col("dense_sim"),
                6,
            ),
        )
    )
    topk = fused.orderBy(F.desc("fused"), F.asc("doc_id")).limit(top_k)
    w = Window.orderBy(F.desc("fused"), F.asc("doc_id"))
    return (
        topk.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("doc_id", "fused", "dense_sim", "rank")
    )


# --------------------------------------------------------------------------
# weighted full-text retrieval (reference term_weight/query semantics)
# --------------------------------------------------------------------------


def weighted_fulltext_scores(
    df: DataFrame,
    term_weights: list[tuple[str, float, bool]],
    top_k: int = 20,
) -> DataFrame:
    """Docs scored by the reference's weighted query build: score(d) =
    sum of w(t) over query terms (and their synonyms at w/4) present in
    d.  ``term_weights`` comes from QueryBuilder.weighted_terms — a few
    dozen (term, weight, is_synonym) rows computed driver-side; the
    corpus side is a single projection over the token array (no joins,
    no shuffle before the final top-k), so the plan is scan -> project
    -> partial-agg-free TakeOrderedAndProject.

    Weights are rounded to 6 decimals and summed left-to-right in the
    term order given, which lets a SQL oracle reproduce the float
    arithmetic bit-for-bit.
    """
    # token array staged in its own projection: the per-term
    # membership tests below reference it once each, and Spark does
    # not reliably CSE a repeated expression tree (docs/PLANS.md,
    # expression materialization rule) — unstaged, the O(len)
    # normalize+split would run once per query term per row.
    staged = df.select(
        F.col("doc_id").alias("id"),
        F.split(norm_text("text"), " ").alias("_toks"),
    )
    toks = F.col("_toks")
    score = F.lit(0.0)
    for term, w, _syn in term_weights:
        score = score + F.when(
            F.array_contains(toks, F.lit(term)), F.lit(round(w, 6))
        ).otherwise(F.lit(0.0))
    scored = (
        staged.select("id", F.round(score, 6).alias("score"))
        .where(F.col("score") > 0.0)
    )
    topk = scored.orderBy(F.desc("score"), F.asc("id")).limit(top_k)
    w_rank = Window.orderBy(F.desc("score"), F.asc("id"))
    return (
        topk.withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .select(F.col("id").alias("doc_id"), "score", "rank")
    )


def token_sim_scores(
    df: DataFrame,
    query_weights: list[tuple[str, float]],
    top_k: int = 20,
) -> DataFrame:
    """The reference's token-set similarity (rag/nlp/query.py:239-263,
    ``similarity``): sim(q, d) = (1e-9 + sum of w_q(k) for k in q
    present in d) / (1e-9 + sum of w_q(k)) — the doc side only needs
    membership, so at corpus scale this is one scan + projection.
    """
    # _toks staged once (materialization rule, docs/PLANS.md)
    staged = df.select(
        F.col("doc_id").alias("id"),
        F.split(norm_text("text"), " ").alias("_toks"),
    )
    toks = F.col("_toks")
    matched = F.lit(0.0)
    total = 0.0
    for term, w in query_weights:
        w6 = round(w, 6)
        total += w6
        matched = matched + F.when(
            F.array_contains(toks, F.lit(term)), F.lit(w6)
        ).otherwise(F.lit(0.0))
    sim = (F.lit(1e-9) + matched) / F.lit(1e-9 + total)
    scored = staged.select(
        "id", F.round(sim, 6).alias("token_sim")
    )
    topk = scored.orderBy(F.desc("token_sim"), F.asc("id")).limit(top_k)
    w_rank = Window.orderBy(F.desc("token_sim"), F.asc("id"))
    return (
        topk.withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .select(F.col("id").alias("doc_id"), "token_sim", "rank")
    )


def hybrid_similarity_rerank(
    df: DataFrame,
    query_text: str,
    query_weights: list[tuple[str, float]],
    top_k: int = 10,
) -> DataFrame:
    """The reference's rerank fusion (rag/nlp/query.py:219-237
    ``hybrid_similarity``, used by search.rerank): 0.3 * token-set
    similarity + 0.7 * dense cosine — distinct from the 0.05/0.95
    retrieval fusion in :func:`hybrid_rerank`."""
    from .embed import _HashEncoder, embed_chunks
    from .simsearch import as_double, cosine_pre, norm

    # _toks staged once (materialization rule, docs/PLANS.md)
    staged = df.select(
        F.col("doc_id"), F.split(norm_text("text"), " ").alias("_toks")
    )
    toks = F.col("_toks")
    matched = F.lit(0.0)
    total = 0.0
    for term, w in query_weights:
        w6 = round(w, 6)
        total += w6
        matched = matched + F.when(
            F.array_contains(toks, F.lit(term)), F.lit(w6)
        ).otherwise(F.lit(0.0))
    tsim = (F.lit(1e-9) + matched) / F.lit(1e-9 + total)

    chunks = df.select(
        F.col("doc_id").alias("chunk_id"), F.col("text").alias("content")
    )
    emb = embed_chunks(chunks, dim=32).withColumnRenamed("chunk_id", "doc_id")
    qv = _HashEncoder(32).encode([query_text])[0]
    qdf = (
        df.sparkSession.createDataFrame([(qv,)], "qv array<float>")
        .select(as_double(F.col("qv")).alias("_qdv"))
        .withColumn("_qn", norm(F.col("_qdv")))
    )
    base = staged.select(F.col("doc_id"), F.round(tsim, 6).alias("token_sim"))
    fused = (
        base.join(
            emb.select(
                F.col("doc_id"), as_double(F.col("q_vec")).alias("_dv")
            ).withColumn("_dn", norm(F.col("_dv"))),
            "doc_id",
        )
        .crossJoin(F.broadcast(qdf))
        .withColumn(
            "dense_sim",
            F.round(
                cosine_pre(
                    F.col("_dv"), F.col("_qdv"), F.col("_dn"), F.col("_qn")
                ),
                6,
            ),
        )
        .withColumn(
            "hybrid",
            F.round(
                F.lit(0.3) * F.col("token_sim")
                + F.lit(0.7) * F.col("dense_sim"),
                6,
            ),
        )
    )
    topk = fused.orderBy(F.desc("hybrid"), F.asc("doc_id")).limit(top_k)
    w_rank = Window.orderBy(F.desc("hybrid"), F.asc("doc_id"))
    return (
        topk.withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .select("doc_id", "hybrid", "token_sim", "dense_sim", "rank")
    )


# fixed settings of retrieval_pipeline; oracle_sql() in __spark_entry__.py
# replays the same values
RERANK_LIMIT = 64
SIMILARITY_THRESHOLD = 0.2
VECTOR_SIMILARITY_WEIGHT = 0.3


def retrieval_pipeline(
    df: DataFrame,
    query_text: str,
    term_weights: list[tuple[str, float, bool]],
    page: int = 1,
    page_size: int = 10,
    rank_feature: dict[str, float] | None = None,
) -> DataFrame:
    """The reference's end-to-end retrieval orchestration
    (rag/nlp/search.py:348-431 ``retrieval``) as ONE Spark plan:

    1. recall: weighted-term match + dense cosine fused 0.05/0.95
       (search.py:114 FusionExpr), top ``RERANK_LIMIT`` candidates via
       TakeOrderedAndProject — the corpus is scanned once, both
       signals come from the same projection + one broadcast join;
    2. rerank over ONLY those candidates: token-set similarity
       (query weights vs doc membership) and dense cosine fused
       ``(1 - w) * tksim + w * dense`` (search.py:436-441 with
       tkweight = 1 - VECTOR_SIMILARITY_WEIGHT);
    3. threshold filter + deterministic pagination
       (sim >= SIMILARITY_THRESHOLD, rank by (sim desc, id), rows
       ``(page-1)*page_size .. page*page_size``).

    With ``rank_feature`` set, the boost participates in BOTH stages,
    mirroring the reference: the store-side search adds rank_feature
    ``should`` clauses to the stage-1 query (rag/utils/es_conn.py:
    215-219), so heavily boosted docs reach the candidate set; the
    stage-1 cut here orders by ``round(fused + rank_fea, 6)``.  Stage 2
    then adds the same boost to the fused rerank score exactly as the
    reference's ``rerank`` does (search.py:279-317: ``return sim +
    rank_fea``).  The tag columns ride along from the stage-1 scan, so
    the boost is one extra projection over the corpus scan — no second
    scan, and the cut stays a TakeOrderedAndProject.

    Stage 2-3 touch ``RERANK_LIMIT`` rows, so the windows there are
    k-row, never corpus-wide.  Fully replayable in external SQL (the
    driver oracle) — every hash is md5-derived.
    """
    from .embed import _HashEncoder, embed_chunks
    from .simsearch import as_double, cosine_pre, norm

    # _toks staged once; wft + token_sim below each reference it per
    # term (materialization rule, docs/PLANS.md)
    toks = F.col("_toks")
    wft = F.lit(0.0)
    tk_matched = F.lit(0.0)
    tk_total = 0.0
    for term, w, _syn in term_weights:
        w6 = round(w, 6)
        hit = F.array_contains(toks, F.lit(term))
        wft = wft + F.when(hit, F.lit(w6)).otherwise(F.lit(0.0))
        tk_matched = tk_matched + F.when(hit, F.lit(w6)).otherwise(F.lit(0.0))
        tk_total += w6

    chunks = df.select(F.col("doc_id").alias("chunk_id"), F.col("text").alias("content"))
    emb = embed_chunks(chunks, dim=32).withColumnRenamed("chunk_id", "doc_id")
    qv = _HashEncoder(32).encode([query_text])[0]
    qdf = (
        df.sparkSession.createDataFrame([(qv,)], "qv array<float>")
        .select(as_double(F.col("qv")).alias("_qdv"))
        .withColumn("_qn", norm(F.col("_qdv")))
    )

    extra_cols = []
    if rank_feature is not None:
        extra_cols.append(
            (F.col("tag_feas") if "tag_feas" in df.columns else F.lit(None).cast("string"))
            .alias("tag_feas")
        )
        extra_cols.append(
            (
                # coalesce like rank_feature_scores does: a NULL
                # pagerank would propagate through rank_fea into the
                # fused sim and silently drop the doc at the threshold
                F.coalesce(F.col("pagerank"), F.lit(0.0))
                if "pagerank" in df.columns
                else F.lit(0.0)
            ).alias("pagerank")
        )
    base = df.withColumn(
        "_toks", F.split(norm_text("text"), " ")
    ).select(
        F.col("doc_id"),
        F.round(wft, 6).alias("wft"),
        F.round((F.lit(1e-9) + tk_matched) / F.lit(1e-9 + tk_total), 6).alias(
            "token_sim"
        ),
        *extra_cols,
    )
    wft_max = base.agg(F.coalesce(F.max("wft"), F.lit(1.0)).alias("m"))
    scored = (
        base.join(
            emb.select(
                F.col("doc_id"), as_double(F.col("q_vec")).alias("_dv")
            ).withColumn("_dn", norm(F.col("_dv"))),
            "doc_id",
        )
        .crossJoin(F.broadcast(qdf))
        .crossJoin(F.broadcast(wft_max))
        .withColumn(
            "dense_sim",
            F.round(
                cosine_pre(
                    F.col("_dv"), F.col("_qdv"), F.col("_dn"), F.col("_qn")
                ),
                6,
            ),
        )
        .withColumn(
            "fused",
            F.round(
                F.lit(0.05)
                * F.when(F.col("m") > 0, F.col("wft") / F.col("m")).otherwise(F.lit(0.0))
                + F.lit(0.95) * F.col("dense_sim"),
                6,
            ),
        )
    )
    if rank_feature is not None:
        scored = _with_rank_fea(
            scored, rank_feature, "tag_feas", F.col("pagerank")
        )
        cut_key = F.round(F.col("fused") + F.col("rank_fea"), 6)
    else:
        cut_key = F.col("fused")
    cand = scored.orderBy(cut_key.desc(), F.asc("doc_id")).limit(RERANK_LIMIT)
    vw = VECTOR_SIMILARITY_WEIGHT
    hybrid = (
        F.lit(1.0 - vw) * F.col("token_sim") + F.lit(vw) * F.col("dense_sim")
    )
    if rank_feature is not None:
        sim_expr = F.round(F.round(hybrid, 6) + F.col("rank_fea"), 6)
    else:
        sim_expr = F.round(hybrid, 6)
    reranked = cand.withColumn("sim", sim_expr).where(
        F.col("sim") >= SIMILARITY_THRESHOLD
    )
    w_rank = Window.orderBy(F.desc("sim"), F.asc("doc_id"))
    lo, hi = (page - 1) * page_size, page * page_size
    out_cols = ["doc_id", "sim", "token_sim", "dense_sim", "fused", "rank"]
    if rank_feature is not None:
        out_cols.insert(2, "rank_fea")
    return (
        reranked.withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .where((F.col("rank") > lo) & (F.col("rank") <= hi))
        .select(*out_cols)
    )


def _with_rank_fea(
    df: DataFrame,
    query_rfea: dict[str, float],
    tag_col: str,
    pagerank: Column,
) -> DataFrame:
    """Append ``round(rank_fea + pagerank, 6)`` as column ``out``: the
    tag-similarity boost ``10 * <q, d> / (|d| * |q|)`` over the JSON
    tag map, 0 for tagless docs or a zero denominator.

    The parsed map and its squared-sum denominator are staged in their
    own projections (docs/PLANS.md materialization rule): the previous
    single-expression form re-ran ``from_json`` once per query tag plus
    once for the denominator fold, and the fold itself twice (guard
    condition + value) — an O(k)-fold duplication of the JSON parse
    that CollapseProject correctly preserves here because both staged
    aliases are non-cheap and multi-referenced.  Arithmetic order is
    unchanged, so the oracle rows stay hash-equal."""
    q = {t: float(s) for t, s in query_rfea.items() if t != "pagerank_fea"}
    q_denor = math.sqrt(sum(s * s for s in q.values())) or 1.0
    staged = df.withColumn(
        "_rf_tags", F.from_json(F.col(tag_col), "map<string,double>")
    ).withColumn(
        "_rf_denor",
        F.aggregate(
            F.map_values(F.col("_rf_tags")), F.lit(0.0), lambda acc, v: acc + v * v
        ),
    )
    nor = F.lit(0.0)
    for t, s in q.items():
        nor = nor + F.lit(s) * F.coalesce(
            F.col("_rf_tags").getItem(t), F.lit(0.0)
        )
    fea = (
        F.when(
            F.col(tag_col).isNull()
            | (F.coalesce(F.col("_rf_denor"), F.lit(0.0)) == 0),
            F.lit(0.0),
        ).otherwise(nor / F.sqrt(F.col("_rf_denor")) / F.lit(q_denor))
        * 10.0
    )
    return staged.withColumn("rank_fea", F.round(fea + pagerank, 6)).drop(
        "_rf_tags", "_rf_denor"
    )


def rank_feature_scores(
    df: DataFrame,
    query_rfea: dict[str, float],
) -> DataFrame:
    """The reference's rank-feature boost
    (rag/nlp/search.py:258-277 ``_rank_feature_scores``): per doc,

        score = 10 * (sum_t q[t] * d[t]) / sqrt(sum_t d[t]^2)
                   / sqrt(sum_t q[t]^2)  +  pagerank

    where ``d`` is the doc's tag->weight map (TAG_FLD, a JSON string
    in the store) and ``q`` the query-side tag weights (pagerank key
    excluded from the query norm, as the reference does).  Docs with
    no tags score 0 + pagerank; a zero denominator scores 0.

    Native expressions only: the JSON tag map parses with from_json
    into map<string,double> (staged once per row — see
    :func:`_with_rank_fea`), the dot product is a fold over the
    query-side literals (a few tags — driver-side).  Returns
    (id, rank_fea).
    """
    pagerank = (
        F.coalesce(F.col("pagerank"), F.lit(0.0))
        if "pagerank" in df.columns
        else F.lit(0.0)
    )
    return _with_rank_fea(df, query_rfea, "tag_feas", pagerank).select(
        F.col("doc_id"), F.col("rank_fea")
    )
