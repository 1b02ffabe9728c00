"""Behavior + plan-shape tests for the weighted full-text family
(ops/retrieval.py: weighted_fulltext_scores / token_sim_scores /
hybrid_similarity_rerank) and the QueryBuilder glue that feeds them."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ragflow_spark.ops.retrieval import (
    hybrid_similarity_rerank,
    token_sim_scores,
    weighted_fulltext_scores,
)
from ragflow_spark.text.querybuild import QueryBuilder
from ragflow_spark.text.synonyms import SynonymLookup
from ragflow_spark.text.term_weight import TermWeighter

from tests.test_plans import plan_str


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "spark joins the small table"),
        (2, "merge the rows of data"),
        (3, "nothing relevant here at all"),
        (4, "spark spark spark table"),  # repeats must not double-count
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


PAIRS = [("spark", 0.5, False), ("table", 0.3, False), ("merge", 0.125, True)]


def test_weighted_fulltext_membership_scoring(docs):
    got = {
        r["doc_id"]: r["score"]
        for r in weighted_fulltext_scores(docs, PAIRS, top_k=10).collect()
    }
    # doc 1: spark + table; doc 2: merge; doc 4: spark + table (repeats
    # count once); doc 3 filtered out (score 0)
    assert got == {1: 0.8, 4: 0.8, 2: 0.125}


def test_weighted_fulltext_rank_ties_on_id(docs):
    rows = weighted_fulltext_scores(docs, PAIRS, top_k=10).collect()
    ranked = sorted(rows, key=lambda r: r["rank"])
    assert [r["doc_id"] for r in ranked] == [1, 4, 2]


def test_token_sim_formula(docs):
    qw = [("spark", 0.5), ("table", 0.3), ("absent", 0.2)]
    got = {
        r["doc_id"]: r["token_sim"]
        for r in token_sim_scores(docs, qw, top_k=10).collect()
    }
    total = 1e-9 + 1.0
    assert got[1] == round((1e-9 + 0.8) / total, 6)
    assert got[3] == round(1e-9 / total, 6)


def test_weighted_fulltext_plan_no_shuffle_before_topk(docs):
    p = plan_str(weighted_fulltext_scores(docs, PAIRS, top_k=5), mode="simple")
    assert "TakeOrderedAndProject" in p, p
    # membership scoring is a pure projection: no join, no aggregate
    assert "Join" not in p, p
    assert "HashAggregate" not in p, p


def test_hybrid_similarity_rerank_runs(docs):
    out = hybrid_similarity_rerank(
        docs, "spark table", [("spark", 0.5), ("table", 0.5)], top_k=3
    )
    rows = out.collect()
    assert len(rows) == 3
    assert set(out.columns) == {"doc_id", "hybrid", "token_sim", "dense_sim", "rank"}
    # fusion parity 0.3/0.7 (rag/nlp/query.py:219-237)
    for r in rows:
        assert r["hybrid"] == round(0.3 * r["token_sim"] + 0.7 * r["dense_sim"], 6)


def test_query_builder_weighted_terms_synonyms():
    tw = TermWeighter(ne={"spark": "corp"}, df={"table": 1000})
    syn = SynonymLookup(wordnet_fn=lambda tk: ["grid"] if tk == "table" else [])
    ws = lambda s: " ".join(s.split())  # noqa: E731
    qb = QueryBuilder(weighter=tw, synonyms=syn, tokenize=ws)
    pairs = qb.weighted_terms("what is the spark table")
    terms = {t: (w, s) for t, w, s in pairs}
    assert "spark" in terms and "table" in terms and "grid" in terms
    assert terms["grid"][1] is True
    # synonym carries w/4 of its source term
    assert terms["grid"][0] == pytest.approx(terms["table"][0] / 4)
    # ner boost: corp-tagged spark outweighs plain table
    assert terms["spark"][0] > terms["table"][0]
    # weights normalized over the ORIGINAL query terms
    base = sum(w for t, (w, s) in terms.items() if not s)
    assert base == pytest.approx(1.0)


def test_retrieval_pipeline_end_to_end(docs):
    from ragflow_spark.ops.retrieval import retrieval_pipeline

    out = retrieval_pipeline(
        docs,
        "spark table",
        [("spark", 0.5, False), ("table", 0.3, False), ("merge", 0.125, True)],
        page=1,
        page_size=3,
    )
    rows = out.collect()
    assert 0 < len(rows) <= 3
    for r in rows:
        # rerank fusion: (1 - 0.3) * token_sim + 0.3 * dense_sim.
        # Spark's round() is HALF_UP (like the DuckDB oracle), python's
        # is banker's — compare with the HALF_UP rule.
        from decimal import ROUND_HALF_UP, Decimal

        want = float(
            Decimal(repr(0.7 * r["token_sim"] + 0.3 * r["dense_sim"])).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        assert r["sim"] == want
    ranks = [r["rank"] for r in rows]
    assert ranks == sorted(ranks) and ranks[0] == 1


def test_retrieval_pipeline_candidate_stage_take_ordered(docs):
    from ragflow_spark.ops.retrieval import retrieval_pipeline

    p = plan_str(
        retrieval_pipeline(docs, "spark", [("spark", 1.0, False)]),
        mode="simple",
    )
    # the corpus-wide stage must end in a k-row heap, not a global sort
    assert "TakeOrderedAndProject" in p, p


def test_retrieval_pipeline_pagination(docs, monkeypatch):
    from ragflow_spark.ops import retrieval
    from ragflow_spark.ops.retrieval import retrieval_pipeline

    monkeypatch.setattr(retrieval, "RERANK_LIMIT", 4)
    monkeypatch.setattr(retrieval, "SIMILARITY_THRESHOLD", 0.0)
    kw = dict(
        query_text="spark table",
        term_weights=[("spark", 0.5, False), ("table", 0.5, False)],
        page_size=2,
    )
    p1 = retrieval_pipeline(docs, page=1, **kw).collect()
    p2 = retrieval_pipeline(docs, page=2, **kw).collect()
    ids1 = {r["doc_id"] for r in p1}
    ids2 = {r["doc_id"] for r in p2}
    assert ids1.isdisjoint(ids2)
    assert [r["rank"] for r in p2] == [3, 4][: len(p2)]


def test_rank_feature_boost_reaches_candidate_cut(spark, monkeypatch):
    """A heavily boosted doc outside the fused top-k still surfaces:
    the stage-1 cut orders by ``fused + rank_fea``, mirroring the
    store-side rank_feature should-clauses (rag/utils/es_conn.py:
    215-219) that boost recall before the rerank.  The cut is shrunk
    to two rows so four docs exercise it."""
    from ragflow_spark.ops import retrieval
    from ragflow_spark.ops.retrieval import retrieval_pipeline

    monkeypatch.setattr(retrieval, "RERANK_LIMIT", 2)
    monkeypatch.setattr(retrieval, "SIMILARITY_THRESHOLD", 0.0)
    rows = [
        (1, "spark joins the small table", None, 0.0),
        (2, "spark merge the rows of data", None, 0.0),
        (3, "nothing relevant here at all", '{"boost": 5.0}', 5.0),
        (4, "spark spark spark table", None, 0.0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, tag_feas string, pagerank double"
    )
    kw = dict(
        query_text="spark table",
        term_weights=[("spark", 0.5, False), ("table", 0.5, False)],
        page_size=4,
    )
    plain = retrieval_pipeline(docs, **kw)
    assert 3 not in {r["doc_id"] for r in plain.collect()}
    boosted = retrieval_pipeline(docs, rank_feature={"boost": 1.0}, **kw)
    by_id = {r["doc_id"]: r for r in boosted.collect()}
    # tag cosine is exact (10 * 1.0) plus pagerank 5.0
    assert 3 in by_id and by_id[3]["rank_fea"] == pytest.approx(15.0)
    assert by_id[3]["rank"] == 1
    # the boosted cut is still a k-row heap, not a global sort
    assert "TakeOrderedAndProject" in plan_str(boosted, mode="simple")


def test_rank_feature_scores(spark):
    from ragflow_spark.ops.retrieval import rank_feature_scores

    rows = [
        (1, '{"a": 3.0, "b": 4.0}', 0.5),  # overlaps query on "a"
        (2, '{"c": 2.0}', 0.0),            # no overlap -> pagerank only
        (3, None, 0.2),                    # no tags -> pagerank only
    ]
    df = spark.createDataFrame(rows, "doc_id long, tag_feas string, pagerank double")
    got = {
        r["doc_id"]: r["rank_fea"]
        for r in rank_feature_scores(df, {"a": 2.0, "pagerank_fea": 10}).collect()
    }
    import math

    want1 = round((2.0 * 3.0) / math.sqrt(9.0 + 16.0) / 2.0 * 10.0 + 0.5, 6)
    assert got[1] == want1
    assert got[2] == 0.0
    assert got[3] == 0.2
