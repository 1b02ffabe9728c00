"""Multimodal plumbing and the embedding stage (Spark-level)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ragflow_spark.ops.embed import embed_chunks
from ragflow_spark.ops.multimodal import (
    fake_payload,
    media_meta,
    media_type_stats,
    parse_header,
    synthesize_media,
)
from ragflow_spark.ops.simsearch import knn_bruteforce


def test_parse_header_roundtrip():
    m = parse_header(fake_payload(5, "image"))
    assert m["media_type"] == "image" and m["width"] == 21 and m["channels"] == 3
    a = parse_header(fake_payload(5, "audio"))
    assert a["media_type"] == "audio" and a["sample_rate"] == 16000
    v = parse_header(fake_payload(5, "video"))
    assert v["media_type"] == "video" and v["n_frames"] == 4 + 5 % 4
    assert parse_header(b"junkbytes")["media_type"] == "opaque"
    assert parse_header(None)["media_type"] == "unknown"


def test_media_meta_and_stats(spark):
    media = synthesize_media(spark, 40)
    meta = media_meta(media)
    rows = {r["doc_id"]: r for r in meta.collect()}
    assert len(rows) == 40
    assert rows[0]["media_type"] == "image" and rows[0]["width"] is not None
    assert rows[1]["media_type"] == "audio" and rows[1]["sample_rate"] == 16000
    stats = {r["media_type"]: r["n"] for r in media_type_stats(media).collect()}
    assert stats == {"image": 10, "audio": 10, "video": 10, "opaque": 10}


def test_embed_chunks_deterministic_and_searchable(spark):
    chunks = spark.createDataFrame(
        [(i, f"title {i % 3}", f"content words {i} spark engine") for i in range(40)],
        "chunk_id long, title string, content string",
    )
    vecs = embed_chunks(chunks, dim=32)
    rows = vecs.collect()
    assert len(rows) == 40 and len(rows[0]["q_vec"]) == 32
    # determinism across runs
    again = {r["chunk_id"]: r["q_vec"] for r in embed_chunks(chunks, dim=32).collect()}
    assert all(again[r["chunk_id"]] == r["q_vec"] for r in rows)
    # plugs straight into similarity search
    emb = vecs.withColumnRenamed("chunk_id", "vec_id").withColumnRenamed("q_vec", "embedding")
    q = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = knn_bruteforce(emb, q, k=3)
    assert top.count() == 6
