"""Multimodal plumbing, embedding stage, streaming ingest (Spark-level)."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from ragflow_spark.data.pagegen import pages_dataframe
from ragflow_spark.ops.embed import embed_chunks
from ragflow_spark.ops.multimodal import (
    fake_payload,
    media_meta,
    media_type_stats,
    parse_header,
    synthesize_media,
)
from ragflow_spark.ops.simsearch import knn_bruteforce
from ragflow_spark.streaming import stream_extract


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


def test_stream_extract_availablenow_incremental(spark, monkeypatch):
    """Incremental exactly-once pickup, and the stream runs the batch
    plan: its output equals ``transform_chunks`` over the same files,
    the html byte cap included (one page is over the cap)."""
    import datetime as dt

    from ragflow_spark.data.pagegen import PAGE_SCHEMA
    from ragflow_spark.spark import pipeline

    tmp = tempfile.mkdtemp(prefix="rs_stream_")
    in_dir, out_dir, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
    try:
        first_pages = pages_dataframe(spark, 60, seed=42, partitions=2)
        later_pages = pages_dataframe(spark, 120, seed=43, partitions=2).withColumn(
            "url", F.concat(F.lit("b2-"), F.col("url"))
        )
        cap = max(
            df.agg(F.max(F.length("html"))).first()[0]
            for df in (first_pages, later_pages)
        )
        monkeypatch.setattr(pipeline, "MAX_HTML_BYTES", cap)
        over_url = "https://big.example.com/over-cap"
        over_cap = spark.createDataFrame(
            [(over_url, dt.datetime(2024, 1, 1),
              b"<html><body><p>" + b"word " * cap + b"</p></body></html>",
              "over the cap", "English")],
            PAGE_SCHEMA,
        )
        first_pages.unionByName(over_cap).write.mode("append").parquet(in_dir)
        q = stream_extract(spark, in_dir, out_dir, ckpt)
        q.awaitTermination(120)
        first = spark.read.parquet(out_dir)
        n1 = first.count()
        urls1 = first.select("url").distinct().count()
        assert n1 > 0
        # new files arrive (distinct url space) -> second availableNow
        # run picks up ONLY them
        later_pages.write.mode("append").parquet(in_dir)
        q2 = stream_extract(spark, in_dir, out_dir, ckpt)
        q2.awaitTermination(180)
        second = spark.read.parquet(out_dir)
        assert second.count() > n1
        # exactly-once: no duplicate (url, chunk_ord) pairs
        dup = (
            second.groupBy("url", "chunk_ord").count().where(F.col("count") > 1).count()
        )
        assert dup == 0
        assert second.select("url").distinct().count() > urls1
        batch = pipeline.transform_chunks(
            spark.read.parquet(in_dir), pipeline.PipelineConfig(out_dir=out_dir)
        )
        assert sorted(second.collect()) == sorted(batch.select(*second.columns).collect())
        assert second.where(F.col("url") == over_url).count() == 0
    finally:
        for s in spark.streams.active:
            s.stop()
        shutil.rmtree(tmp, ignore_errors=True)
