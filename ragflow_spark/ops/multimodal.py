"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with
a small typed header; header parsing runs as an Arrow-batched
``mapInPandas`` stage (the same shape the reference uses for its vision
stages, deepdoc/vision/operators.py — there per-image numpy ops behind
an ONNX session).

No image/audio codec is used: the deterministic fake container format
below (``FIMG``/``FAUD``/``FVID`` headers) exercises the Spark
plumbing — schema, partitioning, UDF signatures, Arrow batch shapes —
end-to-end in tests and queries.

Fake container layout (big-endian):
  FIMG | w:u16 | h:u16 | channels:u8 | payload bytes
  FAUD | sample_rate:u32 | n_samples:u32 | payload bytes
  FVID | n_frames:u16 | w:u16 | h:u16 | payload bytes (frame-major)
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("n_payload_bytes", T.LongType()),
    ]
)

def parse_header(payload: bytes | None) -> dict:
    """Typed metadata from the fake container header (None fields for
    the other modalities)."""
    meta = {
        "media_type": "unknown",
        "width": None,
        "height": None,
        "channels": None,
        "sample_rate": None,
        "n_frames": None,
        "n_payload_bytes": 0,
    }
    if not payload or len(payload) < 4:
        return meta
    tag = bytes(payload[:4])
    body = bytes(payload[4:])
    if tag == b"FIMG" and len(body) >= 5:
        w, h, c = struct.unpack(">HHB", body[:5])
        meta.update(
            media_type="image", width=w, height=h, channels=c,
            n_payload_bytes=len(body) - 5,
        )
    elif tag == b"FAUD" and len(body) >= 8:
        sr, n = struct.unpack(">II", body[:8])
        meta.update(
            media_type="audio", sample_rate=sr, n_frames=n,
            n_payload_bytes=len(body) - 8,
        )
    elif tag == b"FVID" and len(body) >= 6:
        nf, w, h = struct.unpack(">HHH", body[:6])
        meta.update(
            media_type="video", n_frames=nf, width=w, height=h,
            n_payload_bytes=len(body) - 6,
        )
    else:
        meta.update(media_type="opaque", n_payload_bytes=len(payload))
    return meta


def media_meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(doc_id, payload) -> typed metadata rows."""
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            m = parse_header(payload)
            rows.append(
                (
                    doc_id, m["media_type"], m["width"], m["height"],
                    m["channels"], m["sample_rate"], m["n_frames"],
                    m["n_payload_bytes"],
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "media_type", "width", "height", "channels",
                "sample_rate", "n_frames", "n_payload_bytes",
            ],
        )


# --------------------------------------------------------------------------
# deterministic fake-media synthesis (tests / queries)
# --------------------------------------------------------------------------


def fake_payload(doc_id: int, kind: str) -> bytes:
    seed = hashlib.md5(f"{kind}|{doc_id}".encode()).digest()
    body = (seed * 8)[: 64 + (doc_id % 32)]
    if kind == "image":
        w, h = 16 + doc_id % 48, 16 + (doc_id * 7) % 48
        return b"FIMG" + struct.pack(">HHB", w, h, 3) + body
    if kind == "audio":
        return b"FAUD" + struct.pack(">II", 16000, 1000 + doc_id % 500) + body
    if kind == "video":
        w = h = 8
        n_frames = 4 + doc_id % 4
        return b"FVID" + struct.pack(">HHH", n_frames, w, h) + (seed * 16)[: n_frames * w * h]
    return body


def synthesize_media(spark, n_rows: int = 300) -> DataFrame:
    kinds = ["image", "audio", "video", "opaque"]
    rows = [
        (i, kinds[i % 4], bytearray(fake_payload(i, kinds[i % 4])))
        for i in range(n_rows)
    ]
    return spark.createDataFrame(rows, "doc_id long, kind string, payload binary")


def media_meta(media: DataFrame) -> DataFrame:
    return media.select("doc_id", "payload").mapInPandas(
        media_meta_batches, schema=MEDIA_META_SCHEMA
    )


def media_type_stats(media: DataFrame) -> DataFrame:
    """Per-modality counts + mean payload size (the corpus-audit query)."""
    return (
        media_meta(media)
        .groupBy("media_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_payload_bytes").alias("sum_bytes"),
        )
        .select("media_type", "n", "sum_bytes")
    )
