"""Structured-Streaming ingestion mode (SURVEY.md §1.3/§7 optional).

The batch job (spark/pipeline.py) is the primary path at 10^12 rows;
this module is the continuous-arrival variant: new page files landing
in a directory are picked up, extracted and chunked incrementally with
exactly-once sink semantics via the streaming checkpoint — the
streaming replacement for the reference's Redis task queue + ack loop
(rag/svr/task_executor.py:189-227).

Scale notes: ``maxFilesPerTrigger`` bounds per-micro-batch work; the
stateless extract UDF needs no watermark (no aggregation); the file
sink is idempotent per checkpoint.  For a real deployment the source
would be cloud-storage notifications or Kafka — same plan shape.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..data.pagegen import PAGE_SCHEMA
from ..spark.pipeline import PipelineConfig, transform_chunks


def stream_extract(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    template: str = "naive",
    budget: int = 128,
    available_now: bool = True,
    max_files_per_trigger: int = 64,
):
    """Start (and with ``available_now`` run-to-completion) the
    streaming extract+chunk job — the batch ``transform_chunks`` plan
    over the stream; returns the StreamingQuery."""
    pages = (
        spark.readStream.schema(PAGE_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(in_dir)
    )
    cfg = PipelineConfig(out_dir=out_dir, template=template, budget=budget)
    writer = (
        transform_chunks(pages, cfg)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
