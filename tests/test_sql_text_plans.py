"""The engine writes its expressions as SQL text (selectExpr, F.expr,
string where), which builds in a few py4j calls.  Each must mean what
the Column-API form it replaced meant: the oracles below are those
forms, and the normalized optimized plans must be equal."""

import random
import re

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from ragflow_spark.data.pagegen import pages_dataframe
from ragflow_spark.spark import pipeline as P
from ragflow_spark.spark.udfs import (
    CHUNKS_SCHEMA,
    EXTRACTED_SCHEMA,
    extract_batches,
    make_chunk_batches,
)


def _prune_oracle(pages, keep_cols=()):
    keep_text = (
        F.col("html").isNull()
        | (F.length("html") == 0)
        | (F.instr(F.substring(F.col("html").cast("string"), 1, 64), "%PDF-") > 0)
    )
    return pages.select(
        *keep_cols,
        "url",
        "html",
        F.when(keep_text, F.col("text")).alias("text"),
        "lang",
    ).where(F.coalesce(F.length("html"), F.lit(0)) <= P.MAX_HTML_BYTES)


def _with_bucket_oracle(pages, n_buckets):
    return pages.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")
    )


def _chunk_id_oracle(chunks):
    return chunks.withColumn("chunk_id", F.xxhash64("content", "url"))


def _plan(df) -> str:
    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString())


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sqltext") / "pages")
    pages_dataframe(spark, 40, seed=3, partitions=2).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def pages(spark, pages_path):
    return spark.read.parquet(pages_path)


def test_transform_plans_equal_the_column_api(pages):
    cfg = P.PipelineConfig(out_dir="")
    chunk_fn = make_chunk_batches(cfg.template, cfg.budget, cfg.delimiters)
    chunks = _chunk_id_oracle(_prune_oracle(pages).mapInPandas(chunk_fn, schema=CHUNKS_SCHEMA))
    assert _plan(P.transform_chunks(pages, cfg)) == _plan(chunks)
    extracted = _prune_oracle(pages).mapInPandas(extract_batches, schema=EXTRACTED_SCHEMA)
    assert _plan(P.transform_extracted(pages)) == _plan(extracted)


def test_stage_write_plan_equals_the_column_api(spark, pages_path, tmp_path, monkeypatch):
    # 8 KB splits: the input spans more splits than cores, so the
    # two-group run stages it (its own session keeps the shared confs)
    spark = spark.newSession()
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8k")
    pages = spark.read.parquet(pages_path)
    assert pages.rdd.getNumPartitions() > spark.sparkContext.defaultParallelism
    written = {}
    real = DataFrameWriter.parquet

    def recording(self, path, *args, **kw):
        written[path] = _plan(self._df)
        return real(self, path, *args, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    cfg = P.PipelineConfig(out_dir=str(tmp_path / "out"), n_buckets=4, buckets_per_commit=2)
    P.run_pipeline(spark, pages, cfg)
    spread = -(-spark.sparkContext.defaultParallelism // cfg.buckets_per_commit)
    staged = _prune_oracle(_with_bucket_oracle(pages, 4), keep_cols=("bucket",)).repartition(
        4 * spread, F.col("bucket"), F.pmod(F.xxhash64(F.col("url"), F.lit(1)), F.lit(spread))
    )
    assert written[f"{cfg.out_dir}/stage_nb4"] == _plan(staged)


@pytest.mark.parametrize("n_buckets", [1, 7, 64])
def test_with_bucket_equals_the_column_api(spark, n_buckets):
    rng = random.Random(n_buckets)
    urls = [
        "".join(chr(rng.randrange(32, 127)) for _ in range(rng.randrange(0, 40)))
        for _ in range(200)
    ]
    urls += ["https://例え.jp/ページ?q=ü", "https://x.test/😀", "", None]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = P.with_bucket(df, n_buckets)
    want = _with_bucket_oracle(df, n_buckets)
    assert _plan(got) == _plan(want)
    rows = got.select("url", "bucket").collect()
    assert rows == want.select("url", "bucket").collect()
    assert all(0 <= r["bucket"] < n_buckets for r in rows)
