"""spark-submit entry point for the extraction job.

Usage (the north-rule launch shape):

    python scripts/make_pyfiles.py                      # -> dist/ragflow_spark.zip
    spark-submit --master <cluster> \
        --driver-java-options "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m" \
        --py-files dist/ragflow_spark.zip \
        scripts/spark_job.py \
        --pages <pages parquet/iceberg dir> --out <output dir> \
        [--template naive] [--budget 128] [--buckets 4096] \
        [--buckets-per-commit N] [--no-resume]

On a cluster the zip ships the package to every executor; the job is
the resumable bucket pipeline (ragflow_spark/spark/pipeline.py): url-hash
buckets, per-bucket dynamic-overwrite commits, manifest lineage, and a
restart that skips the buckets the manifest marks done (the driver
reads it back in committed_buckets).  All argument parsing and run
logic live in ragflow_spark.spark.pipeline.cli() — this file only
supplies the session, built with ragflow_spark.session.configure: the
one conf set the in-process runs and the benchmark use too.

The driver-java-options string is ragflow_spark.session.JVM_FLAGS:
configure() gives it to the executors, but the driver JVM runs before
configure() does, so the driver's copy comes from the launch line.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def main() -> None:
    from ragflow_spark.session import configure
    from ragflow_spark.spark.pipeline import cli

    # spark-submit provides the cluster config (master, executors, ...)
    builder = SparkSession.builder.appName("ragflow_spark.extract")
    cli(None, configure(builder).getOrCreate())


if __name__ == "__main__":
    main()
