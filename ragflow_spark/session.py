"""SparkSession factory tuned for the extraction workload.

Scale notes (100 TB design point):
* one conf set serves both launch paths: ``configure`` is applied by
  ``get_spark`` and by ``scripts/spark_job.py`` under spark-submit, so
  the submitted job runs the measured confs.  Engine code sets none.
* AQE on — runtime partition coalescing + skew-join splitting.
* Arrow on, with a bounded batch size so one giant HTML page cannot blow
  a Python worker (reference caps docs at 128 MB, rag/settings.py:58;
  we cap the Arrow batch instead).  128 rows/batch measured best for
  the extraction UDF: smaller batches pipeline scan/IPC/Python better
  than big ones (swept 64/128/256/1024/2048 at 16 and 32 cores).
* shuffle partitions default to cores in local mode; on a real cluster
  this would be ~2-3x total executor cores (configured at submit time).
* no conf removes the per-task zip re-read (see spark/udfs.py): its guard
  goes once workers run CPython >= 3.13 or PySpark drops that call.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def configure(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply the engine confs to ``builder`` and return it."""
    return (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "128")
        # byte bound beats the row bound for adversarial inputs: 128
        # rows of 100 MB pages would be a 12 GB batch; pinned so the
        # guarantee survives Spark default changes
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "64m")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )


def get_spark(
    app_name: str = "ragflow_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        configure(SparkSession.builder.appName(app_name))
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
