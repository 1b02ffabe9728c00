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
* every JVM runs ``JVM_FLAGS``: C1 only.  A job's JVMs are fresh, and
  C2's compiler threads compete with the Python workers for the cores.
  They never settle (C2 still took 0.15 of the JVM's 0.40 ms of CPU per
  document after 64,000 ``cc_mix`` documents at local[4]), and C1's
  code runs the plan as fast.  ``TieredStopAtLevel=1`` also shrinks the
  code cache from 240 MB to 48 MB; a long commit run plans many
  queries, so the flags pin it back at 240m, away from the full-cache
  cliff where the JIT stops compiling.  ``configure`` sets the
  executors' copy and ``get_spark`` the driver's (PySpark launches that
  JVM from the builder's confs).  Under spark-submit the driver JVM is
  already running, so its copy goes on the launch line:
  ``--driver-java-options "<JVM_FLAGS>"`` (``scripts/spark_job.py``).
  ``defaultJavaOptions``, not ``extraJavaOptions``, so a user's own
  ``extraJavaOptions`` still apply, later on the command line.
* a ``get_spark`` session's Python workers fork from ``DAEMON_MODULE``
  (``ragflow_spark/daemon.py``), not PySpark's daemon: it swaps the
  ``$SPARK_HOME/python/lib`` zips on its ``sys.path`` for compiled
  copies, then runs PySpark's daemon unchanged.  zipimport never caches
  bytecode, so every new SparkContext's daemon compiled PySpark again:
  1.0-1.5 s of each warm set-up cycle, 0.2-0.3 s from the copy.  The
  copies live in ``~/.cache/ragflow_spark/pylib`` (mode 0700), one
  directory per archive name, size, mtime and Python cache tag, made
  once and published with a rename; a copy someone else owns or could
  write is ignored, and any failure leaves the zip in place.
  ``configure`` does not set it: under spark-submit an executor gets
  the engine only per task, from ``--py-files``, so a daemon naming it
  could not start; there each executor's daemon compiles PySpark once
  per executor life.  A local session's workers get the directory that
  holds the package on their ``PYTHONPATH`` (``ENGINE_ROOT``), so the
  daemon and every UDF import the engine whatever the working
  directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

JVM_FLAGS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
DAEMON_MODULE = "ragflow_spark.daemon"
# the directory that holds the package: a local session's workers put it
# on their PYTHONPATH, so they import the daemon and the engine from any
# working directory (Python puts only the working directory there itself)
ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
        .config("spark.executor.defaultJavaOptions", JVM_FLAGS)
    )


def get_spark(app_name: str = "ragflow_spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        configure(SparkSession.builder.appName(app_name))
        .master(master)
        .config("spark.sql.shuffle.partitions", str(int(cpus)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.defaultJavaOptions", JVM_FLAGS)
        .config("spark.python.daemon.module", DAEMON_MODULE)
        .config("spark.executorEnv.PYTHONPATH", ENGINE_ROOT)
    )
    return builder.getOrCreate()
