"""Table catalog: Iceberg when a catalog is configured and the runtime
is on the classpath, parquet directories otherwise — one flag, same
call sites.

The north rule targets Iceberg tables (`pages`, `chunks`, the resume
manifest).  This sandbox has no iceberg-spark-runtime jar, so the
catalog probes for it at session time and transparently falls back to
plain parquet paths; the chunk commits go through these helpers, so
flipping to Iceberg on a real cluster is configuration, not code:

    spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<v> \
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.lake.type=hadoop \
      --conf spark.sql.catalog.lake.warehouse=<path> ...

Iceberg-mode upgrades the engine gets for free once active:
* MERGE INTO for idempotent chunk upserts (instead of dynamic
  partition overwrite per bucket);
* hidden partitioning (`bucket(N, url)`) replacing our explicit
  bucket column;
* partition/file pruning from table metadata.

The resume manifest is not a catalog table: in both modes it is a
parquet log the driver writes and reads through the Hadoop FS API
(spark/pipeline.py ``_append_manifest``).  Carrying its rows in the
snapshot summary of the Iceberg ``overwritePartitions`` commit waits
until an Iceberg runtime is on the machine.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame, SparkSession

_IDENT_OK = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*$")
_IDENT_BAD = re.compile(r"[^A-Za-z0-9_]")
CATALOG_NAME = "lake"  # the Iceberg catalog a deployment configures


def iceberg_available(spark: SparkSession) -> bool:
    """True only when Iceberg writes through ``lake.<table>``
    identifiers can actually work: the catalog must be CONFIGURED on
    the session (``spark.sql.catalog.<name>``) and the runtime class
    loadable.  The class probe goes through Spark's own Utils
    (context/Spark classloader) because ``--packages``/``--jars`` jars
    land in Spark's MutableURLClassLoader, which the py4j gateway's
    ``java.lang.Class.forName`` (system classloader) cannot see.  That
    loader's parent is the app class loader, so Utils finds every
    class ``Class.forName`` does: a second probe never rescues."""
    try:
        impl = spark.conf.get(f"spark.sql.catalog.{CATALOG_NAME}", None)
    except Exception:  # noqa: BLE001
        impl = None
    if not impl:
        return False
    try:
        spark._jvm.org.apache.spark.util.Utils.classForName(
            "org.apache.iceberg.spark.SparkCatalog", False, False
        )
    except Exception:  # noqa: BLE001 - class absent
        return False
    return True


def iceberg_ident(table: str) -> str:
    """Valid Iceberg identifier for either a plain table name or a
    filesystem path.  PipelineConfig hands us paths like
    ``/tmp/out/chunks``; the readable part maps every path
    component (non-identifier chars -> ``_``) and a short content
    hash of the ORIGINAL string keeps distinct directories mapped
    to distinct tables — '_'-folding alone is not injective
    ('/tmp/out-2/x' and '/tmp/out_2/x' would share a table and
    silently mix two pipelines' data)."""
    if _IDENT_OK.fullmatch(table):
        return f"{CATALOG_NAME}.{table}"
    parts = [p for p in table.replace("\\", "/").split("/") if p]
    name = "_".join(_IDENT_BAD.sub("_", p) for p in parts) or "t"
    if name[0].isdigit():
        name = "t_" + name
    tag = hashlib.md5(table.encode("utf-8")).hexdigest()[:8]
    return f"{CATALOG_NAME}.{name}_{tag}"


class Catalog:
    """Iceberg when the runtime is present, parquet otherwise."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.iceberg = iceberg_available(spark)

    def _table_exists(self, ident: str) -> bool:
        try:
            return self.spark.catalog.tableExists(ident)
        except Exception:  # noqa: BLE001 - treat catalog errors as absent
            return False

    def overwrite_partitions(
        self,
        df: DataFrame,
        table_or_path: str,
        partition_col: str,
        codec: str | None = None,
    ) -> None:
        """Idempotent per-partition commit: Iceberg overwritePartitions,
        parquet dynamic partition overwrite.

        ``codec`` sets the parquet compression per write (A/B at 100k
        pages: zstd chunks are 27% smaller than snappy at equal wall —
        BENCH.md r4; at corpus scale output bytes ARE the write cost on
        network-attached storage).  On the Iceberg path compression is
        a table property (``write.parquet.compression-codec``) set at
        table creation, not per write."""
        if self.iceberg:
            from pyspark.sql import functions as F

            ident = iceberg_ident(table_or_path)
            if not self._table_exists(ident):
                # first commit creates the table partitioned by the
                # commit column, so later overwritePartitions calls
                # replace exactly one bucket's files
                w = df.writeTo(ident).using("iceberg").partitionedBy(
                    F.col(partition_col)
                )
                if codec:
                    w = w.tableProperty("write.parquet.compression-codec", codec)
                w.create()
            else:
                df.writeTo(ident).overwritePartitions()
        else:
            # dynamic overwrite as a write option, never a session conf:
            # it replaces only the partitions present in ``df``
            w = df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            if codec:
                w = w.option("compression", codec)
            w.partitionBy(partition_col).parquet(table_or_path)
