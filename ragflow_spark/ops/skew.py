"""Skew handling: hot-key detection + explicit salting.

The north rule calls for url-hash partitioning "with explicit salting
for skewed hosts".  Hashing the *full url* already spreads a viral
host's pages uniformly — the skew problem appears whenever work must be
keyed by a coarser unit (per-host politeness, per-host aggregation,
joins on host).  This module makes the standard remedies explicit:

* ``hot_keys`` — find keys holding more than ``threshold`` of the rows
  (one aggregate; at 10^12 rows run it on a sample or sketch — the
  call site controls the input).
* ``with_salt`` — append a deterministic salt component to the listed
  hot keys only: cold keys keep 1 partition's worth of locality, hot
  keys fan out over ``fanout`` subkeys.  Salt = xxhash64(url) % fanout,
  so the assignment is stable across runs (resume-safe).
* ``salted_agg`` — the two-phase aggregation pattern: partial aggregate
  on (key, salt), final aggregate on key.  Turns one hot reducer into
  ``fanout`` + 1 small ones.

AQE's skew-join splitting handles *join*-side skew at runtime; these
helpers handle aggregation/window skew and make the fan-out an explicit,
testable contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def host_of(url_col: Column) -> Column:
    """https://host/path -> host (pure column expr)."""
    return F.regexp_extract(url_col, r"^[a-z]+://([^/]+)", 1)


def hot_keys(df: DataFrame, key_col: str, threshold: float = 0.01) -> list[str]:
    """Keys carrying more than ``threshold`` fraction of rows."""
    total = df.count()
    if total == 0:
        return []
    rows = (
        df.groupBy(key_col)
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > total * threshold)
        .orderBy(F.desc("n"))
        .limit(1000)
        .collect()
    )
    return [r[key_col] for r in rows]


def with_salt(
    df: DataFrame,
    key_col: str,
    hot: list[str],
    salt_source: str = "url",
) -> DataFrame:
    """Add ``salted_key``: hot keys fan out over ``fanout`` stable
    subkeys, cold keys pass through unchanged."""
    salt = F.pmod(F.xxhash64(F.col(salt_source)), F.lit(16)).cast("string")
    is_hot = F.col(key_col).isin(hot) if hot else F.lit(False)
    return df.withColumn(
        "salted_key",
        F.when(is_hot, F.concat_ws("#", F.col(key_col), salt)).otherwise(
            F.col(key_col)
        ),
    )


def salted_agg(
    df: DataFrame,
    key_col: str,
    aggs: dict[str, str],
    salt_source: str = "url",
    threshold: float = 0.01,
) -> DataFrame:
    """Two-phase skew-safe aggregation for algebraic aggregates
    (count/sum/min/max): partial on (key, salt), final on key.

    ``aggs`` maps output column -> "count" | "sum:<col>" | "min:<col>"
    | "max:<col>".
    """
    hot = hot_keys(df, key_col, threshold)
    salted = with_salt(df, key_col, hot, salt_source)

    partial_exprs, final_exprs = [], []
    for out, spec in aggs.items():
        if spec == "count":
            partial_exprs.append(F.count("*").alias(out))
            final_exprs.append(F.sum(out).alias(out))
        else:
            op, col = spec.split(":", 1)
            partial_exprs.append(getattr(F, op)(col).alias(out))
            combine = {"sum": F.sum, "min": F.min, "max": F.max}[op]
            final_exprs.append(combine(out).alias(out))

    partial = salted.groupBy(key_col, "salted_key").agg(*partial_exprs)
    return partial.groupBy(key_col).agg(*final_exprs)


def partition_sizes(df: DataFrame, key_col: str) -> list[int]:
    """Row count per shuffle partition if partitioned by ``key_col`` —
    the balance diagnostic used in tests/benchmarks."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return [
        r["c"]
        for r in df.repartition(n, F.col(key_col))
        .withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.count("*").alias("c"))
        .collect()
    ]
