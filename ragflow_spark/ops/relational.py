"""Relational / event-stream operators (reference §2.9 analogues).

The reference's retrieval side does per-doc aggregation, deterministic
pagination (``ORDER BY ... LIMIT``) and raw SQL passthrough
(rag/nlp/search.py:78-97,148,440-442); here they are native DataFrame
plans, plus a gap-based sessionizer (the streaming-ish operator a
training-data pipeline needs for event tables).

Scale notes: sessionize is one shuffle on ``user_id`` (window
functions); the aggregations are partial-agg + single shuffle; top-k is
a windowed rank, deterministic under ties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    events: DataFrame,
    gap_sec: int = 1800,
) -> DataFrame:
    """Per-user session stats: a new session starts when the gap from
    the previous event exceeds ``gap_sec`` (strictly)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # whole-second epoch (truncated), timezone-free: TIMESTAMP_NTZ (the
    # type parquet naive timestamps load as) cannot cast to long, so
    # diff from a naive anchor; plain TIMESTAMP casts directly
    ts_type = dict(events.dtypes).get("ts", "timestamp")
    if ts_type == "timestamp_ntz":
        secs = F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
            "date_trunc('second', ts))"
        )
    else:
        secs = F.col("ts").cast("long")
    gap = secs - F.lag(secs).over(w)
    new_sess = F.when(gap.isNull() | (gap > gap_sec), F.lit(1)).otherwise(F.lit(0))
    sess = events.withColumn("_new", new_sess).withColumn(
        "_sess", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.max("_sess").cast("long").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .select("user_id", "n_sessions", "n_events")
    )


def event_type_stats(events: DataFrame) -> DataFrame:
    """Per-type stats.  The sum is computed over integer ten-thousandths
    (each value rounded once, then exact integer summation) so the
    result is bit-identical regardless of accumulation order — a float
    sum's last-ulp wobble could flip a rounded digit across engines."""
    cents = F.round(F.col("value") * 10000).cast("long")
    return (
        events.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(cents).alias("sum_value_e4"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
        .select("event_type", "n", "sum_value_e4", "min_value", "max_value")
    )


def hourly_rollup(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows per event type: the batch twin of the
    streaming windowed aggregation (hypertable-style rollup)."""
    cents = F.round(F.col("value") * 10000).cast("long")
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(cents).alias("sum_value_e4"),
        )
        .select("hour", "event_type", "n", "sum_value_e4")
    )


def props_stats(events: DataFrame) -> DataFrame:
    """Semi-structured column handling: extract ``k`` from the JSON
    ``props`` and aggregate per event type (JSON path evaluation stays
    JVM-side — no Python)."""
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.groupBy("event_type")
        .agg(
            F.count(k).alias("n_with_k"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        .select("event_type", "n_with_k", "sum_k", "min_k", "max_k")
    )


def user_running_value(events: DataFrame) -> DataFrame:
    """Ordered running sum per user (rows-unbounded-preceding window):
    the pagination/sort + window coverage in one deterministic query."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        events.where(F.col("user_id") < 20)
        .withColumn("running_value", F.round(F.sum("value").over(w), 4))
        .select("user_id", "event_id", "running_value")
    )


def top_users(events: DataFrame, k: int = 100) -> DataFrame:
    """Deterministic top-k pagination: rank by event count desc, ties by
    user id asc (stable across engines).

    Plan shape: orderBy().limit(k) compiles to TakeOrderedAndProject —
    each partition keeps its local top-k, only k rows reach the driver
    side of the exchange — then ranks are attached with a window over
    the k surviving rows.  A bare row_number() over an unpartitioned
    window would instead pull EVERY group through one task."""
    counts = events.groupBy("user_id").agg(F.count("*").alias("n"))
    topk = counts.orderBy(F.desc("n"), F.asc("user_id")).limit(k)
    w = Window.orderBy(F.desc("n"), F.asc("user_id"))
    return (
        topk.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("user_id", "n", "rank")
    )
