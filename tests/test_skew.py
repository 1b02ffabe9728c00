"""Skew handling: hot-host detection, salting balance, salted agg."""

from __future__ import annotations

import statistics

from pyspark.sql import functions as F

from ragflow_spark.data.pagegen import pages_dataframe
from ragflow_spark.ops.skew import (
    host_of,
    hot_keys,
    partition_sizes,
    salted_agg,
    with_salt,
)


def _pages(spark):
    # Zipf-skewed hosts by construction (pagegen _HOSTS pool)
    return pages_dataframe(spark, 2000, seed=42, partitions=8).withColumn(
        "host", host_of(F.col("url"))
    )


def test_hot_keys_finds_viral_host(spark):
    pages = _pages(spark)
    hot = hot_keys(pages, "host", threshold=0.2)
    assert "hot.example.com" in hot
    assert "a.example.io" not in hot


def test_salting_balances_partitions(spark):
    pages = _pages(spark)
    hot = hot_keys(pages, "host", threshold=0.1)
    salted = with_salt(pages, "host", hot, salt_source="url")
    # key-level (deterministic): the viral host's 900 rows must fan out
    # so no single shuffle KEY dominates
    key_before = [r["n"] for r in pages.groupBy("host").agg(F.count("*").alias("n")).collect()]
    key_after = [r["n"] for r in salted.groupBy("salted_key").agg(F.count("*").alias("n")).collect()]
    assert max(key_after) < max(key_before) * 0.3
    assert sum(key_after) == sum(key_before) == 2000
    # partition-level (hash collisions add noise): still strictly better
    before = partition_sizes(pages, "host")
    after = partition_sizes(salted, "salted_key")
    assert max(after) < max(before)


def test_salt_is_deterministic(spark):
    pages = _pages(spark)
    hot = ["hot.example.com"]
    a = with_salt(pages, "host", hot).select("url", "salted_key").collect()
    b = with_salt(pages, "host", hot).select("url", "salted_key").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # cold hosts unchanged
    assert all("#" not in r["salted_key"] for r in a if not r["salted_key"].startswith("hot."))


def test_salted_agg_matches_plain_agg(spark):
    pages = _pages(spark)
    plain = {
        r["host"]: (r["n"], r["bytes"])
        for r in pages.groupBy("host")
        .agg(F.count("*").alias("n"), F.sum(F.length("html")).alias("bytes"))
        .collect()
    }
    salted = {
        r["host"]: (r["n"], r["bytes"])
        for r in salted_agg(
            pages.withColumn("_len", F.length("html")),
            "host",
            {"n": "count", "bytes": "sum:_len"},
            salt_source="url",
            threshold=0.1,
        ).collect()
    }
    assert salted == plain


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee: documents sharing a substring of length
    >= k + w - 1 share at least one fingerprint; short docs get none."""
    from ragflow_spark.ops.textstats import winnow_fingerprints

    shared = "this exact shared passage is long enough to survive winnowing"
    rows = [
        (1, "prefix junk here " + shared + " and a suffix"),
        (2, shared + " with a completely different tail of words"),
        (3, "nothing in common with the others at all whatsoever"),
        (4, "tiny"),  # < k chars -> zero fingerprints
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, k=8, w=8)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared passage must yield a common fingerprint"
    assert not (by_doc[1] & by_doc.get(3, set()))
    assert 4 not in by_doc
