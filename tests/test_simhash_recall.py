"""Property test for the pigeonhole banding in simhash_pairs: with
(max_hamming + 1) segments, EVERY pair within the radius must be found
— recall is exact, not probabilistic (ADVICE r01: the old 4x16-bit
banding silently lost pairs at d > 3)."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from ragflow_spark.ops.dedup import simhash64, simhash_pairs


@pytest.fixture(scope="module")
def corpus(spark):
    # near-dup families: small word edits produce small hamming gaps
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = []
    words = base.split()
    for i in range(40):
        w = list(words)
        # progressively mutate: replace i%7 words deterministically
        for j in range(i % 7):
            w[(i + j * 3) % len(w)] = f"tok{i}{j}"
        rows.append((i, " ".join(w)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _true_pairs(spark, corpus, max_hamming):
    sigs = {
        r["doc_id"]: r["sh"]
        for r in corpus.select(
            "doc_id", simhash64(F.lower(F.col("text"))).alias("sh")
        ).collect()
    }
    out = set()
    for a, b in itertools.combinations(sorted(sigs), 2):
        d = bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")
        if d <= max_hamming:
            out.add((a, b))
    return out


@pytest.mark.parametrize("max_hamming", [3, 8, 12])
def test_all_pairs_within_radius_found(spark, corpus, max_hamming):
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs(corpus, max_hamming=max_hamming).collect()
    }
    want = _true_pairs(spark, corpus, max_hamming)
    missing = want - got
    assert not missing, f"pigeonhole missed {len(missing)} pairs: {sorted(missing)[:5]}"
    # and nothing beyond the radius sneaks through
    assert got == want


def test_zero_radius_exact_dups(spark):
    rows = [(1, "same text here"), (2, "same text here"), (3, "different words entirely now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]) for r in simhash_pairs(df, max_hamming=0).collect()}
    assert got == {(1, 2)}


def test_null_and_empty_texts_never_pair(spark):
    """r4 deliberate semantics change: null texts are excluded at the
    scan (pre-r4 they hashed to signature 0 and paired with each other
    and with genuinely-zero-signature docs — junk pairs at corpus
    scale, inconsistent with minhash's verify stage which drops them).
    Empty-string texts still participate (they tokenize to one empty
    token and pair among themselves)."""
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "real prose here"), (4, "real prose here")],
        "doc_id long, text string",
    )
    got = {(r["id_a"], r["id_b"]) for r in simhash_pairs(df, max_hamming=3).collect()}
    assert got == {(3, 4)}
