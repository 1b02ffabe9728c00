"""Exact BPE (text/bpe.py): merge-order semantics, cl100k pretokenizer
behavior, ranks-file loading, and the deploy-time env switch that makes
``count_tokens`` vocabulary-exact (rag/utils/__init__.py:78-89 parity at
deploy)."""

from __future__ import annotations

import base64

import pytest

from ragflow_spark.text.bpe import (
    ENV_VAR,
    BpeEncoder,
    byte_pair_merge,
    deployed_encoder,
    load_tiktoken_ranks,
)

RANKS_PATH = "tests/goldens/mini_cl100k.tiktoken"


@pytest.fixture(scope="module")
def ranks():
    return load_tiktoken_ranks(RANKS_PATH)


@pytest.fixture(scope="module")
def enc(ranks):
    return BpeEncoder(ranks)


def test_ranks_file_roundtrip(ranks):
    assert len(ranks) == 274
    assert ranks[b"a"] == ord("a")
    assert ranks[b"he"] == 256
    assert ranks[b" the"] == 264


def test_merge_picks_lowest_rank_first(ranks):
    # "the": pairs th(257) / he(256) -> he merges first, then t+he=the(260)
    assert byte_pair_merge(b"the", ranks) == [b"the"]
    # partial table: "xq" has no ranked pair, stays split
    assert byte_pair_merge(b"xq", ranks) == [b"x", b"q"]


def test_merge_leftmost_on_tie():
    ranks = {b"a": 0, b"b": 1, b"aa": 2}
    # "aaa": both pairs rank 2 -> leftmost merges first: [aa, a]
    assert byte_pair_merge(b"aaa", ranks) == [b"aa", b"a"]


def test_pretokenizer_cl100k_shapes(enc):
    # contraction split, space folded into the following word
    pieces = [m.group() for m in enc._pat.finditer("we've the cats")]
    assert pieces == ["we", "'ve", " the", " cats"]
    # digits chunk in threes
    assert [m.group() for m in enc._pat.finditer("12345")] == ["123", "45"]
    # punctuation takes the preceding space
    assert [m.group() for m in enc._pat.finditer("a , b")] == ["a", " ,", " b"]


def test_encode_known_ids(enc, ranks):
    # " the" is a whole-piece hit
    assert enc.encode(" the") == [ranks[b" the"]]
    # "the" -> single merged token; "thin" -> th + in
    assert enc.encode("the") == [ranks[b"the"]]
    assert enc.encode("thin") == [ranks[b"th"], ranks[b"in"]]
    # a byte with no rank encodes as the -1 sentinel
    assert BpeEncoder({b"a": 0, b"b": 1, b"ab": 2}).encode("aqb") == [0, -1, 1]


def test_count_and_truncate(enc):
    text = "the thin cat"
    ids = enc.encode(text)
    assert enc.count(text) == len(ids)


def test_utf8_multibyte_counts(enc):
    # CJK chars have no ranked pairs in the mini table -> one token per
    # UTF-8 byte (3 each); with the real vocabulary this shrinks, but
    # the algorithm must not crash or drop bytes
    assert enc.count("数据") == 6


def test_env_switch_makes_count_exact(monkeypatch):
    from ragflow_spark.text import tokens

    deployed_encoder.cache_clear()
    monkeypatch.setenv(ENV_VAR, RANKS_PATH)
    try:
        assert tokens.count_tokens("the") == 1  # estimator would say 1 too
        # estimator counts ceil(7/7)=1 for "thinner"; exact BPE gives
        # th+in+n+er = 4 with the mini table -> proves the switch is live
        assert tokens.count_tokens("thinner") == 4
    finally:
        deployed_encoder.cache_clear()


def test_no_env_falls_back_to_estimator(monkeypatch):
    from ragflow_spark.text import tokens

    monkeypatch.delenv(ENV_VAR, raising=False)
    deployed_encoder.cache_clear()
    assert deployed_encoder() is None
    assert tokens.count_tokens("thinner") == 1  # ceil(7/7)


def test_rank_file_format_is_published_format(tmp_path):
    # write and re-read a fresh file through the same loader
    p = tmp_path / "r.tiktoken"
    p.write_text(
        f"{base64.b64encode(b'a').decode()} 0\n"
        f"{base64.b64encode(b'ab').decode()} 1\n"
    )
    r = load_tiktoken_ranks(str(p))
    assert r == {b"a": 0, b"ab": 1}


# -- property tests (hypothesis) -------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None, derandomize=True)
@given(st.text(max_size=80))
def test_encode_decode_roundtrip_lossless(text):
    """With every single byte ranked (as in cl100k and the mini
    table), encode/decode is lossless for arbitrary unicode text."""
    enc = BpeEncoder(load_tiktoken_ranks(RANKS_PATH))
    assert enc.decode(enc.encode(text)) == text


@settings(max_examples=200, deadline=None, derandomize=True)
@given(st.text(min_size=1, max_size=60))
def test_count_bounded_by_utf8_length(text):
    """Token count never exceeds the UTF-8 byte length (merges only
    shrink) and is at least 1 for non-empty text."""
    enc = BpeEncoder(load_tiktoken_ranks(RANKS_PATH))
    n = enc.count(text)
    assert 1 <= n <= len(text.encode("utf-8"))


@settings(max_examples=100, deadline=None, derandomize=True)
@given(st.text(max_size=40), st.text(max_size=40))
def test_concat_subadditive_up_to_boundary(a, b):
    """Counting a+b can only save tokens versus counting separately
    (a merge can span the seam) — it never costs more than one extra
    boundary piece."""
    enc = BpeEncoder(load_tiktoken_ranks(RANKS_PATH))
    assert enc.count(a + b) <= enc.count(a) + enc.count(b) + 1
