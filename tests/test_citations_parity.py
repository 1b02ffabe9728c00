"""Parity for citation insertion vs the reference's own
``Dealer.insert_citations`` (rag/nlp/search.py:164-270), AST-extracted
and run with the hybrid-similarity, tokenizer and encoder shared from
OUR implementations on both sides — differences isolate the piece
splitting, threshold decay and marker placement."""

from __future__ import annotations

import ast
import re
import types

import numpy as np
import pytest

from ragflow_spark.ops.citations import insert_citations, split_answer_pieces
from ragflow_spark.ops.embed import _HashEncoder
from ragflow_spark.text.querybuild import QueryBuilder, hybrid_similarity_of, rm_www
from ragflow_spark.text import tokenizer as our_tok
from tests.conftest import read_reference

REF = "/root/reference/rag/nlp/search.py"


@pytest.fixture(scope="module")
def ref_insert():
    tree = ast.parse(read_reference(REF))
    cls = next(
        n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "Dealer"
    )
    fn = next(
        n for n in cls.body
        if isinstance(n, ast.FunctionDef) and n.name == "insert_citations"
    )
    ns = {
        "re": re,
        "np": np,
        "logging": __import__("logging"),
        "rag_tokenizer": types.SimpleNamespace(tokenize=our_tok.tokenize_text),
    }
    exec(compile(ast.Module(body=[fn], type_ignores=[]), REF, "exec"), ns)

    builder = QueryBuilder()

    class _Qryr:
        @staticmethod
        def rmWWW(t):
            return rm_www(t)

        @staticmethod
        def hybrid_similarity(avec, bvecs, atks, btkss, tkweight=0.3, vtweight=0.7):
            return hybrid_similarity_of(
                builder, avec, bvecs, atks, btkss, tkweight, vtweight
            )

    stub = types.SimpleNamespace(qryr=_Qryr())

    enc = _HashEncoder(32)

    class _Emb:
        @staticmethod
        def encode(texts):
            return enc.encode(texts), 0

    def run(answer, chunks, chunk_v):
        return ns["insert_citations"](stub, answer, chunks, list(chunk_v), _Emb())

    return run


CHUNKS = [
    "Shuffles exchange rows between executors across the network.",
    "Broadcast joins copy the small table to every executor.",
    "Adaptive query execution re-plans stages with runtime statistics.",
]


@pytest.fixture(scope="module")
def chunk_vecs():
    return _HashEncoder(32).encode(CHUNKS)


ANSWERS = [
    "Shuffles exchange rows between executors across the network. "
    "Broadcast joins copy the small table to every executor.\n"
    "Nothing related to the corpus here at all.",
    "A shuffle moves rows; a broadcast copies the small table. "
    "adaptive query execution re-plans stages with runtime statistics.\n",
    "```\ncode block that must stay intact. with periods!\n```\n"
    "Broadcast joins copy the small table to every executor.",
    "Totally unrelated text with no overlap whatsoever in any words.",
    "Short.",
]




_MARKER_RUN = re.compile(r"(?: \[ID:\d+\])+")


def _norm_marker_runs(res: str) -> str:
    """Sort each consecutive run of citation markers numerically.

    The reference emits cites in list(set(...)) order — randomized
    string hashing, different every interpreter run — while this
    engine emits them numerically sorted (deterministic by design).
    Membership is what parity means here; within-run order is the
    reference's RNG."""

    def _sort(m: re.Match) -> str:
        ids = sorted(re.findall(r"\[ID:(\d+)\]", m.group(0)), key=int)
        return "".join(f" [ID:{i}]" for i in ids)

    return _MARKER_RUN.sub(_sort, res)


class TestCitationParity:
    def test_piece_split_matches(self):
        # the splitter is a pure function: verify fence handling
        pieces = split_answer_pieces(ANSWERS[2])
        assert any(p.startswith("```") for p in pieces)

    @pytest.mark.parametrize("ans_i", range(len(ANSWERS)))
    def test_insert_citations(self, ref_insert, chunk_vecs, ans_i):
        answer = ANSWERS[ans_i]
        want_res, want_set = ref_insert(answer, CHUNKS, [list(v) for v in chunk_vecs])
        got_res, got_set = insert_citations(
            answer,
            CHUNKS,
            [list(v) for v in chunk_vecs],
            encode_fn=_HashEncoder(32).encode,
        )
        assert _norm_marker_runs(got_res) == _norm_marker_runs(want_res), ans_i
        assert got_set == want_set, ans_i

    def test_empty_chunks(self, ref_insert):
        got = insert_citations("Some answer.", [], [], encode_fn=_HashEncoder(32).encode)
        assert got == ("Some answer.", set())

    def test_dim_mismatch_zeroed(self, ref_insert, chunk_vecs):
        # a chunk vector of the wrong dimension zeroes out, like the
        # reference's padding path
        bad = [list(chunk_vecs[0]), [0.5] * 8, list(chunk_vecs[2])]
        want_res, want_set = ref_insert(ANSWERS[0], CHUNKS, [list(v) for v in bad])
        got_res, got_set = insert_citations(
            ANSWERS[0], CHUNKS, [list(v) for v in bad],
            encode_fn=_HashEncoder(32).encode,
        )
        assert _norm_marker_runs(got_res) == _norm_marker_runs(want_res)
        assert got_set == want_set
