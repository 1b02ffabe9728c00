"""Parity for the MANUAL template (chunk/manual_template.py) vs the
reference's own rag/app/manual.py chunk() — executed from source with
the OCR-backed Pdf class replaced by a seeded fake, the REAL
bullets_category / title_frequency / not_bullet / not_title
AST-extracted from rag/nlp/__init__.py, and the tokenizer/token
counter shared from OUR implementations."""

from __future__ import annotations

import ast
import random
import re
import sys
import types

import pytest

from ragflow_spark.chunk.manual_template import manual_pdf_chunks
from ragflow_spark.text import tokenizer as our_tok
from ragflow_spark.text.tokens import count_tokens
from tests.conftest import read_reference

REF_MANUAL = "/root/reference/rag/app/manual.py"
REF_NLP = "/root/reference/rag/nlp/__init__.py"


@pytest.fixture(scope="module")
def ref_chunk():
    # real level helpers from rag/nlp
    tree = ast.parse(read_reference(REF_NLP))
    names = {"bullets_category", "title_frequency", "not_bullet", "not_title"}
    nodes = []
    for n in tree.body:
        if isinstance(n, ast.FunctionDef) and n.name in names:
            nodes.append(n)
        elif isinstance(n, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "BULLET_PATTERN" for t in n.targets
        ):
            nodes.append(n)
    from collections import Counter

    nlp_ns = {"re": re, "Counter": Counter}
    exec(compile(ast.Module(body=nodes, type_ignores=[]), REF_NLP, "exec"), nlp_ns)

    mods: dict[str, types.ModuleType] = {}

    def mod(name, **attrs):
        m = types.ModuleType(name)
        for k, v in attrs.items():
            setattr(m, k, v)
        mods[name] = m
        return m

    rag_tokenizer = mod("rag.nlp.rag_tokenizer",
                        tokenize=our_tok.tokenize_text,
                        fine_grained_tokenize=our_tok.fine_grained)
    mod("rag.nlp",
        rag_tokenizer=rag_tokenizer,
        tokenize=lambda d, t, eng: d.__setitem__("content_with_weight", t),
        tokenize_table=lambda tbls, doc, eng: [],
        bullets_category=nlp_ns["bullets_category"],
        title_frequency=nlp_ns["title_frequency"],
        tokenize_chunks=lambda chunks, doc, eng, pdf=None: [
            {"content_with_weight": c} for c in chunks if c.strip()
        ],
        docx_question_level=lambda p, bull=-1: (
            (int(p.style.name.split(" ")[-1]), p.text.strip())
            if p.style.name.startswith("Heading")
            else (0, p.text.strip())
        ))
    mod("rag.utils", num_tokens_from_string=count_tokens)
    mod("rag", nlp=mods["rag.nlp"], utils=mods["rag.utils"])
    mod("api.db", ParserType=types.SimpleNamespace(MANUAL=types.SimpleNamespace(value="manual")))
    mod("api", db=mods["api.db"])
    mod("deepdoc.parser",
        PdfParser=type("PdfParser", (), {"__init__": lambda self: None}),
        PlainParser=type("PlainParser", (), {}),
        DocxParser=type("DocxParser", (), {}))
    mod("deepdoc", parser=mods["deepdoc.parser"])
    mod("docx", Document=object)
    mod("PIL", Image=types.SimpleNamespace())

    saved = {}
    for name, m in mods.items():
        saved[name] = sys.modules.get(name)
        sys.modules[name] = m
    ns = {"__name__": "ref_manual", "__file__": REF_MANUAL}
    try:
        exec(compile(read_reference(REF_MANUAL), REF_MANUAL, "exec"), ns)
    finally:
        for name, old in saved.items():
            if old is None:
                sys.modules.pop(name, None)
            else:
                sys.modules[name] = old
    return ns


def _ref_pdf(ns, sections, tbls, outlines):
    class _FakePdf:
        def __init__(self):
            self.outlines = list(outlines)
            self.is_english = True

        def __call__(self, *a, **k):
            ref_tbls = [((None, rows), poss) for rows, poss in tbls]
            return list(sections), ref_tbls

        def crop(self, tag, need_position=True):
            return None, tag

        @staticmethod
        def remove_tag(txt):
            return txt

    old = ns["Pdf"]
    ns["Pdf"] = _FakePdf
    try:
        res = ns["chunk"]("m.pdf", binary=b"x", callback=lambda *a, **k: None,
                          lang="English")
    finally:
        ns["Pdf"] = old
    return [d["content_with_weight"] for d in res]


def _sections(case: str):
    """(sections, outlines) fixtures; poss = [(pn, l, r, t, b)]."""
    if case == "outline":
        secs = [
            ("Chapter One Setup and Installation", "title", [(1, 50, 400, 40, 54)]),
            ("body text about installing the engine here", "text", [(1, 50, 400, 60, 74)]),
            ("more body with several words to count now", "text", [(1, 50, 400, 80, 94)]),
            ("Chapter Two Configuration Options", "title", [(1, 50, 400, 200, 214)]),
            ("config body one with plenty of words inside", "text", [(1, 50, 400, 220, 234)]),
            ("Subsection Advanced Tuning", "title", [(2, 50, 400, 30, 44)]),
            ("tuning body text continues across the page", "text", [(2, 50, 400, 50, 64)]),
        ]
        outlines = [
            ("Chapter One Setup and Installation", 0),
            ("Chapter Two Configuration Options", 0),
            ("Subsection Advanced Tuning", 1),
        ]
        return secs, outlines
    # bullet case: no usable outline -> title_frequency path
    secs = [
        ("1. Introduction", "title", [(1, 50, 400, 40, 54)]),
        ("intro body words " * 5, "text", [(1, 50, 400, 60, 74)]),
        ("2. Details", "title", [(1, 50, 400, 100, 114)]),
        ("details body words " * 5, "text", [(1, 50, 400, 120, 134)]),
        ("2.1 Sub details", "title", [(1, 50, 400, 140, 154)]),
        ("sub details body " * 4, "text", [(1, 50, 400, 160, 174)]),
    ]
    return secs, []


TBLS = [(["name：alpha; count：2", "second row"], [(0, 60.0, 300.0, 90.0, 99.0)])]


class TestManualParity:
    @pytest.mark.parametrize("case", ["outline", "bullet"])
    def test_pdf_branch(self, ref_chunk, case):
        secs, outlines = _sections(case)
        want = _ref_pdf(ref_chunk, secs, TBLS, outlines)
        got = [c for c in manual_pdf_chunks(secs, TBLS, outlines) if c.strip()]
        assert got == want

    def test_pdf_fuzz(self, ref_chunk):
        rng = random.Random(17)
        words = "engine shuffle config tuning install options body text".split()
        for trial in range(10):
            secs = []
            y = 30.0
            pn = 1
            for i in range(rng.randint(3, 14)):
                if rng.random() < 0.3:
                    txt = f"{i}. " + " ".join(rng.choice(words) for _ in range(3))
                    lay = "title"
                else:
                    txt = " ".join(rng.choice(words) for _ in range(rng.randint(4, 30)))
                    lay = "text"
                secs.append((txt, lay, [(pn, 50.0, 400.0, y, y + 14.0)]))
                y += 20
                if y > 400:
                    pn += 1
                    y = 30.0
            tbls = []
            if rng.random() < 0.5:
                tbls = [(["r1", "r2"], [(0, 60.0, 300.0, rng.uniform(30, 300), 310.0)])]
            want = _ref_pdf(ref_chunk, secs, tbls, [])
            got = [c for c in manual_pdf_chunks(secs, tbls, []) if c.strip()]
            assert got == want, trial
