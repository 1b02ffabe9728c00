"""Parity for the PDF QA state machine (chunk/qa.py:qa_from_pdf_boxes)
vs the reference's own ``Pdf.__call__`` walk (rag/app/qa.py:80-183).

The reference class is executed from source with its OCR/layout stack
stubbed to no-ops over pre-seeded boxes, its table extractor returning
pre-built (rows, positions) groups, and crop() returning the raw
position tag — while has_qbullet / qbullets_category / index_int are
the REAL reference functions AST-extracted from rag/nlp/__init__.py.
Both sides therefore share detectors and data; differences isolate the
interleave walk."""

from __future__ import annotations

import ast
import copy
import re
import sys
import types

import pytest

from ragflow_spark.chunk.qa import qa_from_pdf_boxes
from tests.conftest import read_reference

REF_QA = "/root/reference/rag/app/qa.py"
REF_NLP = "/root/reference/rag/nlp/__init__.py"


def _line_tag(box) -> str:
    return "@@{}\t{:.1f}\t{:.1f}\t{:.1f}\t{:.1f}##".format(
        box["page_number"], box["x0"], box["x1"], box["top"], box["bottom"]
    )


@pytest.fixture(scope="module")
def ref_nlp_fns():
    tree = ast.parse(read_reference(REF_NLP))
    names = {"has_qbullet", "qbullets_category", "index_int", "not_bullet"}
    nodes = []
    for n in tree.body:
        if isinstance(n, ast.FunctionDef) and n.name in names:
            nodes.append(n)
        elif isinstance(n, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "QUESTION_PATTERN" for t in n.targets
        ):
            nodes.append(n)
    ns = {"re": re}
    exec(compile(ast.Module(body=nodes, type_ignores=[]), REF_NLP, "exec"), ns)
    return ns


@pytest.fixture(scope="module")
def ref_pdf_cls(ref_nlp_fns):
    mods: dict[str, types.ModuleType] = {}

    def mod(name, **attrs):
        m = types.ModuleType(name)
        for k, v in attrs.items():
            setattr(m, k, v)
        mods[name] = m
        return m

    from ragflow_spark.text import tokenizer as our_tok

    mod("openpyxl", load_workbook=lambda *a: None)
    mod("deepdoc.parser.utils", get_text=lambda *a, **k: "")
    mod("deepdoc.parser",
        PdfParser=type("PdfParser", (), {}),
        ExcelParser=type("ExcelParser", (), {}),
        DocxParser=type("DocxParser", (), {}))
    mod("deepdoc", parser=mods["deepdoc.parser"])
    rag_tokenizer = mod("rag.nlp.rag_tokenizer",
                        tokenize=our_tok.tokenize_text,
                        fine_grained_tokenize=our_tok.fine_grained)
    mod("rag.nlp",
        is_english=lambda texts: True,
        random_choices=lambda arr, k: list(arr)[:k],
        qbullets_category=ref_nlp_fns["qbullets_category"],
        add_positions=lambda d, poss: None,
        has_qbullet=ref_nlp_fns["has_qbullet"],
        docx_question_level=lambda p, bull=-1: (0, p.text),
        rag_tokenizer=rag_tokenizer,
        tokenize_table=lambda tbls, doc, eng: [],
        concat_img=lambda a, b: a or b)
    mod("rag.utils", get_float=lambda v: float(v) if v is not None else float("-inf"))
    mod("rag", nlp=mods["rag.nlp"], utils=mods["rag.utils"])
    mod("docx", Document=object)
    mod("PIL", Image=types.SimpleNamespace())
    mod("markdown", markdown=lambda t, extensions=None: t)

    saved = {}
    for name, m in mods.items():
        saved[name] = sys.modules.get(name)
        sys.modules[name] = m
    ns = {"__name__": "ref_qa_pdf", "__file__": REF_QA}
    try:
        exec(compile(read_reference(REF_QA), REF_QA, "exec"), ns)
    finally:
        for name, old in saved.items():
            if old is None:
                sys.modules.pop(name, None)
            else:
                sys.modules[name] = old
    return ns["Pdf"]


def _ref_run(ref_pdf_cls, boxes, tbls):
    pdf = ref_pdf_cls()
    pdf.boxes = copy.deepcopy(boxes)
    # OCR/layout stack: no-ops over the pre-seeded boxes (note the
    # class-private name mangling on __images__)
    setattr(pdf, "__images__", lambda *a, **k: None)  # dunder: not name-mangled
    pdf._layouts_rec = lambda *a, **k: None
    pdf._table_transformer_job = lambda *a, **k: None
    pdf._text_merge = lambda *a, **k: None
    ref_tbls = [((None, rows), poss) for rows, poss in copy.deepcopy(tbls)]
    pdf._extract_table_figure = lambda *a, **k: ref_tbls
    pdf._line_tag = lambda box, zoomin: _line_tag(box)
    pdf.crop = lambda tag, need_position: (None, tag)
    qai, _t = pdf("f.pdf", binary=b"x", callback=lambda *a, **k: None)
    return [(q, a, poss) for q, a, _img, poss in qai]


PAGE_H = 800.0  # tops are cumulative across pages, like the real pipeline


def _box(pn, text, x0, top, layout="text"):
    top = (pn - 1) * PAGE_H + top
    return dict(
        page_number=pn, text=text, x0=float(x0), x1=float(x0) + 400.0,
        top=float(top), bottom=float(top) + 14.0, layout_type=layout,
    )


def _fixture():
    boxes = [
        # a heading first: the reference's has_qbullet guards compare
        # against the previous box, so the very first box can never
        # start a question (quirk shared by both sides)
        _box(1, "FAQ document heading", 50, 10),
        _box(1, "1. What is a shuffle?", 50, 40),
        _box(1, "Rows are exchanged between executors.", 50, 60),
        _box(1, "It happens on groupBy and join keys.", 50, 80),
        _box(1, "2. Why broadcast small tables?", 50, 200),
        _box(1, "It avoids shuffling the large side.", 50, 220),
        _box(2, "3. How does AQE help?", 50, 30),
        _box(2, "It re-plans with runtime statistics.", 50, 50),
        _box(2, "Final closing remark with no bullet.", 50, 70),
    ]
    # one table inside answer 2 (page 1, between y=220 and the next
    # question on page 2), one table after the last section
    tbls = [
        (["k:v\n", "a:1\n"], [(0, 60.0, 300.0, 240.0, 280.0)]),
        (["late:tbl\n"], [(1, 60.0, 300.0, 500.0, 540.0)]),
    ]
    return boxes, tbls


class TestPdfQaParity:
    def test_walk_parity(self, ref_pdf_cls):
        boxes, tbls = _fixture()
        want = _ref_run(ref_pdf_cls, boxes, tbls)
        got = qa_from_pdf_boxes(
            copy.deepcopy(boxes), copy.deepcopy(tbls), _line_tag
        )
        assert got == want
        assert len(got) == 3
        # table text spliced into the second answer
        assert "k:v" in got[1][1]

    def test_no_bullets_raises(self, ref_pdf_cls):
        boxes = [_box(1, "just prose", 50, 40), _box(1, "more prose", 50, 60)]
        with pytest.raises(ValueError):
            qa_from_pdf_boxes(boxes, [], _line_tag)

    def test_fuzz_parity(self, ref_pdf_cls):
        import random

        rng = random.Random(31)
        qwords = ["What is X?", "Why use Y?", "How to Z?", "Where is Q?"]
        for trial in range(12):
            boxes = []
            y = 30.0
            pn = 1
            qn = 1
            for _ in range(rng.randint(3, 12)):
                r = rng.random()
                if r < 0.4:
                    boxes.append(_box(pn, f"{qn}. {rng.choice(qwords)}", 50, y))
                    qn += 1
                else:
                    boxes.append(
                        _box(pn, f"answer text {trial} {y}", 50, y)
                    )
                y += rng.choice([20.0, 160.0])
                if y > 700:
                    pn += 1
                    y = 30.0
            tbls = []
            for t in range(rng.randint(0, 3)):
                tp = rng.randint(0, pn - 1)
                ty = rng.uniform(30, 700)
                tbls.append(
                    ([f"tbl{t}:val\n"], [(tp, 60.0, 300.0, ty, ty + 40.0)])
                )
            try:
                want = _ref_run(ref_pdf_cls, boxes, tbls)
                err = None
            except ValueError as e:
                want, err = None, e
            if err is not None:
                with pytest.raises(ValueError):
                    qa_from_pdf_boxes(copy.deepcopy(boxes), copy.deepcopy(tbls), _line_tag)
                continue
            got = qa_from_pdf_boxes(
                copy.deepcopy(boxes), copy.deepcopy(tbls), _line_tag
            )
            assert got == want, trial


def test_docx_question_level_bullet_path(ref_nlp_fns):
    """Bullet-grammar branch of docx_question_level vs the reference
    function (AST-extracted with BULLET_PATTERN)."""
    tree = ast.parse(read_reference(REF_NLP))
    nodes = [
        n
        for n in tree.body
        if (isinstance(n, ast.FunctionDef) and n.name == "docx_question_level")
        or (
            isinstance(n, ast.Assign)
            and any(
                isinstance(t, ast.Name) and t.id == "BULLET_PATTERN"
                for t in n.targets
            )
        )
    ]
    ns = {"re": re}
    exec(compile(ast.Module(body=nodes, type_ignores=[]), REF_NLP, "exec"), ns)
    ref_fn = ns["docx_question_level"]

    from ragflow_spark.chunk.qa import docx_question_level

    class P:
        def __init__(self, text, style):
            self.text = text
            self.style = types.SimpleNamespace(name=style)

    cases = [
        ("第一章 总则", "Normal", 0),
        ("第二条 定义", "Normal", 0),
        ("（三）内容", "Normal", 0),
        ("1. numbered", "Normal", 1),
        ("Chapter II", "Normal", 3),
        ("Section 4", "Normal", 3),
        ("plain body text", "Normal", 2),
        ("第一章 总则", "Heading 2", 0),
        ("anything", "Heading 3", -1),
    ]
    for text, style, bull in cases:
        assert docx_question_level(text, style, bull) == ref_fn(P(text, style), bull), (
            text, style, bull,
        )
