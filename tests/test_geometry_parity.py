"""Parity vs the reference's own Recognizer geometry statics.

``Recognizer``'s spatial sorts (deepdoc/vision/recognizer.py:54-111)
are dependency-free at class-def time (numpy + cmp_to_key); the class
is extracted from source AST and its static methods are run
side-by-side with ragflow_spark.pdf.geometry on randomized box sets.
Byte-exact agreement here pins the XY-cut reading order the whole PDF
stack builds on.
"""

from __future__ import annotations

import ast
import logging
import math
import random
import re
from collections import Counter
from functools import cmp_to_key

import numpy as np
import pytest

from ragflow_spark.pdf.geometry import (
    sort_cols_first,
    sort_rows_first,
    sort_x_first,
    sort_y_first,
)
from tests.conftest import REFERENCE_ROOT, read_reference


@pytest.fixture(scope="module")
def ref_cls():
    src = read_reference(f"{REFERENCE_ROOT}/deepdoc/vision/recognizer.py")
    tree = ast.parse(src)
    cls = next(
        n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "Recognizer"
    )
    ns = {
        "np": np,
        "cmp_to_key": cmp_to_key,
        "Counter": Counter,
        "re": re,
        "math": math,
        "logging": logging,
        "os": __import__("os"),
    }
    exec(compile(ast.Module(body=[cls], type_ignores=[]), "recognizer", "exec"), ns)
    return ns["Recognizer"]


def _rand_boxes(rng: random.Random, n: int, tagged: bool = False) -> list[dict]:
    out = []
    for i in range(n):
        x0 = rng.uniform(0, 500)
        top = rng.uniform(0, 700)
        b = {
            "x0": x0,
            "x1": x0 + rng.uniform(5, 200),
            "top": top,
            "bottom": top + rng.uniform(5, 40),
            "text": f"box{i}",
            "page_number": 1,
            "layoutno": f"t{rng.randrange(3)}",
        }
        if tagged and rng.random() < 0.7:
            b["R"] = rng.randrange(4)
        if tagged and rng.random() < 0.7:
            b["C"] = rng.randrange(4)
        out.append(b)
    return out


def _keys(boxes):
    return [b["text"] for b in boxes]


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("thr", [0.0, 3.0, 12.0])
def test_sort_parity(ref_cls, seed, thr):
    rng = random.Random(seed)
    boxes = _rand_boxes(rng, 25)
    assert _keys(sort_y_first(boxes, thr)) == _keys(ref_cls.sort_Y_firstly(boxes, thr))
    assert _keys(sort_x_first(boxes, thr)) == _keys(ref_cls.sort_X_firstly(boxes, thr))


@pytest.mark.parametrize("seed", range(6))
def test_rc_sort_parity(ref_cls, seed):
    rng = random.Random(100 + seed)
    boxes = _rand_boxes(rng, 20, tagged=True)
    assert _keys(sort_rows_first(boxes, 2.0)) == _keys(
        ref_cls.sort_R_firstly([dict(b) for b in boxes], 2.0)
    )
    assert _keys(sort_cols_first(boxes, 2.0)) == _keys(
        ref_cls.sort_C_firstly([dict(b) for b in boxes], 2.0)
    )


# -- RAGFlowPdfParser merge methods (fake-self extraction) -----------------


@pytest.fixture(scope="module")
def ref_pdf(ref_cls):
    src = read_reference(f"{REFERENCE_ROOT}/deepdoc/parser/pdf_parser.py")
    tree = ast.parse(src)
    cls = next(
        n
        for n in tree.body
        if isinstance(n, ast.ClassDef) and n.name == "RAGFlowPdfParser"
    )
    ns = {
        "np": np,
        "re": re,
        "logging": logging,
        "math": math,
        "os": __import__("os"),
        "Recognizer": ref_cls,
        "cmp_to_key": cmp_to_key,
        "timeout_decorator": None,
        "rag_tokenizer": None,
    }
    try:
        exec(
            compile(ast.Module(body=[cls], type_ignores=[]), "pdf_parser", "exec"), ns
        )
    except Exception as exc:  # pragma: no cover - env-dependent class body
        pytest.skip(f"RAGFlowPdfParser class not extractable: {exc}")
    return ns["RAGFlowPdfParser"]


class _FakePdf:
    def __init__(self, boxes, mean_height, mean_width=None, is_english=True):
        self.boxes = [dict(b) for b in boxes]
        self.mean_height = mean_height
        self.mean_width = mean_width or [50.0] * len(mean_height)
        self.is_english = is_english

    # the reference computes these on self; reproduce its formulas
    # (deepdoc/parser/pdf_parser.py:196-203)
    def _y_dis(self, a, b):
        return (b["top"] + b["bottom"] - a["top"] - a["bottom"]) / 2

    def _x_dis(self, a, b):
        return min(
            abs(a["x1"] - b["x0"]), abs(a["x0"] - b["x1"]),
            abs(a["x0"] + a["x1"] - b["x0"] - b["x1"]) / 2,
        )


def _line_boxes(rng, n):
    out = []
    y = 0.0
    for i in range(n):
        y += rng.uniform(8, 20)
        x0 = rng.uniform(0, 60)
        tail = rng.choice([",", ".", "", ";", "!", " and", "word"])
        out.append(
            {
                "x0": x0,
                "x1": x0 + rng.uniform(40, 400),
                "top": y,
                "bottom": y + rng.uniform(8, 14),
                "text": f"line {i} text{tail}",
                "page_number": 1,
                "layoutno": f"t{rng.randrange(2)}",
            }
        )
    return out


@pytest.mark.parametrize("seed", range(6))
def test_text_merge_parity(ref_pdf, seed):
    from ragflow_spark.pdf.geometry import merge_horizontal

    rng = random.Random(700 + seed)
    boxes = _line_boxes(rng, 20)
    fake = _FakePdf(boxes, mean_height=[12.0])
    ref_pdf._text_merge(fake)
    theirs = [b["text"] for b in fake.boxes]
    ours = [b["text"] for b in merge_horizontal([dict(b) for b in boxes], [12.0])]
    assert ours == theirs


# -- _line_tag --------------------------------------------------------------


class _Img:
    def __init__(self, w, h):
        self.size = (w, h)


@pytest.mark.parametrize("seed", range(5))
def test_line_tag_parity(ref_pdf, seed):
    from ragflow_spark.pdf.geometry import line_tag

    rng = random.Random(1000 + seed)
    ZM = 3
    heights = [800.0, 800.0, 600.0]
    cum = [0.0, 800.0, 1600.0]
    fake = _FakePdf([], mean_height=[12.0])
    fake.page_cum_height = cum
    fake.page_images = [_Img(612 * ZM, int(h * ZM)) for h in heights]
    for _ in range(30):
        pn = rng.randrange(1, 4)
        top = cum[pn - 1] + rng.uniform(0, heights[pn - 1] + 100)
        box = {
            "x0": round(rng.uniform(0, 500), 2),
            "x1": round(rng.uniform(0, 500), 2),
            "top": top,
            "bottom": top + rng.uniform(5, 300),
            "page_number": pn,
        }
        theirs = ref_pdf._line_tag(fake, dict(box), ZM)
        ours = line_tag(dict(box), cum, heights)
        assert ours == theirs


# -- TableStructureRecognizer.blockType / is_caption -----------------------


@pytest.fixture(scope="module")
def ref_tsr(ref_cls):
    import types as _types

    from ragflow_spark.text.tokenizer import tokenize_text

    src = read_reference(f"{REFERENCE_ROOT}/deepdoc/vision/table_structure_recognizer.py")
    tree = ast.parse(src)
    cls = next(
        n
        for n in tree.body
        if isinstance(n, ast.ClassDef) and n.name == "TableStructureRecognizer"
    )
    fake_tok = _types.SimpleNamespace(
        tokenize=tokenize_text, tag=lambda t: "", fine_grained_tokenize=lambda t: t
    )
    ns = {
        "np": np,
        "re": re,
        "logging": logging,
        "Counter": Counter,
        "os": __import__("os"),
        "Recognizer": ref_cls,
        "rag_tokenizer": fake_tok,
        "get_project_base_directory": lambda: "/tmp",
        "snapshot_download": None,
    }
    exec(compile(ast.Module(body=[cls], type_ignores=[]), "tsr", "exec"), ns)
    return ns["TableStructureRecognizer"]


_CELLS = [
    "1,234.5", "2023年4月5日", "2023年", "ABC/123", "hello world", "x", "@",
    "Total revenue for the fiscal year was strong overall, really",
    "第一季度", "99%", "-12.5", "A1_B2", "Short words here now",
    "数据", "2021-03", "word " * 20,
]


def test_block_type_parity(ref_tsr):
    from ragflow_spark.pdf.tsr import block_type

    mismatches = {
        t: (block_type(t), ref_tsr.blockType({"text": t}))
        for t in _CELLS
        if block_type(t) != ref_tsr.blockType({"text": t})
    }
    assert not mismatches, mismatches


def test_is_caption_parity(ref_tsr):
    from ragflow_spark.pdf.tsr import is_caption

    for t, lt in [
        ("表 1: 结果", ""), ("图 2: overview", ""), ("not a caption", ""),
        ("anything", "figure caption"), ("anything", "text"),
    ]:
        box = {"text": t, "layout_type": lt}
        assert is_caption(box) == ref_tsr.is_caption(box), (t, lt)


# -- construct_table full parity -------------------------------------------


def _table_boxes(rng, n_rows, n_cols, header=True, caption=False, numeric=True,
                 spans=False):
    out = []
    for r in range(n_rows):
        for c in range(n_cols):
            if r == 0 and header:
                text = rng.choice(["name", "count", "total price", "区域", "金额"]) + str(c)
            elif numeric and c > 0:
                text = f"{rng.randrange(1, 9999)}.{rng.randrange(10)}"
            else:
                text = rng.choice(["apple", "pear", "west region", "华东", "x"])
            b = {
                "x0": c * 100.0,
                "x1": c * 100.0 + 90.0,
                "top": r * 20.0,
                "bottom": r * 20.0 + 15.0,
                "text": text,
                "page_number": 1,
                "R": r,
                "C": c,
                "R_top": r * 20.0,
                "R_bott": r * 20.0 + 15.0,
                "C_left": c * 100.0,
                "C_right": c * 100.0 + 90.0,
            }
            if r == 0 and header:
                b["H"] = True
            out.append(b)
    if spans and out:
        # make the first body cell a column-spanning cell
        b = out[n_cols if header else 0]
        b["SP"] = 1
        b["H_left"] = 0.0
        b["H_right"] = n_cols * 100.0
        b["H_top"] = b["top"]
        b["H_bott"] = b["bottom"]
    if caption:
        out.append(
            {
                "x0": 0.0, "x1": 200.0, "top": -25.0, "bottom": -10.0,
                "text": "表 12: summary", "page_number": 1,
            }
        )
    return out


@pytest.mark.parametrize("seed", range(5))
@pytest.mark.parametrize("eng", [False, True])
def test_construct_table_parity(ref_tsr, seed, eng):
    from ragflow_spark.pdf.tsr import construct_table

    rng = random.Random(1200 + seed)
    boxes = _table_boxes(
        rng,
        n_rows=rng.randrange(2, 6),
        n_cols=rng.randrange(2, 5),
        header=rng.random() < 0.8,
        caption=rng.random() < 0.5,
        numeric=rng.random() < 0.7,
        spans=rng.random() < 0.4,
    )
    theirs = ref_tsr.construct_table([dict(b) for b in boxes], is_english=eng, html=False)
    ours = construct_table([dict(b) for b in boxes], is_english=eng)
    assert ours == theirs


def test_construct_table_parity_untagged(ref_tsr):
    from ragflow_spark.pdf.tsr import construct_table

    rng = random.Random(1300)
    boxes = _table_boxes(rng, 3, 2, header=False)
    for b in boxes:
        for k in ("R", "C", "R_top", "R_bott", "C_left", "C_right", "H"):
            b.pop(k, None)
    # NB: the reference defaults html=True; ours emits only the
    # html=False rows
    theirs = ref_tsr.construct_table(
        [dict(b) for b in boxes], is_english=True, html=False
    )
    ours = construct_table([dict(b) for b in boxes], is_english=True)
    assert ours == theirs
