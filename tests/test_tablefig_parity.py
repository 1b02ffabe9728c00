"""Black-box parity of table extraction (pdf/tablefig.py) vs
the reference's own ``_extract_table_figure``
(deepdoc/parser/pdf_parser.py:668-879), AST-extracted and executed
with numpy real, PIL replaced by a geometry-only fake, the layout list
empty (so the reference falls back to member-box extents — the same
text-only positions this engine produces), and construct_table shared
from OUR tsr module so differences isolate the pop/merge/attach logic.
The fixtures carry no figure-layout boxes: the reference pops those
into figure output, this engine keeps them as text.
"""

from __future__ import annotations

import ast
import copy
import logging
import re
import types

import numpy as np
import pytest

from ragflow_spark.pdf.geometry import sort_y_first
from ragflow_spark.pdf.tablefig import extract_table_figure
from ragflow_spark.pdf.tsr import construct_table, is_caption
from tests.conftest import read_reference

REF = "/root/reference/deepdoc/parser/pdf_parser.py"


class _FakeImage:
    def __init__(self, size=(1000, 1000)):
        self.size = size

    def crop(self, box):
        left, top, right, bott = box
        return _FakeImage((max(int(right - left), 1), max(int(bott - top), 1)))

    def paste(self, img, xy):
        pass


class _FakeImageModule:
    @staticmethod
    def new(mode, size, color=None):
        return _FakeImage((int(size[0]), int(size[1])))


class _Recognizer:
    @staticmethod
    def find_overlapped(box, boxes_sorted_by_y, naive=False):
        # page_layout is empty in these fixtures: nothing to match
        assert not boxes_sorted_by_y
        return None

    @staticmethod
    def sort_Y_firstly(arr, threshold):
        return sort_y_first(arr, threshold)


class _TSR:
    @staticmethod
    def is_caption(bx):
        return is_caption(bx)


@pytest.fixture(scope="module")
def ref_method():
    tree = ast.parse(read_reference(REF))
    cls = next(
        n for n in tree.body
        if isinstance(n, ast.ClassDef) and n.name == "RAGFlowPdfParser"
    )
    wanted = {}
    for node in cls.body:
        if isinstance(node, ast.FunctionDef) and node.name in (
            "_extract_table_figure", "_y_dis", "_x_dis",
        ):
            wanted[node.name] = node
    mod = ast.Module(body=list(wanted.values()), type_ignores=[])
    ns = {
        "re": re,
        "np": np,
        "logging": logging,
        "Image": _FakeImageModule,
        "Recognizer": _Recognizer,
        "TableStructureRecognizer": _TSR,
    }
    exec(compile(mod, REF, "exec"), ns)
    return ns


def _ref_run(ref_method, boxes, mean_height, n_pages, is_english=True):
    stub = types.SimpleNamespace(
        boxes=copy.deepcopy(boxes),
        mean_height=list(mean_height),
        page_cum_height=[0.0] * (n_pages + 1),
        page_layout=[[] for _ in range(n_pages)],
        page_images=[_FakeImage() for _ in range(n_pages)],
        page_from=0,
        is_english=is_english,
        tbl_det=types.SimpleNamespace(
            construct_table=lambda bxs, html=False, is_english=False: construct_table(
                bxs, is_english=is_english
            )
        ),
    )
    stub._y_dis = types.MethodType(ref_method["_y_dis"], stub)
    stub._x_dis = types.MethodType(ref_method["_x_dis"], stub)
    run = types.MethodType(ref_method["_extract_table_figure"], stub)
    out = run(True, 3, False, True)
    return stub.boxes, out


def _cell(pn, lout, r, c, text, y0, layout="table", h=False):
    b = dict(
        page_number=pn, layoutno=lout, layout_type=layout,
        x0=100.0 * c + 10, x1=100.0 * c + 95,
        top=y0 + 18.0 * r, bottom=y0 + 18.0 * r + 14,
        text=text, R=r, C=c,
    )
    if h:
        b["H"] = True
    return b


def _text(pn, text, y0, lout=None, layout="text"):
    b = dict(
        page_number=pn, x0=50.0, x1=500.0, top=y0, bottom=y0 + 14, text=text
    )
    if lout is not None:
        b["layoutno"] = lout
        b["layout_type"] = layout
    return b


PAGE_H = 800.0  # tops are CUMULATIVE across pages, like the real pipeline


def _cum(pn, y):
    return PAGE_H * (pn - 1) + y


def _fixture_boxes():
    boxes = []
    # page 1: prose, a figure caption, a table (t0) ending near the page
    # bottom with a caption box, and a source line
    boxes.append(_text(1, "Opening paragraph about engines.", _cum(1, 20), lout="p0"))
    # a caption right after a table would block that table's merge
    # (``nomerge``), so this one comes first
    boxes.append(
        _text(1, "figure of the shuffle", _cum(1, 330), lout="c1", layout="figure caption")
    )
    boxes.append(
        _text(1, "overview of quarterly results", _cum(1, 675),
              lout="c0", layout="table caption")
    )
    for c, htxt in enumerate(["name", "count", "price"]):
        boxes.append(_cell(1, "t0", 0, c, htxt, _cum(1, 700), h=True))
    for r in range(1, 3):
        for c in range(3):
            boxes.append(_cell(1, "t0", r, c, f"v{r}{c}", _cum(1, 700)))
    boxes.append(
        _text(1, "数据来源: internal ledger", _cum(1, 770), lout="t0", layout="table")
    )
    boxes.append(_text(1, "Closing prose on page one.", _cum(1, 400), lout="p1"))
    # page 2: table t1 right at the top -> continuation of t0
    # (adjacent page, y-gap under mean_height * 23)
    for r in range(2):
        for c in range(3):
            boxes.append(_cell(2, "t1", r, c, f"w{r}{c}", _cum(2, 30)))
    boxes.append(_text(2, "Unrelated paragraph on page two.", _cum(2, 200), lout="p2"))
    # page 3: a title box, then another table far down (no merge: page
    # distance from t1 > gap threshold)
    boxes.append(_text(3, "Chapter II", _cum(3, 10), lout="h0", layout="title"))
    for r in range(2):
        for c in range(2):
            boxes.append(_cell(3, "t2", r, c, f"z{r}{c}", _cum(3, 600)))
    return boxes


MEAN_H = [14.0, 14.0, 14.0]
CUM_H = [0.0, PAGE_H, 2 * PAGE_H, 3 * PAGE_H]


def test_table_figure_parity(ref_method):
    boxes = _fixture_boxes()
    ref_remaining, ref_out = _ref_run(ref_method, boxes, MEAN_H, 3)
    remaining, tables = extract_table_figure(
        boxes, MEAN_H, is_english=True, page_cum_height=[0.0] * 4
    )
    # remaining prose identical
    assert [b["text"] for b in remaining] == [b["text"] for b in ref_remaining]
    assert len(ref_out) == len(tables)
    for ours, ((_img, content), poss) in zip(tables, ref_out):
        assert ours["content"] == content
        assert ours["positions"] == poss


def test_cross_page_merge_behavior():
    boxes = _fixture_boxes()
    _rem, tables = extract_table_figure(
        boxes, MEAN_H, is_english=True, page_cum_height=CUM_H
    )
    # t1 (page 2, small cumulative y-gap) merged into t0; t2 isolated
    # by page distance -> two table groups total
    assert len(tables) == 2
    merged = next(t for t in tables if len({p for p, *_ in t["positions"]}) > 1)
    assert {p for p, *_ in merged["positions"]} == {0, 1}


def test_source_line_dropped_and_caption_attached():
    boxes = _fixture_boxes()
    rem, tables = extract_table_figure(
        boxes, MEAN_H, is_english=True, page_cum_height=CUM_H
    )
    all_tbl_text = "\n".join("\n".join(t["content"]) for t in tables)
    assert "数据来源" not in all_tbl_text
    assert "overview of quarterly results" in all_tbl_text
    assert not [b for b in rem if "caption" in b.get("layout_type", "")]


def test_random_fuzz_parity(ref_method):
    import random

    rng = random.Random(99)
    for trial in range(15):
        boxes = []
        n_pages = rng.randint(1, 4)
        for pn in range(1, n_pages + 1):
            y = 10.0
            for k in range(rng.randint(2, 6)):
                kind = rng.random()
                if kind < 0.35:
                    lout = f"t{pn}{k}"
                    for r in range(rng.randint(1, 3)):
                        for c in range(rng.randint(1, 3)):
                            boxes.append(_cell(pn, lout, r, c, f"x{pn}{k}{r}{c}", y))
                    y += 80
                elif kind < 0.5:
                    boxes.append(
                        _text(pn, f"cap {pn}-{k}", y, lout=f"c{pn}{k}",
                              layout=rng.choice(["table caption", "figure caption"]))
                    )
                    y += 30
                else:
                    boxes.append(_text(pn, f"prose {pn}-{k}", y, lout=f"p{pn}{k}"))
                    y += rng.choice([20, 300])
        mh = [14.0] * n_pages
        ref_remaining, ref_out = _ref_run(ref_method, boxes, mh, n_pages)
        remaining, tables = extract_table_figure(
            boxes, mh, is_english=True, page_cum_height=[0.0] * (n_pages + 1)
        )
        assert [b["text"] for b in remaining] == [b["text"] for b in ref_remaining], trial
        assert len(ref_out) == len(tables), trial
        for ours, ((_i, content), poss) in zip(tables, ref_out):
            assert ours["content"] == content, trial
            assert ours["positions"] == poss, trial
