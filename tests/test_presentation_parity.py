"""Parity for the presentation template's PDF branch
(rag/app/presentation.py ``Pdf``): the reference class is AST-extracted
and executed with a fake ``PdfParser`` base whose ``__images__`` is OUR
positioned-char reader, so both sides consume identical per-page box
lists — what's under test is the reference's garbage filter + per-page
line assembly + chunk loop against our ``presentation_pdf_pages``."""

from __future__ import annotations

import ast
import re

import pytest

from ragflow_spark.chunk.templates import (
    presentation_garbage,
    presentation_pdf_pages,
)
from ragflow_spark.data.pdfgen import make_doc_pdf
from ragflow_spark.parsers.pdf_chars import pdf_pages_chars
from ragflow_spark.pdf.assemble import assemble_page_boxes, page_stats
from tests.conftest import read_reference

REF = "/root/reference/rag/app/presentation.py"


class _FakeImg:
    def __init__(self, w: int, h: int) -> None:
        self.size = (w, h)


class _FakeBase:
    """Stands in for deepdoc's RAGFlowPdfParser: ``__images__`` builds
    ``self.boxes``/``self.page_images`` from the positioned-char
    reader — the shared input for both sides."""

    def __init__(self) -> None:
        pass

    def __images__(self, fnm, zoomin=3, page_from=0, page_to=299, callback=None):
        pages = pdf_pages_chars(fnm)
        _mh, mean_w, _cum = page_stats(pages)
        self.boxes = []
        self.page_images = []
        seq = [0]
        for pn, p in enumerate(pages, start=1):
            em = mean_w[pn - 1] if mean_w[pn - 1] > 0 else 8.0
            self.boxes.append(assemble_page_boxes(p["chars"], pn, em, seq))
            self.page_images.append(_FakeImg(int(p["width"]), int(p["height"])))
        self.total_page = len(pages)


@pytest.fixture(scope="module")
def ref_pdf_cls():
    tree = ast.parse(read_reference(REF))
    nodes = [
        n for n in tree.body
        if isinstance(n, ast.ClassDef) and n.name == "Pdf"
    ]
    assert nodes, "reference Pdf class not found"
    ns = {"re": re, "PdfParser": _FakeBase}
    exec(compile(ast.Module(body=nodes, type_ignores=[]), REF, "exec"), ns)
    return ns["Pdf"]


def _noop(*_a, **_k):
    pass


WORD_SETS = [
    "spark engine partition strategy broadcast shuffle join table".split(),
    # garbage-heavy: numeric cells and short tokens must drop
    ["12", "9.5%", "ab", "metrics", "overview", "latency", "x", "3/4"],
    ["数据", "处理", "引擎", "分区", "策略", "广播", "倾斜", "表"],
]


@pytest.mark.parametrize("i", range(len(WORD_SETS)))
def test_pdf_branch_parity(ref_pdf_cls, i):
    pdf = make_doc_pdf(WORD_SETS[i], doc_id=i)
    ref = ref_pdf_cls()(None, binary=None, callback=_noop) if False else None
    # reference __call__ signature: (filename, binary=None, ...); our
    # fake __images__ reads the first positional as the bytes
    got_ref = ref_pdf_cls()(pdf, callback=_noop)
    got_ours = presentation_pdf_pages(pdf)
    assert len(got_ref) == len(got_ours) == 2
    for (ref_txt, ref_img), (our_txt, our_pos) in zip(got_ref, got_ours):
        assert our_txt == ref_txt
        assert (our_pos[2], our_pos[4]) == ref_img.size


def test_garbage_rule_matches_reference_source():
    """Spot checks pinned to presentation.py:62-68 semantics."""
    assert presentation_garbage("9.5%")
    assert presentation_garbage("12,3/4-")
    assert presentation_garbage("ab")
    assert presentation_garbage("  x ")
    assert not presentation_garbage("abc")
    assert not presentation_garbage("Table 1: summary")
    # the regex is matched against the *lowercased stripped* text and
    # is anchored only at the end by '$' — re.match anchors the start
    assert not presentation_garbage("a1234")


def test_position_metadata_shape():
    pdf = make_doc_pdf(WORD_SETS[0], doc_id=0)
    pages = presentation_pdf_pages(pdf)
    assert [p[1][0] for p in pages] == [1, 2]
    assert all(p[1][1] == 0 and p[1][3] == 0 for p in pages)
    assert pages[0][1][2] == 612 and pages[0][1][4] == 792
