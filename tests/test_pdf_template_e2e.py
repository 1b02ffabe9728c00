"""Real-bytes composition: positioned-char reading -> geometry position
tags -> §2.6 chunkers (book / laws / one), the reference's PDF-branch
splice (rag/app/book.py:58-77, laws.py:146-167: pdf sections become
position-tagged texts that flow through the same merge passes as text
sections).  Round 2 could only run these templates on HTML text; these
tests drive them from raw PDF bytes end-to-end."""

from __future__ import annotations

import re

import pytest

from ragflow_spark.chunk.templates import chunk_sections
from ragflow_spark.data.pdfgen import make_doc_pdf
from ragflow_spark.parsers.pdf_chars import pdf_pages_chars
from ragflow_spark.pdf.assemble import page_stats, pdf_tagged_boxes
from ragflow_spark.pdf.geometry import line_tag
from ragflow_spark.pdf.tablefig import extract_table_figure
from tests.conftest import strip_position_tags

WORDS = (
    "spark engine partition strategy broadcast shuffle join table data "
    "value metric quality executor lineage"
).split()

TAG_RE = re.compile(r"@@[0-9-]+\t[\d.]+\t[\d.]+\t[\d.]+\t[\d.]+##")


@pytest.fixture(scope="module")
def tagged_sections():
    """Raw bytes -> boxes -> table pop -> position-tagged section texts
    (the shape every PDF-branch chunker consumes)."""
    pdf = make_doc_pdf(WORDS, doc_id=5)
    boxes, mh, cum_h, is_en = pdf_tagged_boxes(pdf)
    rem, tables = extract_table_figure(
        boxes, mh, is_english=is_en, page_cum_height=None
    )
    pages = pdf_pages_chars(pdf)
    _mh, _mw, cum = page_stats(pages)
    heights = [p["height"] for p in pages]
    secs = [b["text"] + line_tag(b, [0.0] * len(heights), heights) for b in rem]
    return secs, tables


def test_position_tags_attach_and_strip(tagged_sections):
    secs, _tables = tagged_sections
    assert secs and all(TAG_RE.search(s) for s in secs)
    # strip_position_tags inverts line_tag exactly
    for s in secs:
        assert strip_position_tags(s) == TAG_RE.sub("", s)
        assert "@@" not in strip_position_tags(s)


def test_book_template_over_real_bytes(tagged_sections):
    secs, _tables = tagged_sections
    chunks = chunk_sections("book", secs)
    assert chunks
    joined = "\n".join(chunks)
    # every section's text survived into some chunk
    for s in secs:
        assert strip_position_tags(s).split(".")[0][:24] in strip_position_tags(joined)
    # position tags ride along into the packed chunks
    assert TAG_RE.search(joined)


def test_laws_template_over_real_bytes(tagged_sections):
    secs, _tables = tagged_sections
    chunks = chunk_sections("laws", secs)
    assert chunks
    assert TAG_RE.search("\n".join(chunks))


def test_one_template_over_real_bytes(tagged_sections):
    secs, _tables = tagged_sections
    chunks = chunk_sections("one", secs)
    assert len(chunks) == 1
    assert "Chapter I" in chunks[0] and "Chapter II" in chunks[0]


def test_table_rows_available_for_splice(tagged_sections):
    """The popped table rows are what the PDF-branch chunkers splice in
    (book.py res.extend(tokenize_table(tbls, ...)))."""
    _secs, tables = tagged_sections
    assert len(tables) == 1
    assert any("name" in r for r in tables[0]["content"])


def test_cross_page_table_merge_from_real_bytes():
    """A table spanning the page break must merge into ONE table
    (extract_table_figure cross-page merge, pdf_parser.py:708-729) —
    adjacent pages, same columns, within 23 mean-heights vertically."""
    from ragflow_spark.data.pdfgen import make_spanning_table_pdf

    from ragflow_spark.pdf.assemble import pdf_layout_document

    pdf = make_spanning_table_pdf(WORDS, rows_per_page=3)
    boxes, _mh, _cum, _en = pdf_tagged_boxes(pdf)
    table_cells = [b for b in boxes if b.get("layout_type") == "table"]
    # the tagger sees two separate grid groups (one per page)
    assert len({b["layoutno"] for b in table_cells}) == 2
    rem, tables, _mh2, _cum2, _en2 = pdf_layout_document(pdf)
    assert len(tables) == 1  # merged across the break
    rows = tables[0]["content"]
    joined = "\n".join(rows)
    for r in (1, 3, 5):  # rows from both pages present
        assert f"{r}0" in joined
    # positions list covers both pages (0-based page indices)
    pages = sorted({p[0] for p in tables[0]["positions"]})
    assert pages == [0, 1]


def test_paper_template_with_outline_titles_from_real_bytes():
    """Outline entries tag matching boxes as titles
    (tag_titles_from_outline), and the paper template pivots chunks at
    them — headings start chunks, body lines pack under them."""
    from ragflow_spark.chunk.templates import paper_chunks
    from ragflow_spark.data.pdfgen import make_doc_pdf
    from ragflow_spark.parsers.pdf import extract_pdf_outline
    from ragflow_spark.pdf.assemble import (
        pdf_layout_document,
        tag_titles_from_outline,
    )

    pdf = make_doc_pdf(WORDS, doc_id=9)
    rem, _tables, _mh, _cum, _en = pdf_layout_document(pdf)
    outlines = extract_pdf_outline(pdf)
    rem = tag_titles_from_outline(rem, outlines)
    titled = [b["text"] for b in rem if b.get("layout_type") == "title"]
    assert len(titled) == 2 and all(t.startswith("Chapter") for t in titled)
    secs = [(b["text"], b.get("layout_type", "text")) for b in rem]
    chunks = paper_chunks(secs)
    starts = [c.splitlines()[0] for c in chunks]
    assert any(s.startswith("Chapter I ") for s in starts)
    assert any(s.startswith("Chapter II ") for s in starts)


def test_naive_template_pdf_branch_from_real_bytes():
    """The naive PDF branch (rag/app/naive.py:282-296): layout pass ->
    (text, line_tag) sections -> naive_merge; packed chunks carry the
    position tags of every spliced piece."""
    from ragflow_spark.chunk.merge import greedy_merge
    from ragflow_spark.data.pdfgen import make_doc_pdf
    from ragflow_spark.pdf.assemble import pdf_layout_document

    pdf = make_doc_pdf(WORDS, doc_id=11)
    rem, tables, _mh, cum, _en = pdf_layout_document(pdf)
    pages = pdf_pages_chars(pdf)
    heights = [p["height"] for p in pages]
    secs = [
        (b["text"], line_tag(b, [0.0] * len(heights), heights)) for b in rem
    ]
    # the merge may emit an empty leading chunk (reference quirk); the
    # caller's tokenize_chunks filters it — mirror that here
    chunks = [c for c in greedy_merge(secs, budget=64) if c.strip()]
    assert chunks
    joined = "\n".join(chunks)
    assert TAG_RE.search(joined)
    # every surviving chunk carries at least one position tag (the
    # merge's tag policy is reference-parity-tested in test_chunkers)
    assert all(TAG_RE.search(c) for c in chunks)
    assert "Chapter I" in strip_position_tags(joined)
    # table rows live separately (tbls), as the reference returns them
    assert tables and tables[0]["content"]


def test_figure_region_and_caption_from_real_bytes():
    """A drawn image XObject yields a figure box over the drawn region,
    which stays with the text boxes; extract_table_figure drops the
    adjacent 'Figure 1:' caption from the text."""
    from ragflow_spark.data.pdfgen import _PageBuilder, PAGE_W, PAGE_H
    from ragflow_spark.pdf.assemble import pdf_layout_document

    page = (
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (Prose before the figure.) Tj ET "
        b"q 200 0 0 100 72 540 cm /Im1 Do Q "
        b"BT /F1 12 Tf 1 0 0 1 72 508 Tm (Figure 1: spark dataflow) Tj ET "
        b"BT /F1 12 Tf 1 0 0 1 72 470 Tm (Prose after the figure.) Tj ET"
    )
    img = b"\x00\x01\x02\x03"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        + (
            f"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 {PAGE_W} {PAGE_H}] "
            "/Resources << /Font << /F1 6 0 R >> /XObject << /Im1 5 0 R >> >> "
            "/Contents 4 0 R >> endobj\n"
        ).encode()
        + b"4 0 obj << /Length " + str(len(page)).encode() + b" >> stream\n"
        + page + b"\nendstream endobj\n"
        b"5 0 obj << /Subtype /Image /Width 2 /Height 2 /Length "
        + str(len(img)).encode() + b" >> stream\n" + img + b"\nendstream endobj\n"
        b"6 0 obj << /Type /Font /BaseFont /Courier >> endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF"
    )
    rem, tables, _mh, _cum, _en = pdf_layout_document(pdf)
    assert not tables
    figures = [b for b in rem if b.get("layout_type") == "figure"]
    assert len(figures) == 1
    # figure box covers the drawn image region (x 72..272)
    assert figures[0]["x0"] == pytest.approx(72.0)
    assert figures[0]["x1"] == pytest.approx(272.0)
    texts = [b["text"] for b in rem]
    assert "Prose before the figure." in texts
    assert "Prose after the figure." in texts
    assert not any(t.startswith("Figure 1:") for t in texts)
