"""Positioned-character PDF reading + layout assembly.

Covers the model-free subset of the reference's ``__images__`` path
(deepdoc/parser/pdf_parser.py:1006-1129): per-glyph boxes from
content-stream interpretation, the word-gap space rule, per-page
median stats, grid-heuristic table tagging, and the e2e round-trip
real bytes -> extract_table_figure -> construct_table -> manual
chunks that round 2 could only run on synthetic boxes.
"""

from __future__ import annotations

import random
import signal
import time

import pytest

from ragflow_spark.data.pagegen import _tiny_pdf
from ragflow_spark.data.pdfgen import EM, LEADING, make_doc_pdf
from ragflow_spark.parsers.pdf import extract_pdf_outline
from ragflow_spark.parsers.pdf_chars import pdf_pages_chars
from ragflow_spark.pdf import construct_table, extract_table_figure
from ragflow_spark.pdf.assemble import (
    chars_to_lines,
    insert_word_gaps,
    line_runs,
    page_stats,
    pdf_tagged_boxes,
)

WORDS = (
    "spark engine partition strategy broadcast shuffle join table data "
    "value metric quality executor lineage"
).split()


@pytest.fixture(scope="module")
def doc_pdf() -> bytes:
    return make_doc_pdf(WORDS, doc_id=3)


# -- interpreter ------------------------------------------------------------


def test_courier_advances_are_exact(doc_pdf):
    pages = pdf_pages_chars(doc_pdf)
    assert len(pages) == 2
    chars = pages[0]["chars"]
    # "Chapter" glyphs advance by exactly 0.6 em = 7.2pt at 12pt
    xs = [c["x0"] for c in chars[:7]]
    assert xs[0] == 72.0
    for a, b in zip(xs, xs[1:]):
        assert b - a == pytest.approx(EM)
    assert "".join(c["text"] for c in chars[:7]) == "Chapter"


def test_vertical_lines_follow_leading(doc_pdf):
    pages = pdf_pages_chars(doc_pdf)
    lines = chars_to_lines(pages[0]["chars"])
    tops = [ln[0]["top"] for ln in lines]
    assert tops == sorted(tops)
    gaps = {round(b - a, 4) for a, b in zip(tops, tops[1:])}
    # consecutive paragraph lines are one leading apart; chapter breaks two
    assert float(LEADING) in gaps


def test_page_order_and_media_box(doc_pdf):
    pages = pdf_pages_chars(doc_pdf)
    assert [p["height"] for p in pages] == [792.0, 792.0]
    assert [p["width"] for p in pages] == [612.0, 612.0]
    # page 1 starts with the chapter heading, page 2 with the caption
    p1 = "".join(c["text"] for c in pages[0]["chars"][:9])
    p2 = "".join(c["text"] for c in pages[1]["chars"][:5])
    assert p1 == "Chapter I"
    assert p2 == "Table"


def test_tj_kerning_and_quote_ops():
    """Hand-written stream: TJ numbers shift x by -n/1000*size; the
    ' operator advances a line before showing."""
    stream = (
        b"BT /F1 10 Tf 14 TL 1 0 0 1 100 700 Tm "
        b"[(AB) -500 (CD)] TJ (EF) ' ET"
    )
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + str(len(stream)).encode() + b" >> stream\n"
        + stream + b"\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF"
    )
    chars = pdf_pages_chars(pdf)[0]["chars"]
    assert "".join(c["text"] for c in chars) == "ABCDEF"
    a, b, c, d, e, _f = chars
    # default width 0.5 em at 10pt = 5pt; kern -500 adds 5pt
    assert b["x0"] - a["x0"] == pytest.approx(5.0)
    assert c["x0"] - b["x0"] == pytest.approx(10.0)  # 5 advance + 5 kern
    assert e["top"] - a["top"] == pytest.approx(14.0)  # ' advanced a line


def _one_page_pdf(stream: bytes) -> bytes:
    return (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + str(len(stream)).encode() + b" >> stream\n"
        + stream + b"\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF"
    )


def test_widths_array_metrics():
    """Fonts carrying /FirstChar + /Widths get per-glyph advances
    (thousandths of an em); glyphs outside the table fall back."""
    stream = b"BT /F1 10 Tf 1 0 0 1 100 700 Tm (ABC) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + str(len(stream)).encode() + b" >> stream\n"
        + stream + b"\nendstream endobj\n"
        b"5 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/FirstChar 65 /Widths [722 667] >> endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF"
    )
    chars = pdf_pages_chars(pdf)[0]["chars"]
    a, b, c = chars
    assert b["x0"] - a["x0"] == pytest.approx(7.22)  # A = 722/1000 * 10
    assert c["x0"] - b["x0"] == pytest.approx(6.67)  # B = 667
    # C is past the table end -> flat default (Helvetica -> 0.5 em)
    assert c["x1"] - c["x0"] == pytest.approx(5.0)


def test_char_spacing_and_horizontal_scale():
    """Tc adds to every advance; Tz scales advances (PDF 32000 9.3.2)."""
    chars = pdf_pages_chars(
        _one_page_pdf(b"BT /F1 10 Tf 2 Tc 50 Tz 1 0 0 1 100 700 Tm (AB) Tj ET")
    )[0]["chars"]
    # advance per glyph = (0.5em*10 + 2) * 50% = 3.5
    assert chars[1]["x0"] - chars[0]["x0"] == pytest.approx(3.5)


def test_dedupe_chars_drops_double_rendering():
    """Fake-bold double rendering (same glyph drawn twice at the same
    position) must collapse — pdf_parser.py:1025 page.dedupe_chars()."""
    stream = (
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (Hi) Tj "
        b"1 0 0 1 72 700 Tm (Hi) Tj "          # shadow pass
        b"1 0 0 1 72 660 Tm (Hi) Tj ET"        # genuine second line kept
    )
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + str(len(stream)).encode() + b" >> stream\n"
        + stream + b"\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF"
    )
    chars = pdf_pages_chars(pdf)[0]["chars"]
    assert "".join(c["text"] for c in chars) == "HiHi"


def test_dedupe_chars_degenerate_tolerances():
    """tolerance=0 dedupes EXACT-position repeats only; a negative
    tolerance dedupes nothing (ADVICE r4: the old <=0 -> 1e-9 remap
    silently turned both into near-exact dedupe)."""
    from ragflow_spark.parsers.pdf_chars import dedupe_chars

    def ch(text, x, top):
        return {"text": text, "x0": x, "x1": x + 5.0, "top": top,
                "bottom": top + 10.0}

    chars = [
        ch("e", 10.0, 100.0),
        ch("e", 10.0, 100.0),          # exact repeat -> dropped at tol 0
        ch("e", 10.0 + 1e-12, 100.0),  # near-exact -> KEPT at tol 0
        ch("e", 11.0, 100.0),
    ]
    at0 = dedupe_chars(chars, tolerance=0)
    assert [c["x0"] for c in at0] == [10.0, 10.0 + 1e-12, 11.0]
    neg = dedupe_chars(chars, tolerance=-1.0)
    assert neg == chars and neg is not chars  # copy, nothing dropped
    # default tolerance still collapses the near-exact shadow pair
    at1 = dedupe_chars(chars, tolerance=1.0)
    assert [c["x0"] for c in at1] == [10.0]


def test_white_on_white_text_filtered():
    """1 g + 1 G DeviceGray glyphs matching the letter class drop
    (reference _has_color, pdf_parser.py:197-203); positions of later
    visible text are unaffected."""
    stream = (
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm "
        b"1 g 1 G (hidden) Tj 0 g 0 G (seen) Tj ET"
    )
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + str(len(stream)).encode() + b" >> stream\n"
        + stream + b"\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF"
    )
    chars = pdf_pages_chars(pdf)[0]["chars"]
    assert "".join(c["text"] for c in chars) == "seen"
    # "hidden" still advanced the matrix: 6 glyphs * 6pt default width
    assert chars[0]["x0"] == pytest.approx(72 + 6 * 6.0)


def test_cm_translation_applies():
    stream = b"q 1 0 0 1 50 -20 cm BT /F1 12 Tf 1 0 0 1 10 700 Tm (X) Tj ET Q"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + str(len(stream)).encode() + b" >> stream\n"
        + stream + b"\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF"
    )
    chars = pdf_pages_chars(pdf)[0]["chars"]
    assert chars[0]["x0"] == pytest.approx(60.0)
    # y = 700 - 20 = 680 baseline; top = 792 - (680 + 0.8*12)
    assert chars[0]["top"] == pytest.approx(792 - 680 - 9.6)


def test_tiny_pdf_roundtrip_matches_text():
    """The legacy single-page fixture (Td-relative moves, no font
    resource) reproduces its expected text through the positioned
    path, line for line."""
    pdf, text = _tiny_pdf(random.Random(7), 3)
    boxes, _mh, _cum, _en = pdf_tagged_boxes(pdf)
    assert [b["text"] for b in boxes] == text.split("\n")


# -- assembly ---------------------------------------------------------------


def test_word_gap_rule_reference_semantics():
    """pdf_parser.py:1070-1077: alnum-ish neighbours with a gap >= half
    the narrower glyph get a space; punctuation-only or tight pairs
    don't."""

    def ch(t, x0, w=6.0):
        return {
            "text": t, "x0": x0, "x1": x0 + w, "width": w,
            "top": 0.0, "bottom": 10.0, "height": 10.0,
        }

    chars = [ch("a", 0), ch("b", 10), ch("c", 16.5), ch("?", 30), ch("d", 40)]
    insert_word_gaps(chars)
    assert chars[0]["text"] == "a "      # gap 4 >= 3
    assert chars[1]["text"] == "b"       # gap 0.5 < 3
    assert chars[2]["text"] == "c "      # gap 7.5 >= 3, "c?" matches [!,.:;%]
    assert chars[3]["text"] == "?"       # "?d" does not match the class
    # a CJK cell then a number cell ("数据" | "20"): the class has no
    # CJK, so the column gap after "据" gets no space — the text path
    # reads "数据20" (whether PlainParser agrees waits on a reference
    # checkout; ROADMAP's carried PDF item)
    cjk = [ch("数", 0, 12.0), ch("据", 12, 12.0), ch("2", 40), ch("0", 46)]
    insert_word_gaps(cjk)
    assert [c["text"] for c in cjk] == ["数", "据", "2", "0"]  # gap 16 >= 3


def test_page_stats_medians_and_cumsum(doc_pdf):
    pages = pdf_pages_chars(doc_pdf)
    mh, mw, cum = page_stats(pages)
    assert mh == [12.0, 12.0]
    assert mw == [pytest.approx(EM), pytest.approx(EM)]
    assert cum == [0.0, 792.0, 1584.0]
    empty_mh, empty_mw, empty_cum = page_stats(
        [{"chars": [], "width": 612.0, "height": 792.0}]
    )
    assert empty_mh == [0.0] and empty_mw == [8.0]  # reference defaults
    assert empty_cum == [0.0, 792.0]


def test_line_runs_split_on_cell_gaps(doc_pdf):
    pages = pdf_pages_chars(doc_pdf)
    lines = chars_to_lines(insert_word_gaps(pages[1]["chars"]))
    header = next(
        ln for ln in lines
        if "".join(c["text"] for c in ln).startswith("name")
    )
    runs = line_runs(header, EM)
    assert ["".join(c["text"] for c in r).strip() for r in runs] == [
        "name", "count", "price",
    ]


def test_grid_detection_tags_table_runs_only(doc_pdf):
    boxes, _mh, _cum, is_en = pdf_tagged_boxes(doc_pdf)
    assert is_en
    table = [b for b in boxes if b.get("layout_type") == "table"]
    other = [b for b in boxes if "layoutno" not in b]
    assert len(table) == 12  # 4 rows x 3 cells
    assert {b["layoutno"] for b in table} == {"table-1"}
    assert all(b["page_number"] == 2 for b in table)
    caption = [b for b in other if b["text"].startswith("Table 1:")]
    assert len(caption) == 1
    # English captions need the detector-equivalent class (the reference
    # regex is CJK-only); no layoutno, so the pop loop skips it and the
    # attach loop adopts it
    assert caption[0]["layout_type"] == "table caption"


# -- e2e: real bytes through the full geometry stack ------------------------


def test_e2e_table_recovery_from_real_bytes(doc_pdf):
    boxes, mh, _cum, is_en = pdf_tagged_boxes(doc_pdf)
    rem, tables, figures = extract_table_figure(
        boxes, mh, is_english=is_en, page_cum_height=None
    )
    assert len(tables) == 1 and not figures
    rows = tables[0]["content"]
    assert rows[0].startswith("name; count; price")
    # attached caption flows into every row (reference desc_table)
    assert "Table 1: summary of spark metrics" in rows[0]
    assert rows[1].startswith("partition; 40;")
    assert len(rows) == 4
    # caption got attached: no remaining box still starts with "Table 1:"
    assert not [b for b in rem if b["text"].startswith("Table 1:")]
    # table bbox positions point at page 2 (0-based index 1)
    assert tables[0]["positions"][0][0] == 1


def test_e2e_construct_table_html_variant(doc_pdf):
    boxes, mh, _cum, is_en = pdf_tagged_boxes(doc_pdf)
    cells = [b for b in boxes if b.get("layout_type") == "table"]
    html = construct_table(cells, is_english=is_en, html=True)
    joined = html if isinstance(html, str) else "\n".join(html)
    assert "<table>" in joined and "price" in joined


def test_e2e_manual_chunks_outline_pivot(doc_pdf):
    from ragflow_spark.chunk.manual_template import manual_pdf_chunks

    boxes, mh, _cum, is_en = pdf_tagged_boxes(doc_pdf)
    rem, tables, _figs = extract_table_figure(
        boxes, mh, is_english=is_en, page_cum_height=None
    )
    outlines = extract_pdf_outline(doc_pdf)
    assert len(outlines) == 2 and outlines[0][0].startswith("Chapter I ")
    secs = [
        (b["text"], "text",
         [(b["page_number"], b["x0"], b["x1"], b["top"], b["bottom"])])
        for b in rem
    ]
    tbls = [(t["content"], t["positions"]) for t in tables]
    chunks = manual_pdf_chunks(secs, tbls, outlines)
    assert chunks
    assert chunks[0].startswith("Chapter I ")
    assert "@@1\t" in chunks[0]  # position tags present
    joined = "\n".join(chunks)
    assert "Chapter II " in joined
    assert "name; count; price" in joined  # spliced first table row


def test_form_xobject_text_extracted():
    """Text inside a /Subtype /Form XObject (drawn via Do, placed by
    its /Matrix x the CTM, its own /Resources fonts) must be read;
    nested q/cm around the Do composes."""
    form = b"BT /F9 10 Tf 1 0 0 1 5 5 Tm (Hi) Tj ET"
    page = b"q 1 0 0 1 100 600 cm /Fm1 Do Q BT /F1 12 Tf 1 0 0 1 72 700 Tm (Top) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 6 0 R >> /XObject << /Fm1 4 0 R >> >> "
        b"/Contents 5 0 R >> endobj\n"
        b"4 0 obj << /Subtype /Form /Matrix [1 0 0 1 10 0] "
        b"/Resources << /Font << /F9 7 0 R >> >> /Length "
        + str(len(form)).encode() + b" >> stream\n" + form + b"\nendstream endobj\n"
        b"5 0 obj << /Length " + str(len(page)).encode() + b" >> stream\n"
        + page + b"\nendstream endobj\n"
        b"6 0 obj << /Type /Font /BaseFont /Helvetica >> endobj\n"
        b"7 0 obj << /Type /Font /BaseFont /Courier >> endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF"
    )
    chars = pdf_pages_chars(pdf)[0]["chars"]
    text = "".join(c["text"] for c in chars)
    assert "Hi" in text and "Top" in text
    hi = next(c for c in chars if c["text"] == "H")
    # x = form tm 5 + matrix 10 + cm 100 = 115
    assert hi["x0"] == pytest.approx(115.0)
    # Courier resolved from the FORM's resources: 0.6 em at 10pt
    assert hi["x1"] - hi["x0"] == pytest.approx(6.0)


def test_inline_image_binary_does_not_derail():
    """BI..EI binary (parens, stray tokens) must be excised; text after
    the image is still read."""
    page = (
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (Before) Tj ET "
        b"BI /W 2 /H 2 /BPC 8 /CS /RGB ID \x00(\xff\x01)\x80\x9f garbage EI "
        b"BT /F1 12 Tf 1 0 0 1 72 650 Tm (After) Tj ET"
    )
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + str(len(page)).encode() + b" >> stream\n"
        + page + b"\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF"
    )
    chars = pdf_pages_chars(pdf)[0]["chars"]
    text = "".join(c["text"] for c in chars)
    assert "Before" in text and "After" in text
    assert "garbage" not in text


def test_object_stream_packed_objects():
    """PDF 1.5 compressed object streams: page/font dicts packed in a
    /Type /ObjStm (FlateDecode, /N pairs + /First offset) must resolve
    like top-level objects."""
    import zlib

    page_stream = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (Packed) Tj ET"
    # objects 3 (page) and 6 (font) live INSIDE the object stream
    o3 = (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
          b"/Resources << /Font << /F1 6 0 R >> >> /Contents 4 0 R >>")
    o6 = b"<< /Type /Font /BaseFont /Courier >>"
    payload = o3 + b" " + o6
    header = b"3 0 6 " + str(len(o3) + 1).encode()
    first = len(header) + 1
    objstm_data = header + b" " + payload
    compressed = zlib.compress(objstm_data)
    pdf = (
        b"%PDF-1.5\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"4 0 obj << /Length " + str(len(page_stream)).encode()
        + b" >> stream\n" + page_stream + b"\nendstream endobj\n"
        b"5 0 obj << /Type /ObjStm /N 2 /First " + str(first).encode()
        + b" /Filter /FlateDecode /Length " + str(len(compressed)).encode()
        + b" >> stream\n" + compressed + b"\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF"
    )
    pages = pdf_pages_chars(pdf)
    assert len(pages) == 1
    chars = pages[0]["chars"]
    assert "".join(c["text"] for c in chars) == "Packed"
    # font resolved from the packed object: Courier 0.6 em at 12pt
    assert chars[1]["x0"] - chars[0]["x0"] == pytest.approx(7.2)


def test_cid_font_tounicode_cmap():
    """Type0/CID fonts: show strings are 2-byte font codes mapped to
    text by the /ToUnicode CMap (bfchar singles + bfrange runs, ISO
    32000 9.10.3) — NOT Unicode bytes."""
    cmap = (
        b"/CIDInit /ProcSet findresource begin\n"
        b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        b"2 beginbfchar\n"
        b"<0003> <0048>\n"          # 0x0003 -> 'H'
        b"<0007> <4F60>\n"          # 0x0007 -> CJK ni3
        b"endbfchar\n"
        b"1 beginbfrange\n"
        b"<000A> <000C> <0061>\n"   # 0x0A..0x0C -> 'a'..'c'
        b"endbfrange\nendcmap\n"
    )
    # codes: 0003 000A 000B 000C 0007 -> "Habc" + CJK
    stream = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm <0003000A000B000C0007> Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + str(len(stream)).encode() + b" >> stream\n"
        + stream + b"\nendstream endobj\n"
        b"5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /ABCDEF+NotoSans "
        b"/ToUnicode 6 0 R >> endobj\n"
        b"6 0 obj << /Length " + str(len(cmap)).encode() + b" >> stream\n"
        + cmap + b"\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF"
    )
    chars = pdf_pages_chars(pdf)[0]["chars"]
    assert "".join(c["text"] for c in chars) == "Habc你"
    # without the CMap these bytes would mangle (utf-8 fails -> latin-1
    # control chars); the simple-font path still decodes BOM'd UTF-16
    assert all(c["x0"] >= 72.0 for c in chars)


def test_cid_w_widths_drive_advances():
    """Descendant-font /W widths (c [w...] lists + c1 c2 w runs, /DW
    default) set per-CID advances for Identity-coded show strings."""
    cmap = (
        b"2 beginbfchar <0001> <0041> <0002> <0042> endbfchar\n"
        b"1 beginbfrange <0005> <0006> <0043> endbfrange\n"
    )
    # /W: CID 1 -> 700, CID 2 -> 300; CIDs 5..6 -> 500; others DW=1000
    stream = b"BT /F1 10 Tf 1 0 0 1 100 700 Tm <0001000200050009> Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + str(len(stream)).encode() + b" >> stream\n"
        + stream + b"\nendstream endobj\n"
        b"5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /X+Noto "
        b"/DescendantFonts [7 0 R] /ToUnicode 6 0 R >> endobj\n"
        b"6 0 obj << /Length " + str(len(cmap)).encode() + b" >> stream\n"
        + cmap + b"\nendstream endobj\n"
        b"7 0 obj << /Type /Font /Subtype /CIDFontType2 /DW 1000 "
        b"/W [1 [700 300] 5 6 500] >> endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF"
    )
    chars = pdf_pages_chars(pdf)[0]["chars"]
    # CID 9 unmapped by ToUnicode -> no glyph emitted, but advances
    assert "".join(c["text"] for c in chars) == "ABC"
    a, b, c = chars
    assert b["x0"] - a["x0"] == pytest.approx(7.0)   # 700/1000 * 10
    assert c["x0"] - b["x0"] == pytest.approx(3.0)   # 300/1000 * 10
    assert c["x1"] - c["x0"] == pytest.approx(5.0)   # 500 for CID 5


@pytest.mark.parametrize("rot", [90, 180, 270])
def test_rotated_pages_normalize_to_visual_frame(rot):
    """/Rotate pages land in the displayed frame (dims swap for
    90/270); two stacked lines keep their visual reading order."""
    stream = (
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (First) Tj "
        b"1 0 0 1 72 680 Tm (Second) Tj ET"
    )
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Rotate " + str(rot).encode() + b" /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + str(len(stream)).encode() + b" >> stream\n"
        + stream + b"\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF"
    )
    page = pdf_pages_chars(pdf)[0]
    if rot in (90, 270):
        assert (page["width"], page["height"]) == (792.0, 612.0)
    else:
        assert (page["width"], page["height"]) == (612.0, 792.0)
    chars = page["chars"]
    assert "".join(c["text"] for c in chars) == "FirstSecond"
    # all boxes inside the displayed page bounds
    for c in chars:
        assert 0 <= c["x0"] <= c["x1"] <= page["width"]
        assert 0 <= c["top"] <= c["bottom"] <= page["height"]
    # visual order: "First" renders above-or-left-of "Second"
    f = next(c for c in chars if c["text"] == "F")
    s = next(c for c in chars if c["text"] == "S")
    if rot == 90:
        # 90 cw: later (lower) lines move left -> "Second" left of "First"
        assert s["x0"] < f["x0"] and abs(s["top"] - f["top"]) < 60
    elif rot == 180:
        # flipped: the lower original line displays above
        assert s["top"] < f["top"]
    else:
        assert s["x0"] > f["x0"]


def test_filter_chains_hex_a85_flate():
    """/Filter pipelines: ASCIIHex, ASCII85, and [A85 -> Flate] chains
    decode; an unsupported filter (DCTDecode) aborts to no chars
    rather than garbage."""
    import base64
    import zlib

    def one_page(filter_spec: bytes, payload: bytes) -> bytes:
        return (
            b"%PDF-1.4\n"
            b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
            b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
            b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R >> endobj\n"
            b"4 0 obj << /Filter " + filter_spec + b" /Length "
            + str(len(payload)).encode() + b" >> stream\n"
            + payload + b"\nendstream endobj\n"
            b"trailer << /Root 1 0 R >>\n%%EOF"
        )

    def text_of(pdf: bytes) -> str:
        pages = pdf_pages_chars(pdf)
        return "".join(c["text"] for p in pages for c in p["chars"])

    stream = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (Filtered) Tj ET"
    assert text_of(one_page(b"/ASCIIHexDecode", stream.hex().encode() + b">")) == "Filtered"
    a85 = base64.a85encode(stream)
    assert text_of(one_page(b"/ASCII85Decode", a85 + b"~>")) == "Filtered"
    chained = base64.a85encode(zlib.compress(stream)) + b"~>"
    assert text_of(one_page(b"[/ASCII85Decode /FlateDecode]", chained)) == "Filtered"
    assert text_of(one_page(b"/DCTDecode", b"\xff\xd8junk")) == ""


def test_differences_encoding_maps_accents():
    """/Encoding /Differences remaps byte codes to glyph names (AGL +
    uniXXXX patterns); unmapped printable bytes keep their ASCII
    meaning (ISO 32000 9.6.6.1)."""
    # code 228 -> adieresis, 128 -> Euro, 129 -> uni0442 (CJK-ish)
    stream = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (caf\\344 \\200 \\201 x) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + str(len(stream)).encode() + b" >> stream\n"
        + stream + b"\nendstream endobj\n"
        b"5 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Custom "
        b"/Encoding << /Differences [128 /Euro 129 /uni0442 228 /adieresis] >> "
        b">> endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF"
    )
    chars = pdf_pages_chars(pdf)[0]["chars"]
    assert "".join(c["text"] for c in chars) == "cafä € т x"


def _lzw_encode(data: bytes) -> bytes:
    """Reference encoder for the fixture: MSB-first, early-change
    widths, clear code at table-full — what conforming producers
    emit (ISO 32000 7.4.4 / TIFF 6)."""
    bits = [(256, 9)]
    table = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    wbuf = b""
    for byte in data:
        c = bytes([byte])
        wc = wbuf + c
        if wc in table:
            wbuf = wc
            continue
        bits.append((table[wbuf], width))
        table[wc] = next_code
        next_code += 1
        # the decoder's table lags one entry behind the encoder's
        if next_code - 1 >= 4095:
            bits.append((256, width))
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
        elif next_code - 1 >= (1 << width) - 1 and width < 12:
            width += 1
        wbuf = c
    if wbuf:
        bits.append((table[wbuf], width))
    bits.append((257, width))
    out = bytearray()
    acc = nbits = 0
    for code, w in bits:
        acc = (acc << w) | code
        nbits += w
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def test_lzw_filter_roundtrip_and_stream():
    """LZWDecode: early-change widths, KwKwK self-reference, clear
    codes at table-full, and an /LZWDecode content stream end-to-end."""
    import random as _random

    from ragflow_spark.parsers.pdf_chars import _lzw_decode

    rng = _random.Random(7)
    for n in (0, 1, 50, 600, 3000, 9000):
        blob = bytes(rng.randrange(256) for _ in range(n))
        assert _lzw_decode(_lzw_encode(blob)) == blob, n
        text = (b"the quick brown fox jumps over the lazy dog " * 300)[:n]
        assert _lzw_decode(_lzw_encode(text)) == text, n
    # KwKwK: code references the entry being defined
    assert _lzw_decode(_lzw_encode(b"aaaaaaa")) == b"aaaaaaa"

    stream = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (LzwText) Tj ET"
    body = _lzw_encode(stream)
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Filter /LZWDecode /Length " + str(len(body)).encode()
        + b" >> stream\n" + body + b"\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF"
    )
    chars = pdf_pages_chars(pdf)[0]["chars"]
    assert "".join(c["text"] for c in chars) == "LzwText"


def _inherit_pdf() -> bytes:
    """Two-level page tree: the /Differences font and the /MediaBox on
    the root /Pages node, /Rotate 90 on the intermediate node, nothing
    on the page; a second page whose /Parent chain loops."""
    shown = b"BT /F1 12 Tf 1 0 0 1 72 300 Tm (caf\\200 ol\\200) Tj ET"
    plain = b"BT /F1 12 Tf 1 0 0 1 72 300 Tm (hi) Tj ET"
    return (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R 8 0 R] /Count 2"
        b" /MediaBox [0 0 300 400] /Resources << /Font << /F1 5 0 R >> >> >> endobj\n"
        b"3 0 obj << /Type /Pages /Parent 2 0 R /Kids [4 0 R] /Count 1"
        b" /Rotate 90 >> endobj\n"
        b"4 0 obj << /Type /Page /Parent 3 0 R /Contents 6 0 R >> endobj\n"
        b"5 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" /Encoding << /Differences [128 /eacute] >> >> endobj\n"
        b"6 0 obj << /Length " + str(len(shown)).encode() + b" >> stream\n"
        + shown + b"\nendstream endobj\n"
        b"8 0 obj << /Type /Page /Parent 9 0 R /Contents 11 0 R >> endobj\n"
        b"9 0 obj << /Type /Pages /Parent 10 0 R >> endobj\n"
        b"10 0 obj << /Type /Pages /Parent 9 0 R >> endobj\n"
        b"11 0 obj << /Length " + str(len(plain)).encode() + b" >> stream\n"
        + plain + b"\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF"
    )


def test_page_attributes_inherit_from_any_ancestor():
    """ISO 32000-1 7.7.3.4: /Resources, /MediaBox and /Rotate inherit
    from any /Pages ancestor, not only the direct parent.  Without the
    walk the root's /Differences font is missed and the page reads
    'caf\\x80 ol\\x80' while the mode still says interp."""
    from ragflow_spark.parsers.pdf import extract_pdf_text_mode

    pdf = _inherit_pdf()
    first, looped = pdf_pages_chars(pdf)
    assert "".join(c["text"] for c in first["chars"]) == "café olé"
    # root /MediaBox 300x400, displayed through the inherited /Rotate 90
    assert (first["width"], first["height"]) == (400.0, 300.0)
    # the /Parent cycle ends the walk: own dict, default box, no rotation
    assert "".join(c["text"] for c in looped["chars"]) == "hi"
    assert (looped["width"], looped["height"]) == (612.0, 792.0)
    # the horizontal run displays vertically on the rotated page: one
    # glyph per visual line, the space line stripped away
    text, mode = extract_pdf_text_mode(pdf)
    assert (text.split("\n"), mode) == (list("caféolé") + ["hi"], "interp")


def test_inherited_walk_visits_each_node_once_per_document():
    """Many pages under one deep /Parent chain: the memo makes the
    walk O(nodes) per document, not O(pages x depth)."""
    from ragflow_spark.parsers.pdf_chars import _inherited

    depth, n_pages = 3000, 400
    objs = {1: b"<< /Type /Pages /Rotate 180 >>"}
    for i in range(2, depth + 1):
        objs[i] = b"<< /Type /Pages /Parent %d 0 R >>" % (i - 1)
    for p in range(n_pages):
        objs[10_000 + p] = b"<< /Type /Page /Parent %d 0 R >>" % depth
    calls = [0]

    def own(head):
        calls[0] += 1
        return 180 if b"/Rotate" in head else None

    memo: dict = {}
    got = [_inherited(objs, 10_000 + p, own, memo) for p in range(n_pages)]
    assert got == [180] * n_pages
    assert calls[0] == depth + n_pages


def test_lexer_linear_on_long_whitespace_runs():
    """300 kB whitespace runs that no token follows (before a lone
    '{', '}' or '>', an unclosed '(', or at the end of the stream)
    lex in linear time.  A lexer pattern that may start with a
    whitespace run retries it at every byte, O(run^2): hours for
    these streams, where a linear lexer takes about 0.1 s each on a
    4-vCPU VM.  The timer turns such a stall into a failure."""
    pad = b" " * 300_000
    shown = b"BT /F1 12 Tf 1 0 0 1 72 300 Tm (hi) Tj"
    tails = [
        pad + b"{ ET",
        pad + b"} ET",
        pad + b"> ET",
        b" ET" + pad,
        b" ET" + pad + b"(",
        b" ET\n" + b"\r\n\t " * 75_000,
    ]
    budget = 5.0

    def stalled(*_):
        pytest.fail(f"lexing padded streams took over {budget} s")

    prev = signal.signal(signal.SIGALRM, stalled)
    signal.setitimer(signal.ITIMER_REAL, budget)
    try:
        t0 = time.perf_counter()
        for tail in tails:
            (page,) = pdf_pages_chars(_one_page_pdf(shown + tail))
            assert "".join(c["text"] for c in page["chars"]) == "hi"
        elapsed = time.perf_counter() - t0
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, prev)
    assert elapsed < budget
