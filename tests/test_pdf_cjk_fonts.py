"""Predefined CID CMaps, Identity-without-ToUnicode detection, and
Type3 fonts (VERDICT r4 #4/#5).

The reference decodes predefined CMaps through pdfminer's bundled CMap
data (deepdoc/parser/pdf_parser.py:1006-1129 via pdfplumber); this
engine decodes TEXT through the public character encoding each CMap is
defined over (UniGB-UCS2 codes ARE UCS-2; GBK-EUC codes are GBK bytes;
90ms-RKSJ codes are Shift-JIS...), needing no data files, and resolves
code -> CID for /W advances from $RAGFLOW_SPARK_CMAPS (Adobe
cmap-resources format) when deployed.  Fonts that CANNOT be decoded
faithfully are counted per page (``n_inexact_glyphs``) and flip the
extraction mode to ``interp-partial`` — a fallback-class metric, never
a silent mis-decode.
"""

from __future__ import annotations

import pytest

from ragflow_spark.parsers.pdf import extract_pdf_text_mode
from ragflow_spark.parsers.pdf_chars import pdf_pages_chars

MEDIA = b"/MediaBox [0 0 612 792]"


def _pdf(objs: list[bytes]) -> bytes:
    return b"%PDF-1.4\n" + b"\n".join(objs) + b"\ntrailer << /Root 1 0 R >>\n%%EOF"


def _doc(stream: bytes, font_objs: list[bytes], font_ref: int = 5) -> bytes:
    return _pdf(
        [
            b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj",
            b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj",
            b"3 0 obj << /Type /Page /Parent 2 0 R " + MEDIA
            + b" /Resources << /Font << /F1 " + str(font_ref).encode()
            + b" 0 R >> >> /Contents 4 0 R >> endobj",
            b"4 0 obj << /Length " + str(len(stream)).encode()
            + b" >> stream\n" + stream + b"\nendstream endobj",
            *font_objs,
        ]
    )


def _type0(encoding: bytes, dw: int = 1000, w: bytes = b"") -> list[bytes]:
    return [
        b"5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /Fake-CJK"
        b" /Encoding " + encoding + b" /DescendantFonts [6 0 R] >> endobj",
        b"6 0 obj << /Type /Font /Subtype /CIDFontType2 /DW "
        + str(dw).encode() + w + b" >> endobj",
    ]


def _hex(s: str, codec: str) -> bytes:
    return b"<" + s.encode(codec).hex().upper().encode() + b">"


def test_unigb_ucs2_decodes_without_data():
    """UniGB-UCS2-H codes are the UCS-2 values themselves: text must
    round-trip exactly with no CMap data deployed, full-width /DW
    advances, mode 'interp' (exact, not partial)."""
    text = "数据处理引擎"
    stream = (
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm "
        + _hex(text, "utf-16-be") + b" Tj ET"
    )
    pdf = _doc(stream, _type0(b"/UniGB-UCS2-H"))
    pages = pdf_pages_chars(pdf)
    got = "".join(c["text"] for c in pages[0]["chars"])
    assert got == text
    assert pages[0]["n_inexact_glyphs"] == 0
    # /DW 1000 -> 1 em = 12 pt per glyph
    xs = [c["x0"] for c in pages[0]["chars"]]
    assert xs[1] - xs[0] == pytest.approx(12.0)
    t, mode = extract_pdf_text_mode(pdf)
    assert t == text and mode == "interp"


def test_gbk_euc_decodes_via_stdlib_codec():
    text = "上海大学研究生"
    stream = (
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm " + _hex(text, "gbk") + b" Tj ET"
    )
    pdf = _doc(stream, _type0(b"/GBK-EUC-H"))
    pages = pdf_pages_chars(pdf)
    assert "".join(c["text"] for c in pages[0]["chars"]) == text
    assert pages[0]["n_inexact_glyphs"] == 0


def test_rksj_mixed_width_segmentation():
    """90ms-RKSJ is mixed single/double-byte (ASCII + Shift-JIS):
    the codec segmentation must keep byte sync across the mix."""
    text = "Spark処理3倍"
    stream = (
        b"BT /F1 10 Tf 1 0 0 1 72 700 Tm " + _hex(text, "cp932") + b" Tj ET"
    )
    pdf = _doc(stream, _type0(b"/90ms-RKSJ-H"))
    pages = pdf_pages_chars(pdf)
    assert "".join(c["text"] for c in pages[0]["chars"]) == text
    assert pages[0]["n_inexact_glyphs"] == 0


def test_identity_without_tounicode_counted_not_garbage():
    """Identity-H without /ToUnicode has no text mapping: glyphs must
    NOT decode as latin-1 garbage; they are dropped and COUNTED, and a
    doc that still yields other text reports mode interp-partial."""
    stream = (
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (visible ascii line) Tj "
        b"/F2 12 Tf 1 0 0 1 72 660 Tm <00480049> Tj ET"
    )
    pdf = _pdf(
        [
            b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj",
            b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj",
            b"3 0 obj << /Type /Page /Parent 2 0 R " + MEDIA
            + b" /Resources << /Font << /F1 7 0 R /F2 5 0 R >> >>"
            b" /Contents 4 0 R >> endobj",
            b"4 0 obj << /Length " + str(len(stream)).encode()
            + b" >> stream\n" + stream + b"\nendstream endobj",
            *_type0(b"/Identity-H"),
            b"7 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Courier"
            b" >> endobj",
        ]
    )
    pages = pdf_pages_chars(pdf)
    got = "".join(c["text"] for c in pages[0]["chars"])
    assert got == "visible ascii line"  # no mojibake from the CID codes
    assert pages[0]["n_inexact_glyphs"] == 2
    t, mode = extract_pdf_text_mode(pdf)
    assert t == "visible ascii line" and mode == "interp-partial"


def test_unknown_predefined_cmap_counted():
    """A predefined CMap with no stdlib codec (ISO-2022-coded bare /H)
    must be flagged, not silently guessed."""
    stream = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm <2121> Tj ET"
    pdf = _doc(stream, _type0(b"/H"))
    pages = pdf_pages_chars(pdf)
    # both guessed glyphs are counted
    assert pages[0]["n_inexact_glyphs"] == len(pages[0]["chars"]) == 2


def test_deploy_cmap_resolves_w_advances(tmp_path, monkeypatch):
    """With $RAGFLOW_SPARK_CMAPS deployed (Adobe cmap-resources text
    format), code -> CID resolves and per-CID /W advances replace the
    /DW fallback — the same deploy-data pattern as huqie/tiktoken."""
    cmap_dir = tmp_path / "Adobe-GB1-5" / "CMap"
    cmap_dir.mkdir(parents=True)
    # 数 U+6570 -> CID 100 (half-width 500 in /W), 据 U+636E -> CID 101
    (cmap_dir / "UniGB-UCS2-H").write_bytes(
        b"2 begincidchar\n<6570> 100\n<636E> 101\nendcidchar\n"
        b"1 begincidrange\n<4E00> <4E10> 300\nendcidrange\n"
    )
    monkeypatch.setenv("RAGFLOW_SPARK_CMAPS", str(tmp_path))
    text = "数据"
    stream = (
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm "
        + _hex(text, "utf-16-be") + b" Tj ET"
    )
    w = b" /W [100 [500] 101 [750]]"
    pdf = _doc(stream, _type0(b"/UniGB-UCS2-H", w=w))
    pages = pdf_pages_chars(pdf)
    chars = pages[0]["chars"]
    assert "".join(c["text"] for c in chars) == text
    # CID 100 -> 500/1000 em * 12 pt = 6.0 advance
    assert chars[1]["x0"] - chars[0]["x0"] == pytest.approx(6.0)
    # without the data the same doc advances at /DW (12.0)
    monkeypatch.delenv("RAGFLOW_SPARK_CMAPS")
    chars2 = pdf_pages_chars(pdf)[0]["chars"]
    assert chars2[1]["x0"] - chars2[0]["x0"] == pytest.approx(12.0)


def test_type3_font_matrix_advances_and_differences_text():
    """Type3 widths are in glyph space scaled by /FontMatrix (NOT
    /1000); text comes from /Encoding /Differences names."""
    stream = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (AB) Tj ET"
    font = [
        b"5 0 obj << /Type /Font /Subtype /Type3"
        b" /FontMatrix [0.01 0 0 0.01 0 0]"
        b" /CharProcs << >>"
        b" /Encoding << /Differences [65 /alpha 66 /beta] >>"
        b" /FirstChar 65 /LastChar 66 /Widths [50 30] >> endobj",
    ]
    pdf = _doc(stream, font)
    pages = pdf_pages_chars(pdf)
    chars = pages[0]["chars"]
    # names outside the AGL subset fall back to the byte value (the
    # Differences map's documented unknown-name behavior)
    assert [c["text"] for c in chars] == ["A", "B"]
    assert pages[0]["n_inexact_glyphs"] == 0
    # advances = width * FontMatrix[0] * size: 50*0.01*10 = 5.0 and
    # 30*0.01*10 = 3.0 (a /1000 reading would give 0.5 / 0.3)
    assert chars[1]["x0"] - chars[0]["x0"] == pytest.approx(5.0)
    assert chars[1]["x1"] - chars[1]["x0"] == pytest.approx(3.0)


def test_type3_without_differences_counted():
    stream = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (AB) Tj ET"
    font = [
        b"5 0 obj << /Type /Font /Subtype /Type3"
        b" /FontMatrix [0.001 0 0 0.001 0 0] /CharProcs << >>"
        b" /FirstChar 65 /LastChar 66 /Widths [500 500] >> endobj",
    ]
    pages = pdf_pages_chars(_doc(stream, font))
    assert pages[0]["n_inexact_glyphs"] == 2
