"""Whole-path pin for the PDF text path.

``extract_pdf_text_mode``'s (text, mode) over the extractbench
generator PDFs (``pdf_heavy`` and ``cc_mix``, seeds 1-3) and over the
hostile-font, CJK-font, rotated and encrypted fixture documents is
hashed against a digest taken before the per-glyph rewrite of
``parsers/pdf_chars.py``, ``parsers/pdf.py`` and ``pdf/assemble.py``.
The fixture documents additionally pin every glyph box and every
page's ``n_inexact_glyphs`` count of ``pdf_pages_chars``.  A drift anywhere on the path
fails here, in the unit suite, not only in the benchmark's gate.

The fixtures are rebuilt in this file (not imported from the tests
that introduced them) so editing one of those tests cannot move the
pin.
"""

from __future__ import annotations

import hashlib

from extractbench import corpus
from ragflow_spark.data.pdfgen import encrypt_pdf, make_doc_pdf
from ragflow_spark.parsers.pdf import extract_pdf_text_mode
from ragflow_spark.parsers.pdf_chars import pdf_pages_chars
from ragflow_spark.spark.udfs import sniff_doc_type

MEDIA = b"/MediaBox [0 0 612 792]"

GENERATOR_DIGEST = "00bf8bbf95dd84c2b7ecfbcb3cbc304eeaf67103dd862ca3851e3f306e58657a"
FIXTURE_TEXT_DIGEST = "51aed661b6916249465b308b472be58d25f11e3e05933cf0ea02f27d0d99eff6"
FIXTURE_CHARS_DIGEST = "302426785cc0fe51e406ca6f325885eb1797f3eee733f4d14278a11a09c28017"


def _pdf(objs: list[bytes]) -> bytes:
    return b"%PDF-1.4\n" + b"\n".join(objs) + b"\ntrailer << /Root 1 0 R >>\n%%EOF"


def _doc(
    stream: bytes,
    font_objs: list[bytes],
    media: bytes = MEDIA,
    extra: bytes = b"",
    fonts: bytes = b"/F1 5 0 R",
) -> bytes:
    return _pdf(
        [
            b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj",
            b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj",
            b"3 0 obj << /Type /Page /Parent 2 0 R " + media + extra
            + b" /Resources << /Font << " + fonts + b" >> >>"
            b" /Contents 4 0 R >> endobj",
            b"4 0 obj << /Length " + str(len(stream)).encode()
            + b" >> stream\n" + stream + b"\nendstream endobj",
            *font_objs,
        ]
    )


def _tounicode_font(cmap_body: bytes) -> list[bytes]:
    return [
        b"5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /Hostile"
        b" /Encoding /Identity-H /DescendantFonts [6 0 R]"
        b" /ToUnicode 7 0 R >> endobj",
        b"6 0 obj << /Type /Font /Subtype /CIDFontType2 /DW 1000 >> endobj",
        b"7 0 obj << /Length " + str(len(cmap_body)).encode()
        + b" >> stream\n" + cmap_body + b"\nendstream endobj",
    ]


def _type0(encoding: bytes, dw: int = 1000, w: bytes = b"") -> list[bytes]:
    return [
        b"5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /Fake-CJK"
        b" /Encoding " + encoding + b" /DescendantFonts [6 0 R] >> endobj",
        b"6 0 obj << /Type /Font /Subtype /CIDFontType2 /DW "
        + str(dw).encode() + w + b" >> endobj",
    ]


def _hex(s: str, codec: str) -> bytes:
    return b"<" + s.encode(codec).hex().upper().encode() + b">"


def _tm(show: bytes, size: int = 12) -> bytes:
    return b"BT /F1 %d Tf 1 0 0 1 72 700 Tm " % size + show + b" Tj ET"


_SHOW_HEX = b"BT /F1 12 Tf 72 720 Td <00000001> Tj ET"
_TRUETYPE = [b"5 0 obj << /Type /Font /Subtype /TrueType /BaseFont /H >> endobj"]
_COURIER = b"7 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Courier >> endobj"
_WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
).split()


def fixture_pdfs() -> list[tuple[str, bytes]]:
    big = b"9" * 400
    out = [
        # hostile fonts and boxes
        ("bfrange-past-top", _doc(_SHOW_HEX, _tounicode_font(
            b"begincmap\n1 beginbfrange\n<0000> <0010> <DBFFDFFF>\n"
            b"endbfrange\nendcmap"))),
        ("absurd-differences", _doc(b"BT /F1 12 Tf 72 720 Td (AB) Tj ET", [
            b"5 0 obj << /Type /Font /Subtype /TrueType /BaseFont /Hostile"
            b" /Encoding << /Differences [ 99999999999 /zzznope 65 /zzz ] >>"
            b" >> endobj"])),
        ("dot-only-dw-w", _doc(_SHOW_HEX, [
            b"5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /Hostile"
            b" /Encoding /Identity-H /DescendantFonts [6 0 R] >> endobj",
            b"6 0 obj << /Type /Font /Subtype /CIDFontType2 /DW ..."
            b" /W [ . [ ... ] 1.2.3 ] >> endobj"])),
        ("huge-w", _doc(_SHOW_HEX, [
            b"5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /Hostile"
            b" /Encoding /Identity-H /DescendantFonts [6 0 R] >> endobj",
            b"6 0 obj << /Type /Font /Subtype /CIDFontType2 /DW 1000"
            b" /W [ " + big + b" [ 500 ] ] >> endobj"])),
        ("dot-only-mediabox", _doc(
            b"BT /F1 12 Tf 72 720 Td (hi) Tj ET", _TRUETYPE,
            media=b"/MediaBox [. . ... .]")),
        ("infinite-matrix", _doc(
            b"BT /F1 12 Tf " + big + b" 0 0 " + big + b" 0 0 Tm (xy) Tj ET\n"
            b"BT /F1 12 Tf 72 700 Td (ok) Tj ET", _TRUETYPE)),
        ("oversized-bfchar", _doc(_SHOW_HEX, _tounicode_font(
            b"begincmap\n1 beginbfchar\n<" + b"FF" * 9
            + b"> <0041>\nendbfchar\nendcmap"))),
        # CJK and other CID / Type3 fonts
        ("unigb-ucs2", _doc(
            _tm(_hex("数据处理引擎", "utf-16-be")), _type0(b"/UniGB-UCS2-H"))),
        ("gbk-euc", _doc(_tm(_hex("上海大学研究生", "gbk")), _type0(b"/GBK-EUC-H"))),
        ("rksj", _doc(
            _tm(_hex("Spark処理3倍", "cp932"), 10), _type0(b"/90ms-RKSJ-H"))),
        ("identity-no-tounicode", _doc(
            b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (visible ascii line) Tj "
            b"/F2 12 Tf 1 0 0 1 72 660 Tm <00480049> Tj ET",
            [*_type0(b"/Identity-H"), _COURIER],
            fonts=b"/F1 7 0 R /F2 5 0 R")),
        ("unknown-predef", _doc(_tm(b"<2121>"), _type0(b"/H"))),
        ("cid-w", _doc(
            _tm(_hex("数据", "utf-16-be")),
            _type0(b"/UniGB-UCS2-H", w=b" /W [100 [500] 101 [750]]"))),
        ("type3-differences", _doc(_tm(b"(AB)", 10), [
            b"5 0 obj << /Type /Font /Subtype /Type3"
            b" /FontMatrix [0.01 0 0 0.01 0 0] /CharProcs << >>"
            b" /Encoding << /Differences [65 /alpha 66 /beta] >>"
            b" /FirstChar 65 /LastChar 66 /Widths [50 30] >> endobj"])),
        ("type3-no-differences", _doc(_tm(b"(AB)", 10), [
            b"5 0 obj << /Type /Font /Subtype /Type3"
            b" /FontMatrix [0.001 0 0 0.001 0 0] /CharProcs << >>"
            b" /FirstChar 65 /LastChar 66 /Widths [500 500] >> endobj"])),
    ]
    # rotated pages
    two_lines = (
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (First) Tj "
        b"1 0 0 1 72 680 Tm (Second) Tj ET"
    )
    for rot in (90, 180, 270):
        out.append((f"rotate-{rot}", _doc(
            two_lines, _TRUETYPE, extra=b" /Rotate %d" % rot)))
    # encrypted twins (and one that needs a real password)
    plain = make_doc_pdf(_WORDS)
    out += [
        ("rc4-40", encrypt_pdf(plain, r=2)),
        ("rc4-128", encrypt_pdf(plain, r=3, length=128)),
        ("aes-128", encrypt_pdf(plain, r=4, length=128, aes=True)),
        ("user-password", encrypt_pdf(plain, r=3, length=128, user_pw=b"secret")),
    ]
    return out


def generator_pdfs() -> list[tuple[str, bytes]]:
    out = []
    for workload in ("pdf_heavy", "cc_mix"):
        for seed in (1, 2, 3):
            for d in corpus.build(workload, seed):
                if sniff_doc_type(d.html, d.text) == "pdf":
                    out.append((f"{workload}/{seed}/{d.url}", bytes(d.html)))
    return out


def text_digest(docs: list[tuple[str, bytes]]) -> str:
    h = hashlib.sha256()
    for name, pdf in docs:
        text, mode = extract_pdf_text_mode(pdf)
        h.update(repr((name, text, mode)).encode("utf-8", "surrogatepass"))
    return h.hexdigest()


def chars_digest(docs: list[tuple[str, bytes]]) -> str:
    h = hashlib.sha256()
    for name, pdf in docs:
        h.update(repr((name, pdf_pages_chars(pdf))).encode("utf-8", "surrogatepass"))
    return h.hexdigest()


def test_generator_pdfs_text_and_mode_pinned():
    assert text_digest(generator_pdfs()) == GENERATOR_DIGEST


def test_fixture_pdfs_text_and_mode_pinned():
    assert text_digest(fixture_pdfs()) == FIXTURE_TEXT_DIGEST


def test_fixture_pdfs_glyph_boxes_and_diag_pinned():
    assert chars_digest(fixture_pdfs()) == FIXTURE_CHARS_DIGEST
