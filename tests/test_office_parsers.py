"""Stdlib OOXML parser tests: documents built in-test with zipfile."""

from __future__ import annotations

import zipfile
from io import BytesIO

import pytest

from ragflow_spark.parsers.office import (
    docx_sections,
    pptx_slides,
    read_docx,
    read_xlsx,
    sniff_office,
    xlsx_lines,
)
from ragflow_spark.spark.udfs import extract_document_ex, sniff_doc_type

_XL_NS = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
_W_NS = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'
_A_NS = 'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'


def make_xlsx(sheet_name="Data") -> bytes:
    shared = (
        f'<sst {_XL_NS} count="4" uniqueCount="4">'
        "<si><t>name</t></si><si><t>count</t></si>"
        "<si><t>apple</t></si><si><t>pear</t></si></sst>"
    )
    sheet = (
        f'<worksheet {_XL_NS}><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>10</v></c></row>'
        '<row r="3"><c r="A3" t="s"><v>3</v></c><c r="B3"><v>20</v></c></row>'
        "</sheetData></worksheet>"
    )
    workbook = (
        f'<workbook {_XL_NS}><sheets>'
        f'<sheet name="{sheet_name}" sheetId="1"/></sheets></workbook>'
    )
    buf = BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", "<Types/>")
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/sharedStrings.xml", shared)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    return buf.getvalue()


def make_docx() -> bytes:
    doc = (
        f'<w:document {_W_NS}><w:body>'
        "<w:p><w:pPr><w:pStyle w:val=\"Heading1\"/></w:pPr>"
        "<w:r><w:t>Title Here</w:t></w:r></w:p>"
        "<w:p><w:r><w:t>Body paragraph </w:t></w:r><w:r><w:t>in runs.</w:t></w:r></w:p>"
        "<w:tbl><w:tr><w:tc><w:p><w:r><w:t>h1</w:t></w:r></w:p></w:tc>"
        "<w:tc><w:p><w:r><w:t>h2</w:t></w:r></w:p></w:tc></w:tr>"
        "<w:tr><w:tc><w:p><w:r><w:t>v1</w:t></w:r></w:p></w:tc>"
        "<w:tc><w:p><w:r><w:t>v2</w:t></w:r></w:p></w:tc></w:tr></w:tbl>"
        "</w:body></w:document>"
    )
    buf = BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", "<Types/>")
        zf.writestr("word/document.xml", doc)
    return buf.getvalue()


def make_pptx() -> bytes:
    def slide(txts):
        paras = "".join(
            f"<a:p><a:r><a:t>{t}</a:t></a:r></a:p>" for t in txts
        )
        return f'<p:sld xmlns:p="x" {_A_NS}><p:cSld>{paras}</p:cSld></p:sld>'

    buf = BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", "<Types/>")
        zf.writestr("ppt/slides/slide1.xml", slide(["First slide", "bullet one"]))
        zf.writestr("ppt/slides/slide2.xml", slide(["Second slide"]))
    return buf.getvalue()


def test_sniff_office():
    assert sniff_office(make_xlsx()) == "xlsx"
    assert sniff_office(make_docx()) == "docx"
    assert sniff_office(make_pptx()) == "pptx"
    assert sniff_office(b"%PDF-1.4") is None
    assert sniff_office(b"PK\x03\x04junknotzip") is None


def test_read_xlsx_shared_strings_and_gaps():
    sheets = read_xlsx(make_xlsx())
    assert sheets[0][0] == "Data"
    assert sheets[0][1][0] == ["name", "count"]
    assert sheets[0][1][1] == ["apple", "10"]


def test_xlsx_lines_reference_shape():
    lines = xlsx_lines(make_xlsx())
    assert lines == ["name：apple; count：10 ——Data", "name：pear; count：20 ——Data"]
    # default-ish sheet names get no suffix
    assert xlsx_lines(make_xlsx("Sheet1")) == [
        "name：apple; count：10",
        "name：pear; count：20",
    ]


def test_read_docx_styles_runs_tables():
    paras, tables = read_docx(make_docx())
    assert paras[0] == ("Title Here", "Heading1")
    assert paras[1][0] == "Body paragraph in runs."
    assert tables == [[["h1", "h2"], ["v1", "v2"]]]
    secs = docx_sections(make_docx())
    assert secs[-1] == "h1: v1; h2: v2"


def test_pptx_slides_ordered():
    slides = pptx_slides(make_pptx())
    assert slides == ["First slide\nbullet one", "Second slide"]


def test_extract_document_dispatch():
    for blob, expect in [
        (make_xlsx(), "xlsx"),
        (make_docx(), "docx"),
        (make_pptx(), "pptx"),
    ]:
        assert sniff_doc_type(blob, None) == expect
        doc_type, _, text, sections, _ = extract_document_ex(blob, None, "English")
        assert doc_type == expect and sections and text


# -- hostile OOXML (decompression bombs, DTD attacks, padding bombs) ---------
#
# At web-corpus scale the dangerous failure mode is not an exception
# (the extraction UDF contains those) but a stalled or OOM-killed
# executor: a kilobyte zip inflating to gigabytes, a DTD entity bomb
# expanding inside ElementTree, or a cell ref like ZZZZZZ1 gap-padding
# billions of Nones.  These pin the bounds in parsers/office.py.


def _zip_of(parts: dict[str, bytes]) -> bytes:
    buf = BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in parts.items():
            zf.writestr(name, data)
    return buf.getvalue()


def test_xlsx_decompression_bomb_rejected_before_materializing():
    bomb = _zip_of(
        {
            "[Content_Types].xml": b"<Types/>",
            # ~200 MB of XML-ish bytes, ~KBs compressed
            "xl/sharedStrings.xml": b"<sst>" + b" " * 200_000_000 + b"</sst>",
            "xl/worksheets/sheet1.xml": b"<worksheet/>",
        }
    )
    assert len(bomb) < 1_000_000  # the attack: tiny on the wire
    with pytest.raises(ValueError, match="exceeds"):
        read_xlsx(bomb)
    # the router's office catch: an empty document, counted as an
    # extraction error (never the text column, never zip bytes)
    assert extract_document_ex(bomb, "fallback text", "English") == (
        "xlsx", "", "", [], "extract-error"
    )


def test_docx_dtd_entity_bomb_rejected_not_expanded():
    laughs = (
        b'<?xml version="1.0"?><!DOCTYPE r [<!ENTITY a "aaaaaaaaaa">'
        b'<!ENTITY b "&a;&a;&a;&a;&a;&a;&a;&a;&a;&a;">'
        b'<!ENTITY c "&b;&b;&b;&b;&b;&b;&b;&b;&b;&b;">]>'
        b"<w:document xmlns:w='http://schemas.openxmlformats.org/"
        b"wordprocessingml/2006/main'><w:body><w:p><w:r><w:t>&c;&c;"
        b"</w:t></w:r></w:p></w:body></w:document>"
    )
    bomb = _zip_of(
        {"[Content_Types].xml": b"<Types/>", "word/document.xml": laughs}
    )
    with pytest.raises(ValueError, match="DTD"):
        read_docx(bomb)
    assert extract_document_ex(bomb, None, "English") == ("docx", "", "", [], "extract-error")


def test_xlsx_hostile_column_refs_place_sequentially():
    ns = _XL_NS
    sheet = (
        f"<worksheet {ns}><sheetData>"
        '<row r="1"><c r="ZZZZZZ1"><v>far</v></c>'
        '<c r="XFE1"><v>edge</v></c></row>'
        "</sheetData></worksheet>"
    ).encode()
    doc = _zip_of(
        {
            "[Content_Types].xml": b"<Types/>",
            "xl/worksheets/sheet1.xml": sheet,
        }
    )
    sheets = read_xlsx(doc)
    (_, rows), = sheets
    # neither ref gap-padded: ZZZZZZ exceeds 3 letters, XFE is past XFD
    assert rows == [["far", "edge"]]


def test_xlsx_gap_padding_bomb_hits_cell_cap():
    ns = _XL_NS
    # 300 rows, each one cell at column XFC (index 16377): legit-looking
    # refs whose padding totals ~4.9M cells
    body = "".join(
        f'<row r="{i}"><c r="XFC{i}"><v>x</v></c></row>' for i in range(1, 301)
    )
    sheet = f"<worksheet {ns}><sheetData>{body}</sheetData></worksheet>".encode()
    doc = _zip_of(
        {
            "[Content_Types].xml": b"<Types/>",
            "xl/worksheets/sheet1.xml": sheet,
        }
    )
    with pytest.raises(ValueError, match="cells"):
        read_xlsx(doc)


def test_xlsx_bad_shared_string_index_yields_empty_cell():
    ns = _XL_NS
    sheet = (
        f"<worksheet {ns}><sheetData>"
        '<row r="1"><c r="A1" t="s"><v>999999</v></c>'
        '<c r="B1" t="s"><v>nonsense</v></c>'
        '<c r="C1"><v>ok</v></c></row>'
        "</sheetData></worksheet>"
    ).encode()
    doc = _zip_of(
        {
            "[Content_Types].xml": b"<Types/>",
            "xl/worksheets/sheet1.xml": sheet,
        }
    )
    (_, rows), = read_xlsx(doc)
    assert rows == [[None, None, "ok"]]


def test_mutated_archives_never_become_text():
    """A ``PK`` document no OOXML reader opens is typed ``zip`` and
    gets the office catch's empty, counted row: its bytes never become
    text or chunks.  Seeded byte mutations after the magic (1-8 random
    bytes, or a 1-40 byte span deletion) of the three generators."""
    import random

    rng = random.Random(10)
    seeds = [make_xlsx(), make_docx(), make_pptx()]
    seen = set()
    for i in range(600):
        data = bytearray(seeds[i % 3])
        if i % 2:
            for _ in range(rng.randrange(1, 9)):
                data[rng.randrange(4, len(data))] = rng.randrange(256)
        else:
            at = rng.randrange(4, len(data) - 1)
            del data[at : at + rng.randrange(1, 41)]
        doc_type, title, text, sections, mode = extract_document_ex(bytes(data), None, "English")
        assert doc_type != "txt", i
        if doc_type == "zip" or mode == "extract-error":
            assert (title, text, sections, mode) == ("", "", [], "extract-error"), i
        seen.add((doc_type, mode))
    # the corpus reaches both: unreadable archives and damaged parts
    assert ("zip", "extract-error") in seen
    assert {("xlsx", "extract-error"), ("docx", "extract-error")} <= seen


def test_intact_non_ooxml_archives_are_counted_empty_zip_rows():
    """An intact archive of a format no extractor reads (a plain zip,
    an ODT-shaped one) is typed ``zip`` and gets the same empty,
    counted row as a damaged one: its bytes never become text."""

    def archive(parts):
        buf = BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            for name, body in parts.items():
                zf.writestr(name, body)
        return buf.getvalue()

    plain = archive({"notes.txt": "hello world\n" * 20})
    odt = archive({"mimetype": "application/vnd.oasis.opendocument.text", "content.xml": "<a/>"})
    for data in (plain, odt):
        assert sniff_doc_type(data, None) == "zip"
        assert extract_document_ex(data, None, "English") == ("zip", "", "", [], "extract-error")
