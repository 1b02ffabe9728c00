"""Office Open XML parsers (xlsx / docx / pptx) on the standard library.

The reference uses openpyxl / python-docx / python-pptx
(deepdoc/parser/excel_parser.py:27-177, docx_parser.py:25-139,
ppt_parser.py); none of those are available here, but OOXML files are
just zip archives of XML parts, so these readers use ``zipfile`` +
``xml.etree`` only.  Output shapes mirror the reference:

* xlsx -> per-row ``"header：value; ..."`` lines (`` ——sheetname``
  suffix for non-default sheet names) and ≤256-row HTML chunks
  (excel_parser.py:134-158, :89-132);
* docx -> (paragraph text, style name) pairs + tables as
  header-classified lines (docx_parser.py:25-139);
* pptx -> per-slide joined text (ppt_parser.py).

Dispatch is magic-byte based: ``PK\\x03\\x04`` + the characteristic
part name inside the archive.
"""

from __future__ import annotations

import re
import zipfile
from html import escape
from io import BytesIO
from xml.etree import ElementTree as ET

_NS_MAIN = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_NS_W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
_NS_A = "{http://schemas.openxmlformats.org/drawingml/2006/main}"

_CELL_REF = re.compile(r"([A-Z]+)([0-9]+)")

# Hostile-input bounds.  OOXML arriving from the open web can be a
# decompression bomb (kilobytes of zip, gigabytes of XML) or carry a
# DTD entity-expansion attack; stdlib zipfile/ElementTree guard against
# neither, and at corpus scale the failure mode is a stalled/OOM-killed
# executor, not a caught exception.  Over-cap parts raise ValueError,
# which the extraction UDF's office catch turns into an empty document
# with mode "extract-error", counted per bucket (spark/udfs.py).
_MAX_PART_BYTES = 64 * 1024 * 1024  # per decompressed XML part
_MAX_SHEET_CELLS = 4_000_000  # materialized cells (incl. gap padding)
_MAX_COLS = 16_384  # Excel's own column limit (XFD)


def _read_part(zf: zipfile.ZipFile, name: str) -> bytes:
    """A member's bytes, bounded while DECOMPRESSING (``zf.read`` would
    materialize the bomb first), with DTD-bearing XML rejected (OOXML
    parts never legitimately carry one; inside text it would be escaped)."""
    with zf.open(name) as f:
        data = f.read(_MAX_PART_BYTES + 1)
    if len(data) > _MAX_PART_BYTES:
        raise ValueError(f"OOXML part {name} exceeds {_MAX_PART_BYTES} bytes")
    if b"<!DOCTYPE" in data or b"<!ENTITY" in data:
        raise ValueError(f"DTD in OOXML part {name}")
    return data


def sniff_office(data: bytes) -> str | None:
    """'xlsx' | 'docx' | 'pptx' | None from magic bytes + part names.
    None also for an archive ``zipfile`` cannot open: a damaged central
    directory raises ``BadZipFile``, some ``NotImplementedError`` or
    ``ValueError``."""
    if not data or not bytes(data[:4]) == b"PK\x03\x04":
        return None
    try:
        with zipfile.ZipFile(BytesIO(bytes(data))) as zf:
            names = set(zf.namelist())
    except Exception:  # noqa: BLE001 - any unreadable archive
        return None
    if any(n.startswith("xl/") for n in names):
        return "xlsx"
    if "word/document.xml" in names:
        return "docx"
    if any(n.startswith("ppt/slides/") for n in names):
        return "pptx"
    return None


# --------------------------------------------------------------------------
# xlsx
# --------------------------------------------------------------------------


def _col_index(ref: str) -> int:
    """'A'->0, 'Z'->25, 'AA'->26 ..."""
    n = 0
    for ch in ref:
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def read_xlsx(data: bytes) -> list[tuple[str, list[list[str | None]]]]:
    """[(sheet_name, rows)] with cells as strings (shared strings and
    inline strings resolved, gaps None-padded)."""
    with zipfile.ZipFile(BytesIO(bytes(data))) as zf:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            root = ET.fromstring(_read_part(zf, "xl/sharedStrings.xml"))
            for si in root.iter(f"{_NS_MAIN}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_NS_MAIN}t")))
        sheet_names: list[str] = []
        if "xl/workbook.xml" in zf.namelist():
            wb = ET.fromstring(_read_part(zf, "xl/workbook.xml"))
            for s in wb.iter(f"{_NS_MAIN}sheet"):
                sheet_names.append(s.get("name", f"Sheet{len(sheet_names) + 1}"))
        out = []
        sheet_parts = sorted(
            n for n in zf.namelist() if re.match(r"xl/worksheets/sheet[0-9]+\.xml$", n)
        )
        for si_idx, part in enumerate(sheet_parts):
            root = ET.fromstring(_read_part(zf, part))
            rows: list[list[str | None]] = []
            n_cells = 0
            for row_el in root.iter(f"{_NS_MAIN}row"):
                cells: list[str | None] = []
                for c in row_el.iter(f"{_NS_MAIN}c"):
                    ref = c.get("r", "")
                    m = _CELL_REF.match(ref)
                    # hostile refs past Excel's own XFD column limit
                    # would otherwise gap-pad billions of Nones; place
                    # such cells sequentially instead
                    idx = (
                        _col_index(m.group(1))
                        if m and len(m.group(1)) <= 3
                        else len(cells)
                    )
                    if idx >= _MAX_COLS:
                        idx = len(cells)
                    while len(cells) < idx:
                        cells.append(None)
                    ctype = c.get("t", "n")
                    v = c.find(f"{_NS_MAIN}v")
                    if ctype == "s" and v is not None and v.text is not None:
                        try:
                            sidx = int(v.text)
                        except ValueError:
                            sidx = -1
                        val: str | None = (
                            shared[sidx] if 0 <= sidx < len(shared) else None
                        )
                    elif ctype == "inlineStr":
                        is_el = c.find(f"{_NS_MAIN}is")
                        val = (
                            "".join(t.text or "" for t in is_el.iter(f"{_NS_MAIN}t"))
                            if is_el is not None
                            else None
                        )
                    else:
                        val = v.text if v is not None else None
                    cells.append(val)
                n_cells += len(cells)
                if n_cells > _MAX_SHEET_CELLS:
                    raise ValueError(f"sheet {part} exceeds {_MAX_SHEET_CELLS} cells")
                rows.append(cells)
            name = sheet_names[si_idx] if si_idx < len(sheet_names) else f"Sheet{si_idx + 1}"
            out.append((name, rows))
    return out


def xlsx_lines(data: bytes) -> list[str]:
    """Per-row "header：value; ..." lines (excel_parser.py:134-158)."""
    res = []
    for sheet, rows in read_xlsx(data):
        if not rows:
            continue
        headers = rows[0]
        for r in rows[1:]:
            fields = []
            for i, v in enumerate(r):
                if not v:
                    continue
                h = str(headers[i]) if i < len(headers) and headers[i] else ""
                fields.append((h + "：" if h else "") + str(v))
            if not fields:
                continue
            line = "; ".join(fields)
            if sheet.lower().find("sheet") < 0:
                line += " ——" + sheet
            res.append(line)
    return res


def xlsx_html_chunks(data: bytes, chunk_rows: int = 256) -> list[str]:
    """≤chunk_rows-row HTML tables with a header row per chunk
    (excel_parser.py:89-132)."""
    chunks = []
    for sheet, rows in read_xlsx(data):
        if not rows:
            continue
        head = "<tr>" + "".join(
            f"<th>{escape(str(v).strip() if v is not None else '')}</th>" for v in rows[0]
        ) + "</tr>"
        body = rows[1:]
        for lo in range(0, max(len(body), 1), chunk_rows):
            tb = f"<table><caption>{sheet}</caption>" + head
            for r in body[lo : lo + chunk_rows]:
                tb += "<tr>" + "".join(
                    f"<td>{'' if v is None else v}</td>" for v in r
                ) + "</tr>"
            tb += "</table>\n"
            chunks.append(tb)
    return chunks


# --------------------------------------------------------------------------
# docx
# --------------------------------------------------------------------------


def read_docx(data: bytes) -> tuple[list[tuple[str, str]], list[list[list[str]]]]:
    """(paragraphs [(text, style)], tables [rows[cells]])."""
    with zipfile.ZipFile(BytesIO(bytes(data))) as zf:
        root = ET.fromstring(_read_part(zf, "word/document.xml"))
    paras: list[tuple[str, str]] = []
    tables: list[list[list[str]]] = []
    body = root.find(f"{_NS_W}body")
    if body is None:
        return paras, tables
    for el in body:
        if el.tag == f"{_NS_W}p":
            text = "".join(t.text or "" for t in el.iter(f"{_NS_W}t"))
            style_el = el.find(f"{_NS_W}pPr/{_NS_W}pStyle")
            style = style_el.get(f"{_NS_W}val", "") if style_el is not None else ""
            paras.append((text, style))
        elif el.tag == f"{_NS_W}tbl":
            rows = []
            for tr in el.iter(f"{_NS_W}tr"):
                rows.append(
                    [
                        "".join(t.text or "" for t in tc.iter(f"{_NS_W}t"))
                        for tc in tr.iter(f"{_NS_W}tc")
                    ]
                )
            tables.append(rows)
    return paras, tables


def docx_sections(data: bytes) -> list[str]:
    """Paragraph texts + tables flattened to "header: value; ..." lines
    (docx_parser.py table treatment, distilled)."""
    paras, tables = read_docx(data)
    out = [t for t, _ in paras if t.strip()]
    for rows in tables:
        if not rows:
            continue
        headers = rows[0]
        for r in rows[1:]:
            parts = [
                f"{headers[i] if i < len(headers) else ''}: {v}"
                for i, v in enumerate(r)
                if v
            ]
            if parts:
                out.append("; ".join(parts))
    return out


# --------------------------------------------------------------------------
# pptx
# --------------------------------------------------------------------------


def pptx_slides(data: bytes) -> list[str]:
    """Per-slide text (paragraph runs joined by newline)."""
    with zipfile.ZipFile(BytesIO(bytes(data))) as zf:
        parts = sorted(
            (n for n in zf.namelist() if re.match(r"ppt/slides/slide[0-9]+\.xml$", n)),
            key=lambda n: int(re.search(r"([0-9]+)\.xml$", n).group(1)),
        )
        out = []
        for part in parts:
            root = ET.fromstring(_read_part(zf, part))
            lines = []
            for para in root.iter(f"{_NS_A}p"):
                txt = "".join(t.text or "" for t in para.iter(f"{_NS_A}t"))
                if txt.strip():
                    lines.append(txt)
            out.append("\n".join(lines))
    return out
