"""Deterministic multi-page PDF fixtures for the positioned-char path.

Generates born-digital PDFs with the features the reference's layout
stack consumes (deepdoc/parser/pdf_parser.py ``__images__`` ->
``_extract_table_figure`` -> ``construct_table``; rag/app/manual.py
outline pivot): Courier text (fixed 600/1000 em widths, so the
from-scratch interpreter's glyph advances are exact), chapter headings
backed by a real ``/Outlines`` tree, body paragraphs, and a
grid-aligned table with a ``Table 1:`` caption.  Streams are raw
(uncompressed) and objects carry no xref — the reader is regex-based.

Everything is a pure function of the input words, so executors
re-derive identical bytes.
"""

from __future__ import annotations

FONT_SIZE = 12
EM = 0.6 * FONT_SIZE  # Courier advance per glyph
LEADING = 16
PAGE_W, PAGE_H = 612, 792
MARGIN_X, TOP_Y = 72, 720
TABLE_COLS_X = (72, 240, 408)


def _esc(s: str) -> str:
    return s.replace("\\", "").replace("(", "[").replace(")", "]")


def _pdf_str(s: str) -> str:
    """A content-stream string operand: literal for ASCII, BOM'd
    UTF-16BE hex (how Unicode-aware producers write CJK) otherwise."""
    s = _esc(s)
    try:
        s.encode("latin-1")
        return f"({s})"
    except UnicodeEncodeError:
        return "<" + ("\ufeff" + s).encode("utf-16-be").hex().upper() + ">"


class _PageBuilder:
    def __init__(self) -> None:
        # draw units (a text line or a table row's cells) that a
        # scrambling producer may emit in any order
        self.units: list[list[str]] = []
        self.y = TOP_Y
        # logical content, for round-trip assertions:
        # ("line", text) | ("row", [cells])
        self.expected: list[tuple] = []

    def text_line(self, text: str, x: int = MARGIN_X) -> None:
        self.units.append([f"1 0 0 1 {x} {self.y} Tm {_pdf_str(text)} Tj"])
        self.expected.append(("line", _esc(text)))
        self.y -= LEADING

    def table_row(self, cells: list[str]) -> None:
        self.units.append(
            [
                f"1 0 0 1 {x} {self.y} Tm {_pdf_str(cell)} Tj"
                for x, cell in zip(TABLE_COLS_X, cells)
            ]
        )
        self.expected.append(("row", [_esc(c) for c in cells]))
        self.y -= LEADING

    def blank(self) -> None:
        self.y -= LEADING

    def stream(self, scramble=None) -> bytes:
        """``scramble``: a ``random.Random`` — emit draw units in
        shuffled order (real producers draw in arbitrary order; the
        reader must reconstruct reading order)."""
        units = list(self.units)
        if scramble is not None:
            scramble.shuffle(units)
        ops = [f"BT /F1 {FONT_SIZE} Tf {LEADING} TL"]
        for u in units:
            ops.extend(u)
        return (" ".join(ops) + " ET").encode("latin-1")


def make_doc_pdf(
    words: list[str],
    doc_id: int = 0,
    return_expected: bool = False,
    scramble_seed: int | None = None,
):
    """Two-page PDF: two outlined chapters of paragraphs on page 1, a
    captioned 3x4 grid table + closing prose on page 2.  With
    ``return_expected`` also returns the logical per-page content
    (``("line", text)`` / ``("row", cells)`` entries) for round-trip
    assertions.  ``scramble_seed`` shuffles the content-stream draw
    order (reading-order reconstruction must recover the layout)."""
    words = [_esc(w) for w in (words or ["alpha"])]

    def w(i: int) -> str:
        return words[i % len(words)]

    chapters = [f"Chapter {'I' * (c + 1)} {w(c * 2)} {w(c * 2 + 1)}" for c in range(2)]

    p1 = _PageBuilder()
    for c, head in enumerate(chapters):
        p1.text_line(head)
        for k in range(3):
            body = " ".join(w(c * 9 + k * 3 + t) for t in range(6))
            p1.text_line(body + ".")
        p1.blank()

    p2 = _PageBuilder()
    p2.text_line(f"Table 1: summary of {w(0)} metrics")
    p2.blank()
    p2.table_row(["name", "count", "price"])
    for r in range(1, 4):
        p2.table_row([w(r * 2), str((doc_id + r) * 10), f"{r}.{(doc_id + r) % 10}0"])
    p2.blank()
    p2.text_line("Closing remarks " + " ".join(w(20 + t) for t in range(4)) + ".")

    rng = None
    if scramble_seed is not None:
        import random as _random

        rng = _random.Random(scramble_seed)
    s1, s2 = p1.stream(scramble=rng), p2.stream(scramble=rng)
    page_dict = (
        "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {w} {h}] "
        "/Resources << /Font << /F1 7 0 R >> >> /Contents {c} 0 R >>"
    )
    objs = [
        b"1 0 obj << /Type /Catalog /Pages 2 0 R /Outlines 8 0 R >> endobj",
        b"2 0 obj << /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >> endobj",
        f"3 0 obj {page_dict.format(w=PAGE_W, h=PAGE_H, c=5)} endobj".encode(),
        f"4 0 obj {page_dict.format(w=PAGE_W, h=PAGE_H, c=6)} endobj".encode(),
        b"5 0 obj << /Length " + str(len(s1)).encode() + b" >> stream\n" + s1
        + b"\nendstream endobj",
        b"6 0 obj << /Length " + str(len(s2)).encode() + b" >> stream\n" + s2
        + b"\nendstream endobj",
        b"7 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Courier >> endobj",
        b"8 0 obj << /Type /Outlines /First 9 0 R /Last 10 0 R /Count 2 >> endobj",
        (
            "9 0 obj << /Title (" + _esc(chapters[0]) + ") /Parent 8 0 R "
            "/Next 10 0 R >> endobj"
        ).encode(),
        (
            "10 0 obj << /Title (" + _esc(chapters[1]) + ") /Parent 8 0 R >> endobj"
        ).encode(),
    ]
    pdf = (
        b"%PDF-1.4\n" + b"\n".join(objs) + b"\ntrailer << /Root 1 0 R >>\n%%EOF"
    )
    if return_expected:
        return pdf, [p1.expected, p2.expected]
    return pdf


def make_spanning_table_pdf(words: list[str], rows_per_page: int = 3) -> bytes:
    """Two pages whose grid table SPANS the page break (last rows of
    page 1, first rows of page 2, same columns) — exercises
    extract_table_figure's cross-page merge (deepdoc
    pdf_parser.py:708-729) on real bytes."""
    words = [_esc(w) for w in (words or ["alpha"])]

    def w(i: int) -> str:
        return words[i % len(words)]

    p1 = _PageBuilder()
    p1.text_line(f"Intro about {w(0)} and {w(1)}.")
    p1.blank()
    # table start near the bottom of page 1
    p1.y = 120
    p1.table_row(["name", "count", "price"])
    for r in range(1, rows_per_page):
        p1.table_row([w(r * 2), str(r * 10), f"{r}.00"])

    p2 = _PageBuilder()
    # continuation at the top of page 2 (same column x positions)
    for r in range(rows_per_page, rows_per_page * 2):
        p2.table_row([w(r * 2), str(r * 10), f"{r}.00"])
    p2.blank()
    p2.text_line(f"Closing prose {w(5)} {w(6)}.")

    s1, s2 = p1.stream(), p2.stream()
    page_dict = (
        "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {w} {h}] "
        "/Resources << /Font << /F1 7 0 R >> >> /Contents {c} 0 R >>"
    )
    objs = [
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj",
        b"2 0 obj << /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >> endobj",
        f"3 0 obj {page_dict.format(w=PAGE_W, h=PAGE_H, c=5)} endobj".encode(),
        f"4 0 obj {page_dict.format(w=PAGE_W, h=PAGE_H, c=6)} endobj".encode(),
        b"5 0 obj << /Length " + str(len(s1)).encode() + b" >> stream\n" + s1
        + b"\nendstream endobj",
        b"6 0 obj << /Length " + str(len(s2)).encode() + b" >> stream\n" + s2
        + b"\nendstream endobj",
        b"7 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Courier >> endobj",
    ]
    return (
        b"%PDF-1.4\n" + b"\n".join(objs) + b"\ntrailer << /Root 1 0 R >>\n%%EOF"
    )


def make_two_column_pdf(
    words: list[str],
    n_lines: int = 5,
    scramble_seed: int | None = None,
    return_expected: bool = False,
):
    """One page: a full-width title over a two-column body (left
    column x=72, right column x=340 — a ~2.5 em gutter at 12pt
    Courier with 3-word lines).  Reading order = title, left column
    top-to-bottom, then right column; the draw order interleaves
    columns row-by-row (or scrambles fully), so recovering the logical
    order requires the XY-cut."""
    words = [_esc(w) for w in (words or ["alpha"])]

    def w(i: int) -> str:
        return words[i % len(words)]

    title = f"Report on {w(0)} {w(1)}"
    left = [" ".join(w(3 * i + t) for t in range(3)) for i in range(n_lines)]
    right = [
        " ".join(w(50 + 3 * i + t) for t in range(3)) for i in range(n_lines)
    ]

    p = _PageBuilder()
    p.text_line(title)
    p.blank()
    y0 = p.y
    # interleaved draw order: L0 R0 L1 R1 ... (worst case for a
    # stream-order reader)
    for i in range(n_lines):
        p.y = y0 - i * LEADING
        p.text_line(left[i], x=MARGIN_X)
        p.y = y0 - i * LEADING
        p.text_line(right[i], x=340)
    expected = [("line", title)] + [("line", t) for t in left + right]
    p.expected = expected

    rng = None
    if scramble_seed is not None:
        import random as _random

        rng = _random.Random(scramble_seed)
    s1 = p.stream(scramble=rng)
    objs = [
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj",
        (
            f"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 {PAGE_W} {PAGE_H}] "
            "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >> endobj"
        ).encode(),
        b"4 0 obj << /Length " + str(len(s1)).encode() + b" >> stream\n" + s1
        + b"\nendstream endobj",
        b"5 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Courier >> endobj",
    ]
    pdf = (
        b"%PDF-1.4\n" + b"\n".join(objs) + b"\ntrailer << /Root 1 0 R >>\n%%EOF"
    )
    if return_expected:
        return pdf, expected
    return pdf


# --------------------------------------------------------------------------
# encrypted / predictor-filtered twins (robustness fixtures)
# --------------------------------------------------------------------------


def encrypt_pdf(
    pdf: bytes,
    r: int = 3,
    length: int = 128,
    aes: bool = False,
    user_pw: bytes = b"",
    owner_pw: bytes = b"owner",
    p: int = -3904,
) -> bytes:
    """An encrypted twin of ``pdf`` (standard security handler,
    ISO 32000-1 7.6.3): every top-level stream payload is encrypted
    with the per-object key, /Length rewritten, and an /Encrypt dict +
    /ID added to the trailer.  r=2 -> RC4-40 (V1), r=3 -> RC4 /Length
    bits (V2), r=4 + aes -> AES-128-CBC (V4 /AESV2).  Deterministic
    (IVs derive from content) so fixtures are stable across runs."""
    import hashlib
    import re as _re

    from ..parsers.pdf_crypto import (
        aes_cbc_encrypt,
        compute_key,
        compute_o,
        compute_u,
        object_key,
        rc4,
    )

    v = 1 if r == 2 else (4 if aes else 2)
    if r == 2:
        length = 40
    o_entry = compute_o(owner_pw or user_pw, user_pw, r, length)
    id0 = hashlib.md5(b"fixture-id" + pdf[:64]).digest()
    key = compute_key(o_entry, p, id0, r, length, True, user_pw)
    u_entry = compute_u(key, id0, r)

    obj_re = _re.compile(rb"(\d+)\s+(\d+)\s+obj(.*?)endobj", _re.DOTALL)
    stream_re = _re.compile(rb"stream\r?\n(.*?)(?:\r?\n)?endstream", _re.DOTALL)
    max_num = 0

    def enc_obj(m: "_re.Match[bytes]") -> bytes:
        nonlocal max_num
        num, gen, body = int(m.group(1)), int(m.group(2)), m.group(3)
        max_num = max(max_num, num)
        sm = stream_re.search(body)
        if not sm:
            return m.group(0)
        payload = sm.group(1)
        ok = object_key(key, num, gen, aes)
        if aes:
            iv = hashlib.md5(m.group(1) + payload[:16]).digest()
            ct = aes_cbc_encrypt(ok, iv, payload)
        else:
            ct = rc4(ok, payload)
        head = body[: sm.start()]
        head = _re.sub(
            rb"/Length\s+\d+", b"/Length " + str(len(ct)).encode(), head
        )
        return (
            m.group(1) + b" " + m.group(2) + b" obj" + head
            + b"stream\n" + ct + b"\nendstream" + body[sm.end() :] + b"endobj"
        )

    out = obj_re.sub(enc_obj, pdf)
    enc_num = max_num + 1
    if aes:
        dict_body = (
            b"<< /Filter /Standard /V 4 /R 4 /Length 128"
            b" /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen /Length 16 >> >>"
            b" /StmF /StdCF /StrF /StdCF"
        )
    else:
        dict_body = (
            b"<< /Filter /Standard /V " + str(v).encode()
            + b" /R " + str(r).encode()
            + b" /Length " + str(length).encode()
        )
    dict_body += (
        b" /O <" + o_entry.hex().encode() + b">"
        b" /U <" + u_entry.hex().encode() + b">"
        b" /P " + str(p).encode() + b" >>"
    )
    enc_obj_bytes = (
        str(enc_num).encode() + b" 0 obj " + dict_body + b" endobj\n"
    )
    id_hex = b"<" + id0.hex().encode() + b">"
    trailer_add = (
        b"trailer << /Encrypt " + str(enc_num).encode() + b" 0 R /ID ["
        + id_hex + b" " + id_hex + b"] "
    )
    out, n_sub = _re.subn(rb"trailer\s*<<", trailer_add, out, count=1)
    if not n_sub:
        out += b"\n" + trailer_add + b">>"
    return out.replace(b"trailer <<", enc_obj_bytes + b"trailer <<", 1)


def flate_predictor_stream(data: bytes, predictor: int = 12, columns: int = 16) -> tuple[bytes, bytes]:
    """(encoded payload, stream dict extras) for a FlateDecode stream
    whose pre-compression bytes went through a PNG (>=10) or TIFF (2)
    predictor — what pdf writers emit for xref streams and some
    content.  Forward transform here, so the reader's
    ``_predictor_undo`` is exercised against an independent encoder."""
    import zlib

    if predictor == 2:
        rows = [
            bytearray(data[i : i + columns])
            for i in range(0, len(data), columns)
        ]
        out = bytearray()
        for row in rows:
            enc = bytearray(row)
            for i in range(len(row) - 1, 0, -1):
                enc[i] = (enc[i] - enc[i - 1]) & 0xFF
            out += enc
        parms = (
            b"/DecodeParms << /Predictor 2 /Columns "
            + str(columns).encode() + b" >>"
        )
        return zlib.compress(bytes(out)), parms
    # PNG predictors: rotate the filter tag per row over Sub/Up/Avg/Paeth
    tags = [1, 2, 3, 4]
    prev = bytearray(columns)
    out = bytearray()
    pos = 0
    rown = 0
    while pos < len(data):
        row = bytearray(data[pos : pos + columns])
        row += bytearray(columns - len(row))  # zero-pad the last row
        pos += columns
        tag = tags[rown % len(tags)]
        rown += 1
        enc = bytearray(row)
        if tag == 1:
            for i in range(len(row) - 1, 0, -1):
                enc[i] = (row[i] - row[i - 1]) & 0xFF
        elif tag == 2:
            for i in range(len(row)):
                enc[i] = (row[i] - prev[i]) & 0xFF
        elif tag == 3:
            for i in range(len(row)):
                left = row[i - 1] if i >= 1 else 0
                enc[i] = (row[i] - ((left + prev[i]) >> 1)) & 0xFF
        else:
            for i in range(len(row)):
                a = row[i - 1] if i >= 1 else 0
                b = prev[i]
                c = prev[i - 1] if i >= 1 else 0
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                enc[i] = (row[i] - pr) & 0xFF
        out += bytes([tag]) + enc
        prev = row
    parms = (
        b"/DecodeParms << /Predictor " + str(predictor).encode()
        + b" /Columns " + str(columns).encode() + b" >>"
    )
    return zlib.compress(bytes(out)), parms
