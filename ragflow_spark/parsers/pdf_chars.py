"""Positioned-character PDF reading (no external deps).

The reference's entire PDF geometry stack runs off per-char boxes that
``RAGFlowPdfParser.__images__`` builds from pdfplumber
(deepdoc/parser/pdf_parser.py:1006-1129: ``page.dedupe_chars().chars``,
per-page median char height/width, cumulative page heights, sampled
English sniff).  pdfplumber is not available here, so this module is a
from-scratch content-stream *interpreter* — the model-free subset of
that path: it tracks the PDF text state (Tm/Tlm, Td/TD/T*/TL, Tf size,
Tc/Tw/Tz spacing, TJ kerning) plus the CTM (cm, q/Q) and emits one box
per glyph in pdfplumber's coordinate convention (top-down ``top`` /
``bottom``, origin at the page's top-left).

Glyph advance needs font widths.  Courier (the fixed-pitch standard-14
font, 600/1000 em for every glyph) is resolved exactly from the page's
``/Resources /Font`` dictionary; other fonts fall back to a 500/1000 em
estimate — positions stay monotonically correct, which is all the
downstream XY-cut / clustering passes consume.  Vertical extent uses
the conventional 0.8 em ascent / 0.2 em descent box around the
baseline (pdfplumber derives the exact values from the font descriptor;
the geometry stack only uses *relative* heights and medians).

Scanned or exotic PDFs simply yield no chars — upstream falls back to
the row's ``text`` column; the OCR/layout ONNX stack is an optional
plugin at this tier (SURVEY.md §2.4).
"""

from __future__ import annotations

import functools
import operator
import re
import zlib

import numpy as np

from .pdf import _decode_bytes, _raw_string

Char = dict

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj(.*?)endobj", re.DOTALL)
_STREAM_IN_OBJ = re.compile(rb"stream\r?\n(.*?)(?:\r?\n)?endstream", re.DOTALL)
_REF = re.compile(rb"(\d+)\s+\d+\s+R")
_NAMED_REF = re.compile(rb"/([^\s/\[\]()<>{}%]+)\s+(\d+)\s+\d+\s+R")
# every match must survive float(): bare "-?[\d.]+" also matches "." /
# "..." / "1.2.3", which raise ValueError deep inside unguarded font /
# box parsing on hostile bytes
_NUMS = re.compile(rb"-?(?:\d+\.?\d*|\.\d+)")

# content-stream lexer: one group per token class, so ``lastindex``
# classifies a token without a second match.  The literal-string
# branch is the unrolled form of (?:\\.|[^()\\])*.  No alternative may
# start with an optional whitespace run: ``finditer`` would retry it
# at every byte of a run no token follows, quadratic in the run
_LEX = re.compile(
    rb"(\([^()\\]*(?:\\.[^()\\]*)*\))"  # 1 literal string (1-level nesting
    rb"|(<<|>>)"                      # 2 is handled by the \\. escape branch)
    rb"|(<[0-9A-Fa-f\s]*>)"          # 3 hex string
    rb"|(\[)"                         # 4
    rb"|(\])"                         # 5
    rb"|/([^\s/\[\]()<>{}%]*)"        # 6 name (group = without the slash)
    rb"|(-?\.?\d[\d.]*)"             # 7 number
    rb"|(%[^\r\n]*)"                 # 8 comment
    rb"|([A-Za-z'\"][A-Za-z0-9*'\"]*)",  # 9 operator
    re.DOTALL,
)
_T_STR, _T_DICT, _T_HEX, _T_OPEN, _T_CLOSE, _T_NAME, _T_NUM, _T_COMMENT, _T_OP = (
    range(1, 10)
)


@functools.lru_cache(maxsize=64)
def _keyed(key: bytes, tail: bytes, flags: int = 0) -> re.Pattern:
    """``re.escape(key) + tail``, compiled once.  Every ``/Key value``
    lookup that runs per object, page, font or form goes through here;
    the keys are all spelled in this module (a few dozen patterns in
    all), and one-off per-document searches stay plain ``re`` calls."""
    return re.compile(re.escape(key) + tail, flags)


class _RawStr(bytes):
    """A string operand's raw bytes (decode deferred to the active
    font at show time — CID fonts map codes via /ToUnicode)."""


_DEFAULT_WIDTH = 0.5   # em, unknown fonts
_COURIER_WIDTH = 0.6   # em, all Courier glyphs (Adobe AFM, public)
_ASCENT, _DESCENT = 0.8, 0.2


def _objects(pdf: bytes) -> dict[int, bytes]:
    """Object number -> body, including objects packed inside
    compressed object streams (PDF 1.5 ``/Type /ObjStm``: the stream
    holds ``/N`` pairs of (object number, offset) then the
    concatenated object bodies at ``/First``).  Top-level definitions
    win over ObjStm copies (incremental updates append replacements).

    Encrypted documents (standard security handler, empty user
    password — the common "open but don't edit" case) are normalized
    here: every top-level stream payload is decrypted in place and its
    ``/Length`` rewritten, so downstream consumers see plaintext
    bodies.  ObjStm unpacking runs after (their payloads decrypt like
    any stream; objects inside are never encrypted again, ISO 32000-1
    7.6.2)."""
    objs: dict[int, bytes] = {}
    gens: dict[int, int] = {}
    for om in _OBJ_RE.finditer(pdf):
        num = int(om.group(1))
        objs[num] = om.group(3)
        gens[num] = int(om.group(2))
    dec = _build_decryptor(pdf, objs)
    if dec is not None:
        for num, body in list(objs.items()):
            objs[num] = _decrypt_body(body, num, gens.get(num, 0), dec, objs)
    packed: dict[int, bytes] = {}
    for body in list(objs.values()):
        head = _dict_head(body)
        if not _keyed(b"/Type", rb"\s*/ObjStm\b").search(head):
            continue
        data = _stream_data(body, objs)
        if not data:
            continue
        nm = re.search(rb"/N\s+(\d+)", head)
        fm = re.search(rb"/First\s+(\d+)", head)
        if not nm or not fm:
            continue
        n, first = int(nm.group(1)), int(fm.group(1))
        header = data[:first].split()
        if len(header) < 2 * n:
            continue
        try:
            pairs = [
                (int(header[2 * i]), int(header[2 * i + 1])) for i in range(n)
            ]
        except ValueError:
            continue
        for i, (num, off) in enumerate(pairs):
            end = pairs[i + 1][1] if i + 1 < n else len(data) - first
            packed[num] = data[first + off : first + end]
    for num, body in packed.items():
        objs.setdefault(num, body)
    return objs


def _dict_head(body: bytes) -> bytes:
    """The object's dictionary part (everything before any stream)."""
    i = body.find(b"stream")
    return body if i < 0 else body[:i]


_FILTER_NAMES = re.compile(
    rb"/(FlateDecode|ASCIIHexDecode|ASCII85Decode|LZWDecode|Fl|AHx|A85|LZW)\b"
)


# decompression-bomb cap: a few-MB stream legally expands ~1000x under
# flate; one crafted page must not OOM the executor.  64 MiB is far
# beyond any real content stream (caught bombs raise -> the filter
# chain returns None -> the page falls back like any undecodable one).
_MAX_DECODE_BYTES = 64 << 20


def _flate_decode(data: bytes, cap: int = _MAX_DECODE_BYTES) -> bytes:
    d = zlib.decompressobj()
    out = d.decompress(data, cap + 1)
    if len(out) > cap:
        raise ValueError("FlateDecode output exceeds bomb cap")
    return out + d.flush()


def _lzw_decode(data: bytes, cap: int = _MAX_DECODE_BYTES) -> bytes:
    """PDF/TIFF LZW (ISO 32000 7.4.4, public): 9..12-bit codes MSB
    first, 256 = clear table, 257 = EOD, early-change code widths."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            if len(out) > cap:
                raise ValueError("LZWDecode output exceeds bomb cap")
            # early change: width grows one code BEFORE the table fills
            if len(table) >= (1 << width) - 1 and width < 12:
                width += 1
    return bytes(out)


def _stream_length(head: bytes, objs: dict[int, bytes] | None) -> int | None:
    """The /Length value, resolving an indirect reference when the
    object map is at hand (its target body is a bare integer)."""
    m = _keyed(b"/Length", rb"\s+(\d+)(\s+\d+\s+R)?").search(head)
    if not m:
        return None
    if m.group(2) is None:
        return int(m.group(1))
    ref = int(m.group(1))
    if objs and ref in objs:
        t = re.search(rb"\d+", objs[ref])
        if t:
            return int(t.group())
    return None


def _stream_extent(
    body: bytes, objs: dict[int, bytes] | None = None
) -> tuple[int, int] | None:
    """(start, end) offsets of the stream payload inside ``body``.

    Prefers the declared /Length — a compressed payload may legally
    contain the byte sequence ``endstream``, which truncates the
    first-match regex (ADVICE r3) — and falls back to the regex when
    /Length is absent or inconsistent with an ``endstream`` tail."""
    i = body.find(b"stream")
    if i >= 0:
        start = i + len(b"stream")
        if body[start : start + 2] == b"\r\n":
            start += 2
        elif body[start : start + 1] == b"\n":
            start += 1
        n = _stream_length(_dict_head(body), objs)
        if n is not None and re.match(
            rb"(?:\s*)endstream", body[start + n : start + n + 32]
        ):
            return start, start + n
    m = _STREAM_IN_OBJ.search(body)
    if not m:
        return None
    return m.start(1), m.end(1)


def _predictor_undo(data: bytes, parms: bytes) -> bytes:
    """Reverse a FlateDecode/LZWDecode /Predictor (ISO 32000-1 7.4.4.4):
    2 = TIFF horizontal differencing, >= 10 = PNG row filters
    (None/Sub/Up/Average/Paeth, one tag byte per row)."""
    def _iv(key: bytes, default: int) -> int:
        m = re.search(key + rb"\s+(\d+)", parms)
        return int(m.group(1)) if m else default

    pred = _iv(rb"/Predictor", 1)
    if pred <= 1:
        return data
    colors = _iv(rb"/Colors", 1)
    bpc = _iv(rb"/BitsPerComponent", 8)
    columns = _iv(rb"/Columns", 1)
    bpp = max(1, (colors * bpc + 7) // 8)  # bytes per pixel
    rowlen = (colors * bpc * columns + 7) // 8
    if pred == 2:  # TIFF
        if bpc != 8:
            raise ValueError("TIFF predictor only for 8-bit components")
        out = bytearray(data)
        for r0 in range(0, len(out), rowlen):
            for i in range(r0 + bpp, min(r0 + rowlen, len(out))):
                out[i] = (out[i] + out[i - bpp]) & 0xFF
        return bytes(out)
    # PNG: each row is 1 tag byte + rowlen data bytes
    out = bytearray()
    prev = bytearray(rowlen)
    pos = 0
    while pos + 1 <= len(data):
        tag = data[pos]
        row = bytearray(data[pos + 1 : pos + 1 + rowlen])
        pos += 1 + rowlen
        if tag == 1:  # Sub
            for i in range(bpp, len(row)):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif tag == 2:  # Up
            for i in range(len(row)):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif tag == 3:  # Average
            for i in range(len(row)):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif tag == 4:  # Paeth
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[i] = (row[i] + pr) & 0xFF
        elif tag != 0:
            raise ValueError(f"unknown PNG filter {tag}")
        out += row
        prev = row
    return bytes(out)


def _decode_parms(head: bytes) -> list[bytes]:
    """Per-filter parameter dicts from /DecodeParms (or its /DP
    abbreviation): a single dict applies to the first filter; an array
    aligns entries (dict or null) with the /Filter array."""
    m = re.search(rb"/(?:DecodeParms|DP)\s*(<<.*?>>|\[.*?\])", head, re.DOTALL)
    if not m:
        return []
    val = m.group(1)
    if val[:2] == b"<<":
        return [val]
    out: list[bytes] = []
    for dm in re.finditer(rb"<<.*?>>|null", val, re.DOTALL):
        out.append(b"" if dm.group() == b"null" else dm.group())
    return out


def _stream_data(
    body: bytes, objs: dict[int, bytes] | None = None
) -> bytes | None:
    """Stream payload with its /Filter chain applied in order
    (FlateDecode, ASCIIHexDecode, ASCII85Decode, LZWDecode and their
    short forms, each honoring /DecodeParms predictors; unknown
    filters abort).  A filter ARRAY lists decoders outermost-first per
    ISO 32000 7.4."""
    ext = _stream_extent(body, objs)
    if ext is None:
        return None
    raw = body[ext[0] : ext[1]]
    head = _dict_head(body)
    fm = _keyed(b"/Filter", rb"\s*(\[(?:[^\]]*)\]|/[A-Za-z0-9]+)").search(head)
    if not fm:
        return raw
    names = [n.group(1) for n in _FILTER_NAMES.finditer(fm.group(1))]
    if len(names) != len(re.findall(rb"/[A-Za-z0-9]+", fm.group(1))):
        return None  # an unsupported filter (DCT, JBIG2, ...) in the chain
    parms = _decode_parms(head)
    data = raw
    for fi, name in enumerate(names):
        try:
            if name in (b"FlateDecode", b"Fl"):
                data = _flate_decode(data)
            elif name in (b"ASCIIHexDecode", b"AHx"):
                hx = re.sub(rb"[\s>]", b"", data)
                if len(hx) % 2:
                    hx += b"0"
                data = bytes.fromhex(hx.decode("ascii"))
            elif name in (b"LZWDecode", b"LZW"):
                data = _lzw_decode(data)
            else:  # ASCII85Decode / A85
                import base64

                payload = data.split(b"~>")[0]
                if payload.startswith(b"<~"):
                    payload = payload[2:]
                data = base64.a85decode(
                    re.sub(rb"\s+", b"", payload), adobe=False
                )
            if name in (b"FlateDecode", b"Fl", b"LZWDecode", b"LZW"):
                if fi < len(parms) and parms[fi]:
                    data = _predictor_undo(data, parms[fi])
        except Exception:
            return None
    return data


class _Decryptor:
    """Standard-security-handler stream decryption (file key already
    verified)."""

    __slots__ = ("key", "aes", "v5")

    def __init__(self, key: bytes, aes: bool, v5: bool) -> None:
        self.key, self.aes, self.v5 = key, aes, v5

    def decrypt(self, num: int, gen: int, data: bytes) -> bytes:
        from .pdf_crypto import aes_cbc_decrypt, object_key, rc4

        if self.v5:  # V5: the file key is used directly, always AES
            return aes_cbc_decrypt(self.key, data)
        k = object_key(self.key, num, gen, self.aes)
        return aes_cbc_decrypt(k, data) if self.aes else rc4(k, data)


_PDF_STR = rb"(\((?:\\.|[^()\\])*\)|<[0-9A-Fa-f\s]*>)"


def _string_value(body: bytes, key: bytes) -> bytes | None:
    m = _keyed(key, rb"\s*" + _PDF_STR, re.DOTALL).search(body)
    return _raw_string(m.group(1)) if m else None


def _int_value(body: bytes, key: bytes, default: int | None = None) -> int | None:
    m = _keyed(key, rb"\s+(-?\d+)").search(body)
    return int(m.group(1)) if m else default


def _top_level(head: bytes) -> bytes:
    """``head`` with nested ``<< ... >>`` spans blanked (offsets kept),
    so key lookups can't match a sub-dictionary's entries — e.g. qpdf
    writes /CF << /StdCF << ... /Length 16 >> >> BEFORE the top-level
    /Length 128."""
    out = bytearray(head)
    depth = 0
    i = 0
    n = len(head)
    while i < n - 1:
        pair = head[i : i + 2]
        if pair == b"<<":
            depth += 1
            if depth > 1:
                out[i] = out[i + 1] = 0x20
            i += 2
            continue
        if pair == b">>":
            if depth > 1:
                out[i] = out[i + 1] = 0x20
            depth -= 1
            i += 2
            continue
        if depth > 1:
            out[i] = 0x20
        i += 1
    return bytes(out)


def _build_decryptor(pdf: bytes, objs: dict[int, bytes]):
    """A ``_Decryptor`` for documents encrypted with the standard
    security handler and an EMPTY user password (ISO 32000-1 7.6.3 —
    the overwhelmingly common "open freely, restrict edits" case;
    same scope pypdf unlocks without a password for the reference at
    deepdoc/parser/pdf_parser.py:1006-1129).  Returns None for
    unencrypted documents and, conservatively, for anything this
    handler can't verify (password-protected, custom handlers) —
    those pages then yield no chars and upstream falls back."""
    em = re.search(rb"/Encrypt\s+(\d+)\s+\d+\s+R", pdf)
    if not em:
        return None
    enc = objs.get(int(em.group(1)))
    if enc is None:
        return None
    head = _dict_head(enc)
    if _name_value(head, b"/Filter") != b"Standard":
        return None
    v = _int_value(_top_level(head), b"/V", 0)
    stmf = _name_value(head, b"/StmF")
    # V4/V5 default /StmF to Identity (ISO 32000-1 Table 20): absent
    # or explicit Identity means content streams are NOT encrypted and
    # 'decrypting' them would corrupt plaintext.  V1/V2 always encrypt.
    if stmf == b"Identity" or (v >= 4 and stmf is None):
        return None
    r = _int_value(head, b"/R")
    u = _string_value(head, b"/U")
    if r is None or u is None:
        return None
    from . import pdf_crypto as pc

    if v == 5:
        ue = _string_value(head, b"/UE")
        key = pc.verify_user_password_r6(u, ue or b"")
        return _Decryptor(key, True, True) if key is not None else None
    o = _string_value(head, b"/O")
    p = _int_value(head, b"/P")
    if o is None or p is None:
        return None
    # top-level /Length only: a /CF sub-dict's /Length (key BYTES, and
    # often serialized first) must not be mistaken for the key bits.
    # V4 without a top-level /Length defaults to 128 (AESV2/RC4-V4).
    length = _int_value(_top_level(head), b"/Length")
    if length is None:
        length = 128 if v >= 4 else 40
    enc_meta = not re.search(rb"/EncryptMetadata\s+false", head)
    aes = False
    if v == 4:
        cfm = _name_value(head, b"/CFM")
        aes = cfm in (b"AESV2", b"AESV3")
        if aes:
            length = 128 if cfm == b"AESV2" else 256
    # /ID first element from the trailer (any of the file's trailers)
    idm = re.search(rb"/ID\s*\[\s*" + _PDF_STR, pdf, re.DOTALL)
    id0 = _raw_string(idm.group(1)) if idm else b""
    key = pc.verify_user_password(o, u, p, id0, r, length, enc_meta)
    if key is None:
        # empty OWNER password (Algorithm 7): recover the padded user
        # password from /O, then verify it
        padded = pc.recover_user_password(o, b"", r, length)
        key = pc.verify_user_password(o, u, p, id0, r, length, enc_meta, padded)
    return _Decryptor(key, aes, False) if key is not None else None


def _decrypt_body(
    body: bytes,
    num: int,
    gen: int,
    dec: _Decryptor,
    objs: dict[int, bytes] | None = None,
) -> bytes:
    """Body with its stream payload decrypted and /Length rewritten to
    the plaintext size (AES strips IV + padding).  Cross-reference
    streams are never encrypted (ISO 32000-1 7.5.8.2).  ``objs`` lets
    indirect /Length references resolve so ciphertext that happens to
    contain b"endstream" is not truncated by the regex fallback
    (length objects are bare integers, themselves never encrypted)."""
    head = _dict_head(body)
    if re.search(rb"/Type\s*/XRef\b", head):
        return body
    ext = _stream_extent(body, objs)
    if ext is None:
        return body
    try:
        plain = dec.decrypt(num, gen, bytes(body[ext[0] : ext[1]]))
    except Exception:
        return body
    prefix = body[: ext[0]]
    lm = re.search(rb"/Length\s+\d+(?:\s+\d+\s+R)?", prefix)
    if lm:
        prefix = (
            prefix[: lm.start()]
            + b"/Length " + str(len(plain)).encode()
            + prefix[lm.end() :]
        )
    return prefix + plain + body[ext[1] :]


def _name_value(head: bytes, key: bytes) -> bytes | None:
    m = _keyed(key, rb"\s*/([^\s/\[\]()<>{}%]+)").search(head)
    return m.group(1) if m else None


def _ref_value(head: bytes, key: bytes) -> int | None:
    m = _keyed(key, rb"\s*(\d+)\s+\d+\s+R").search(head)
    return int(m.group(1)) if m else None


def _array_refs(head: bytes, key: bytes) -> list[int]:
    m = _keyed(key, rb"\s*\[(.*?)\]", re.DOTALL).search(head)
    if m:
        return [int(r.group(1)) for r in _REF.finditer(m.group(1))]
    one = _ref_value(head, key)
    return [one] if one is not None else []


def _media_box(head: bytes) -> tuple[float, float] | None:
    m = _keyed(b"/MediaBox", rb"\s*\[(.*?)\]", re.DOTALL).search(head)
    if not m:
        return None
    nums = [float(x) for x in _NUMS.findall(m.group(1))]
    if len(nums) < 4:
        return None
    return nums[2] - nums[0], nums[3] - nums[1]


def _page_order(objs: dict[int, bytes]) -> list[int]:
    """Page object numbers in document order: DFS over /Kids from the
    root /Pages node (like pdfplumber's page list)."""
    roots = [
        n for n, b in objs.items()
        if _keyed(b"/Type", rb"\s*/Pages\b").search(_dict_head(b))
        and _ref_value(_dict_head(b), b"/Parent") is None
    ]
    pages: list[int] = []
    seen: set[int] = set()

    # explicit stack, not recursion: a hostile linear /Kids chain a few
    # MB long would otherwise blow the interpreter recursion limit
    stack = sorted(roots, reverse=True)
    while stack:
        num = stack.pop()
        if num in seen or num not in objs:
            continue
        seen.add(num)
        head = _dict_head(objs[num])
        if _keyed(b"/Type", rb"\s*/Page\b").search(head):
            pages.append(num)
            continue
        stack.extend(reversed(_array_refs(head, b"/Kids")))
    if not pages:  # degenerate producer: fall back to object order
        pages = [
            n for n, b in sorted(objs.items())
            if _keyed(b"/Type", rb"\s*/Page\b").search(_dict_head(b))
        ]
    return pages


class _Font:
    """Per-glyph advance in em — an explicit ``/Widths`` array when the
    font carries one (``/FirstChar``-indexed, thousandths — the public
    simple-font metrics format), else a flat per-font width (Courier
    exact, 0.5 em default) — plus the font's text decoding: a
    ``/ToUnicode`` CMap when present (CID/subset fonts whose show
    strings are font codes, not Unicode), else the BOM/UTF-8/latin-1
    cascade."""

    __slots__ = (
        "flat", "first", "table", "cmap", "code_bytes", "wmap", "dw",
        "diffs", "codec", "cid_map", "exact",
    )

    def __init__(
        self,
        flat: float,
        first: int = 0,
        table: list[float] | None = None,
        cmap: dict[int, str] | None = None,
        code_bytes: int = 1,
        wmap: dict[int, float] | None = None,
        dw: float = 1.0,
        diffs: dict[int, str] | None = None,
        codec: str | None = None,
        cid_map: dict[int, int] | None = None,
        exact: bool = True,
    ):
        self.flat = flat
        self.first = first
        self.table = table
        self.cmap = cmap
        self.code_bytes = code_bytes
        self.wmap = wmap  # CID -> em (descendant-font /W), /DW default
        self.dw = dw
        self.diffs = diffs  # /Encoding /Differences byte code -> text
        # predefined-CMap fonts: show-string codes are a known public
        # character encoding (ISO 32000 9.7.5.2 table); text decodes
        # through the stdlib codec, advances through cid_map -> /W
        # when the deploy CMap data resolves code -> CID, else /DW
        self.codec = codec
        self.cid_map = cid_map
        # False when this font's glyphs CANNOT be decoded faithfully
        # (Identity CMap without /ToUnicode, unknown predefined CMap,
        # Type3 without /Differences) — shown glyphs are counted so a
        # mis-decode is a metric, never silent (VERDICT r4 #4/#5)
        self.exact = exact

    def em(self, ch: str, code: int | None = None) -> float:
        if self.wmap is not None and code is not None:
            return self.wmap.get(code, self.dw)
        if self.table:
            i = (code if code is not None else ord(ch or "\x00")) - self.first
            if 0 <= i < len(self.table) and self.table[i] > 0:
                return self.table[i]
        return self.flat

    def glyphs(self, raw: bytes) -> list[tuple[int | None, str]]:
        """(code, text) per shown glyph: CID fonts segment ``raw`` into
        code_bytes-wide codes mapped through /ToUnicode;
        predefined-CMap fonts decode through their codec (the returned
        code is the CID when deploy CMap data is present, else -1 so
        ``em`` resolves to /DW); Differences-encoded simple fonts map
        per byte; plain fonts decode the whole string (code = None)."""
        if self.codec is not None:
            out: list[tuple[int | None, str]] = []
            i, n = 0, len(raw)
            while i < n:
                for w in range(1, 5):  # lead bytes fail alone in every
                    if i + w > n:      # supported codec, so the first
                        continue       # decodable prefix is the glyph
                    try:
                        ch = raw[i : i + w].decode(self.codec)
                    except (UnicodeDecodeError, ValueError):
                        continue
                    if ch:
                        code = int.from_bytes(raw[i : i + w], "big")
                        cid = (
                            self.cid_map.get(code, -1)
                            if self.cid_map is not None
                            else -1
                        )
                        out.append((cid, ch))
                        i += w
                        break
                else:
                    i += 1  # undecodable byte: skip, stay in sync
            return out
        if self.cmap is not None:
            w = self.code_bytes
            return [
                (
                    int.from_bytes(raw[i : i + w], "big"),
                    self.cmap.get(int.from_bytes(raw[i : i + w], "big"), ""),
                )
                for i in range(0, len(raw) - w + 1, w)
            ]
        if self.diffs is not None:
            return [
                (b, self.diffs.get(b, chr(b) if 32 <= b < 127 else ""))
                for b in raw
            ]
        return [(None, ch) for ch in _decode_bytes(raw)]

    def decode(self, raw: bytes) -> str:
        return "".join(t for _c, t in self.glyphs(raw))


# Compact Adobe Glyph List subset (public data, adobe-type-tools/agl):
# the names common in /Differences-encoded Latin subsets.  uniXXXX /
# uXXXXXX names resolve by pattern; unknown names fall back to the
# byte's latin-1 value.
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "endash": "–", "emdash": "—", "bullet": "•",
    "ellipsis": "…", "fi": "ﬁ", "fl": "ﬂ",
    "adieresis": "ä", "odieresis": "ö", "udieresis": "ü",
    "Adieresis": "Ä", "Odieresis": "Ö", "Udieresis": "Ü",
    "germandbls": "ß", "aacute": "á", "eacute": "é",
    "iacute": "í", "oacute": "ó", "uacute": "ú",
    "agrave": "à", "egrave": "è", "ccedilla": "ç",
    "ntilde": "ñ", "atilde": "ã", "otilde": "õ",
    "acircumflex": "â", "ecircumflex": "ê",
    "ocircumflex": "ô", "aring": "å", "oslash": "ø",
    "ae": "æ", "oe": "œ", "degree": "°",
    "copyright": "©", "registered": "®", "trademark": "™",
    "Euro": "€", "sterling": "£", "yen": "¥",
    "cent": "¢", "section": "§", "paragraph": "¶",
    "daggerdbl": "‡", "dagger": "†",
}


def _glyph_name_to_text(name: str) -> str | None:
    if name in _AGL:
        return _AGL[name]
    m = re.fullmatch(r"uni([0-9A-Fa-f]{4})", name)
    if m:
        return chr(int(m.group(1), 16))
    m = re.fullmatch(r"u([0-9A-Fa-f]{4,6})", name)
    if m:
        cp = int(m.group(1), 16)
        return chr(cp) if cp <= 0x10FFFF else None
    if len(name) == 1:  # single-letter names are themselves
        return name
    return None


# Predefined CJK CMaps (ISO 32000-1 9.7.5.2; Adobe character
# collections).  The reference reads these through pdfminer's bundled
# CMap data (deepdoc/parser/pdf_parser.py uses pdfplumber); here the
# TEXT decoding needs no data tables at all, because every name below
# is defined over a public character encoding Python ships a codec
# for: the UniXXX-UCS2/UTF16/UTF8 CMaps are keyed by the Unicode code
# itself, and the legacy ones (GBK-EUC, RKSJ, B5pc, KSCms-UHC, ...)
# are keyed by GBK / Shift-JIS / Big5 / UHC bytes.  What the codec
# canNOT give is the code -> CID mapping that indexes the descendant
# font's /W advances — that loads from $RAGFLOW_SPARK_CMAPS (a
# directory of Adobe cmap-resources files, same deploy-data pattern
# as RAGFLOW_SPARK_HUQIE/TIKTOKEN/HANZI); absent the data, advances
# fall back to /DW (full-width — correct for the vast majority of CJK
# glyphs) and the font is COUNTED in the predef-CMap diagnostics.
_PREDEF_CMAP_CODECS = {
    # Adobe-GB1 (simplified Chinese)
    "GB-EUC": "gb2312", "GBpc-EUC": "gb2312",
    "GBK-EUC": "gbk", "GBKp-EUC": "gbk", "GBK2K": "gb18030",
    "UniGB-UCS2": "utf-16-be", "UniGB-UTF16": "utf-16-be",
    "UniGB-UTF8": "utf-8", "UniGB-UTF32": "utf-32-be",
    # Adobe-CNS1 (traditional Chinese)
    "B5": "big5", "B5pc": "big5", "ETen-B5": "big5", "ETenms-B5": "big5",
    "ETHK-B5": "big5hkscs", "HKscs-B5": "big5hkscs",
    "UniCNS-UCS2": "utf-16-be", "UniCNS-UTF16": "utf-16-be",
    "UniCNS-UTF8": "utf-8", "UniCNS-UTF32": "utf-32-be",
    # Adobe-Japan1 (CNS-EUC / bare H/V are ISO-2022-coded — no stdlib
    # codec matches their raw 2-byte form, so they stay "unknown" and
    # get counted rather than guessed)
    "RKSJ": "cp932", "90ms-RKSJ": "cp932", "90msp-RKSJ": "cp932",
    "90pv-RKSJ": "cp932", "83pv-RKSJ": "cp932", "Add-RKSJ": "cp932",
    "Ext-RKSJ": "cp932", "EUC": "euc_jp", "Add-EUC": "euc_jp",
    "Ext-EUC": "euc_jp",
    "UniJIS-UCS2": "utf-16-be", "UniJIS-UCS2-HW": "utf-16-be",
    "UniJIS-UTF16": "utf-16-be", "UniJIS-UTF8": "utf-8",
    "UniJIS-UTF32": "utf-32-be", "UniJIS2004-UTF16": "utf-16-be",
    "UniJIS2004-UTF8": "utf-8",
    # Adobe-Korea1 / KR
    "KSC-EUC": "euc_kr", "KSCpc-EUC": "euc_kr",
    "KSCms-UHC": "cp949", "KSCms-UHC-HW": "cp949",
    "UniKS-UCS2": "utf-16-be", "UniKS-UTF16": "utf-16-be",
    "UniKS-UTF8": "utf-8", "UniKSX-UTF16": "utf-16-be",
}


def _predef_codec(name: str) -> str | None:
    """Codec for a predefined CMap name, writing-mode suffix stripped
    (-H horizontal / -V vertical; -HW half-width variants are listed
    explicitly above because the HW suffix precedes H/V)."""
    base = name[:-2] if name.endswith(("-H", "-V")) else name
    return _PREDEF_CMAP_CODECS.get(base)


def _load_deploy_cmap(name: str) -> dict[int, int] | None:
    """code -> CID from an Adobe cmap-resources file named ``name``
    under $RAGFLOW_SPARK_CMAPS (searched at the root and one directory
    level down, matching the adobe-cmap-resources repo layout).  The
    format is public PostScript-ish text: ``begincidrange`` rows of
    ``<lo> <hi> startCID`` and ``begincidchar`` rows of ``<code>
    CID``.  Cached per process (the tables run to tens of thousands
    of codes)."""
    import os

    root = os.environ.get("RAGFLOW_SPARK_CMAPS")
    if not root:
        return None
    ck = (root, name)
    if ck in _CMAP_CACHE:
        return _CMAP_CACHE[ck]
    path = None
    cand = os.path.join(root, name)
    if os.path.isfile(cand):
        path = cand
    else:
        try:
            for sub in sorted(os.listdir(root)):
                deep = os.path.join(root, sub, name)
                deep2 = os.path.join(root, sub, "CMap", name)
                if os.path.isfile(deep):
                    path = deep
                    break
                if os.path.isfile(deep2):
                    path = deep2
                    break
        except OSError:
            return None
    if path is None:
        _CMAP_CACHE[ck] = None
        return None
    try:
        with open(path, "rb") as f:
            data = f.read()
    except OSError:
        _CMAP_CACHE[ck] = None
        return None
    out: dict[int, int] = {}
    for m in re.finditer(
        rb"begincidrange(.*?)endcidrange", data, re.DOTALL
    ):
        for r in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(\d+)", m.group(1)
        ):
            lo, hi, cid = (
                int(r.group(1), 16), int(r.group(2), 16), int(r.group(3))
            )
            if hi - lo > 0x10000:  # hostile/corrupt range cap
                hi = lo + 0x10000
            for c in range(lo, hi + 1):
                out[c] = cid + (c - lo)
    for m in re.finditer(rb"begincidchar(.*?)endcidchar", data, re.DOTALL):
        for r in re.finditer(rb"<([0-9A-Fa-f]+)>\s*(\d+)", m.group(1)):
            out[int(r.group(1), 16)] = int(r.group(2))
    _CMAP_CACHE[ck] = out or None
    return _CMAP_CACHE[ck]


_CMAP_CACHE: dict[tuple[str, str], dict[int, int] | None] = {}


def _parse_differences(head: bytes, objs: dict[int, bytes]) -> dict[int, str] | None:
    """/Encoding << /Differences [code /name /name ... code /name] >>
    (ISO 32000 9.6.6.1) -> byte code -> text, for simple fonts with
    custom encodings."""
    enc_src = head
    enc_ref = _ref_value(head, b"/Encoding")
    if enc_ref is not None and enc_ref in objs:
        enc_src = _dict_head(objs[enc_ref])
    arr = _balanced_array(enc_src, b"/Differences")
    if arr is None:
        return None
    out: dict[int, str] = {}
    code = 0
    for tok in re.finditer(rb"(\d+)|/([^\s/\[\]()<>{}%]+)", arr):
        num, name = tok.groups()
        if num is not None:
            code = int(num)
            continue
        txt = _glyph_name_to_text(name.decode("latin-1"))
        # codes are byte values in real fonts; a hostile array can put
        # any integer here and chr() past U+10FFFF raises
        out[code] = txt if txt is not None else (
            chr(code) if code <= 0x10FFFF else ""
        )
        code += 1
    return out or None


def _parse_tounicode(data: bytes) -> tuple[dict[int, str], int]:
    """bfchar/bfrange sections of a /ToUnicode CMap (ISO 32000 9.10.3,
    public format) -> code -> text, plus the code width in bytes."""
    cmap: dict[int, str] = {}
    code_w = 2

    def utf16(hexs: bytes) -> str:
        try:
            return bytes.fromhex(hexs.decode()).decode("utf-16-be", "ignore")
        except ValueError:
            return ""

    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.DOTALL):
        for pair in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", m.group(1)
        ):
            src, dst = pair.groups()
            code_w = len(src) // 2 or 1
            cmap[int(src, 16)] = utf16(dst)
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.DOTALL):
        for trip in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
            rb"(?:<([0-9A-Fa-f]+)>|\[(.*?)\])",
            m.group(1),
            re.DOTALL,
        ):
            lo, hi, dst, arr = trip.groups()
            code_w = len(lo) // 2 or 1
            lo_i, hi_i = int(lo, 16), int(hi, 16)
            if dst is not None:
                base_txt = utf16(dst)
                if not base_txt:
                    continue
                head_txt, last = base_txt[:-1], ord(base_txt[-1])
                for c in range(lo_i, min(hi_i, lo_i + 0xFFFF) + 1):
                    nxt = last + (c - lo_i)
                    if nxt > 0x10FFFF:  # hostile range past Unicode
                        break
                    cmap[c] = head_txt + chr(nxt)
            elif arr is not None:
                dsts = re.findall(rb"<([0-9A-Fa-f]+)>", arr)
                for c, d in zip(range(lo_i, hi_i + 1), dsts):
                    cmap[c] = utf16(d)
    return cmap, code_w


def _balanced_array(head: bytes, key: bytes) -> bytes | None:
    """Contents of ``key [ ... ]`` with nested brackets balanced (the
    /W array mixes ``c [w...]`` lists with ``c1 c2 w`` runs)."""
    m = _keyed(key, rb"\s*\[").search(head)
    if not m:
        return None
    i = m.end()
    depth = 1
    start = i
    while i < len(head) and depth:
        b = head[i : i + 1]
        if b == b"[":
            depth += 1
        elif b == b"]":
            depth -= 1
        i += 1
    return head[start : i - 1] if depth == 0 else None


def _parse_w_array(txt: bytes) -> dict[int, float]:
    """CIDFont ``/W`` widths (ISO 32000 9.7.4.3): ``c [w1 w2 ...]``
    assigns consecutive CIDs, ``c1 c2 w`` assigns a range."""
    toks = re.findall(rb"\[|\]|-?(?:\d+\.?\d*|\.\d+)", txt)
    out: dict[int, float] = {}
    i = 0
    while i < len(toks):
        t = toks[i]
        if t in (b"[", b"]"):
            i += 1
            continue
        c = int(float(t))
        if i + 1 < len(toks) and toks[i + 1] == b"[":
            j = i + 2
            k = c
            while j < len(toks) and toks[j] != b"]":
                out[k] = float(toks[j]) / 1000.0
                k += 1
                j += 1
            i = j + 1
        elif i + 2 < len(toks):
            c2 = int(float(toks[i + 1]))
            w = float(toks[i + 2]) / 1000.0
            for k in range(c, min(c2, c + 65535) + 1):
                out[k] = w
            i += 3
        else:
            break
    return out


def _diag_bump(diag: dict | None, key: str, n: int = 1) -> None:
    if diag is not None:
        diag[key] = diag.get(key, 0) + n


def _resources_head(objs: dict[int, bytes], head: bytes) -> bytes:
    """The dictionary a page's or form's resource lookups search: the
    object its ``/Resources`` reference names, else ``head`` itself
    (an inline ``/Resources << ... >>`` sits inside it)."""
    res_ref = _ref_value(head, b"/Resources")
    if res_ref is not None and res_ref in objs:
        return _dict_head(objs[res_ref])
    return head


def _font_widths(
    objs: dict[int, bytes], res_head: bytes, diag: dict | None = None
) -> dict[bytes, _Font]:
    """font resource name (e.g. b"F1") -> glyph advance model, for the
    fonts of one resource dictionary (see :func:`_resources_head`).
    ``diag`` (optional) accumulates font-class counters: predefined
    CMaps seen (codec-decoded vs unknown), Identity CMaps without
    /ToUnicode, Type3 fonts — the mis-decode observability the r4
    verdict asked for."""
    widths: dict[bytes, _Font] = {}
    m = _keyed(b"/Font", rb"\s*<<(.*?)>>", re.DOTALL).search(res_head)
    if m:
        font_body = m.group(1)
    else:
        # /Font may itself be an indirect reference to the name->ref
        # dict (LibreOffice writes pages this way)
        fref = _ref_value(res_head, b"/Font")
        if fref is None or fref not in objs:
            return widths
        font_body = _dict_head(objs[fref])
    for fm in _NAMED_REF.finditer(font_body):
        key, ref = fm.group(1), int(fm.group(2))
        head = _dict_head(objs[ref]) if ref in objs else b""
        base = _name_value(head, b"/BaseFont")
        flat = _COURIER_WIDTH if base and b"Courier" in base else _DEFAULT_WIDTH
        first = 0
        table: list[float] | None = None
        fc = _keyed(b"/FirstChar", rb"\s+(\d+)").search(head)
        wm = _keyed(b"/Widths", rb"\s*\[(.*?)\]", re.DOTALL).search(head)
        if wm is None:
            wref = _ref_value(head, b"/Widths")
            if wref is not None and wref in objs:
                wm = re.search(rb"\[(.*?)\]", _dict_head(objs[wref]), re.DOTALL)
        if fc and wm:
            first = int(fc.group(1))
            try:
                table = [float(x) / 1000.0 for x in _NUMS.findall(wm.group(1))]
            except ValueError:
                table = None
        cmap, code_w = None, 1
        tu_ref = _ref_value(head, b"/ToUnicode")
        if tu_ref is not None and tu_ref in objs:
            tu_data = _stream_data(objs[tu_ref], objs)
            if tu_data:
                cmap, code_w = _parse_tounicode(tu_data)
                if not cmap:
                    cmap = None
        wmap, dw = None, 1.0
        df_refs = _array_refs(head, b"/DescendantFonts")
        if df_refs and df_refs[0] in objs:
            dhead = _dict_head(objs[df_refs[0]])
            dwm = _keyed(b"/DW", rb"\s+(-?(?:\d+\.?\d*|\.\d+))").search(dhead)
            if dwm:
                dw = float(dwm.group(1)) / 1000.0
            warr = _balanced_array(dhead, b"/W")
            if warr:
                try:
                    wmap = _parse_w_array(warr) or None
                except (ValueError, OverflowError):
                    # OverflowError: int(float("9"*400)) == int(inf)
                    wmap = None
        diffs = None if cmap is not None else _parse_differences(head, objs)

        codec, cid_map, exact = None, None, True
        is_type0 = bool(_keyed(b"/Subtype", rb"\s*/Type0\b").search(head)) or bool(
            df_refs
        )
        enc_name = _name_value(head, b"/Encoding")
        if cmap is None and is_type0 and enc_name is not None:
            nm = enc_name.decode("latin-1", "replace")
            if nm.startswith("Identity"):
                # codes ARE CIDs, so /W advances resolve exactly, but
                # there is no text mapping without /ToUnicode — decode
                # nothing (empty cmap) rather than emit garbage, and
                # count it
                cmap, code_w = {}, 2
                exact = False
                _diag_bump(diag, "identity_no_tounicode")
            else:
                cdc = _predef_codec(nm)
                if cdc is not None:
                    # text decodes exactly through the public codec;
                    # advances use /W only when the deploy CMap data
                    # resolves code -> CID, else /DW (counted)
                    codec = cdc
                    cid_map = _load_deploy_cmap(nm)
                    if wmap is None:
                        wmap = {}
                    _diag_bump(diag, "predef_cmap_codec")
                    if wmap and cid_map is None:
                        _diag_bump(diag, "predef_cmap_dw_advances")
                else:
                    # a predefined CMap this build has no codec for
                    # (ISO-2022-coded or exotic): the plain decode
                    # cascade WILL mis-read it — flag the font so
                    # every shown glyph is counted, never silent
                    exact = False
                    _diag_bump(diag, "predef_cmap_unknown")
        elif cmap is None and is_type0:
            # Type0 with an embedded-CMap-stream /Encoding (or none):
            # no faithful text mapping available — flag and count
            exact = False
            _diag_bump(diag, "type0_undecoded")

        if _keyed(b"/Subtype", rb"\s*/Type3\b").search(head):
            # Type3 glyph widths are in GLYPH SPACE: advance =
            # w * FontMatrix[0] (not /1000 like simple fonts); text
            # comes from /Encoding /Differences names (CharProcs
            # drawing procedures carry no text)
            _diag_bump(diag, "type3")
            scale = 0.001
            fmtx = _balanced_array(head, b"/FontMatrix")
            if fmtx:
                try:
                    nums = [float(x) for x in _NUMS.findall(fmtx)]
                    if nums and nums[0] != 0.0:
                        scale = nums[0]
                except ValueError:
                    pass
            if table is not None:
                table = [t * 1000.0 * scale for t in table]
            flat = 0.5 if table is None else flat
            if diffs is None:
                exact = False  # byte codes are arbitrary: ASCII guess
                _diag_bump(diag, "type3_no_differences")

        widths[key] = _Font(
            flat, first, table, cmap, code_w, wmap, dw, diffs,
            codec, cid_map, exact,
        )
    return widths


# -- matrix helpers (row vectors: p' = p @ M) --------------------------------

_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _mat_mul(m1, m2):
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (
        a1 * a2 + b1 * c2,
        a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2,
        c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2,
        e1 * b2 + f1 * d2 + f2,
    )


def _apply(m, x, y):
    a, b, c, d, e, f = m
    return a * x + c * y + e, b * x + d * y + f


class _TextState:
    __slots__ = ("tm", "tlm", "size", "font", "tl", "tc", "tw", "tz")

    def __init__(self) -> None:
        self.tm = self.tlm = _ID
        self.size = 12.0
        self.font = b""
        self.tl = 0.0
        self.tc = 0.0
        self.tw = 0.0
        self.tz = 100.0


# the reference drops white-on-white letter-ish glyphs (hidden/OCR
# overlay text): _has_color, pdf_parser.py:197-203
_WHITE_TEXT_RE = re.compile(r"[a-zT_\[\]\(\)-]+")

_DEFAULT_FONT = _Font(_DEFAULT_WIDTH)


_INLINE_IMG = re.compile(rb"\bBI\b.*?\sEI\b", re.DOTALL)


def _matrix_of(head: bytes) -> tuple:
    m = _keyed(b"/Matrix", rb"\s*\[(.*?)\]", re.DOTALL).search(head)
    if not m:
        return _ID
    nums = [float(x) for x in _NUMS.findall(m.group(1))]
    return tuple(nums[:6]) if len(nums) >= 6 else _ID


def _page_xobjects(
    objs: dict[int, bytes],
    res_head: bytes,
    page_widths: dict[bytes, _Font],
    visited: frozenset[int] = frozenset(),
    diag: dict | None = None,
    depth: int = 8,
    budget: dict | None = None,
) -> dict[bytes, dict]:
    """Form XObjects reachable from a page/form resource dict
    (``res_head``, see :func:`_resources_head`):
    name -> {data, matrix, widths, xobjects} (nested forms resolve
    recursively; cycles broken by the visited set).

    ``visited`` is per-PATH (a form may legitimately appear under two
    siblings), so a crafted DAG — each level's resource dict naming
    both forms of the next level — would be rebuilt once per path:
    2^30 builds from ~60 small objects, hanging the build before the
    interpreter's per-page draw budget is ever consulted.  Two bounds
    close that: ``depth`` mirrors _interpret_page's nesting cap (forms
    deeper than 8 are never drawn, so building them is pure waste) and
    ``budget`` counts total form builds per page (10k, the same
    generosity as the draw budget — real pages carry hundreds)."""
    if budget is None:
        budget = {}
    m = _keyed(b"/XObject", rb"\s*<<(.*?)>>", re.DOTALL).search(res_head)
    out: dict[bytes, dict] = {}
    if not m:
        return out
    for fm in _NAMED_REF.finditer(m.group(1)):
        name, ref = fm.group(1), int(fm.group(2))
        if ref in visited or ref not in objs:
            continue
        fhead = _dict_head(objs[ref])
        if _keyed(b"/Subtype", rb"\s*/Image\b").search(fhead):
            # image CONTENT is opaque at this tier, but its drawn
            # position (unit square through the CTM) is real — the
            # figure region the reference's layout model would tag
            out[name] = {"image": True}
            continue
        if not _keyed(b"/Subtype", rb"\s*/Form\b").search(fhead):
            continue
        data = _stream_data(objs[ref], objs)
        if not data:
            continue
        budget["xobj_builds"] = budget.get("xobj_builds", 0) + 1
        if budget["xobj_builds"] > 10_000:
            break
        fres = _resources_head(objs, fhead)
        fwidths = {**page_widths, **_font_widths(objs, fres, diag)}
        out[name] = {
            "data": data,
            "matrix": _matrix_of(fhead),
            "widths": fwidths,
            "xobjects": _page_xobjects(
                objs, fres, fwidths, visited | {ref}, diag,
                depth=depth - 1, budget=budget,
            )
            if depth > 1
            else {},
        }
    return out


def _interpret_page(
    stream: bytes,
    widths: dict[bytes, _Font],
    page_h: float,
    ctm0: tuple = _ID,
    xobjects: dict[bytes, dict] | None = None,
    depth: int = 8,
    figures: list[dict] | None = None,
    counters: dict | None = None,
) -> list[Char]:
    # inline images carry raw binary between ID..EI that would derail
    # the lexer (a stray "(" swallows the rest of the stream) — excise
    stream = _INLINE_IMG.sub(b" ", stream)
    # counters doubles as the page-wide form-draw budget: the depth cap
    # alone leaves BREADTH unbounded, and ~10 KB of crafted forms (10
    # Do's per level, 8 levels) is 10^8 leaf executions — a time bomb,
    # not a parse error.  Shared across the recursion via the same
    # dict; local when a caller passed none.
    if counters is None:
        counters = {}
    chars: list[Char] = []
    ts = _TextState()
    ctm = ctm0
    gstack: list[tuple] = []
    stack: list = []  # operand stack: floats / str / list / bytes names
    gray = {"G": 0.0, "g": 0.0}  # DeviceGray stroke / fill levels

    def show(raw: bytes) -> None:
        # white-on-white DeviceGray glyphs are drawn (the matrix still
        # advances) but not emitted: the reference's _has_color filter
        # (pdf_parser.py:197-203, applied at :1025)
        font = widths.get(ts.font) or _DEFAULT_FONT
        pairs = font.glyphs(bytes(raw))
        if not font.exact and pairs and counters is not None:
            # a glyph shown through an un-decodable font: the text is
            # missing or guessed — surfaced per page, never silent
            counters["inexact_glyphs"] = (
                counters.get("inexact_glyphs", 0) + len(pairs)
            )
        # the shown string matters only to the white-text test, which
        # needs both gray levels at 1.0: build it only then
        hidden = (
            gray["G"] == 1.0
            and gray["g"] == 1.0
            and bool(_WHITE_TEXT_RE.match("".join(t for _c, t in pairs)))
        )
        # trm = tm @ ctm per glyph, but only tm's translation row (e, f)
        # changes inside one show (the advance is a pure translation),
        # so the 2x2 product and the ascent/descent column offsets hoist
        # out of the loop: per glyph the matrix work is the translation
        # row (4 mults) + the advance term (2 mults), replacing the
        # general 12-mult _mat_mul + two 4-mult _applys.  Same
        # evaluation order inside every surviving product/sum, so
        # positions are bit-identical (the dropped a*0.0 term of the
        # old _apply(trm, 0.0, ...) is an exact additive zero).
        a1, b1, c1, d1, e1, f1 = ts.tm
        a2, b2, c2, d2, e2, f2 = ctm
        ra = a1 * a2 + b1 * c2
        rb = a1 * b2 + b1 * d2
        dsc = -_DESCENT * ts.size
        asc = _ASCENT * ts.size
        rc = c1 * a2 + d1 * c2
        rd = c1 * b2 + d1 * d2
        cx0, cy0 = rc * dsc, rd * dsc
        cx1, cy1 = rc * asc, rd * asc
        # adv keeps the original ((em*size + tc + tw) * tz) grouping —
        # distributing tz over the terms is NOT bit-identical when
        # Tc/Tw/Tz are nonzero, and positions must stay byte-stable
        tz = ts.tz / 100.0
        size = ts.size
        tc = ts.tc
        tw = ts.tw
        # _Font.em, inlined: /W by code, else the /FirstChar-indexed
        # /Widths entry when positive, else the flat width
        flat = font.flat
        table = font.table
        n_table = len(table) if table else 0
        first = font.first
        wmap_get = font.wmap.get if font.wmap is not None else None
        dw = font.dw
        flat_only = wmap_get is None and not table
        append = chars.append
        try:
            for code, ch in pairs:
                if flat_only:
                    em = flat
                elif wmap_get is not None and code is not None:
                    em = wmap_get(code, dw)
                elif table:
                    i = (code if code is not None else ord(ch or "\x00")) - first
                    em = table[i] if 0 <= i < n_table and table[i] > 0 else flat
                else:
                    em = flat
                adv = (em * size + tc + (tw if ch == " " else 0.0)) * tz
                ex = e1 * a2 + f1 * c2 + e2
                fy = e1 * b2 + f1 * d2 + f2
                # keep drawn space glyphs (pdfplumber does); only
                # non-printing whitespace is skipped
                if not hidden and (ch == " " or ch.strip()):
                    x0d = cx0 + ex
                    y0d = cy0 + fy
                    x1d = ra * adv + cx1 + ex
                    y1d = rb * adv + cy1 + fy
                    # two-arg min/max semantics inlined (keeps first on
                    # ties and unordered operands, same as the builtins)
                    x0 = x1d if x1d < x0d else x0d
                    x1 = x1d if x1d > x0d else x0d
                    y0 = y1d if y1d < y0d else y0d
                    y1 = y1d if y1d > y0d else y0d
                    append(
                        {
                            "text": ch,
                            "x0": x0,
                            "x1": x1,
                            "top": page_h - y1,
                            "bottom": page_h - y0,
                            "width": x1 - x0,
                            "height": y1 - y0,
                        }
                    )
                # translate-by-advance: (1,0,0,1,adv,0) x tm keeps a..d
                # and shifts (e,f) by adv along the text-space x axis
                e1 += adv * a1
                f1 += adv * b1
        finally:
            ts.tm = (a1, b1, c1, d1, e1, f1)

    def next_line(tx: float, ty: float) -> None:
        ts.tlm = _mat_mul((1.0, 0.0, 0.0, 1.0, tx, ty), ts.tlm)
        ts.tm = ts.tlm

    arr_stack: list[list] = []  # in-progress arrays, innermost last
    for tok in _LEX.finditer(stream):
        kind = tok.lastindex
        if kind == _T_NUM:
            try:
                (arr_stack[-1] if arr_stack else stack).append(
                    float(tok[kind])
                )
            except ValueError:  # "1.2.3": a number token, not a float
                (arr_stack[-1] if arr_stack else stack).append(0.0)
            continue
        if kind != _T_OP:
            if kind == _T_STR or kind == _T_HEX:
                (arr_stack[-1] if arr_stack else stack).append(
                    _RawStr(_raw_string(tok[kind]))
                )
            elif kind == _T_NAME:
                (arr_stack[-1] if arr_stack else stack).append(tok[kind])
            elif kind == _T_OPEN:
                arr_stack.append([])
            elif kind == _T_CLOSE:
                # proper nesting (ADVICE r3): a closed inner array
                # becomes an element of its parent; only a depth-1
                # close lands on the operand stack (where TJ finds it)
                done = arr_stack.pop() if arr_stack else []
                (arr_stack[-1] if arr_stack else stack).append(done)
            # dictionary delimiters and comments carry nothing
            continue
        op = tok[kind]
        # the branches test distinct operators, so their order is free:
        # the most frequent come first
        try:
            if op == b"Tj":
                if stack and isinstance(stack[-1], _RawStr):
                    show(stack[-1])
            elif op == b"Tm":
                if len(stack) >= 6:
                    ts.tlm = ts.tm = tuple(map(float, stack[-6:]))
            elif op == b"BT":
                ts.tm = ts.tlm = _ID
            elif op == b"ET":
                pass  # frequent, and changes no state this interpreter keeps
            elif op == b"Tf" and len(stack) >= 2:
                ts.size = float(stack[-1])
                if isinstance(stack[-2], bytes):
                    ts.font = stack[-2]
            elif op == b"TJ" and stack and isinstance(stack[-1], list):
                for el in stack[-1]:
                    if isinstance(el, _RawStr):
                        show(el)
                    elif isinstance(el, float):
                        tx = (
                            -float(el) / 1000.0 * ts.size * (ts.tz / 100.0)
                        )
                        ts.tm = _mat_mul(
                            (1.0, 0.0, 0.0, 1.0, tx, 0.0), ts.tm
                        )
            elif op == b"Td" and len(stack) >= 2:
                next_line(float(stack[-2]), float(stack[-1]))
            elif op == b"TL" and stack:
                ts.tl = float(stack[-1])
            elif op == b"T*":
                next_line(0.0, -ts.tl)
            elif op == b"TD" and len(stack) >= 2:
                ts.tl = -float(stack[-1])
                next_line(float(stack[-2]), float(stack[-1]))
            elif op == b"Tc" and stack:
                ts.tc = float(stack[-1])
            elif op == b"Tw" and stack:
                ts.tw = float(stack[-1])
            elif op == b"Tz" and stack:
                ts.tz = float(stack[-1])
            elif op == b"cm" and len(stack) >= 6:
                ctm = _mat_mul(tuple(map(float, stack[-6:])), ctm)
            elif op == b"q":
                gstack.append((ctm, gray["G"], gray["g"]))
            elif op == b"Q":
                if gstack:
                    ctm, gray["G"], gray["g"] = gstack.pop()
                else:
                    ctm = ctm0
            elif op == b"Do" and stack and isinstance(stack[-1], bytes) \
                    and not isinstance(stack[-1], _RawStr):
                xo = (xobjects or {}).get(stack[-1])
                if xo and xo.get("image"):
                    # drawn image: unit square through the CTM is the
                    # figure region (content stays opaque)
                    if figures is not None:
                        pts = [
                            _apply(ctm, 0.0, 0.0), _apply(ctm, 1.0, 0.0),
                            _apply(ctm, 0.0, 1.0), _apply(ctm, 1.0, 1.0),
                        ]
                        xs = [pt[0] for pt in pts]
                        ys = [pt[1] for pt in pts]
                        figures.append(
                            {
                                "x0": min(xs), "x1": max(xs),
                                "top": page_h - max(ys),
                                "bottom": page_h - min(ys),
                            }
                        )
                elif xo and depth > 0:
                    counters["xobj_draws"] = counters.get("xobj_draws", 0) + 1
                    if counters["xobj_draws"] <= 10_000:
                        chars.extend(
                            _interpret_page(
                                xo["data"],
                                xo["widths"],
                                page_h,
                                ctm0=_mat_mul(xo["matrix"], ctm),
                                xobjects=xo["xobjects"],
                                depth=depth - 1,
                                figures=figures,
                                counters=counters,
                            )
                        )
            elif op == b"G" and stack:
                gray["G"] = float(stack[-1])
            elif op == b"g" and stack:
                gray["g"] = float(stack[-1])
            elif op in (b"rg", b"RG", b"k", b"K", b"cs", b"CS", b"sc", b"SC",
                        b"scn", b"SCN"):
                # leaving DeviceGray: colored text is never "white on
                # white" for the filter's purposes
                gray["G" if op in (b"RG", b"K", b"CS", b"SC", b"SCN") else "g"] = 0.0
            elif op == b"'" and stack:
                next_line(0.0, -ts.tl)
                if isinstance(stack[-1], _RawStr):
                    show(stack[-1])
            elif op == b'"' and len(stack) >= 3:
                ts.tw = float(stack[-3])
                ts.tc = float(stack[-2])
                next_line(0.0, -ts.tl)
                if isinstance(stack[-1], _RawStr):
                    show(stack[-1])
        except (TypeError, ValueError, IndexError):
            pass
        stack = []
    return chars


def dedupe_chars(chars: list[Char], tolerance: float = 1.0) -> list[Char]:
    """pdfplumber's ``page.dedupe_chars()`` (the reference calls it at
    pdf_parser.py:1025 before any processing): drop glyphs that repeat
    the same text within ``tolerance`` of an already-seen position —
    fake-bold / shadow double rendering otherwise doubles every char.
    First occurrence wins, stream order preserved.

    Most pages repeat nothing, so a vectorised check
    (:func:`_dedupe_candidates`) first proves which glyphs cannot have
    a same-text neighbour within ``tolerance``; a page where that holds
    for every glyph comes back as it is, and on any other page only the
    remaining candidates enter the grid (:func:`_grid_drops`).  A glyph
    with no such neighbour is kept by the grid and never drops another,
    so the verdicts are those of the grid over the whole page.

    Degenerate tolerances keep the naive-scan semantics exactly
    (ADVICE r4: the earlier 1e-9 remap silently widened both):
    ``tolerance == 0`` means ``abs(diff) <= 0`` — exact-position
    dedupe, keyed directly; a negative tolerance satisfies no pair, so
    nothing is deduped."""
    if tolerance < 0:  # abs(dx) <= tol is never true: dedupe nothing
        return list(chars)
    if tolerance == 0:  # exact (text, x, top) match only
        seen0: set[tuple] = set()
        out0: list[Char] = []
        for c in chars:
            key = (c["text"], c["x0"], c["top"])
            if key in seen0:
                continue
            seen0.add(key)
            out0.append(c)
        return out0
    idx = _dedupe_candidates(chars, tolerance)
    drop = _grid_drops(chars, idx, tolerance) if idx else None
    if not drop:
        return list(chars)
    return [c for i, c in enumerate(chars) if i not in drop]


# |coordinate| / tolerance bound of the clean-page check: inside it a
# float64 cell index is exact and each cell boundary lands within
# 2^-12 cell of its true place, far inside the check's slack of a
# third of a tolerance.  Pages beyond it (and NaN / inf glyphs) go to
# the grid whole.
_CHECK_SPAN = float(1 << 40)
# grid i is shifted by i/3 cell on both axes
_GRID_SHIFTS = np.array([0.0, 1.0 / 3.0, 2.0 / 3.0]).reshape(3, 1, 1)
# odd 64-bit multipliers, per grid and axis, folding a glyph's cells
# and text hash into one key per grid; a collision only adds
# candidates, never drops a glyph
_CELL_MIX = np.array(
    [
        [0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9],
        [0x27D4EB2F165667C5, 0x85EBCA77C2B2AE63],
        [0x94D049BB133111EB, 0xBF58476D1CE4E5B9],
    ],
    dtype=np.uint64,
).reshape(3, 2, 1)
_TEXT_MIX = np.uint64(0x9E3779B97F4A7C15)
# per-grid tags: without them a glyph whose cells are all 0 would
# repeat its own key across the three grids
_GRID_TAGS = np.array(
    [[0x0], [0xD6E8FEB86659FD93], [0xA0761D6478BD642F]], dtype=np.uint64
)
_X0 = operator.itemgetter("x0")
_TOP = operator.itemgetter("top")
_TEXT = operator.itemgetter("text")


def _dedupe_candidates(chars: list[Char], tolerance: float) -> list[int]:
    """Indices, ascending, of the glyphs that may have a same-text
    glyph within ``tolerance`` (> 0) on both axes; ``[]`` proves the
    page clean.

    Three grids of square cells 4 * tolerance wide are laid over the
    page, grid i shifted by i/3 cell on both axes.  On one axis the
    three grids' cell boundaries alternate 4/3 * tolerance apart, so
    two coordinates within ``tolerance`` straddle at most one of them:
    at most one grid splits the pair along x and at most one along
    top, and the third grid has both glyphs in one cell.  Two
    same-text glyphs within ``tolerance`` therefore share a (text,
    cell) key in some grid, and a glyph whose three keys are all
    unique has no such neighbour.  One sort over the 3n keys finds the
    repeats.  Every glyph is returned when a coordinate is non-finite
    or beyond ``_CHECK_SPAN`` tolerances."""
    n = len(chars)
    if not n:
        return []
    pos = np.array(
        (
            np.fromiter(map(_X0, chars), np.float64, n),
            np.fromiter(map(_TOP, chars), np.float64, n),
        )
    )
    if not np.abs(pos).max() < _CHECK_SPAN * tolerance:  # NaN fails too
        return list(range(n))
    # cells[grid, axis, glyph]
    cells = np.floor(pos / (4.0 * tolerance) + _GRID_SHIFTS).astype(np.int64)
    mixed = cells.view(np.uint64) * _CELL_MIX
    text = np.fromiter(map(hash, map(_TEXT, chars)), np.int64, n)
    keys = mixed[:, 0] + mixed[:, 1] + (text.view(np.uint64) * _TEXT_MIX + _GRID_TAGS)
    ranked = np.sort(keys, axis=None)
    if not (ranked[1:] == ranked[:-1]).any():
        return []
    _, inverse, counts = np.unique(keys, return_inverse=True, return_counts=True)
    repeat = (counts[inverse] > 1).reshape(3, n).any(axis=0)
    return np.flatnonzero(repeat).tolist()


def _grid_drops(chars: list[Char], idx: list[int], tolerance: float) -> set[int]:
    """The indices among ``idx`` (ascending) that the dedupe drops: a
    glyph repeating the text of an earlier kept one within
    ``tolerance``, or one with no usable position.

    Positions are indexed in a per-text grid with cell size =
    tolerance, so each glyph probes the 3x3 neighborhood instead of
    every prior same-text glyph — the naive per-text scan is quadratic
    in repeats and a dense real-world page (5k+ chars, hundreds of
    'e's) pays millions of comparisons.  Two points within
    ``tolerance`` differ by at most one cell per axis, so the probe set
    is exact.

    Cells are keyed by a packed int (cx*2^32 + ct) instead of a (text,
    cx, ct) tuple: the 3x3 probe allocated 9 tuples and re-hashed the
    text per cell on EVERY glyph — int arithmetic per probe is ~2x
    cheaper and the final abs() distance checks still gate acceptance,
    so a packed-key collision (|ct| beyond 2^32, crafted coordinates)
    only adds candidate points, never a wrong verdict."""
    seen: dict[str, dict[int, list[tuple[float, float]]]] = {}
    drop: set[int] = set()
    seen_get = seen.get
    for i in idx:
        c = chars[i]
        x, t = c["x0"], c["top"]
        txt = c["text"]
        try:
            cx = int(x // tolerance)
            ct = int(t // tolerance)
        except (OverflowError, ValueError):
            # inf/NaN coordinates (hostile content streams can push the
            # text matrix past float range; inf * 0 then yields NaN):
            # the glyph has no usable position — drop it
            drop.add(i)
            continue
        key = cx * 4294967296 + ct
        cells = seen_get(txt)
        if cells is None:
            seen[txt] = {key: [(x, t)]}
            continue
        get = cells.get
        dup = False
        for gk in (
            key - 4294967297, key - 4294967296, key - 4294967295,
            key - 1, key, key + 1,
            key + 4294967295, key + 4294967296, key + 4294967297,
        ):
            pts = get(gk)
            if pts:
                for px, pt in pts:
                    if abs(x - px) <= tolerance and abs(t - pt) <= tolerance:
                        dup = True
                        break
                if dup:
                    break
        if dup:
            drop.add(i)
            continue
        pts = get(key)
        if pts is None:
            cells[key] = [(x, t)]
        else:
            pts.append((x, t))
    return drop


def _rotate_char(c: Char, rot: int, w: float, h: float) -> Char:
    """Map an unrotated-frame char box into the displayed (visual)
    frame for /Rotate 90/180/270 — the normalization pdfplumber
    applies, so downstream reading order sees the page as a reader
    would.  Returns a new dict; (w, h) are the UNROTATED page dims."""
    y0, y1 = h - c["bottom"], h - c["top"]  # PDF-up extents
    x0, x1 = c["x0"], c["x1"]
    if rot == 90:  # displayed size (h, w); (x,y) -> (y, w - x)
        nx0, nx1 = y0, y1
        ntop, nbot = x0, x1
    elif rot == 180:  # (x,y) -> (w - x, h - y); displayed size (w, h)
        nx0, nx1 = w - x1, w - x0
        ntop, nbot = h - c["bottom"], h - c["top"]
    else:  # 270: (x,y) -> (h - y, x); displayed size (h, w)
        nx0, nx1 = h - y1, h - y0
        ntop, nbot = w - x1, w - x0
    out = dict(c)
    out["x0"], out["x1"] = nx0, nx1
    out["top"], out["bottom"] = ntop, nbot
    out["width"] = nx1 - nx0
    out["height"] = nbot - ntop
    return out


_MISSING = object()


def _inherited(objs: dict[int, bytes], num: int, own, memo: dict[int, object]):
    """``own(head)`` of page object ``num``, else of its nearest
    ``/Parent`` ancestor for which it is not None: ISO 32000-1 §7.7.3.4
    lets a page inherit ``/Resources``, ``/MediaBox`` and ``/Rotate``
    from any ``/Pages`` node above it.  None when no node on the chain
    has the attribute.

    ``memo`` (node -> answer, one per attribute and document) records
    every node a walk passes, so a deep chain shared by many pages is
    walked once per document; a ``/Parent`` cycle or a dangling
    reference ends the walk."""
    path: list[int] = []
    on_path: set[int] = set()
    val = None
    node = num
    while node is not None and node in objs and node not in on_path:
        hit = memo.get(node, _MISSING)
        if hit is not _MISSING:
            val = hit
            break
        path.append(node)
        on_path.add(node)
        head = _dict_head(objs[node])
        val = own(head)
        if val is not None:
            break
        node = _ref_value(head, b"/Parent")
    for n in path:
        memo[n] = val
    return val


def _own_rotate(head: bytes) -> int | None:
    m = _keyed(b"/Rotate", rb"\s+(-?\d+)").search(head)
    return int(m.group(1)) if m else None


def _own_resources(objs: dict[int, bytes], head: bytes) -> bytes | None:
    """The resource dictionary a page-tree node names itself (see
    :func:`_resources_head`), None when it names none."""
    return _resources_head(objs, head) if b"/Resources" in head else None


def pdf_pages_chars(pdf: bytes, diag: dict | None = None) -> list[dict]:
    """Per page: ``{"chars": [...], "width": W, "height": H,
    "n_inexact_glyphs": N}`` — the positioned-char table the reference
    builds in ``__images__`` (pdf_parser.py:1024-1029:
    ``page.dedupe_chars().chars``), pdfplumber-convention coordinates.

    ``n_inexact_glyphs`` counts glyphs shown through fonts whose text
    cannot be decoded faithfully (Identity CMap without /ToUnicode,
    unknown predefined CMap, Type3 without /Differences) — the
    mis-decode detection of VERDICT r4 #4/#5; callers surface it as a
    fallback-class metric.  ``diag`` (optional dict) additionally
    accumulates per-font-class counters across pages."""
    if not pdf.startswith(b"%PDF-"):
        return []
    objs = _objects(pdf)
    pages: list[dict] = []
    default_box = (612.0, 792.0)
    # per document: one memo per inherited attribute
    box_memo: dict[int, object] = {}
    rot_memo: dict[int, object] = {}
    res_memo: dict[int, object] = {}
    for pnum in _page_order(objs):
        head = _dict_head(objs[pnum])
        w, h = _inherited(objs, pnum, _media_box, box_memo) or default_box
        rot = _inherited(objs, pnum, _own_rotate, rot_memo)
        rot = 0 if rot is None else rot % 360
        res_head = _inherited(
            objs, pnum, lambda hd: _own_resources(objs, hd), res_memo
        )
        if res_head is None:  # no node on the chain names any
            res_head = head
        widths = _font_widths(objs, res_head, diag)
        xobjects = _page_xobjects(objs, res_head, widths, diag=diag)
        chars: list[Char] = []
        figs: list[dict] = []
        counters: dict = {}
        for cref in _array_refs(head, b"/Contents"):
            if cref not in objs:
                continue
            data = _stream_data(objs[cref], objs)
            if data:
                chars.extend(
                    _interpret_page(
                        data, widths, h, xobjects=xobjects, figures=figs,
                        counters=counters,
                    )
                )
        if rot in (90, 180, 270):
            chars = [_rotate_char(c, rot, w, h) for c in chars]
            figs = [_rotate_char(f, rot, w, h) for f in figs]
            if rot in (90, 270):
                w, h = h, w
        n_inexact = counters.get("inexact_glyphs", 0)
        _diag_bump(diag, "inexact_glyphs", n_inexact)
        pages.append(
            {
                "chars": dedupe_chars(chars),
                "figures": figs,
                "width": w,
                "height": h,
                "n_inexact_glyphs": n_inexact,
            }
        )
    return pages
