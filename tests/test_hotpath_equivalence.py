"""Regression pins for the round-5 hot-path rewrites.

Each rewrite (BENCH.md "Round-5 hot-path batch") was verified
output-identical against the pre-change code at change time; these
tests re-state the equivalences against a NAIVE in-test reference so
a future edit cannot silently drift:

* ``dedupe_chars`` packed-int grid == naive O(n^2) same-text scan
  (first occurrence wins, stream order), including points exactly at
  the tolerance across cell boundaries and NaN/huge coordinates.
* ``insert_word_gaps``'s first-char set test == the original
  ``_ALNUM_PAIR.match(a + b)`` regex condition.
* ``show()``'s hoisted per-glyph matrix math == the general
  ``trm = tm @ ctm`` + two ``_apply`` form, exercised through a PDF
  with rotation, scaling, Tc/Tw/Tz and TJ kerning in play (positions
  compared exactly).

The per-glyph rewrite of the PDF text path is pinned against the code
it replaced (the ``_oracle_*`` functions): ``dedupe_chars``'s
clean-page check against the full grid (pairs exactly a tolerance
apart across every cell edge in play, huge and non-finite
coordinates, fake-bold pages),
``_raw_string``'s escape-free shortcut, ``chars_to_lines`` and
``insert_word_gaps`` over random glyph streams, the lexer's
group-index classification, and ``show()``'s inlined advance against
``_Font.em`` for flat, ``/Widths``, ``/Differences`` and CID ``/W``
fonts.
"""

from __future__ import annotations

import random
import re
from unittest import mock

import pytest

from ragflow_spark.parsers import pdf_chars
from ragflow_spark.parsers.pdf_chars import (
    _apply,
    _mat_mul,
    dedupe_chars,
    pdf_pages_chars,
)
from ragflow_spark.pdf.assemble import _GAP_FIRST

# the reference's word-gap condition (pdf_parser.py:1070-1077)
_ALNUM_PAIR = re.compile(r"[0-9a-zA-Z,.:;!%]+")


def _dedupe_at(chars, tolerance):
    """``dedupe_chars`` with ``DEDUPE_TOLERANCE`` set to ``tolerance``:
    the grid's cells scale with it, so other values probe other cell
    edges of the same code."""
    with mock.patch.object(pdf_chars, "DEDUPE_TOLERANCE", tolerance):
        return dedupe_chars(chars)


def _naive_dedupe(chars, tolerance):
    out = []
    for c in chars:
        x, t, txt = c["x0"], c["top"], c["text"]
        if x != x or t != t or abs(x) == float("inf") or abs(t) == float("inf"):
            continue
        dup = False
        for p in out:
            if (
                p["text"] == txt
                and abs(x - p["x0"]) <= tolerance
                and abs(t - p["top"]) <= tolerance
            ):
                dup = True
                break
        if not dup:
            out.append(c)
    return out


def _oracle_dedupe(chars, tolerance=1.0):
    """``dedupe_chars`` before the clean-page check: the packed-int
    grid over every glyph, copied verbatim."""
    seen = {}
    out = []
    for c in chars:
        x, t = c["x0"], c["top"]
        txt = c["text"]
        try:
            cx = int(x // tolerance)
            ct = int(t // tolerance)
        except (OverflowError, ValueError):
            continue
        key = cx * 4294967296 + ct
        cells = seen.get(txt)
        if cells is None:
            seen[txt] = {key: [(x, t)]}
            out.append(c)
            continue
        dup = False
        for gk in (
            key - 4294967297, key - 4294967296, key - 4294967295,
            key - 1, key, key + 1,
            key + 4294967295, key + 4294967296, key + 4294967297,
        ):
            pts = cells.get(gk)
            if pts:
                for px, pt in pts:
                    if abs(x - px) <= tolerance and abs(t - pt) <= tolerance:
                        dup = True
                        break
                if dup:
                    break
        if dup:
            continue
        pts = cells.get(key)
        if pts is None:
            cells[key] = [(x, t)]
        else:
            pts.append((x, t))
        out.append(c)
    return out


def _mk(rng, n, spread, texts="eaton"):
    return [
        {
            "text": rng.choice(texts),
            "x0": rng.uniform(-spread, spread),
            "x1": 0.0,
            "top": rng.uniform(-spread, spread),
            "bottom": 0.0,
            "width": 1.0,
            "height": 1.0,
        }
        for _ in range(n)
    ]


@pytest.mark.parametrize("tolerance", [1.0, 0.5, 2.5])
@pytest.mark.parametrize("spread", [2.0, 30.0, 3000.0, 1e13])
def test_dedupe_grid_matches_naive_scan(tolerance, spread):
    rng = random.Random(int(tolerance * 10) + int(spread))
    for texts in ("eaton", "e"):
        for n in (0, 1, 2, 7, 600):
            chars = _mk(rng, n, spread, texts)
            got = _dedupe_at(chars, tolerance)
            assert got == _naive_dedupe(chars, tolerance)
            assert got == _oracle_dedupe(chars, tolerance)


def test_dedupe_boundary_cells_exactly_at_tolerance():
    """Points exactly ``tolerance`` apart land in adjacent grid cells —
    the 3x3 packed-key probe must still see them (<=, not <)."""
    base = {"x1": 0.0, "bottom": 0.0, "width": 1.0, "height": 1.0}
    chars = [
        {"text": "a", "x0": 0.999999, "top": 5.0, **base},
        {"text": "a", "x0": 1.999999, "top": 6.0, **base},  # dx=dy=1.0
        {"text": "a", "x0": 3.000001, "top": 7.000001, **base},  # > tol
    ]
    out = dedupe_chars(chars)
    assert [c["x0"] for c in out] == [0.999999, 3.000001]
    assert out == _naive_dedupe(chars, 1.0)


def test_dedupe_nan_inf_coordinates_dropped():
    base = {"x1": 0.0, "bottom": 0.0, "width": 1.0, "height": 1.0}
    chars = [
        {"text": "a", "x0": float("nan"), "top": 1.0, **base},
        {"text": "a", "x0": float("inf"), "top": 1.0, **base},
        {"text": "a", "x0": 1.0, "top": 1.0, **base},
    ]
    out = dedupe_chars(chars)
    assert len(out) == 1 and out[0]["x0"] == 1.0
    # beyond the clean-page check's span the page goes to the grid whole
    nan, inf = float("nan"), float("inf")
    for coords in (
        [(nan, 1.0), (1.0, 1.0), (1.2, 1.1)],
        [(inf, 1.0), (1.0, -inf), (1.0, 1.0)],
        [(1e13, 5.0), (1e13 + 0.5, 5.5), (-1e13, 5.0)],
        [(1e300, 0.0), (1e300, 0.0), (nan, nan)],
        [(nan, 1.0)],
        [(2.0 ** 40, 0.0), (2.0 ** 40 + 0.5, 0.0)],
    ):
        chars = [{"text": "a", "x0": x, "top": t, **base} for x, t in coords]
        for tol in (1.0, 0.25, 1e-300):
            assert _dedupe_at(chars, tol) == _oracle_dedupe(chars, tol)


def test_gap_first_set_equals_pair_regex():
    """``at[0] in _GAP_FIRST`` == ``_ALNUM_PAIR.match(at + bt)`` for
    non-empty ``at`` (match anchors at 0; the + tail never constrains),
    over a pool including CJK, controls, and punctuation."""
    rng = random.Random(3)
    pool = "aZz09,.:;!% \t<>()[]邮件中文\x00-_+=\"'«é"
    for _ in range(5000):
        a = "".join(rng.choice(pool) for _ in range(rng.randint(1, 3)))
        b = "".join(rng.choice(pool) for _ in range(rng.randint(0, 3)))
        assert bool(_ALNUM_PAIR.match(a + b)) == (a[0] in _GAP_FIRST), (a, b)


def test_show_hoist_matrix_identity_under_transform():
    """The hoisted per-glyph math must equal the general
    ``_apply(_mat_mul(tm, ctm), ...)`` on a rotated + scaled + kerned
    text run.  Checked algebraically over random matrices (the same
    float ops in the same order), then end-to-end through a PDF that
    exercises cm rotation, Tz, Tc and TJ kerning."""
    rng = random.Random(11)
    for _ in range(2000):
        tm = tuple(rng.uniform(-3, 3) for _ in range(6))
        ctm = tuple(rng.uniform(-3, 3) for _ in range(6))
        size = rng.uniform(0.5, 30)
        adv = rng.uniform(-2, 2)
        # general form (the pre-hoist code path)
        trm = _mat_mul(tm, ctm)
        gx0, gy0 = _apply(trm, 0.0, -0.2 * size)
        gx1, gy1 = _apply(trm, adv, 0.8 * size)
        # hoisted form (what show() computes now)
        a1, b1, c1, d1, e1, f1 = tm
        a2, b2, c2, d2, e2, f2 = ctm
        ra = a1 * a2 + b1 * c2
        rb = a1 * b2 + b1 * d2
        rc = c1 * a2 + d1 * c2
        rd = c1 * b2 + d1 * d2
        dsc = -0.2 * size
        asc = 0.8 * size
        ex = e1 * a2 + f1 * c2 + e2
        fy = e1 * b2 + f1 * d2 + f2
        hx0 = rc * dsc + ex
        hy0 = rd * dsc + fy
        hx1 = ra * adv + rc * asc + ex
        hy1 = rb * adv + rd * asc + fy
        # the only dropped term is _apply's exact-zero a*0.0 product —
        # it can flip the SIGN of a zero but never the value, and float
        # == treats -0.0 == 0.0, so equality must be EXACT, not approx
        assert (hx0, hy0) == (gx0, gy0)
        assert (hx1, hy1) == (gx1, gy1)


def test_show_hoist_end_to_end_transformed_pdf():
    """A content stream with cm rotation+scale, Tz horizontal scaling,
    Tc char spacing and TJ kerning — every feature the hoist touches —
    parses to finite, ordered glyph boxes."""
    stream = (
        b"BT 0.6 0.8 -0.8 0.6 100 200 cm "  # rotate+translate via cm? (cm is outside BT normally; kept simple)
        b"/F1 12 Tf 2 Tc 1.5 Tw 80 Tz 14 TL 10 700 Td "
        b"[(AB) -120 (CD)] TJ T* (EF GH) Tj ET"
    )
    pdf = _wrap_min_pdf(stream)
    pages = pdf_pages_chars(pdf)
    assert pages and pages[0]["chars"]
    for c in pages[0]["chars"]:
        assert c["x1"] >= c["x0"] and c["bottom"] >= c["top"]
        for k in ("x0", "x1", "top", "bottom"):
            assert c[k] == c[k] and abs(c[k]) != float("inf")


def _wrap_min_pdf(
    content: bytes,
    fonts: tuple[bytes, ...] = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",),
) -> bytes:
    """One page showing ``content`` with /F1 = object 5, the first of
    ``fonts`` (numbered on from 5)."""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        *fonts,
    ]
    out = [b"%PDF-1.4\n"]
    offs = []
    pos = len(out[0])
    for i, o in enumerate(objs, 1):
        blob = b"%d 0 obj\n%s\nendobj\n" % (i, o)
        offs.append(pos)
        out.append(blob)
        pos += len(blob)
    xref = pos
    out.append(b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1))
    for off in offs:
        out.append(b"%010d 00000 n \n" % off)
    out.append(
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF"
        % (len(objs) + 1, xref)
    )
    return b"".join(out)


def test_squeezed_len_matches_squeeze_len():
    """_squeezed_len(s) must equal len(_squeeze(s)) for every string —
    it feeds the body/widen/sanitize thresholds where the joined string
    was a pure allocation."""
    from ragflow_spark.extract.boilerplate import _squeeze, _squeezed_len

    rng = random.Random(7)
    chars = "ab c\t\n\r\x0b\x0c  xyz　  "
    cases = [
        "", " ", "   ", "a", " a ", "a b", "\t\n", "word",
        "　full width　", " nbsp ",
    ]
    cases += [
        "".join(rng.choice(chars) for _ in range(rng.randrange(0, 80)))
        for _ in range(5000)
    ]
    for s in cases:
        assert _squeezed_len(s) == len(_squeeze(s)), repr(s)


# -- per-glyph rewrite of the PDF text path ----------------------------------
#
# Each ``_oracle_*`` is the code the rewrite replaced, copied verbatim
# (modulo names), so a later edit that changes any verdict, glyph box
# or token fails here.


def _glyph(text, x0, top):
    return {"text": text, "x0": x0, "x1": 0.0, "top": top, "bottom": 0.0,
            "width": 1.0, "height": 1.0}


def _edge_page(rng, tolerance, n_pairs=120):
    """Same- and different-text pairs exactly ``tolerance`` apart (and
    a hair inside or outside) placed across cell edges of every grid
    geometry in play: cells of 1, 2, 3 and 4 tolerances, shifted by 0,
    1/3, 1/2 and 2/3 cell."""
    chars = []
    for _ in range(n_pairs):
        cell = rng.choice((1.0, 2.0, 3.0, 4.0)) * tolerance
        shift = rng.choice((0.0, 1.0 / 3.0, 0.5, 2.0 / 3.0)) * cell
        bx = rng.randint(-50, 50) * cell - shift
        bt = rng.randint(-50, 50) * cell - shift
        x = bx - rng.random() * tolerance
        t = bt - rng.random() * tolerance
        dx = tolerance * rng.choice((1.0, 1.0, 1.0 - 1e-12, 1.0 + 1e-12, 0.5))
        dt = tolerance * rng.choice((1.0, 1.0, 1.0 - 1e-12, 1.0 + 1e-12, 0.0))
        text = rng.choice("aab")
        chars.append(_glyph(text, x, t))
        chars.append(_glyph(rng.choice((text, text, "b")), x + dx, t + dt))
    rng.shuffle(chars)
    return chars


def _near_pairs(chars, tolerance):
    """Brute force: indices of glyphs with a same-text glyph within
    ``tolerance`` on both axes."""
    hit = set()
    for i, a in enumerate(chars):
        for j in range(i + 1, len(chars)):
            b = chars[j]
            if (
                a["text"] == b["text"]
                and abs(a["x0"] - b["x0"]) <= tolerance
                and abs(a["top"] - b["top"]) <= tolerance
            ):
                hit.update((i, j))
    return hit


@pytest.mark.parametrize("tolerance", [1.0, 0.5, 2.5, 1e-3])
def test_clean_page_check_edges_match_full_grid(tolerance):
    from ragflow_spark.parsers.pdf_chars import _dedupe_candidates

    rng = random.Random(int(tolerance * 1000))
    for _ in range(30):
        chars = _edge_page(rng, tolerance)
        # the check never misses a near pair ...
        assert _near_pairs(chars, tolerance) <= set(_dedupe_candidates(chars, tolerance))
        # ... so the verdicts are the full grid's
        assert _dedupe_at(chars, tolerance) == _oracle_dedupe(chars, tolerance)


def test_clean_page_check_clean_pages_take_no_grid():
    """A page of distinct positions passes the check outright: same
    text a line apart, different text side by side at any distance."""
    from ragflow_spark.parsers.pdf_chars import _dedupe_candidates

    chars = [_glyph("e", 7.2 * i, 14.0 * j) for i in range(40) for j in range(30)]
    chars += [_glyph("x", 7.2 * i + 0.1, 14.0 * j) for i in range(40) for j in range(30)]
    assert _dedupe_candidates(chars, 1.0) == []
    assert dedupe_chars(chars) == chars


def test_clean_page_check_fake_bold_pages():
    """Fake-bold / shadow rendering: every glyph drawn two or three
    times a fraction of a point apart — every glyph is a candidate and
    the grid's first-wins verdicts hold."""
    from ragflow_spark.parsers.pdf_chars import _dedupe_candidates

    rng = random.Random(5)
    for offsets in ((0.3,), (0.3, 0.6), (0.0,), (1.0,), (1.5,)):
        chars = []
        for k in range(150):
            x, t = 6.0 * (k % 30), 12.0 * (k // 30)
            txt = rng.choice("abcde")
            chars.append(_glyph(txt, x, t))
            for off in offsets:
                chars.append(_glyph(txt, x + off, t + off / 2))
        got = dedupe_chars(chars)
        assert got == _oracle_dedupe(chars)
        if offsets[0] <= 1.0:
            assert len(_dedupe_candidates(chars, 1.0)) == len(chars)
            assert len(got) == 150


_ORACLE_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _oracle_raw_string(lit):
    import re

    if lit[:1] == b"<":
        hx = re.sub(rb"\s+", b"", lit[1:-1])
        if len(hx) % 2:
            hx += b"0"
        try:
            return bytes.fromhex(hx.decode("ascii"))
        except ValueError:
            return b""
    body = lit[1:-1]
    out = bytearray()
    i = 0
    while i < len(body):
        c = body[i : i + 1]
        if c == b"\\" and i + 1 < len(body):
            nxt = body[i + 1 : i + 2]
            if nxt in _ORACLE_ESCAPES:
                out += _ORACLE_ESCAPES[nxt]
                i += 2
                continue
            if nxt.isdigit():
                j = 1
                while j <= 3 and body[i + j : i + j + 1].isdigit():
                    j += 1
                out.append(int(body[i + 1 : i + j], 8) & 0xFF)
                i += j
                continue
            i += 2
            out += nxt
            continue
        out += c
        i += 1
    return bytes(out)


def _outcome(fn, arg):
    try:
        return ("ok", fn(arg))
    except Exception as e:  # noqa: BLE001 - the exception class is compared
        return ("raise", type(e))


def test_raw_string_matches_escape_loop():
    from ragflow_spark.parsers.pdf import _raw_string

    cases = [
        b"()", b"(plain text)", b"(caf\xe9)", b"(a\\nb\\tc)", b"(\\(x\\))",
        b"(\\101\\102C)", b"(\\1\\12\\123\\1234)", b"(\\0)", b"(\\8)",
        b"(\\9x)", b"(trailing\\)", b"(\\)", b"(\\\\)", b"(\\q)",
        b"<48656C6C6F>", b"<48 65 6c\n6C 6>", b"<>", b"<zz>",
    ]
    rng = random.Random(13)
    alphabet = b"ab()\\nrt0123789 \xff"
    for _ in range(3000):
        body = bytes(rng.choice(alphabet) for _ in range(rng.randint(0, 12)))
        cases.append(b"(" + body + b")")
    for lit in cases:
        assert _outcome(_raw_string, lit) == _outcome(_oracle_raw_string, lit), lit


def _oracle_insert_word_gaps(chars):
    j = 0
    n = len(chars)
    while j + 1 < n:
        a, b = chars[j], chars[j + 1]
        at = a["text"]
        if (
            at
            and b["text"]
            and at[0] in _GAP_FIRST
            and b["x0"] - a["x1"] >= min(b["width"], a["width"]) / 2
        ):
            a["text"] = at + " "
        j += 1
    return chars


def _oracle_chars_to_lines(chars):
    lines = []
    for c in chars:
        if lines:
            prev = lines[-1][-1]
            same_row = abs(c["top"] - prev["top"]) <= max(
                c["height"], prev["height"], 1.0
            ) / 2
            if same_row and c["x0"] >= lines[-1][0]["x0"] - prev["width"]:
                lines[-1].append(c)
                continue
        lines.append([c])
    return lines


def _glyph_stream(rng, n):
    """Random glyphs in stream order: runs along a baseline, wraps,
    jumps, ties, tiny heights, and a few NaN / inf fields."""
    specials = (float("nan"), float("inf"), -float("inf"), 0.0, -0.0)
    out = []
    x, top = 0.0, 10.0
    for _ in range(n):
        r = rng.random()
        if r < 0.1:
            x, top = rng.uniform(-20, 200), top + rng.choice((0.0, 0.4, 6.0, 12.0, -12.0))
        elif r < 0.15:
            x -= rng.uniform(0, 30)
        w = rng.choice((0.0, 0.4, 3.0, 6.0, 6.0, rng.uniform(0, 9)))
        h = rng.choice((0.5, 1.0, 10.0, 12.0, rng.uniform(0, 14)))
        c = {
            "text": rng.choice(["a", "b", "7", ",", " ", "?", "数", "", "ab", "-"]),
            "x0": x, "x1": x + w, "top": top, "bottom": top + h,
            "width": w, "height": h,
        }
        if rng.random() < 0.03:
            c[rng.choice(("x0", "x1", "top", "width", "height"))] = rng.choice(specials)
        out.append(c)
        x += w + rng.choice((0.0, 0.5, 2.0, 4.0, 9.0))
    return out


def test_chars_to_lines_and_word_gaps_match_oracles():
    import copy

    from ragflow_spark.pdf.assemble import chars_to_lines, insert_word_gaps

    rng = random.Random(17)
    for _ in range(400):
        chars = _glyph_stream(rng, rng.randint(0, 60))
        index = {id(c): i for i, c in enumerate(chars)}
        got = [[index[id(c)] for c in ln] for ln in chars_to_lines(chars)]
        want = [[index[id(c)] for c in ln] for ln in _oracle_chars_to_lines(chars)]
        assert got == want
        a, b = copy.deepcopy(chars), copy.deepcopy(chars)
        assert insert_word_gaps(a) is a
        _oracle_insert_word_gaps(b)
        assert [c["text"] for c in a] == [c["text"] for c in b]


# the lexer before tokens were classified by group index
_ORACLE_LEX = re.compile(
    rb"\((?:\\.|[^()\\])*\)"
    rb"|<<|>>"
    rb"|<[0-9A-Fa-f\s]*>"
    rb"|\[|\]"
    rb"|/[^\s/\[\]()<>{}%]*"
    rb"|-?\.?\d[\d.]*"
    rb"|%[^\r\n]*"
    rb"|[A-Za-z'\"][A-Za-z0-9*'\"]*",
    re.DOTALL,
)


def _oracle_tokens(stream):
    out = []
    for tok in _ORACLE_LEX.finditer(stream):
        t = tok.group()
        if t[:1] == b"%" or t in (b"<<", b">>"):
            continue
        if t in (b"[", b"]"):
            out.append(("arr", t))
        elif t[:1] == b"(" or (t[:1] == b"<" and t[:2] != b"<<"):
            out.append(("str", t))
        elif t[:1] == b"/":
            out.append(("name", t[1:]))
        elif re.fullmatch(rb"-?\.?\d[\d.]*", t):
            out.append(("num", t))
        else:
            out.append(("op", t))
    return out


def _lexer_tokens(stream):
    from ragflow_spark.parsers import pdf_chars as pc

    kinds = {pc._T_STR: "str", pc._T_HEX: "str", pc._T_NAME: "name",
             pc._T_NUM: "num", pc._T_OP: "op", pc._T_OPEN: "arr",
             pc._T_CLOSE: "arr"}
    out = []
    for tok in pc._LEX.finditer(stream):
        kind = tok.lastindex
        if kind in kinds:
            out.append((kinds[kind], tok.group(kind)))
    return out


def test_lexer_classification_matches_fullmatch_oracle():
    rng = random.Random(19)
    pieces = [
        b"BT", b"ET", b"/F1", b"/", b"12", b"-3.5", b".5", b"1.2.3", b"Tf",
        b"(a b)", b"(x\\)y)", b"(\\\\)", b"(unclosed", b"<4142>", b"<>",
        b"<<", b">>", b"[", b"]", b"T*", b"'", b'"', b"%c\n", b"{", b"}",
        b"\x00", b"\xff", b" ", b"\n", b"\r\n", b"\t", b"q", b"1 0 0 1 72 700 Tm",
    ]
    for _ in range(2000):
        stream = b"".join(
            rng.choice(pieces) + rng.choice((b"", b" ", b"\n"))
            for _ in range(rng.randint(0, 40))
        )
        assert _lexer_tokens(stream) == _oracle_tokens(stream), stream


def _oracle_show(font, raw, tm, size, tc, tw, tz, page_h):
    """The per-glyph loop before the advance was inlined: ``font.em``
    per glyph, identity CTM, DeviceGray black."""
    pairs = font.glyphs(bytes(raw))
    a1, b1, c1, d1, e1, f1 = tm
    a2, b2, c2, d2, e2, f2 = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    ra = a1 * a2 + b1 * c2
    rb = a1 * b2 + b1 * d2
    dsc = -0.2 * size
    asc = 0.8 * size
    rc = c1 * a2 + d1 * c2
    rd = c1 * b2 + d1 * d2
    cx0, cy0 = rc * dsc, rd * dsc
    cx1, cy1 = rc * asc, rd * asc
    tz = tz / 100.0
    out = []
    for code, ch in pairs:
        adv = (font.em(ch, code) * size + tc + (tw if ch == " " else 0.0)) * tz
        ex = e1 * a2 + f1 * c2 + e2
        fy = e1 * b2 + f1 * d2 + f2
        x0d = cx0 + ex
        y0d = cy0 + fy
        x1d = ra * adv + cx1 + ex
        y1d = rb * adv + cy1 + fy
        x0 = x1d if x1d < x0d else x0d
        x1 = x1d if x1d > x0d else x0d
        y0 = y1d if y1d < y0d else y0d
        y1 = y1d if y1d > y0d else y0d
        if ch == " " or ch.strip():
            out.append({
                "text": ch, "x0": x0, "x1": x1, "top": page_h - y1,
                "bottom": page_h - y0, "width": x1 - x0, "height": y1 - y0,
            })
        e1 += adv * a1
        f1 += adv * b1
    return out


_TOUNICODE = b"begincmap\n1 beginbfrange\n<0000> <0010> <0041>\nendbfrange\nendcmap"
_ADVANCE_FONTS = {
    "flat": (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",),
    "courier": (b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",),
    "widths": (
        b"<< /Type /Font /Subtype /TrueType /BaseFont /Arial /FirstChar 32"
        b" /LastChar 40 /Widths [278 0 355 556 -5 889 667 191 333] >>",
    ),
    "differences": (
        b"<< /Type /Font /Subtype /TrueType /BaseFont /Sub"
        b" /Encoding << /Differences [32 /space /eacute /a 40 /b] >>"
        b" /FirstChar 32 /LastChar 40 /Widths [250 444 500 0 0 0 0 0 610] >>",
    ),
    "cid-w": (
        b"<< /Type /Font /Subtype /Type0 /BaseFont /CID /Encoding /Identity-H"
        b" /DescendantFonts [6 0 R] /ToUnicode 7 0 R >>",
        b"<< /Type /Font /Subtype /CIDFontType2 /DW 900 /W [1 [500 600] 5 7 250] >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(_TOUNICODE), _TOUNICODE),
    ),
    "unknown-cmap-w": (
        b"<< /Type /Font /Subtype /Type0 /BaseFont /CID /Encoding /H"
        b" /DescendantFonts [6 0 R] >>",
        b"<< /Type /Font /Subtype /CIDFontType2 /DW 900 /W [65 [500]] >>",
    ),
}


@pytest.mark.parametrize("kind", sorted(_ADVANCE_FONTS))
def test_inlined_advance_matches_font_em(kind):
    """show()'s inlined advance == ``_Font.em`` per glyph, under random
    Tc / Tw / Tz / size and text matrices: every glyph box equal."""
    from ragflow_spark.parsers.pdf_chars import (
        _dict_head,
        _font_widths,
        _interpret_page,
        _objects,
        _resources_head,
    )

    rng = random.Random(len(kind))
    shown = 0
    for _ in range(60):
        if kind == "cid-w":  # 2-byte codes, some in /W, some on /DW
            codes = [rng.choice((1, 2, 5, 6, 7, 9, 300)) for _ in range(rng.randint(1, 12))]
            raw = b"".join(c.to_bytes(2, "big") for c in codes)
        else:
            raw = bytes(rng.choice(b"  !\"#$%&'(ABZaz~\x80\xe9") for _ in range(rng.randint(1, 20)))
        size, tc, tw, tz = (
            rng.choice(v) for v in (
                ("12", "9.5", "0.75"), ("0", "1.25", "-0.4"),
                ("0", "3", "-2.5"), ("100", "80", "133.5"),
            )
        )
        tm = [rng.choice(("1", "0", "0.5", "-0.8", "72.25", "700")) for _ in range(6)]
        stream = (
            f"BT /F1 {size} Tf {tc} Tc {tw} Tw {tz} Tz {' '.join(tm)} Tm "
            f"<{raw.hex()}> Tj ET"
        ).encode()
        objs = _objects(_wrap_min_pdf(stream, _ADVANCE_FONTS[kind]))
        widths = _font_widths(objs, _resources_head(objs, _dict_head(objs[3])))
        want = _oracle_show(
            widths[b"F1"], raw, tuple(map(float, tm)), float(size),
            float(tc), float(tw), float(tz), 792.0,
        )
        assert _interpret_page(stream, widths, 792.0) == want, (kind, stream)
        shown += len(want)
    assert shown > 100
