"""Char-box assembly: positioned glyphs -> tagged layout boxes.

The model-free stand-in for the reference's OCR/layout stages between
``__images__`` and the geometry passes:

* word-gap space insertion is the reference's own pre-OCR rule
  (deepdoc/parser/pdf_parser.py:1070-1077, ``__img_ocr``): two
  alnum-ish neighbours whose horizontal gap is at least half the
  narrower glyph get a space appended to the left one;
* per-page stats mirror ``__ocr_preprocess`` (pdf_parser.py:1091-1099):
  ``mean_height``/``mean_width`` are the medians of the page's char
  heights/widths (0 / 8 when the page has no chars) and
  ``page_cum_height`` is the cumulative page-height prefix sum;
* chars group into visual lines (baseline within half a char height),
  lines split into runs at gaps of >= 2 em — the detector-free
  equivalent of OCR text boxes;
* a grid heuristic stands in for the ONNX layout model (plugin, §2.4):
  >=2 consecutive lines with >=2 runs whose run starts align column-
  for-column become a table region; its runs get ``layout_type="table"``
  and a shared ``layoutno`` so the faithfully-ported
  ``extract_table_figure`` -> ``construct_table`` passes consume them
  exactly as they would consume detector output.  Captions stay plain
  text boxes — ``extract_table_figure`` attaches them by its own
  regex + distance rule.
"""

from __future__ import annotations

import re

Char = dict
Box = dict

_ALNUM_PAIR = re.compile(r"[0-9a-zA-Z,.:;!%]+")
# ``_ALNUM_PAIR.match(a + b)`` is truthy iff the concatenation's FIRST
# char is in the class (match anchors at pos 0; the + quantifier never
# constrains beyond it), i.e. iff a's first char is (a is non-empty at
# the use site) — so the hot pre-pass tests set membership instead of
# allocating the concat and running the regex per adjacent pair
_GAP_FIRST = frozenset("0123456789,.:;!%"
                       "abcdefghijklmnopqrstuvwxyz"
                       "ABCDEFGHIJKLMNOPQRSTUVWXYZ")

# The reference's is_caption regex (table_structure_recognizer /
# tsr.py:31) only covers CJK 图/表 captions; English captions reach
# extract_table_figure through the layout model's "table caption" /
# "figure caption" classes.  This is the detector-free equivalent.
_EN_CAPTION = re.compile(r"(Table|Figure)\s*\d+\s*[:.．：]", re.IGNORECASE)


def insert_word_gaps(chars: list[Char]) -> list[Char]:
    """The reference's space-insertion pre-pass (pdf_parser.py:1070-1077),
    applied to a page's chars in stream order.  Mutates and returns.

    Each glyph's fields are read once: the right neighbour of one pair
    is the left glyph of the next, so its text, x1 and width carry over
    in locals."""
    if not chars:
        return chars
    a = chars[0]
    at, ax1, aw = a["text"], a["x1"], a["width"]
    for b in chars[1:]:
        bt = b["text"]
        bw = b["width"]
        if (
            at
            and bt
            and at[0] in _GAP_FIRST  # == _ALNUM_PAIR.match(at + bt)
            # min(bw, aw) / 2, as the builtin picks on ties and NaN
            and b["x0"] - ax1 >= (aw if aw < bw else bw) / 2
        ):
            a["text"] = at + " "
        a = b
        at = bt
        ax1 = b["x1"]
        aw = bw
    return chars


def _median(vals: list[float], default: float) -> float:
    if not vals:
        return default
    s = sorted(vals)
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def page_stats(pages: list[dict]) -> tuple[list[float], list[float], list[float]]:
    """(mean_height, mean_width, page_cum_height) — the ``__images__``
    per-page aggregates (pdf_parser.py:1091-1099).  ``page_cum_height``
    has ``n_pages + 1`` entries starting at 0, like the reference's
    ``np.cumsum([0, h1, h2, ...])``."""
    mean_h: list[float] = []
    mean_w: list[float] = []
    cum = [0.0]
    for p in pages:
        hs = [c["height"] for c in p["chars"]]
        ws = [c["width"] for c in p["chars"]]
        mean_h.append(_median(hs, 0.0))
        mean_w.append(_median(ws, 8.0))
        cum.append(cum[-1] + p["height"])
    return mean_h, mean_w, cum


def chars_to_lines(chars: list[Char]) -> list[list[Char]]:
    """Group a page's chars (stream order) into visual lines: a new
    line starts when the baseline moves by more than half a char
    height, or x regresses past the line start (wrap).

    The previous glyph's top, height and width and the line's start x0
    live in locals; ``max(h, ph, 1.0)`` is spelled out with the
    builtin's left-to-right, first-wins comparisons."""
    lines: list[list[Char]] = []
    if not chars:
        return lines
    c = chars[0]
    line = [c]
    lines.append(line)
    line_x0 = c["x0"]
    ptop, ph, pw = c["top"], c["height"], c["width"]
    for c in chars[1:]:
        top = c["top"]
        h = c["height"]
        m = ph if ph > h else h
        if 1.0 > m:
            m = 1.0
        x0 = c["x0"]
        if abs(top - ptop) <= m / 2 and x0 >= line_x0 - pw:
            line.append(c)
        else:
            line = [c]
            lines.append(line)
            line_x0 = x0
        ptop = top
        ph = h
        pw = c["width"]
    return lines


def order_lines(lines: list[list[Char]]) -> list[list[Char]]:
    """Reading-order reconstruction over visual lines: sort by
    (top, x0) and merge lines sharing a baseline band into one
    left-to-right line — the XY-cut Y-then-X discipline of the
    reference's ``_Y_sorts`` (deepdoc/parser/pdf_parser.py
    ``sort_Y_firstly``, ported in ``pdf/geometry.py``), applied at
    char-assembly time so the downstream passes see reading order no
    matter what order the content stream drew the page in."""
    lines = sorted(lines, key=lambda ln: (ln[0]["top"], ln[0]["x0"]))
    merged: list[list[Char]] = []
    for ln in lines:
        if merged:
            prev = merged[-1]
            h = max(ln[0]["height"], prev[0]["height"], 1.0)
            if abs(ln[0]["top"] - prev[0]["top"]) <= h / 2:
                prev.extend(ln)
                prev.sort(key=lambda c: c["x0"])
                continue
        merged.append(list(ln))
    return merged


def _line_span(ln: list[Char]) -> tuple[float, float]:
    return (min(c["x0"] for c in ln), max(c["x1"] for c in ln))


def xy_cut_lines(lines: list[list[Char]], em: float) -> list[list[Char]]:
    """XY-cut region segmentation over Y-ordered visual lines (the
    north-star's reading-order discipline, model-free): split into
    Y-bands at vertical gaps > 1.5x the median line pitch, then cut
    each band at a clean vertical gutter (>= 2 em of whitespace no
    line crosses) and emit the left column fully before the right.
    Grid bands (two or more multi-run lines — a table) stay Y-ordered
    so the grid detector and TSR see their rows interleaved, as the
    reference's layout stage keeps table regions whole."""
    if not lines:
        return lines
    tops = [ln[0]["top"] for ln in lines]
    pitches = [b - a for a, b in zip(tops, tops[1:]) if b > a]
    pitch = _median(pitches, 0.0)
    bands: list[list[list[Char]]] = [[lines[0]]]
    for prev, ln in zip(lines, lines[1:]):
        if pitch > 0 and ln[0]["top"] - prev[0]["top"] > 1.5 * pitch:
            bands.append([ln])
        else:
            bands[-1].append(ln)
    out: list[list[Char]] = []
    for band in bands:
        out.extend(_column_cut(band, em, depth=2))
    return out


def _column_cut(
    band: list[list[Char]], em: float, depth: int
) -> list[list[Char]]:
    if depth <= 0 or len(band) < 4:
        return band
    if sum(1 for ln in band if len(line_runs(ln, em)) >= 2) >= 2:
        return band  # grid band: the table detector owns it
    spans = [_line_span(ln) for ln in band]
    covered: list[list[float]] = []
    for s in sorted(spans):
        if covered and s[0] <= covered[-1][1] + 0.5:
            covered[-1][1] = max(covered[-1][1], s[1])
        else:
            covered.append([s[0], s[1]])
    for (_a0, a1), (b0, _b1) in zip(covered, covered[1:]):
        if b0 - a1 < 2.0 * em:
            continue
        left = [ln for ln, s in zip(band, spans) if s[1] <= a1 + 0.5]
        right = [ln for ln, s in zip(band, spans) if s[0] >= b0 - 0.5]
        if len(left) >= 2 and len(right) >= 2 and len(left) + len(right) == len(band):
            return _column_cut(left, em, depth - 1) + _column_cut(
                right, em, depth - 1
            )
    return band


def line_runs(line: list[Char], em: float) -> list[list[Char]]:
    """Split a line into runs at horizontal gaps >= 2 em — the cell
    boundaries a table layout produces; prose (single spaces) stays one
    run."""
    runs: list[list[Char]] = [[line[0]]]
    for prev, c in zip(line, line[1:]):
        if c["x0"] - prev["x1"] >= 2.0 * em:
            runs.append([c])
        else:
            runs[-1].append(c)
    return runs


def _run_box(run: list[Char], page_number: int) -> Box:
    return {
        "x0": min(c["x0"] for c in run),
        "x1": max(c["x1"] for c in run),
        "top": min(c["top"] for c in run),
        "bottom": max(c["bottom"] for c in run),
        "page_number": page_number,
        "text": "".join(c["text"] for c in run).strip(),
    }


def _columns_align(cols: list[float], starts: list[float], tol: float) -> bool:
    """Every run start sits within ``tol`` of one of the group's
    column starts."""
    return all(any(abs(s - c) <= tol for c in cols) for s in starts)


def _detect_grid_groups(
    lines: list[list[Char]], per_line_runs: list[list[list[Char]]], em: float
) -> list[tuple[int, int]]:
    """Maximal ranges [i, j) of >= 2 consecutive multi-run lines whose
    run starts align column-for-column."""
    groups: list[tuple[int, int]] = []
    i = 0
    while i < len(lines):
        if len(per_line_runs[i]) < 2:
            i += 1
            continue
        cols = [r[0]["x0"] for r in per_line_runs[i]]
        j = i + 1
        tol = max(em, 1.0)
        while j < len(lines):
            runs_j = per_line_runs[j]
            if len(runs_j) < 2:
                break
            starts = [r[0]["x0"] for r in runs_j]
            if not _columns_align(cols, starts, tol):
                break
            # vertical adjacency: within 3 line heights
            gap = lines[j][0]["top"] - lines[j - 1][0]["bottom"]
            if gap > 3.0 * max(lines[j][0]["height"], 1.0):
                break
            j += 1
        if j - i >= 2:
            groups.append((i, j))
            i = j
        else:
            i += 1
    return groups


def _group_is_table(runs_2d: list[list[list[Char]]], em: float) -> bool:
    """Table vs multi-column prose: a table's cells are short.  At
    least half the aligned columns must have median run width <= 6 em
    to call the grid a table; wide columns are side-by-side prose
    (the ONNX layout model makes this call in the reference — this is
    the model-free discriminator)."""
    ncols = max(len(r) for r in runs_2d)
    col_widths: list[list[float]] = [[] for _ in range(ncols)]
    for runs in runs_2d:
        for k, r in enumerate(runs):
            col_widths[k].append((r[-1]["x1"] - r[0]["x0"]) / max(em, 1e-9))
    medians = [_median(w, 0.0) for w in col_widths if w]
    short = sum(1 for m in medians if m <= 6.0)
    return short * 2 >= len(medians)


def assemble_page_boxes(
    page_chars: list[Char],
    page_number: int,
    em: float,
    table_seq: list[int],
    page_figures: list[dict] | None = None,
) -> list[Box]:
    """One page's chars -> layout boxes in reading order with
    grid-detected table runs tagged (``layout_type``/``layoutno``),
    everything else untagged text lines.  ``table_seq`` is a
    single-element mutable counter so layout numbers stay unique
    across pages.

    Aligned-run grids that classify as side-by-side prose (wide
    columns) are emitted column-major — the XY-cut reading order for
    two-column bodies whose baselines coincide."""
    if not page_chars:
        return []
    # group on stream order, then reconstruct reading order (Y-sort,
    # same-baseline merge, XY-cut column segmentation) and apply the
    # word-gap rule to true left-to-right neighbours per line (the
    # reference applies it in stream order, equivalent on well-formed
    # files; this is robust to arbitrary draw order and multi-column
    # layouts too)
    lines = xy_cut_lines(order_lines(chars_to_lines(page_chars)), em)
    for ln in lines:
        insert_word_gaps(ln)
    per_line_runs = [line_runs(ln, em) for ln in lines]

    groups = _detect_grid_groups(lines, per_line_runs, em)
    by_start = {i: j for i, j in groups}
    table_ranges = {
        (i, j) for i, j in groups if _group_is_table(per_line_runs[i:j], em)
    }
    has_table = bool(table_ranges) or bool(page_figures)

    boxes: list[Box] = []
    li = 0
    while li < len(lines):
        j = by_start.get(li)
        if j is not None and (li, j) in table_ranges:
            table_seq[0] += 1
            lout = f"table-{table_seq[0]}"
            for runs in per_line_runs[li:j]:
                for run in runs:
                    b = _run_box(run, page_number)
                    if not b["text"]:
                        continue
                    b["layout_type"] = "table"
                    b["layoutno"] = lout
                    boxes.append(b)
            li = j
            continue
        if j is not None:
            # side-by-side prose: emit column-major
            runs_2d = per_line_runs[li:j]
            ncols = max(len(r) for r in runs_2d)
            for k in range(ncols):
                for runs in runs_2d:
                    if k < len(runs):
                        b = _run_box(runs[k], page_number)
                        if b["text"]:
                            boxes.append(b)
            li = j
            continue
        b = _run_box(lines[li], page_number)
        li += 1
        if not b["text"]:
            continue
        m = _EN_CAPTION.match(b["text"])
        if m and has_table:
            kind = "figure" if m.group(1).lower() == "figure" else "table"
            b["layout_type"] = f"{kind} caption"
        boxes.append(b)
    # drawn-image regions become figure boxes (text stays opaque; the
    # caption-attach pass adopts their captions like detector output)
    for k, f in enumerate(page_figures or []):
        boxes.append(
            {
                "x0": f["x0"], "x1": f["x1"],
                "top": f["top"], "bottom": f["bottom"],
                "page_number": page_number,
                "text": "",
                "layout_type": "figure",
                "layoutno": f"figure-{page_number}-{k}",
            }
        )
    return boxes


def with_cumulative_tops(boxes: list[Box], cum: list[float]) -> list[Box]:
    """Copies with ``top``/``bottom`` shifted into the document-global
    coordinate the reference carries through its geometry stack
    (``__images__`` adds ``page_cum_height`` to every box) — required
    for cross-page distances (table merge, concat_downward)."""
    out = []
    for b in boxes:
        c = dict(b)
        off = cum[b["page_number"] - 1]
        c["top"] = b["top"] + off
        c["bottom"] = b["bottom"] + off
        out.append(c)
    return out


def to_page_local(boxes: list[Box], cum: list[float]) -> list[Box]:
    """Inverse of :func:`with_cumulative_tops`."""
    out = []
    for b in boxes:
        c = dict(b)
        off = cum[b["page_number"] - 1]
        c["top"] = b["top"] - off
        c["bottom"] = b["bottom"] - off
        out.append(c)
    return out


def pdf_tagged_boxes(pdf: bytes) -> tuple[list[Box], list[float], list[float], bool]:
    """Full positioned path over raw PDF bytes: chars -> stats ->
    tagged boxes.  Returns (boxes, mean_height, page_cum_height,
    is_english) — exactly what ``extract_table_figure`` and the
    chunkers consume downstream."""
    from ..parsers.pdf import is_english_pages
    from ..parsers.pdf_chars import pdf_pages_chars

    pages = pdf_pages_chars(pdf)
    mean_h, mean_w, cum_h = page_stats(pages)
    is_en = is_english_pages(
        [[c["text"] for c in p["chars"] if c["text"].strip()] for p in pages]
    )
    boxes: list[Box] = []
    seq = [0]
    for pn, p in enumerate(pages, start=1):
        em = mean_w[pn - 1] if mean_w[pn - 1] > 0 else 8.0
        boxes.extend(
            assemble_page_boxes(
                p["chars"], pn, em, seq, p.get("figures")
            )
        )
    return boxes, mean_h, cum_h, bool(is_en)


def tag_titles_from_outline(
    boxes: list[Box], outlines: list[tuple[str, int]]
) -> list[Box]:
    """Mark boxes whose text matches a document-outline entry (bigram
    overlap > 0.8, the manual template's matching rule,
    rag/app/manual.py:203-210) as ``layout_type="title"`` — the
    detector-free title source for the paper/manual pivots.  Mutates
    and returns."""
    grams = [
        ({t[i] + t[i + 1] for i in range(len(t) - 1)}, t) for t, _lvl in outlines
    ]
    for b in boxes:
        if "layout_type" in b:
            continue
        txt = b["text"]
        for tks, t in grams:
            tks_ = {
                txt[i] + txt[i + 1] for i in range(min(len(t), len(txt) - 1))
            }
            if len(tks & tks_) / max(len(tks), len(tks_), 1) > 0.8:
                b["layout_type"] = "title"
                break
    return boxes


def pdf_layout_document(
    pdf: bytes,
    *,
    need_figures: bool = False,
    return_html: bool = False,
    merge: bool = True,
    vertical_merge: bool = False,
    drop_toc: bool = False,
) -> tuple[list[Box], list[dict], list[dict], list[float], list[float], bool]:
    """The full real-bytes layout pass in the reference's coordinate
    discipline and the manual/naive branch's pass ORDER
    (rag/app/manual.py:60-63, naive.py:282-294: ``_text_merge`` ->
    ``_extract_table_figure`` -> ``_concat_downward`` ->
    ``_filter_forpages``): tagged boxes lifted to cumulative tops (so
    cross-page table merge and caption distances work,
    pdf_parser.py:708-782); tables pop FIRST, then the parity-ported
    text passes run on the remaining text boxes — Y-sort finalization,
    optionally punctuation-gated paragraph joining of wrapped lines
    (``vertical_merge=True``) and TOC-page removal (``drop_toc=True``).
    Remaining boxes return page-local.  Returns (remaining, tables,
    figures, mean_height, page_cum_height, is_english); table/figure
    positions are page-local."""
    from ..parsers.pdf import is_english_pages
    from ..parsers.pdf_chars import pdf_pages_chars
    from .geometry import (
        concat_downward,
        drop_toc_boxes,
        merge_horizontal,
        merge_vertical,
    )
    from .tablefig import extract_table_figure

    pages = pdf_pages_chars(pdf)
    mean_h, mean_w, cum_h = page_stats(pages)
    is_en = bool(
        is_english_pages(
            [[c["text"] for c in p["chars"] if c["text"].strip()] for p in pages]
        )
    )
    boxes: list[Box] = []
    seq = [0]
    for pn, p in enumerate(pages, start=1):
        em = mean_w[pn - 1] if mean_w[pn - 1] > 0 else 8.0
        boxes.extend(
            assemble_page_boxes(
                p["chars"], pn, em, seq, p.get("figures")
            )
        )
    boxes_c = with_cumulative_tops(boxes, cum_h)
    if merge:
        boxes_c = merge_horizontal(boxes_c, mean_h)
    rem_c, tables, figures = extract_table_figure(
        boxes_c,
        mean_h,
        need_figures=need_figures,
        return_html=return_html,
        is_english=is_en,
        page_cum_height=cum_h,
    )
    if merge:
        rem_c = concat_downward(rem_c)
    if vertical_merge:
        rem_c = merge_vertical(rem_c, mean_h, mean_w, is_english=is_en)
    if drop_toc:
        rem_c = drop_toc_boxes(rem_c, len(pages))
    rem = to_page_local(rem_c, cum_h)
    return rem, tables, figures, mean_h, cum_h, is_en
