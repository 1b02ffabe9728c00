"""Layout-box geometry: reading order, merges, TOC removal, tags.

A *box* is a dict with at least ``x0 x1 top bottom text page_number``
and optionally ``layout_type layoutno score R C``.  Coordinates grow
rightward/downward (page pixel space).

Semantics mirror the reference's deepdoc geometry stack — behaviors
re-derived from:
* sorts: deepdoc/vision/recognizer.py:54-111 (threshold-tolerant
  lexicographic — the XY-cut reading-order reconstruction)
* merges: deepdoc/parser/pdf_parser.py:374-479 (_text_merge,
  _naive_vertical_merge), :481-483 (_concat_downward is a Y-sort in
  this snapshot — kept as-is for parity), :593-666 (_filter_forpages)
* position tags: deepdoc/parser/pdf_parser.py:905-920

This is per-document logic: it runs inside one Arrow batch of a
``mapInPandas`` stage, one document at a time, and never shuffles.
"""

from __future__ import annotations

import re
from functools import cmp_to_key

Box = dict

# --------------------------------------------------------------------------
# reading-order sorts
# --------------------------------------------------------------------------


def sort_y_first(boxes: list[Box], threshold: float) -> list[Box]:
    """Top-to-bottom, ties within ``threshold`` broken left-to-right."""

    def cmp(a: Box, b: Box) -> float:
        d = a["top"] - b["top"]
        if abs(d) < threshold:
            d = a["x0"] - b["x0"]
        return d

    return sorted(boxes, key=cmp_to_key(cmp))


def sort_x_first(boxes: list[Box], threshold: float) -> list[Box]:
    """Left-to-right, ties within ``threshold`` broken top-to-bottom."""

    def cmp(a: Box, b: Box) -> float:
        d = a["x0"] - b["x0"]
        if abs(d) < threshold:
            d = a["top"] - b["top"]
        return d

    return sorted(boxes, key=cmp_to_key(cmp))


def _stable_bubble(boxes: list[Box], key: str, tie: str) -> list[Box]:
    """Restore detector row/col ordering (`R`/`C` tags) on top of a
    spatial sort: bubble any tagged box left past untagged neighbours
    until tags are non-decreasing (the reference's sort_C/R_firstly)."""
    arr = list(boxes)
    for i in range(len(arr) - 1):
        for j in range(i, -1, -1):
            if key not in arr[j] or key not in arr[j + 1]:
                continue
            if arr[j + 1][key] < arr[j][key] or (
                arr[j + 1][key] == arr[j][key] and arr[j + 1][tie] < arr[j][tie]
            ):
                arr[j], arr[j + 1] = arr[j + 1], arr[j]
    return arr


def sort_rows_first(boxes: list[Box], threshold: float = 0) -> list[Box]:
    return _stable_bubble(sort_y_first(boxes, threshold), "R", "x0")


def sort_cols_first(boxes: list[Box], threshold: float = 0) -> list[Box]:
    return _stable_bubble(sort_x_first(boxes, threshold), "C", "top")


# --------------------------------------------------------------------------
# merges
# --------------------------------------------------------------------------


def _y_dis(a: Box, b: Box) -> float:
    return (b["top"] + b["bottom"] - a["top"] - a["bottom"]) / 2


def merge_horizontal(boxes: list[Box], mean_height: list[float]) -> list[Box]:
    """Merge horizontally adjacent boxes of the same layout unit when
    their vertical centers are within mean_height/3 (tables, figures
    and equations are left intact)."""
    bxs = list(boxes)
    i = 0
    while i < len(bxs) - 1:
        a, b = bxs[i], bxs[i + 1]
        if a.get("layoutno", "0") != b.get("layoutno", "1") or a.get(
            "layout_type", ""
        ) in ("table", "figure", "equation"):
            i += 1
            continue
        mh = mean_height[a["page_number"] - 1]
        if abs(_y_dis(a, b)) < mh / 3:
            a["x1"] = b["x1"]
            a["top"] = (a["top"] + b["top"]) / 2
            a["bottom"] = (a["bottom"] + b["bottom"]) / 2
            a["text"] += b["text"]
            bxs.pop(i + 1)
            continue
        i += 1
    return bxs


_CONCAT_TAIL = ",;:'\"，、‘“；：-"
_CONCAT_TAIL2 = ",;:'\"，‘“、；："
_CONCAT_HEAD = "。；？！?”）),，、："
_STOP_TAIL = "。？！?"
_PAGE_SCRAP = re.compile(r"[0-9  •一—-]+$")


def merge_vertical(
    boxes: list[Box],
    mean_height: list[float],
    mean_width: list[float],
    is_english: bool = False,
) -> list[Box]:
    """Vertical merge driven by punctuation / layout / page features;
    drops page-number scraps at page boundaries."""
    import statistics

    med_h = statistics.median(mean_height) if mean_height else 10.0
    bxs = sort_y_first(boxes, med_h / 3)
    i = 0
    while i + 1 < len(bxs):
        a, b = bxs[i], bxs[i + 1]
        if a["page_number"] < b["page_number"] and _PAGE_SCRAP.match(a["text"]):
            bxs.pop(i)
            continue
        if not a["text"].strip():
            bxs.pop(i)
            continue
        at, bt = a["text"].strip(), b["text"].strip()
        concat = [
            at[-1] in _CONCAT_TAIL,
            len(at) > 1 and at[-2] in _CONCAT_TAIL2,
            bool(bt) and bt[0] in _CONCAT_HEAD,
        ]
        keep_apart = [
            a.get("layoutno", 0) != b.get("layoutno", 0),
            at[-1] in _STOP_TAIL,
            is_english and at[-1] in ".!?",
            a["page_number"] == b["page_number"]
            and b["top"] - a["bottom"] > mean_height[a["page_number"] - 1] * 1.5,
            a["page_number"] < b["page_number"]
            and abs(a["x0"] - b["x0"]) > mean_width[a["page_number"] - 1] * 4,
        ]
        detach = [a["x1"] < b["x0"], a["x0"] > b["x1"]]
        if (any(keep_apart) and not any(concat)) or any(detach):
            i += 1
            continue
        a["bottom"] = b["bottom"]
        a["text"] += b["text"]
        a["x0"] = min(a["x0"], b["x0"])
        a["x1"] = max(a["x1"], b["x1"])
        bxs.pop(i + 1)
    return bxs


def concat_downward(boxes: list[Box]) -> list[Box]:
    """Reading-order finalization.  Parity note: the reference's
    _concat_downward is an early-returned Y-sort in this snapshot
    (pdf_parser.py:482-483, xgboost model dead below it) — replicated
    as-is, not "fixed"."""
    return sort_y_first(boxes, 0)


# --------------------------------------------------------------------------
# TOC / dirty-page removal
# --------------------------------------------------------------------------

# "table of contents" kept verbatim from the reference even though the
# match runs after _SPACES strips spaces (dead alternative there too —
# preserved so a "Table of Contents" page behaves identically).
_TOC_RE = re.compile(r"(contents|目录|目次|table of contents|致谢|acknowledge)$")
_SPACES = re.compile(r"[  　]+")
# exact dirty-page marker from _filter_forpages (pdf_parser.py): the
# reference alternation is literally (··|··|··) — the same two middle
# dots, three times).  ASCII "...." leaders are NOT dirty there; parity.
_DOT_LEADER = re.compile("(\u00b7\u00b7)")


def drop_toc_boxes(boxes: list[Box], n_pages: int) -> list[Box]:
    """Remove table-of-contents runs: after a TOC heading, drop entries
    until a body line repeats the prefix of the first entry; if no TOC
    heading, drop pages dominated by dot-leader lines."""
    bxs = list(boxes)
    found = False
    i = 0
    while i < len(bxs):
        squeezed = _SPACES.sub("", bxs[i]["text"].lower())
        if not _TOC_RE.match(squeezed):
            i += 1
            continue
        found = True
        eng = re.match(r"[0-9a-zA-Z :'.-]{5,}", bxs[i]["text"].strip())
        bxs.pop(i)
        if i >= len(bxs):
            break
        def first_prefix() -> str:
            t = bxs[i]["text"].strip()
            return " ".join(t.split()[:2]) if eng else t[:3]

        prefix = first_prefix()
        while not prefix:
            bxs.pop(i)
            if i >= len(bxs):
                break
            prefix = first_prefix()
        if i >= len(bxs) or not prefix:
            break
        bxs.pop(i)
        for j in range(i, min(i + 128, len(bxs))):
            # reference matches the prefix as a RAW regex (pdf_parser.py
            # _filter_forpages); only guard the crash an invalid
            # pattern would cause, semantics otherwise identical
            try:
                hit = re.match(prefix, bxs[j]["text"])
            except re.error:
                hit = re.match(re.escape(prefix), bxs[j]["text"])
            if not hit:
                continue
            del bxs[i:j]
            break
    if found:
        return bxs

    dirty = [0] * max(n_pages, 1)
    for b in bxs:
        if _DOT_LEADER.search(b["text"]):
            dirty[b["page_number"] - 1] += 1
    dirty_pages = {p + 1 for p, n in enumerate(dirty) if n > 3}
    if not dirty_pages:
        return bxs
    return [b for b in bxs if b["page_number"] not in dirty_pages]


# --------------------------------------------------------------------------
# position tags
# --------------------------------------------------------------------------


def line_tag(box: Box, page_cum_height: list[float], page_heights: list[float]) -> str:
    """In-band position tag ``@@pn\tx0\tx1\ttop\tbottom##`` (page-local
    coordinates; a box spilling past the page bottom lists every page
    it crosses)."""
    pn = [box["page_number"]]
    top = box["top"] - page_cum_height[pn[0] - 1]
    bottom = box["bottom"] - page_cum_height[pn[0] - 1]
    if pn[-1] - 1 >= len(page_heights):
        return ""
    while bottom > page_heights[pn[-1] - 1]:
        bottom -= page_heights[pn[-1] - 1]
        pn.append(pn[-1] + 1)
        if pn[-1] - 1 >= len(page_heights):
            return ""
    return "@@{}\t{:.1f}\t{:.1f}\t{:.1f}\t{:.1f}##".format(
        "-".join(str(p) for p in pn), box["x0"], box["x1"], top, bottom
    )

