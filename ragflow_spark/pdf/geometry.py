"""Layout-box geometry: reading order, merges, tags.

A *box* is a dict with at least ``x0 x1 top bottom text page_number``
and optionally ``layout_type layoutno score R C``.  Coordinates grow
rightward/downward (page pixel space).

Semantics mirror the reference's deepdoc geometry stack — behaviors
re-derived from:
* sorts: deepdoc/vision/recognizer.py:54-111 (threshold-tolerant
  lexicographic — the XY-cut reading-order reconstruction)
* merges: deepdoc/parser/pdf_parser.py:374-479 (_text_merge),
  :481-483 (_concat_downward is a Y-sort in this snapshot — kept
  as-is for parity)
* position tags: deepdoc/parser/pdf_parser.py:905-920

This is per-document logic: it runs inside one Arrow batch of a
``mapInPandas`` stage, one document at a time, and never shuffles.
"""

from __future__ import annotations

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


def concat_downward(boxes: list[Box]) -> list[Box]:
    """Reading-order finalization.  Parity note: the reference's
    _concat_downward is an early-returned Y-sort in this snapshot
    (pdf_parser.py:482-483, xgboost model dead below it) — replicated
    as-is, not "fixed"."""
    return sort_y_first(boxes, 0)


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

