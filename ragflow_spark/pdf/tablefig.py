"""Table extraction: box pop, cross-page merge, caption attach.

Reimplements the model-free table core of ``_extract_table_figure``
(deepdoc/parser/pdf_parser.py:668-879):

* pop table boxes into per-layout groups keyed by ``page-layoutno``,
  dropping "数据来源:"-style source lines; captions, titles and
  references break merge chains (``nomerge``);
* merge a table group into the previous page's group when the pages
  are adjacent and the vertical gap is under ``mean_height * 23``;
* attach each caption box to the nearest table group by squared
  euclidean distance (x-distance counted 0 when the boxes overlap on
  x) and drop it from the text;
* emit tables through :func:`ragflow_spark.pdf.tsr.construct_table`.

Deviations (documented, not silent): figure boxes are not popped, so
their text stays in the remaining boxes.  The reference crops page
images and, when the ONNX layout recognizer ran, snaps the bounding
box to the detected layout region (pdf_parser.py:784-800).  This
engine is text-only — positions come from the member-box extents
(identical to the reference's fallback when no layout matches), and no
image is produced.  Parity on pages without figure boxes is tested
black-box against the AST-executed reference method in
tests/test_tablefig_parity.py.
"""

from __future__ import annotations

import re

from .geometry import Box, _y_dis, sort_y_first
from .tsr import construct_table, is_caption

_SOURCE_RE = re.compile(r"(数据|资料|图表)*来源[:： ]")
_NOMERGE_TYPES = ("table caption", "title", "figure caption", "reference")


def _x_dis(a: Box, b: Box) -> float:
    return min(
        abs(a["x1"] - b["x0"]),
        abs(a["x0"] - b["x1"]),
        abs(a["x0"] + a["x1"] - b["x0"] - b["x1"]) / 2,
    )


def _x_overlapped(a: Box, b: Box) -> bool:
    return not (a["x1"] < b["x0"] or a["x0"] > b["x1"])


def _group_positions(
    bxs: list[Box], page_cum_height: list[float] | None
) -> list[tuple[int, float, float, float, float]]:
    """(page, left, right, top, bottom) per page of the group, pages
    ascending — the reference's cropout bbox fallback with cumulative
    page offsets removed."""
    per_page: dict[int, list[Box]] = {}
    for b in bxs:
        per_page.setdefault(b["page_number"] - 1, []).append(b)
    poss = []
    for pn in sorted(per_page):
        arr = per_page[pn]
        ht = page_cum_height[pn] if page_cum_height else 0.0
        left = min(b["x0"] for b in arr)
        top = min(b["top"] for b in arr) - ht
        right = max(b["x1"] for b in arr)
        bott = max(b["bottom"] for b in arr) - ht
        if right < left:
            right = left + 1
        poss.append((pn, left, right, top, bott))
    return poss


def extract_table_figure(
    boxes: list[Box],
    mean_height: list[float],
    *,
    is_english: bool = False,
    page_cum_height: list[float] | None = None,
) -> tuple[list[Box], list[dict]]:
    """Returns (remaining_boxes, tables).

    Each table: ``{"content": construct_table output, "positions":
    [(page, left, right, top, bottom), ...]}``.
    """
    bxs = list(boxes)
    tables: dict[str, list[Box]] = {}

    # -- pop table boxes into layout groups (ref :672-706) ---------------
    i = 0
    lst_lout_no = ""
    nomerge: list[str] = []
    while i < len(bxs):
        b = bxs[i]
        if "layoutno" not in b:
            i += 1
            continue
        lout_no = f'{b["page_number"]}-{b["layoutno"]}'
        if is_caption(b) or b.get("layout_type") in _NOMERGE_TYPES:
            nomerge.append(lst_lout_no)
        if b.get("layout_type") == "table":
            if _SOURCE_RE.match(b["text"]):
                bxs.pop(i)
                continue
            tables.setdefault(lout_no, []).append(b)
            bxs.pop(i)
            lst_lout_no = lout_no
            continue
        i += 1

    # -- cross-page table merge (ref :708-729) ---------------------------
    nomerge_set = set(nomerge)
    tbls = sorted(tables.items(), key=lambda x: (x[1][0]["top"], x[1][0]["x0"]))
    i = len(tbls) - 1
    while i - 1 >= 0:
        k0, bxs0 = tbls[i - 1]
        k, bs = tbls[i]
        i -= 1
        if k0 in nomerge_set:
            continue
        if bs[0]["page_number"] == bxs0[0]["page_number"]:
            continue
        if bs[0]["page_number"] - bxs0[0]["page_number"] > 1:
            continue
        mh = mean_height[bs[0]["page_number"] - 1]
        if _y_dis(bxs0[-1], bs[0]) > mh * 23:
            continue
        tables[k0].extend(tables[k])
        del tables[k]

    # -- caption attach (ref :731-782) -----------------------------------
    i = 0
    while i < len(bxs):
        c = bxs[i]
        if not is_caption(c):
            i += 1
            continue

        tk, tv = "", 1000000000
        for k, arr in tables.items():
            for b in arr:
                if b.get("layout_type", "").find("caption") >= 0:
                    continue
                y_d = _y_dis(c, b)
                x_d = _x_dis(c, b) if not _x_overlapped(c, b) else 0
                dis = y_d * y_d + x_d * x_d
                if dis < tv:
                    tk, tv = k, dis
        if tk:
            tables[tk].insert(0, c)
        bxs.pop(i)

    # -- emit (ref :831-867, images skipped) ------------------------------

    tbl_out: list[dict] = []
    for _k, arr in tables.items():
        if not arr:
            continue
        arr = sort_y_first(
            arr, sum((b["bottom"] - b["top"]) / 2 for b in arr) / len(arr)
        )
        tbl_out.append(
            {
                "content": construct_table(arr, is_english=is_english),
                "positions": _group_positions(arr, page_cum_height),
            }
        )

    return bxs, tbl_out
