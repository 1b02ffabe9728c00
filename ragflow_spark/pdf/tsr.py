"""Table structure recovery from tagged layout boxes — full fidelity.

Reimplements the reference's model-free TSR logic
(deepdoc/vision/table_structure_recognizer.py:135-587): the ONNX
detector only *tags* cell boxes (row ``R`` / column ``C`` memberships,
header ``H`` flags, span hints ``SP``/``H_*``); everything afterwards —
row/column clustering, singleton relocation, header-row detection, span
calculation and the HTML/description emitters — is pure Python and is
parity-tested byte-for-byte against the reference's own source in
tests/test_geometry_parity.py.

Faithfulness notes (quirks preserved deliberately):
* captions concatenate with NO separator (the reference's
  ``cap + " "`` line is a no-op, :141-143);
* untagged boxes participate in the column-step test with the
  default tag ``"1"`` (:189);
* header folding joins multi-row headers with ``的`` / `` for ``
  (:407) and rows under 64 chars fold into the previous row (:457).

A cell box: ``{x0 x1 top bottom text page_number [R] [C] [R_top R_bott
C_left C_right] [H] [SP H_left H_right H_top H_bott]}``.
"""

from __future__ import annotations

import re
from collections import Counter

from .geometry import Box, sort_cols_first, sort_rows_first, sort_x_first

_CAPTION_RE = re.compile(r"[图表]+[ 0-9:：]{2,}")

_BLOCK_PATTERNS: list[tuple[re.Pattern, str]] = [
    (re.compile(r"^(20|19)[0-9]{2}[年/-][0-9]{1,2}[月/-][0-9]{1,2}日*$"), "Dt"),
    (re.compile(r"^(20|19)[0-9]{2}年$"), "Dt"),
    (re.compile(r"^(20|19)[0-9]{2}[年-][0-9]{1,2}月*$"), "Dt"),
    (re.compile(r"^[0-9]{1,2}[月-][0-9]{1,2}日*$"), "Dt"),
    (re.compile(r"^第*[一二三四1-4]季度$"), "Dt"),
    (re.compile(r"^(20|19)[0-9]{2}年*[一二三四1-4]季度$"), "Dt"),
    (re.compile(r"^(20|19)[0-9]{2}[ABCDE]$"), "Dt"),
    (re.compile(r"^[0-9.,+%/ -]+$"), "Nu"),
    (re.compile(r"^[0-9A-Z/\._~-]+$"), "Ca"),
    (re.compile(r"^[A-Z]*[a-z' -]+$"), "En"),
    (re.compile(r"^[0-9.,+-]+[0-9A-Za-z/$￥%<>（）()' -]+$"), "NE"),
    (re.compile(r"^.{1}$"), "Sg"),
]


def block_type(text: str) -> str:
    """Cell content class (blockType, :104-133): date / number / code /
    english / mixed / single char / short / long text / other.  Uses
    whitespace tokens where the reference uses its tokenizer — the
    branch only matters for >3-token prose, where counts agree."""
    t = text.strip()
    for pat, label in _BLOCK_PATTERNS:
        if pat.search(t):
            return label
    n_tokens = len([w for w in t.split() if len(w) > 1])
    if n_tokens > 3:
        return "Tx" if n_tokens < 12 else "Lx"
    return "Ot"


def is_caption(box: Box) -> bool:
    return bool(_CAPTION_RE.match(box["text"].strip())) or (
        box.get("layout_type", "").find("caption") >= 0
    )


# --------------------------------------------------------------------------
# clustering
# --------------------------------------------------------------------------


def _cluster_rows(boxes: list[Box]) -> tuple[list[Box], list[list[Box]]]:
    rowh = [b["R_bott"] - b["R_top"] for b in boxes if "R" in b and "R_bott" in b]
    thr = (min(rowh) / 2) if rowh else 0
    boxes = sort_rows_first(boxes, thr)
    boxes[0]["rn"] = 0
    rows = [[boxes[0]]]
    btm = boxes[0]["bottom"]
    for b in boxes[1:]:
        b["rn"] = len(rows) - 1
        last = rows[-1]
        if last[-1].get("R", "") != b.get("R", "") or (
            b["top"] >= btm - 3 and last[-1].get("R", "-1") != b.get("R", "-2")
        ):
            btm = b["bottom"]
            b["rn"] += 1
            rows.append([b])
            continue
        btm = (btm + b["bottom"]) / 2.0
        rows[-1].append(b)
    return boxes, rows


def _cluster_cols(boxes: list[Box]) -> tuple[list[Box], list[list[Box]]]:
    colw = [b["C_right"] - b["C_left"] for b in boxes if "C" in b and "C_right" in b]
    thr = (min(colw) / 2) if colw else 0
    crosspage = len({b["page_number"] for b in boxes}) > 1
    boxes = sort_x_first(boxes, thr) if crosspage else sort_cols_first(boxes, thr)
    boxes[0]["cn"] = 0
    cols = [[boxes[0]]]
    right = boxes[0]["x1"]
    for b in boxes[1:]:
        b["cn"] = len(cols) - 1
        last = cols[-1]
        # untagged boxes default to tag "1" (reference :189)
        tag_step = (
            int(b.get("C", "1")) - int(last[-1].get("C", "1")) == 1
            and b["page_number"] == last[-1]["page_number"]
        )
        if tag_step or (
            b["x0"] >= right and last[-1].get("C", "-1") != b.get("C", "-2")
        ):
            right = b["x1"]
            b["cn"] += 1
            cols.append([b])
            continue
        right = (right + b["x1"]) / 2.0
        cols[-1].append(b)
    return boxes, cols


# --------------------------------------------------------------------------
# singleton relocation
# --------------------------------------------------------------------------


def _relocate_single_columns(tbl, cols) -> None:
    j = 0
    while j < len(tbl[0]):
        e, ii = 0, 0
        for i in range(len(tbl)):
            if tbl[i][j]:
                e += 1
                ii = i
            if e > 1:
                break
        if e > 1:
            j += 1
            continue
        f = (j > 0 and tbl[ii][j - 1] and tbl[ii][j - 1][0].get("text")) or j == 0
        ff = (
            j + 1 < len(tbl[ii]) and tbl[ii][j + 1] and tbl[ii][j + 1][0].get("text")
        ) or j + 1 >= len(tbl[ii])
        if f and ff:
            j += 1
            continue
        bx = tbl[ii][j][0]
        left, right = 100000, 100000
        if j > 0 and not f:
            for i in range(len(tbl)):
                if tbl[i][j - 1]:
                    left = min(left, min(bx["x0"] - a["x1"] for a in tbl[i][j - 1]))
        if j + 1 < len(tbl[0]) and not ff:
            for i in range(len(tbl)):
                if tbl[i][j + 1]:
                    right = min(right, min(a["x0"] - bx["x1"] for a in tbl[i][j + 1]))
        assert left < 100000 or right < 100000
        if left < right:
            for jj in range(j, len(tbl[0])):
                for i in range(len(tbl)):
                    for a in tbl[i][jj]:
                        a["cn"] -= 1
            if tbl[ii][j - 1]:
                tbl[ii][j - 1].extend(tbl[ii][j])
            else:
                tbl[ii][j - 1] = tbl[ii][j]
            for i in range(len(tbl)):
                tbl[i].pop(j)
        else:
            for jj in range(j + 1, len(tbl[0])):
                for i in range(len(tbl)):
                    for a in tbl[i][jj]:
                        a["cn"] -= 1
            if tbl[ii][j + 1]:
                tbl[ii][j + 1].extend(tbl[ii][j])
            else:
                tbl[ii][j + 1] = tbl[ii][j]
            for i in range(len(tbl)):
                tbl[i].pop(j)
        cols.pop(j)


def _relocate_single_rows(tbl, rows) -> None:
    i = 0
    while i < len(tbl):
        e, jj = 0, 0
        for j in range(len(tbl[i])):
            if tbl[i][j]:
                e += 1
                jj = j
            if e > 1:
                break
        if e > 1:
            i += 1
            continue
        f = (i > 0 and tbl[i - 1][jj] and tbl[i - 1][jj][0].get("text")) or i == 0
        ff = (
            i + 1 < len(tbl) and tbl[i + 1][jj] and tbl[i + 1][jj][0].get("text")
        ) or i + 1 >= len(tbl)
        if f and ff:
            i += 1
            continue
        bx = tbl[i][jj][0]
        up, down = 100000, 100000
        if i > 0 and not f:
            for j in range(len(tbl[i - 1])):
                if tbl[i - 1][j]:
                    up = min(up, min(bx["top"] - a["bottom"] for a in tbl[i - 1][j]))
        if i + 1 < len(tbl) and not ff:
            for j in range(len(tbl[i + 1])):
                if tbl[i + 1][j]:
                    down = min(down, min(a["top"] - bx["bottom"] for a in tbl[i + 1][j]))
        assert up < 100000 or down < 100000
        if up < down:
            for ii in range(i, len(tbl)):
                for j in range(len(tbl[ii])):
                    for a in tbl[ii][j]:
                        a["rn"] -= 1
            if tbl[i - 1][jj]:
                tbl[i - 1][jj].extend(tbl[i][jj])
            else:
                tbl[i - 1][jj] = tbl[i][jj]
            tbl.pop(i)
        else:
            for ii in range(i + 1, len(tbl)):
                for j in range(len(tbl[ii])):
                    for a in tbl[ii][j]:
                        a["rn"] -= 1
            if tbl[i + 1][jj]:
                tbl[i + 1][jj].extend(tbl[i][jj])
            else:
                tbl[i + 1][jj] = tbl[i][jj]
            tbl.pop(i)
        rows.pop(i)


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


def _mean(vals):
    vals = list(vals)
    return sum(vals) / len(vals)


def _cal_spans(boxes, rows, cols, tbl):
    clft = [_mean(c.get("C_left", c["x0"]) for c in cln) for cln in cols]
    crgt = [_mean(c.get("C_right", c["x1"]) for c in cln) for cln in cols]
    rtop = [_mean(c.get("R_top", c["top"]) for c in row) for row in rows]
    rbtm = [_mean(c.get("R_btm", c["bottom"]) for c in row) for row in rows]
    for b in boxes:
        if "SP" not in b:
            continue
        b["colspan"] = [b["cn"]]
        b["rowspan"] = [b["rn"]]
        for j in range(len(clft)):
            if j == b["cn"]:
                continue
            if clft[j] + (crgt[j] - clft[j]) / 2 < b["H_left"]:
                continue
            if crgt[j] - (crgt[j] - clft[j]) / 2 > b["H_right"]:
                continue
            b["colspan"].append(j)
        for j in range(len(rtop)):
            if j == b["rn"]:
                continue
            if rtop[j] + (rbtm[j] - rtop[j]) / 2 < b["H_top"]:
                continue
            if rbtm[j] - (rbtm[j] - rtop[j]) / 2 > b["H_bott"]:
                continue
            b["rowspan"].append(j)

    def join(arr):
        return "".join(t["text"] for t in arr) if arr else ""

    for i in range(len(tbl)):
        for j, arr in enumerate(tbl[i]):
            if not arr:
                continue
            if all("rowspan" not in a and "colspan" not in a for a in arr):
                continue
            rowspan, colspan = [], []
            for a in arr:
                if isinstance(a.get("rowspan", 0), list):
                    rowspan.extend(a["rowspan"])
                if isinstance(a.get("colspan", 0), list):
                    colspan.extend(a["colspan"])
            rowspan, colspan = set(rowspan), set(colspan)
            if len(rowspan) < 2 and len(colspan) < 2:
                for a in arr:
                    a.pop("rowspan", None)
                    a.pop("colspan", None)
                continue
            rowspan, colspan = sorted(rowspan), sorted(colspan)
            rowspan = list(range(rowspan[0], rowspan[-1] + 1))
            colspan = list(range(colspan[0], colspan[-1] + 1))
            arr = []
            for r in rowspan:
                for c in colspan:
                    arr_txt = join(arr)
                    if tbl[r][c] and join(tbl[r][c]) != arr_txt:
                        arr.extend(tbl[r][c])
                    tbl[r][c] = arr
            for a in arr:
                if len(rowspan) > 1:
                    a["rowspan"] = len(rowspan)
                else:
                    a.pop("rowspan", None)
                if len(colspan) > 1:
                    a["colspan"] = len(colspan)
                else:
                    a.pop("colspan", None)
            tbl[rowspan[0]][colspan[0]] = arr
    return tbl


# --------------------------------------------------------------------------
# emitters
# --------------------------------------------------------------------------


def _desc_table(cap, hdr_rowno, tbl, is_english):
    clmno = len(tbl[0])
    rowno = len(tbl)
    headers: dict[int, list[str]] = {}
    hdrset = set()
    lst_hdr: list[str] = []
    de = "的" if not is_english else " for "
    for r in sorted(hdr_rowno):
        headers[r] = ["" for _ in range(clmno)]
        for i in range(clmno):
            if not tbl[r][i]:
                continue
            txt = " ".join(a["text"].strip() for a in tbl[r][i])
            headers[r][i] = txt
            hdrset.add(txt)
        if all(not t for t in headers[r]):
            del headers[r]
            hdr_rowno.remove(r)
            continue
        for j in range(clmno):
            if headers[r][j]:
                continue
            if j >= len(lst_hdr):
                break
            headers[r][j] = lst_hdr[j]
        lst_hdr = headers[r]
    for i in range(rowno):
        if i not in hdr_rowno:
            continue
        for j in range(i + 1, rowno):
            if j not in hdr_rowno:
                break
            for k in range(clmno):
                if not headers[j - 1][k]:
                    continue
                if headers[j][k].find(headers[j - 1][k]) >= 0:
                    continue
                if len(headers[j][k]) > len(headers[j - 1][k]):
                    headers[j][k] += (de if headers[j][k] else "") + headers[j - 1][k]
                else:
                    headers[j][k] = (
                        headers[j - 1][k] + (de if headers[j - 1][k] else "") + headers[j][k]
                    )

    row_txt = []
    for i in range(rowno):
        if i in hdr_rowno:
            continue
        rtxt: list[str] = []

        def fold(delimer):
            nonlocal rtxt, row_txt
            joined = delimer.join(rtxt)
            if row_txt and len(row_txt[-1]) + len(joined) < 64:
                row_txt[-1] += "\n" + joined
            else:
                row_txt.append(joined)

        r = 0
        if len(headers.items()):
            arr = [(i - r, r) for r, _ in headers.items() if r < i]
            if arr:
                _, r = min(arr, key=lambda x: x[0])

        if r not in headers and clmno <= 2:
            for j in range(clmno):
                if not tbl[i][j]:
                    continue
                txt = "".join(a["text"].strip() for a in tbl[i][j])
                if txt:
                    rtxt.append(txt)
            if rtxt:
                fold("：")
            continue

        for j in range(clmno):
            if not tbl[i][j]:
                continue
            txt = "".join(a["text"].strip() for a in tbl[i][j])
            if not txt:
                continue
            ctt = headers[r][j] if r in headers else ""
            if ctt:
                ctt += "："
            ctt += txt
            if ctt:
                rtxt.append(ctt)
        if rtxt:
            row_txt.append("; ".join(rtxt))

    if cap:
        from_ = " in " if is_english else "来自"
        row_txt = [t + f"\t——{from_}“{cap}”" for t in row_txt]
    return row_txt


# --------------------------------------------------------------------------
# main entry
# --------------------------------------------------------------------------


def construct_table(boxes: list[Box], is_english: bool):
    """boxes -> list of description rows (the reference's
    ``html=False`` output).

    Return shape mirrors the reference construct_table (:135-351):
    ``[]`` for no cells, the emitter output otherwise.
    """
    boxes = [dict(b) for b in boxes]
    cap = ""
    i = 0
    while i < len(boxes):
        if is_caption(boxes[i]):
            # parity: no separator — the reference's `cap + " "` is a no-op
            cap += boxes[i]["text"]
            boxes.pop(i)
            i -= 1
        i += 1
    if not boxes:
        return []

    for b in boxes:
        b["btype"] = block_type(b["text"])
    type_counts = Counter(b["btype"] for b in boxes).items()
    max_type = max(type_counts, key=lambda x: x[1])[0] if type_counts else ""

    boxes, rows = _cluster_rows(boxes)
    boxes, cols = _cluster_cols(boxes)

    tbl = [[[] for _ in range(len(cols))] for _ in range(len(rows))]
    for b in boxes:
        tbl[b["rn"]][b["cn"]].append(b)

    if len(rows) >= 4:
        _relocate_single_columns(tbl, cols)
    assert len(cols) == len(tbl[0])
    if len(cols) >= 4:
        _relocate_single_rows(tbl, rows)

    hdset = set()
    for i in range(len(tbl)):
        cnt, h = 0, 0
        for j, arr in enumerate(tbl[i]):
            if not arr:
                continue
            cnt += 1
            if max_type == "Nu" and arr[0]["btype"] == "Nu":
                continue
            if any(a.get("H") for a in arr) or (
                max_type == "Nu" and arr[0]["btype"] != "Nu"
            ):
                h += 1
        if h / cnt > 0.5:
            hdset.add(i)

    return _desc_table(cap, hdset, _cal_spans(boxes, rows, cols, tbl), is_english)
