"""Synthetic-box tests for the model-free PDF geometry + TSR stack."""

from __future__ import annotations

from ragflow_spark.pdf.geometry import (
    concat_downward,
    line_tag,
    merge_horizontal,
    sort_x_first,
    sort_y_first,
)
from ragflow_spark.pdf.tsr import block_type, construct_table
from tests.conftest import strip_position_tags


def box(x0, top, x1, bottom, text="", page=1, **kw):
    return {"x0": x0, "top": top, "x1": x1, "bottom": bottom, "text": text,
            "page_number": page, **kw}


# -- sorts -----------------------------------------------------------------


def test_sort_y_first_threshold_ties_break_left_to_right():
    a = box(50, 10.2, 60, 20, "right")
    b = box(10, 10.0, 20, 20, "left")
    c = box(10, 40, 20, 50, "below")
    assert [x["text"] for x in sort_y_first([a, c, b], 3)] == ["left", "right", "below"]
    # below threshold: strict top order wins
    assert [x["text"] for x in sort_y_first([a, b], 0.1)] == ["left", "right"]


def test_sort_x_first():
    a, b = box(30, 0, 40, 10, "b"), box(10, 5, 20, 15, "a")
    assert [x["text"] for x in sort_x_first([a, b], 1)] == ["a", "b"]


# -- merges ----------------------------------------------------------------


def test_merge_horizontal_same_layout():
    a = box(0, 10, 50, 20, "hello ", layoutno="t0")
    b = box(50, 11, 90, 21, "world", layoutno="t0")
    out = merge_horizontal([a, b], [6.0])
    assert len(out) == 1 and out[0]["text"] == "hello world"
    # different layout untouched
    c = box(50, 11, 90, 21, "world", layoutno="t1")
    assert len(merge_horizontal([dict(a), c], [6.0])) == 2


def test_concat_downward_is_y_sort_parity():
    # parity: dead xgboost path (pdf_parser.py:482-483) is NOT resurrected
    a, b = box(0, 50, 10, 60, "second"), box(0, 0, 10, 10, "first")
    assert [x["text"] for x in concat_downward([a, b])] == ["first", "second"]


# -- position tags ---------------------------------------------------------


def test_line_tag_roundtrip():
    b = box(10, 30, 100, 50, page=1)
    tag = line_tag(b, page_cum_height=[0.0, 800.0], page_heights=[800.0, 800.0])
    assert tag.startswith("@@1\t10.0\t100.0\t30.0\t50.0##")
    assert strip_position_tags("abc" + tag + "def") == "abcdef"


def test_line_tag_cross_page():
    b = box(10, 790, 100, 820, page=1)
    tag = line_tag(b, page_cum_height=[0.0, 800.0], page_heights=[800.0, 800.0])
    assert tag.startswith("@@1-2\t")


# -- table structure recovery ----------------------------------------------


def test_block_type():
    assert block_type("1,234.5") == "Nu"
    assert block_type("2023年4月5日") == "Dt"
    assert block_type("ABC/123") == "Ca"
    assert block_type("hello world") == "En"
    # NB: a single latin letter is 'En' (the En pattern wins before Sg,
    # matching the reference's pattern order); Sg catches symbols
    assert block_type("x") == "En"
    assert block_type("@") == "Sg"


def _tagged_table(header_flag=True):
    # 3x3 with header row; R/C tags (+H on the header) as the detector emits
    texts = [
        ["name", "count", "price"],
        ["apple", "10", "1.5"],
        ["pear", "20", "2.5"],
    ]
    boxes = []
    for r, row in enumerate(texts):
        for c, t in enumerate(row):
            boxes.append(
                box(
                    c * 100, r * 20, c * 100 + 90, r * 20 + 15, t,
                    R=r, C=c, R_top=r * 20, R_bott=r * 20 + 15,
                    C_left=c * 100, C_right=c * 100 + 90,
                    **({"H": True} if header_flag and r == 0 else {}),
                )
            )
    return boxes


def test_construct_table_desc_rows():
    rows = construct_table(_tagged_table(), is_english=True)
    # reference format: "header：value; ..." one row per body row (the
    # \n-folding path only applies to <=2-column tables)
    assert rows == [
        "name：apple; count：10; price：1.5",
        "name：pear; count：20; price：2.5",
    ]


def test_construct_table_caption_pull():
    bxs = _tagged_table() + [box(0, -20, 290, -5, "表 1: demo")]
    rows = construct_table(bxs, is_english=True)
    assert len(rows) == 2
    assert all(r.endswith("\t—— in “表 1: demo”") for r in rows)


def test_construct_table_untagged_geometry_only():
    # no R/C tags: clustering falls back to pure geometry; no H flags and
    # non-Nu majority -> no header row detected, cols<=2 join with "："
    texts = [["h1", "h2"], ["a", "1.0"], ["b", "2.0"]]
    boxes = []
    for r, row in enumerate(texts):
        for c, t in enumerate(row):
            boxes.append(box(c * 100, r * 20, c * 100 + 90, r * 20 + 15, t))
    rows = construct_table(boxes, is_english=True)
    assert rows and all("：" in r for r in rows)
