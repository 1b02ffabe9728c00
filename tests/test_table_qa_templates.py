"""Table + QA template tests (pure-python layers)."""

from __future__ import annotations

from ragflow_spark.chunk.qa import qa_chunk, qa_from_delimited, rm_prefix
from ragflow_spark.chunk.table_template import (
    field_name,
    infer_column_type,
    table_chunks,
    table_rows,
    trans_bool,
    trans_datetime,
)

# -- table ------------------------------------------------------------------


def test_infer_column_type_majority_int():
    vals, ty = infer_column_type(["1", "2", "30", "x"])
    assert ty == "int"
    assert vals == [1, 2, 30, None]


def test_infer_column_type_leading_zero_is_text():
    # reference quirk: leading '0' disqualifies numerics (ids/zip codes)
    _, ty = infer_column_type(["0123", "0456", "0789"])
    assert ty == "text"


def test_infer_column_type_float_bool_datetime():
    assert infer_column_type(["1.5", "2.25", "3.0"])[1] == "float"
    assert infer_column_type(["yes", "no", "YES"])[1] == "bool"
    assert infer_column_type(["2023-04-05", "2021/1/2".replace("/", "-")])[1] == "datetime"


def test_trans_helpers():
    assert trans_bool("✓") == "yes"
    assert trans_bool("×") == "no"
    assert trans_bool("maybe") is None
    assert trans_datetime("2023-04-05") == "2023-04-05 00:00:00"
    assert trans_datetime("not a date") is None


def test_table_rows_and_field_map():
    texts, fmap, dicts = table_rows(["name", "count"], [["apple", "1"], ["pear", "2"]])
    assert texts == ["name:apple; count:1", "name:pear; count:2"]
    assert fmap == {"name_tks": "name", "count_long": "count"}
    assert dicts[0]["count_long"] == 1


def test_table_chunks_batching():
    rows = [[f"r{i}", str(i)] for i in range(25)]
    chunks = table_chunks(["name", "n"], rows)
    assert len(chunks) == 3
    assert chunks[0].count("name:") == 10


def test_field_name_slug():
    assert field_name("gender/sex(male, female)", "text") == "gender_tks"
    assert field_name("supplier vendor", "int") == "supplier_vendor_long"


def test_infer_column_type_percent_cells_survive():
    # '15%%' passes the int test via the '%%'-stripped copy; the range
    # check must run on that copy too (int('15%%') raised and aborted
    # the whole table — the reference crashes here, rag/app/table.py's
    # int(str(a)); a poisoned cell must not kill the job)
    vals, ty = infer_column_type(["15%%", "30%%", "45%%"])
    assert ty == "int"
    # the converter still sees the raw cell -> unconvertible -> null
    assert vals == [None, None, None]


def test_infer_column_type_percent_bigint_forces_float():
    _, ty = infer_column_type([f"{2**64}%%", "1"])
    assert ty == "float"


def test_table_rows_duplicate_field_slugs():
    # 'Total' and 'total ' slug to the SAME typed field name; the old
    # positional list(field_map.keys())[j] indexing IndexError'd (dict
    # collapsed two headers into one key). Field names stay a parallel
    # list like the reference's clmns (rag/app/table.py:289-293).
    texts, fmap, dicts = table_rows(["Total", "total "], [["1", "2"]])
    assert texts == ["Total:1; total :2"]
    assert list(fmap) == ["total_long"]
    # within a row the duplicate key keeps the LAST column's value,
    # matching the reference's dict-assignment order
    assert dicts == [{"total_long": 2}]


# -- qa ---------------------------------------------------------------------


def test_rm_prefix_and_chunk_format():
    assert rm_prefix("Question: What?") == "What?"
    assert rm_prefix("答：因为") == "因为"
    assert qa_chunk("Q: a?", "A: b") == "Question: a?\tAnswer: b"


def test_qa_from_delimited_state_machine():
    txt = "q1\ta1\ncontinuation of a1\nq2\ta2"
    out = qa_from_delimited(txt)
    assert out == [
        "Question: q1\tAnswer: a1\ncontinuation of a1",
        "Question: q2\tAnswer: a2",
    ]

