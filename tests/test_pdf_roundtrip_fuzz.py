"""Round-trip fuzz for the positioned PDF path: randomized word sets
through the generator -> content-stream interpreter -> char/box
assembly must reproduce every logical line and every table cell, in
order, for every trial.  Complements the fixed-shape tests in
tests/test_pdf_chars.py with breadth (word lengths, digits,
punctuation-bearing tokens, CJK)."""

from __future__ import annotations

import random
import re

import pytest

from ragflow_spark.data.pdfgen import EM, make_doc_pdf
from ragflow_spark.parsers.pdf_chars import pdf_pages_chars
from ragflow_spark.pdf.assemble import (
    order_lines,
    chars_to_lines,
    insert_word_gaps,
    line_runs,
    pdf_tagged_boxes,
)

VOCAB = (
    "spark engine shuffle partition executor catalyst arrow lineage "
    "broadcast skew salting watermark rollup manifest codec outline "
    "a an of the to in x7 42 v2.1 alpha-beta under_score q99 "
    "数据 处理 引擎 分区"
).split()


def _trial_words(rng: random.Random) -> list[str]:
    n = rng.randint(4, 24)
    return [VOCAB[rng.randrange(len(VOCAB))] for _ in range(n)]


# Drawn space glyphs are kept as chars (pdfplumber convention), so
# text round-trips exactly; the word-gap rule only ADDS spaces for
# kerned layouts that draw none (covered in test_pdf_chars).


@pytest.mark.parametrize("seed", range(30))
def test_line_and_cell_roundtrip(seed):
    rng = random.Random(seed)
    words = _trial_words(rng)
    pdf, expected_pages = make_doc_pdf(
        words, doc_id=seed, return_expected=True
    )
    pages = pdf_pages_chars(pdf)
    assert len(pages) == len(expected_pages) == 2
    for page, expected in zip(pages, expected_pages):
        lines = chars_to_lines(insert_word_gaps(page["chars"]))
        got: list[tuple] = []
        for ln in lines:
            runs = line_runs(ln, EM)
            if len(runs) > 1:
                got.append(
                    ("row", ["".join(c["text"] for c in r).strip() for r in runs])
                )
            else:
                got.append(("line", "".join(c["text"] for c in ln).strip()))
        # drawn space glyphs are kept (pdfplumber convention), so the
        # round-trip is byte-exact — no recoverability normalization
        assert got == list(expected), f"seed={seed} words={words}"


@pytest.mark.parametrize("seed", range(0, 30, 3))
def test_scrambled_stream_recovers_reading_order(seed):
    """Real producers draw text in arbitrary order; the assembly's
    reading-order reconstruction (sort + same-baseline merge) must
    produce the identical logical content for a shuffled content
    stream as for the in-order one."""
    rng = random.Random(seed)
    words = _trial_words(rng)
    pdf, expected_pages = make_doc_pdf(
        words, doc_id=seed, return_expected=True, scramble_seed=seed * 7 + 1
    )
    pages = pdf_pages_chars(pdf)
    for page, expected in zip(pages, expected_pages):
        lines = order_lines(chars_to_lines(page["chars"]))
        for ln in lines:
            insert_word_gaps(ln)
        got: list[tuple] = []
        for ln in lines:
            runs = line_runs(ln, EM)
            if len(runs) > 1:
                got.append(
                    ("row", ["".join(c["text"] for c in r).strip() for r in runs])
                )
            else:
                got.append(("line", "".join(c["text"] for c in ln).strip()))
        assert got == list(expected), f"seed={seed} words={words}"


@pytest.mark.parametrize("seed", range(0, 30, 6))
def test_scrambled_stream_table_still_recovered(seed):
    """Draw order must not change ANY downstream output: the scrambled
    stream's recovered table (rows, captions, header detection — all
    content-dependent reference behaviors) must equal the in-order
    stream's exactly."""
    from ragflow_spark.pdf.tablefig import extract_table_figure

    rng = random.Random(seed)
    words = _trial_words(rng)

    def run(**kw):
        pdf = make_doc_pdf(words, doc_id=seed, **kw)
        boxes, mh, _cum, is_en = pdf_tagged_boxes(pdf)
        return extract_table_figure(
            boxes, mh, is_english=is_en, page_cum_height=None
        )

    rem_a, tables_a = run()
    rem_b, tables_b = run(scramble_seed=seed + 3)
    assert len(tables_a) == len(tables_b) == 1
    assert tables_a[0]["content"] == tables_b[0]["content"]
    assert tables_a[0]["positions"] == tables_b[0]["positions"]
    assert [b["text"] for b in rem_a] == [b["text"] for b in rem_b]
    assert len(tables_a[0]["content"]) in (3, 4)  # with/without header row


@pytest.mark.parametrize("seed", range(0, 30, 3))
def test_table_tagging_stable_under_fuzz(seed):
    """The grid heuristic must tag exactly the 4x3 table on page 2 —
    never prose — for every word set."""
    rng = random.Random(seed)
    pdf = make_doc_pdf(_trial_words(rng), doc_id=seed)
    boxes, _mh, _cum, _en = pdf_tagged_boxes(pdf)
    table = [b for b in boxes if b.get("layout_type") == "table"]
    assert len(table) == 12
    assert all(b["page_number"] == 2 for b in table)
    assert len({b["layoutno"] for b in table}) == 1


TWO_COL_WORDS = (
    "catalyst shuffle partition executor broadcast lineage watermark "
    "rollup manifest salting codec outline stage metric tuple vector"
).split()


@pytest.mark.parametrize("scramble", [None, 11, 23])
def test_two_column_reading_order(scramble):
    """Full-width title over a two-column body with coinciding
    baselines, drawn interleaved (or fully scrambled): the XY-cut +
    grid classifier must emit title, the whole left column, then the
    whole right column — never row-interleaved, never as a table."""
    from ragflow_spark.data.pdfgen import make_two_column_pdf

    pdf, expected = make_two_column_pdf(
        TWO_COL_WORDS, scramble_seed=scramble, return_expected=True
    )
    boxes, _mh, _cum, _en = pdf_tagged_boxes(pdf)
    assert not [b for b in boxes if b.get("layout_type") == "table"]
    assert [b["text"] for b in boxes] == [t for _k, t in expected]


@pytest.mark.parametrize("mode", range(5))
def test_hostile_bytes_never_raise(mode):
    """Corrupt, truncated, and pathological inputs must degrade to
    empty/partial char lists, never exceptions (upstream falls back to
    the row's text column)."""
    rng = random.Random(100 + mode)
    base = make_doc_pdf("alpha beta gamma delta".split(), doc_id=1)
    for _ in range(12):
        if mode == 0:
            b = b"%PDF-" + bytes(rng.randrange(256) for _ in range(rng.randrange(2000)))
        elif mode == 1:
            b = base[: rng.randrange(len(base))]
        elif mode == 2:
            ba = bytearray(base)
            for _ in range(rng.randrange(1, 40)):
                ba[rng.randrange(len(ba))] = rng.randrange(256)
            b = bytes(ba)
        elif mode == 3:
            b = bytes(rng.randrange(256) for _ in range(500))
        else:
            s = (b"BT " + b"[ " * 50 + b"(x) Tj " + b"] " * 3
                 + b"((nested (deep)) Tj <zzz> Tj 1 0 Td ET")
            b = (b"%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
                 b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
                 b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
                 b"4 0 obj << /Length " + str(len(s)).encode()
                 + b" >> stream\n" + s + b"\nendstream endobj\ntrailer\n")
        pages = pdf_pages_chars(b)  # must not raise
        assert isinstance(pages, list)
