"""Chunker semantics tests, matched to the reference behaviors
(naive_merge rag/nlp/__init__.py:521-563, get_delimiters :705-721,
bullets/hierarchical :168-225/:431-518, txt parser, json splitter)."""

import json

from ragflow_spark.chunk.delimiters import delimiter_pattern
from ragflow_spark.chunk.hierarchy import (
    bullet_group_of,
    heading_pivot_levels,
    outline_merge,
)
from ragflow_spark.chunk.merge import greedy_merge, nonempty_chunks
from ragflow_spark.chunk.templates import (
    book_chunks,
    laws_chunks,
    naive_chunks,
    one_chunk,
    paper_chunks,
)
from ragflow_spark.chunk.toc import drop_toc_sections
from ragflow_spark.parsers.jsonp import split_json_text
from ragflow_spark.parsers.markdown import markdown_sections, split_markdown_tables
from ragflow_spark.parsers.txt import split_txt
from ragflow_spark.text.tokens import count_tokens


class TestDelimiters:
    def test_single_chars(self):
        pat = delimiter_pattern("\n。")
        assert pat == "\\\n|。" or pat == "。|\\\n"

    def test_backtick_multichar_wins(self):
        pat = delimiter_pattern("`##`\n")
        assert pat.startswith("\\#\\#")

    def test_longest_first(self):
        pat = delimiter_pattern("`abc`a")
        assert pat.index("abc") < pat.index("|a")


class TestGreedyMerge:
    def test_empty(self):
        assert greedy_merge([]) == []

    def test_leading_empty_chunk_quirk(self):
        # reference quirk: accumulator starts [""] and the first push
        # always opens chunk #1
        cks = greedy_merge([("hello world", "")], budget=128)
        assert cks[0] == ""
        assert nonempty_chunks(cks) == ["hello world"]

    def test_packs_until_budget(self):
        secs = [(f"sentence {i} about data.", "") for i in range(20)]
        cks = nonempty_chunks(greedy_merge(secs, budget=16))
        assert len(cks) > 1
        # every chunk except possibly the last holds >= budget-ish tokens
        assert all(count_tokens(c) >= 8 for c in cks[:-1])

    def test_big_section_split_on_delimiters(self):
        sec = "。".join(f"第{i}句中文内容测试" for i in range(60))
        cks = nonempty_chunks(greedy_merge([(sec, "")], budget=32, delimiters="。"))
        assert len(cks) > 2
        assert all("。" not in c for c in cks)  # separators dropped

    def test_overlap(self):
        secs = [(f"w{i} " * 30, "") for i in range(6)]
        plain = nonempty_chunks(greedy_merge(secs, budget=32))
        ovl = nonempty_chunks(greedy_merge(secs, budget=32, overlap_pct=20))
        assert len(ovl) >= len(plain)
        # overlapped chunks carry the tail of their predecessor
        assert any(ovl[i - 1][-8:].strip()[:4] in ovl[i] for i in range(1, len(ovl)))

    def test_deterministic(self):
        secs = [(f"row {i} of prose, with commas." , "") for i in range(50)]
        assert greedy_merge(secs, 24) == greedy_merge(secs, 24)


def _greedy_merge_twice_counted(sections, budget, delimiters, overlap_pct):
    """greedy_merge as it was when it counted every section twice (once
    to choose the split, once in push): the output oracle."""
    import re

    from ragflow_spark.chunk.merge import strip_position_tags

    if not sections:
        return []
    chunks, counts = [""], [0]
    open_threshold = budget * (100 - overlap_pct) / 100.0
    keep_fraction = (100 - overlap_pct) / 100.0

    def push(fragment, tag):
        n = count_tokens(fragment)
        tag = tag or ""
        if n < 8:
            tag = ""
        if chunks[-1] == "" or counts[-1] > open_threshold:
            carried = strip_position_tags(chunks[-1])
            fragment = carried[int(len(carried) * keep_fraction):] + fragment
            if fragment.find(tag) < 0:
                fragment += tag
            chunks.append(fragment)
            counts.append(n)
        else:
            if chunks[-1].find(tag) < 0:
                fragment += tag
            chunks[-1] += fragment
            counts[-1] += n

    pattern = delimiter_pattern(delimiters)
    only_delim = re.compile(f"^{pattern}$") if pattern else None
    for text, tag in sections:
        if count_tokens(text) < budget or not pattern:
            push(text, tag)
            continue
        for piece in re.split(f"({pattern})", text, flags=re.DOTALL):
            if only_delim is not None and only_delim.match(piece):
                continue
            push(piece, tag)
    return chunks


def _fuzz_sections(rng, n):
    words = ["data", "Spark", "x", "42", "中文内容", "テスト", "!", "?", "。", "；", "\n", " ", ", "]
    tags = ["", "", "@@1\t10.0\t90.0\t5.0\t20.0##", "@@2\t0\t1\t2\t3##"]
    out = []
    for _ in range(n):
        k = rng.choice([0, 1, 3, 12, 60, 300])
        text = "".join(rng.choice(words) + rng.choice(["", " "]) for _ in range(k))
        out.append((text, rng.choice(tags)))
    return out


class TestGreedyMergeCountsOnce:
    """greedy_merge counts each section's tokens once (and each piece
    of a section it splits), with output equal to the twice-counting
    form over a seeded fuzz corpus."""

    CASES = [(8, "\n!?。；！？", 0), (16, "。", 20), (32, "", 0), (128, "\n!?。；！？", 50)]

    def test_output_equals_the_twice_counting_form(self):
        import random

        rng = random.Random(1)
        for trial in range(300):
            secs = _fuzz_sections(rng, rng.randrange(0, 30))
            for budget, delims, overlap in self.CASES:
                got = greedy_merge(secs, budget, delims, overlap)
                want = _greedy_merge_twice_counted(secs, budget, delims, overlap)
                assert got == want, (trial, budget, delims, overlap)

    def test_one_count_per_section_or_piece(self, monkeypatch):
        import random
        import re

        from ragflow_spark.chunk import merge

        rng = random.Random(2)
        for trial in range(100):
            secs = _fuzz_sections(rng, rng.randrange(1, 30))
            for budget, delims, overlap in self.CASES:
                pattern = delimiter_pattern(delims)
                want = 0
                for text, _ in secs:
                    want += 1
                    if pattern and count_tokens(text) >= budget:
                        pieces = re.split(f"({pattern})", text, flags=re.DOTALL)
                        want += sum(not re.match(f"^{pattern}$", p) for p in pieces)
                calls = []
                monkeypatch.setattr(merge, "count_tokens", lambda t: calls.append(t) or count_tokens(t))
                greedy_merge(secs, budget, delims, overlap)
                monkeypatch.undo()
                assert len(calls) == want, (trial, budget, delims)


class TestHierarchy:
    EN = [
        "Chapter I",
        "Section 1",
        "This chapter lays out the groundwork for everything that follows.",
        "Section 2",
        "More prose lives here and continues for a while longer.",
        "Chapter II",
        "Section 1",
        "The second chapter gets its own body of text right away.",
    ]

    def test_group_detection_en(self):
        assert bullet_group_of(self.EN) == 3

    def test_group_detection_zh(self):
        secs = ["第一章 总则", "第一条 目的", "第二条 范围", "第二章 细则"]
        assert bullet_group_of(secs) == 0

    def test_no_group(self):
        assert bullet_group_of(["plain prose only", "more prose"]) == -1

    def test_outline_merge_chains(self):
        merged = outline_merge(3, self.EN, depth=5)
        flat = ["\n".join(ck) for ck in merged if ck]
        assert any("Chapter I" in c and "Section 1" in c for c in flat)

    def test_pivot_levels(self):
        secs = [(s, "") for s in self.EN]
        most, levels = heading_pivot_levels(3, secs)
        assert len(levels) == len(secs)
        assert most <= len(levels)


class TestTemplates:
    def test_naive(self):
        cks = naive_chunks(["short line one.", "short line two."], budget=128)
        assert cks == ["short line one.short line two."]

    def test_book_with_outline(self):
        cks = book_chunks(TestHierarchy.EN)
        assert cks and any("Chapter" in c for c in cks)

    def test_book_fallback_greedy(self):
        secs = [f"plain paragraph {i} with no bullets at all." for i in range(30)]
        cks = book_chunks(secs)
        assert len(cks) >= 1

    def test_laws(self):
        secs = ["第一章 总则", "第一条 为了规范测试行为特制定本法。",
                "第二条 本法适用于全部合成语料。", "第二章 附则",
                "第三条 本法自发布之日起施行。"]
        cks = laws_chunks(secs)
        assert cks and any("第一条" in c for c in cks)

    def test_paper_pivot(self):
        secs = ["1. Introduction", "Intro prose goes here.",
                "2. Methods", "Method prose goes here.",
                "3. Results", "Result prose goes here."]
        cks = paper_chunks([(s, "") for s in secs])
        assert len(cks) >= 2

    def test_one(self):
        assert one_chunk(["a", "", "b"]) == ["a\nb"]

    def test_toc_removed(self):
        # lowercase: the reference's TOC match is case-sensitive (its
        # IGNORECASE lands on the whitespace-sub, not the match) — parity
        # quirk pinned by tests/test_reference_parity.py
        secs = ["contents", "Chapter I ....... 1", "Chapter II ...... 9",
                "Chapter I", "Actual body text starts here."]
        pairs = list(secs)
        drop_toc_sections(pairs, eng=True)
        assert "contents" not in pairs

    def test_toc_trailing_blanks_no_crash(self):
        # TOC heading followed only by whitespace sections: the
        # blank-skip loop exhausts the list, and the unconditional pop
        # after it raised IndexError (the reference crashes the same
        # way; a crash here kills the whole laws/book chunk job)
        pairs = ["contents", "   ", " "]
        drop_toc_sections(pairs, eng=True)
        assert pairs == []

    def test_toc_prefix_is_literal_not_regex(self):
        # the prefix is raw document text: 'Section (a)' unescaped is
        # an unbalanced-paren re.error, and '1.5' unescaped silently
        # matched '125'-prefixed sections (deleting the wrong range)
        secs = ["contents", "Section (a) overview .... 2",
                "Section (a) body text", "more body"]
        drop_toc_sections(secs, eng=True)
        assert secs == ["Section (a) body text", "more body"]

        zh = ["目录", "1.5 概述……2", "125 条目页", "1.5 正文从这里开始"]
        drop_toc_sections(zh)
        # '125 条目页' sits between the TOC and the first true '1.5'
        # match, so it is (correctly) dropped as a TOC line; unescaped
        # '1.5' matched it FIRST and kept it while treating it as body
        assert zh == ["1.5 正文从这里开始"]


class TestFormatParsers:
    def test_txt_split(self):
        txt = "line a\nline b\nline c"
        cks = split_txt(txt, budget=1000)
        assert cks[0][0] == "line aline bline c"  # separators dropped, packed

    def test_txt_budget(self):
        txt = "\n".join(f"row {i} with several words inside" for i in range(40))
        cks = split_txt(txt, budget=16)
        assert len(cks) > 2

    def test_json_object(self):
        data = {"a": {"b": "x" * 50}, "c": list(range(20))}
        out = split_json_text(json.dumps(data).encode())
        assert out and all(json.loads(o) for o in out)

    def test_jsonl(self):
        lines = "\n".join(json.dumps({"i": i, "t": "v" * 10}) for i in range(5))
        out = split_json_text(lines.encode())
        assert len(out) >= 1

    def test_md_bordered_table(self):
        md = "para\n\n| a | b |\n|---|---|\n| 1 | 2 |\n\ntail"
        remainder, tables = split_markdown_tables(md)
        assert len(tables) == 1 and "| a | b |" in tables[0]
        assert "tail" in remainder

    def test_md_sections_heading_glue(self):
        md = "# Title\nbody under title\n\n## Sub\nmore body"
        secs, _ = markdown_sections(md)
        assert any(s.startswith("# Title") for s, _ in secs)


def test_over_nested_json_rejected_linearly():
    """'[' * 20k RecursionErrors inside json.loads before any chunking
    code runs; split_json_text must reject it with a typed error from a
    linear pre-scan instead (the extraction UDF's containment turns
    that into the text fallback).  Brackets inside strings don't count."""
    import time

    import pytest

    from ragflow_spark.parsers.jsonp import split_json_text

    bombs = [
        b'{"a": ' + b"[" * 20_000 + b"]" * 20_000 + b"}",
        b'{"a":' * 20_000 + b"1" + b"}" * 20_000,
    ]
    for bomb in bombs:
        t0 = time.time()
        with pytest.raises(ValueError, match="over-nested"):
            split_json_text(bomb)
        assert time.time() - t0 < 2.0
    # bracket floods inside STRINGS are data, not nesting
    ok = b'{"s": "' + b"[" * 20_000 + b'", "b": 1}'
    chunks = split_json_text(ok)
    assert len(chunks) >= 1 and any('"b"' in c for c in chunks)


def test_jsonl_unterminated_string_cannot_hide_bracket_bomb():
    """An unterminated quote on one JSONL line must not put the depth
    pre-scan into string state for the rest of the document — a later
    20k-bracket line would then reach json.loads and RecursionError
    (raw newlines are illegal inside JSON strings, so resetting string
    state per line never misreads a conforming document)."""
    import time

    import pytest

    from ragflow_spark.parsers.jsonp import split_json_text

    good_lines = b"\n".join(b'{"k": %d}' % i for i in range(9))
    bomb = b'"abc\n' + good_lines + b"\n" + b"[" * 20_000 + b"]" * 20_000
    t0 = time.time()
    with pytest.raises(ValueError, match="over-nested"):
        split_json_text(bomb)
    assert time.time() - t0 < 2.0
    # the escaped-backslash-at-EOL variant must not evade the reset
    bomb2 = b'"abc\\\n' + good_lines + b"\n" + b"[" * 20_000 + b"]" * 20_000
    with pytest.raises(ValueError, match="over-nested"):
        split_json_text(bomb2)
    # multi-line pretty-printed JSON still parses (depth persists
    # across lines; only STRING state resets)
    pretty = b'{\n  "a": [\n    {"b": 1}\n  ]\n}'
    assert any('"b"' in c for c in split_json_text(pretty))
