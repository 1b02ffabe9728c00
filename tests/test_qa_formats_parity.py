"""Black-box parity of the QA template's format variants vs the
reference's own rag/app/qa.py ``chunk()`` (txt / xlsx / docx branches).
The reference module is executed from source with its heavy deps
stubbed: openpyxl replaced by a fake workbook fed from OUR stdlib xlsx
reader, python-docx by fake paragraph/table objects, ``markdown`` by
the clean-room renderer, and the tokenizer by ours on both sides.
Differences therefore isolate the pairing / heading-stack / colspan
logic."""

from __future__ import annotations

import re
import sys
import types

import pytest

from ragflow_spark.chunk.qa import (
    docx_style_level,
    qa_from_delimited,
    qa_from_docx,
    qa_from_xlsx,
)
from ragflow_spark.parsers.office import read_xlsx
from ragflow_spark.text import tokenizer as our_tok
from tests.conftest import read_reference
from tests.test_office_parsers import make_xlsx

REF = "/root/reference/rag/app/qa.py"


# -- fakes --------------------------------------------------------------


class _FakeCell:
    def __init__(self, value):
        self.value = value


class _FakeWS:
    def __init__(self, rows):
        self.rows = [[_FakeCell(v) for v in r] for r in rows]


class _FakeWB:
    def __init__(self, sheets):
        self._sheets = dict(sheets)
        self.sheetnames = [s for s, _ in sheets]

    def __getitem__(self, name):
        return self._sheets[name]


def _fake_load_workbook(src):
    data = src.getvalue() if hasattr(src, "getvalue") else open(src, "rb").read()
    return _FakeWB([(s, _FakeWS(rows)) for s, rows in read_xlsx(data)])


class _FakeEl:
    def xpath(self, q):
        return []

    @property
    def xml(self):
        return ""


class _FakeStyle:
    def __init__(self, name):
        self.name = name


class _FakeP:
    def __init__(self, text, style="Normal"):
        self.text = text
        self.style = _FakeStyle(style)
        self.runs = []
        self._element = _FakeEl()


class _FakeDocCell:
    def __init__(self, text):
        self.text = text


class _FakeRow:
    def __init__(self, cells):
        self.cells = [_FakeDocCell(c) for c in cells]


class _FakeTable:
    def __init__(self, rows):
        self.rows = [_FakeRow(r) for r in rows]


class _FakeDocument:
    paragraphs: list = []
    tables: list = []

    def __init__(self, *_a, **_k):
        self.paragraphs = _FakeDocument.paragraphs
        self.tables = _FakeDocument.tables
        self.part = types.SimpleNamespace(related_parts={})


def _ref_docx_question_level(p, bull=-1):
    # rag/nlp/__init__.py:621-631 with bull=-1 (the qa path's call)
    txt = re.sub(r"　", " ", p.text).strip()
    if p.style.name.startswith("Heading"):
        return int(p.style.name.split(" ")[-1]), txt
    return 0, txt


@pytest.fixture(scope="module")
def ref_chunk():
    mods: dict[str, types.ModuleType] = {}

    def mod(name, **attrs):
        m = types.ModuleType(name)
        for k, v in attrs.items():
            setattr(m, k, v)
        mods[name] = m
        return m

    mod("openpyxl", load_workbook=_fake_load_workbook)
    mod("deepdoc.parser.utils",
        get_text=lambda fnm, binary=None: binary.decode("utf-8")
        if isinstance(binary, (bytes, bytearray)) else (binary or ""))
    mod("deepdoc.parser",
        PdfParser=type("PdfParser", (), {}),
        ExcelParser=type("ExcelParser", (), {}),
        DocxParser=type("DocxParser", (), {}))
    mod("deepdoc", parser=mods["deepdoc.parser"])
    rag_tokenizer = mod("rag.nlp.rag_tokenizer",
                        tokenize=our_tok.tokenize_text,
                        fine_grained_tokenize=our_tok.fine_grained)
    mod("rag.nlp",
        is_english=lambda texts: True,
        random_choices=lambda arr, k: list(arr)[:k],
        qbullets_category=lambda sections: (-1, None),
        add_positions=lambda d, poss: None,
        has_qbullet=lambda *a: (None, -1),
        docx_question_level=_ref_docx_question_level,
        rag_tokenizer=rag_tokenizer,
        tokenize_table=lambda tbls, doc, eng: [
            {"content_with_weight": html} for ((_img, html), _poss) in tbls
        ],
        concat_img=lambda a, b: a or b)
    mod("rag.utils", get_float=lambda s: float(s))
    mod("rag", nlp=mods["rag.nlp"], utils=mods["rag.utils"])
    mod("docx", Document=_FakeDocument)
    mod("PIL", Image=types.SimpleNamespace(open=lambda *a, **k: None))
    # the reference module imports the markdown package; the clean-room
    # renderer stands in for it (byte-checked against the real package
    # at deploy by scripts/parity_markdown.py)
    from ragflow_spark.text.md_render import render_markdown

    mod(
        "markdown",
        markdown=lambda txt, extensions=None: render_markdown(
            txt, tables=extensions is not None
        ),
    )

    src = read_reference(REF)
    saved = {}
    for name, m in mods.items():
        saved[name] = sys.modules.get(name)
        sys.modules[name] = m
    ns = {"__name__": "ref_qa", "__file__": REF}
    try:
        exec(compile(src, REF, "exec"), ns)
    finally:
        for name, old in saved.items():
            if old is None:
                sys.modules.pop(name, None)
            else:
                sys.modules[name] = old
    return ns["chunk"]


def _contents(res):
    return [d["content_with_weight"] for d in res]


def _noop(*_a, **_k):
    pass


TXT = (
    "What is a shuffle?\tA cluster-wide exchange of rows.\n"
    "extra answer detail line\n"
    "Why broadcast?\tTo avoid shuffling the small side.\n"
    "malformed line without delimiter\n"
    "Q3?\tA3.\n"
)


class TestQaFormatParity:
    def test_txt_branch(self, ref_chunk):
        ref = _contents(ref_chunk("qa.txt", binary=TXT.encode(), callback=_noop, lang="English"))
        assert qa_from_delimited(TXT) == ref

    def test_xlsx_branch(self, ref_chunk):
        data = make_xlsx()
        ref = _contents(ref_chunk("qa.xlsx", binary=data, callback=_noop, lang="English"))
        assert qa_from_xlsx(data) == ref
        assert len(ref) >= 2

    def test_docx_branch(self, ref_chunk):
        paras = [
            _FakeP("Spark Engine", "Heading 1"),
            _FakeP("intro body"),
            _FakeP("Shuffles", "Heading 2"),
            _FakeP("rows move between executors"),
            _FakeP(""),
            _FakeP("Joins", "Heading 2"),
            _FakeP("broadcast the small side"),
            _FakeP("Hints", "Heading 3"),
            _FakeP("use the broadcast hint"),
        ]
        tables = [_FakeTable([["h", "h", "x"], ["a", "b", "c"]])]
        _FakeDocument.paragraphs = paras
        _FakeDocument.tables = tables
        ref = ref_chunk("qa.docx", binary=b"unused", callback=_noop, lang="English")
        ref_tbl = [d["content_with_weight"] for d in ref if "<table>" in d["content_with_weight"]]
        ref_qa = [d["content_with_weight"] for d in ref if "<table>" not in d["content_with_weight"]]

        # build the equivalent real docx for OUR parser
        import zipfile
        from io import BytesIO

        w = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'

        def p_xml(text, style=None):
            s = f'<w:pPr><w:pStyle w:val="{style}"/></w:pPr>' if style else ""
            return f"<w:p>{s}<w:r><w:t>{text}</w:t></w:r></w:p>"

        body = "".join(
            p_xml(p.text, p.style.name.replace(" ", "") if p.style.name != "Normal" else None)
            for p in paras
        )
        body += (
            "<w:tbl>"
            + "".join(
                "<w:tr>" + "".join(
                    f"<w:tc><w:p><w:r><w:t>{c.text}</w:t></w:r></w:p></w:tc>"
                    for c in row.cells
                ) + "</w:tr>"
                for row in tables[0].rows
            )
            + "</w:tbl>"
        )
        buf = BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr("[Content_Types].xml", "<Types/>")
            zf.writestr("word/document.xml", f"<w:document {w}><w:body>{body}</w:body></w:document>")
        ours_qa, ours_tbl = qa_from_docx(buf.getvalue())
        assert ours_qa == ref_qa
        assert ours_tbl == ref_tbl
        # colspan folding fired on the duplicate header cells
        assert "colspan" in ours_tbl[0]

    def test_docx_style_level(self):
        assert docx_style_level("Heading1") == 1
        assert docx_style_level("Heading 3") == 3
        assert docx_style_level("Normal") == 0
