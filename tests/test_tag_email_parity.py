"""Parity for the TAG template (rag/app/tag.py) and the EML source
(rag/app/email.py) — reference modules executed from source with
stdlib email parsing real and the tokenizer/merger/parsers shared from
OUR implementations on both sides."""

from __future__ import annotations

import ast
import re
import sys
import types
from email.message import EmailMessage

import pytest

from ragflow_spark.chunk.merge import greedy_merge
from ragflow_spark.chunk.tag_template import tag_from_csv, tag_from_delimited
from ragflow_spark.extract.html import extract_html
from ragflow_spark.parsers.eml import email_chunks, parse_eml
from ragflow_spark.parsers.txt import split_txt
from ragflow_spark.text import tokenizer as our_tok
from tests.conftest import read_reference
from tests.test_qa_formats_parity import _fake_load_workbook

REF_TAG = "/root/reference/rag/app/tag.py"
REF_EMAIL = "/root/reference/rag/app/email.py"
REF_QA = "/root/reference/rag/app/qa.py"


def _mods(extra=None):
    mods: dict[str, types.ModuleType] = {}

    def mod(name, **attrs):
        m = types.ModuleType(name)
        for k, v in attrs.items():
            setattr(m, k, v)
        mods[name] = m
        return m

    rag_tokenizer = mod("rag.nlp.rag_tokenizer",
                        tokenize=our_tok.tokenize_text,
                        fine_grained_tokenize=our_tok.fine_grained)
    mod("deepdoc.parser.utils",
        get_text=lambda fnm, binary=None: binary.decode("utf-8")
        if isinstance(binary, (bytes, bytearray)) else (binary or ""))

    class _TxtParser:
        @staticmethod
        def parser_txt(txt):
            return split_txt(txt, 128)

    class _HtmlParser:
        @staticmethod
        def parser_txt(txt):
            return extract_html(txt).sections

    mod("deepdoc.parser",
        PdfParser=type("PdfParser", (), {}),
        ExcelParser=type("ExcelParser", (), {}),
        DocxParser=type("DocxParser", (), {}),
        TxtParser=_TxtParser,
        HtmlParser=_HtmlParser)
    mod("deepdoc", parser=mods["deepdoc.parser"])
    mod("rag.nlp",
        rag_tokenizer=rag_tokenizer,
        naive_merge=lambda sections, num, delim: greedy_merge(
            list(sections), num, delim
        ),
        tokenize_chunks=lambda chunks, doc, eng, pdf=None: [
            {"content_with_weight": c} for c in chunks if c.strip()
        ])
    mod("rag.utils", get_float=lambda v: float(v))
    mod("rag", nlp=mods["rag.nlp"], utils=mods["rag.utils"])
    if extra:
        for name, m in extra.items():
            mods[name] = m
    return mods


def _exec_with(path, mods):
    saved = {}
    for name, m in mods.items():
        saved[name] = sys.modules.get(name)
        sys.modules[name] = m
    ns = {"__name__": "ref_" + path.rsplit("/", 1)[-1][:-3], "__file__": path}
    try:
        exec(compile(read_reference(path), path, "exec"), ns)
    finally:
        for name, old in saved.items():
            if old is None:
                sys.modules.pop(name, None)
            else:
                sys.modules[name] = old
    return ns


@pytest.fixture(scope="module")
def ref_tag_chunk():
    # the REAL Excel pairer from qa.py, with openpyxl faked over our
    # stdlib reader
    tree = ast.parse(read_reference(REF_QA))
    nodes = [
        n for n in tree.body
        if (isinstance(n, ast.ClassDef) and n.name == "Excel")
        or (isinstance(n, ast.FunctionDef) and n.name == "rmPrefix")
    ]
    qa_ns = {
        "re": re,
        "load_workbook": _fake_load_workbook,
        "BytesIO": __import__("io").BytesIO,
        "is_english": lambda texts: True,
        "random_choices": lambda arr, k: list(arr)[:k],
        "ExcelParser": type("ExcelParser", (), {}),
    }
    exec(compile(ast.Module(body=nodes, type_ignores=[]), REF_QA, "exec"), qa_ns)
    qa_mod = types.ModuleType("rag.app.qa")
    qa_mod.Excel = qa_ns["Excel"]
    app_mod = types.ModuleType("rag.app")
    app_mod.qa = qa_mod
    mods = _mods({"rag.app": app_mod, "rag.app.qa": qa_mod})
    ns = _exec_with(REF_TAG, mods)
    return ns["chunk"]


def _noop(*_a, **_k):
    pass


TAG_TXT = (
    "orphan line without delimiter\n"
    "spark is an engine\tcompute, engine, sql\n"
    "broadcast joins\tjoins, optimization\n"
    "another stray\n"
    "final pair\ttags.with.dots, , spaces \n"
)

TAG_CSV = (
    'some orphan, line, with, many, fields\n'
    '"content, with comma",tag1, tag2\n'
    "plain content,single.tag\n"
)


class TestTagParity:
    def test_txt(self, ref_tag_chunk):
        ref = ref_tag_chunk("t.txt", binary=TAG_TXT.encode(), callback=_noop)
        want = [(d["content_with_weight"], d["tag_kwd"]) for d in ref]
        assert tag_from_delimited(TAG_TXT) == want
        assert want and want[0][0].startswith("\n")

    def test_csv(self, ref_tag_chunk):
        ref = ref_tag_chunk("t.csv", binary=TAG_CSV.encode(), callback=_noop)
        want = [(d["content_with_weight"], d["tag_kwd"]) for d in ref]
        assert tag_from_csv(TAG_CSV) == want

    def test_tag_normalization(self):
        got = tag_from_delimited("c\ta.b, , x.y.z ,w\n")
        assert got[0][1] == ["a_b", "x_y_z", "w"]


# -- email --------------------------------------------------------------


def _make_eml(with_html=True, with_attachment=True) -> bytes:
    msg = EmailMessage()
    msg["From"] = "alice@example.com"
    msg["To"] = "bob@example.com"
    msg["Subject"] = "Quarterly engine report"
    msg["Date"] = "Mon, 17 Aug 2026 10:00:00 +0000"
    msg.set_content(
        "Hello Bob,\n\nThe shuffle numbers improved this quarter.\n"
        "Broadcast joins cut the network cost by half.\n\nRegards, Alice"
    )
    if with_html:
        msg.add_alternative(
            "<html><body><p>Hello Bob,</p><p>The shuffle numbers improved "
            "this quarter.</p><ul><li>broadcast wins</li></ul></body></html>",
            subtype="html",
        )
    if with_attachment:
        # octet-stream: the reference's part walk visits attachments
        # too and crashes on a text/* part with no charset (see
        # test_text_attachment_robustness)
        msg.add_attachment(
            b"attached plain text body about partitions",
            maintype="application", subtype="octet-stream", filename="notes.txt",
        )
    return bytes(msg)


@pytest.fixture(scope="module")
def ref_email_chunk():
    naive = types.ModuleType("rag.app.naive")
    naive.chunk = lambda filename, payload, callback=None, **kw: [
        {"attachment": filename}
    ]
    app_mod = types.ModuleType("rag.app")
    app_mod.naive = naive
    mods = _mods({"rag.app": app_mod, "rag.app.naive": naive})
    ns = _exec_with(REF_EMAIL, mods)
    return ns["chunk"]


class TestEmailParity:
    @pytest.mark.parametrize("html,att", [(True, True), (True, False), (False, False)])
    def test_main_chunks_match(self, ref_email_chunk, html, att):
        data = _make_eml(with_html=html, with_attachment=att)
        ref = ref_email_chunk("m.eml", binary=data, callback=_noop)
        ref_main = [d["content_with_weight"] for d in ref if "content_with_weight" in d]
        ref_atts = [d["attachment"] for d in ref if "attachment" in d]
        got = email_chunks(data)
        assert got == ref_main
        _t, _h, atts = parse_eml(data)
        assert [a for a, _ in atts] == ref_atts

    def test_attachment_payload_roundtrip(self):
        data = _make_eml()
        _t, _h, atts = parse_eml(data)
        assert atts[0][0] == "notes.txt"
        assert b"partitions" in atts[0][1]

    def test_text_attachment_robustness(self, ref_email_chunk):
        """A text/plain attachment with no charset: the reference's
        content walk raises TypeError (get_content_charset() is None);
        our parser decodes through the codec cascade instead —
        documented robustness deviation."""
        msg = EmailMessage()
        msg["From"] = "a@x"
        msg["Subject"] = "s"
        msg.set_content("body text")
        msg.add_attachment(
            b"plain attachment", maintype="text", subtype="plain",
            filename="a.txt",
        )
        data = bytes(msg)
        with pytest.raises(TypeError):
            ref_email_chunk("m.eml", binary=data, callback=_noop)
        assert email_chunks(data)  # ours parses fine

    def test_headers_in_chunks(self):
        got = email_chunks(_make_eml())
        joined = "\n".join(got)
        assert "Subject: Quarterly engine report" in joined
        assert "From: alice@example.com" in joined


def test_over_nested_mime_rejected_before_stdlib_recursion():
    """stdlib feedparser recurses per nested multipart: a crafted
    message with thousands of nested multipart/mixed headers blew the
    recursion limit inside BytesParser.parse.  parse_eml must reject
    it up front (ValueError -> the UDF's malformed-message fallback)."""
    import pytest

    from ragflow_spark.parsers.eml import parse_eml

    head = b""
    for i in range(5000):
        head += b"Content-Type: multipart/mixed; boundary=b%d\n\n--b%d\n" % (i, i)
    msg = b"Subject: deep\n" + head + b"Content-Type: text/plain\n\nhello"
    with pytest.raises(ValueError, match="over-nested"):
        parse_eml(msg)
    # a normally-nested message still parses through the iterative walk
    ok = (
        b"Subject: ok\nContent-Type: multipart/mixed; boundary=xx\n\n"
        b"--xx\nContent-Type: multipart/alternative; boundary=yy\n\n"
        b"--yy\nContent-Type: text/plain\n\nplain body\n"
        b"--yy\nContent-Type: text/html\n\n<p>html body</p>\n"
        b"--yy--\n--xx--\n"
    )
    text, html, atts = parse_eml(ok)
    assert any("plain body" in t for t in text)
    assert any("html body" in h for h in html)


def test_over_nested_rfc822_rejected_before_stdlib_recursion():
    """feedparser recurses per nested message/rfc822 just like per
    multipart — the pre-scan must count both container kinds."""
    import pytest

    from ragflow_spark.parsers.eml import parse_eml

    msg = b"Subject: deep\n"
    msg += b"Content-Type: message/rfc822\n\n" * 5000
    msg += b"Content-Type: text/plain\n\nhello"
    with pytest.raises(ValueError, match="over-nested"):
        parse_eml(msg)


def test_flat_many_part_message_walks_linearly():
    """A flat multipart with thousands of sibling parts carries ONE
    container declaration (passes the nesting pre-scan); the part walk
    must be linear, not pop(0)-quadratic, and keep document order."""
    import time

    from ragflow_spark.parsers.eml import parse_eml

    n = 4000
    body = b"".join(
        b"--bb\nContent-Type: text/plain\n\npart %05d\n" % i for i in range(n)
    )
    msg = (
        b"Subject: flat\nContent-Type: multipart/mixed; boundary=bb\n\n"
        + body
        + b"--bb--\n"
    )
    t0 = time.perf_counter()
    text, _html, _atts = parse_eml(msg)
    assert time.perf_counter() - t0 < 10.0
    bodies = [t for t in text if t.startswith("part ")]
    assert len(bodies) == n
    assert bodies == sorted(bodies)  # document order preserved
