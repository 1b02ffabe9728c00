"""Robustness: extraction must never crash and must be deterministic on
arbitrary byte garbage — the property a 10^12-page crawl guarantees
you'll need."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ragflow_spark.chunk.templates import chunk_sections
from ragflow_spark.spark.udfs import extract_document_ex
from ragflow_spark.text.codec import decode_bytes
from ragflow_spark.text.tokenizer import content_tokens

_settings = settings(
    max_examples=200, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_settings
@given(blob=st.binary(max_size=4096), text=st.text(max_size=200))
def test_extract_document_total(blob, text):
    a = extract_document_ex(blob, text, "English")
    b = extract_document_ex(blob, text, "English")
    assert a == b  # deterministic
    doc_type, title, body, sections, _mode = a
    assert isinstance(doc_type, str) and isinstance(sections, list)


@_settings
@given(blob=st.binary(max_size=2048))
def test_decode_bytes_total(blob):
    out = decode_bytes(blob)
    assert isinstance(out, str)
    assert decode_bytes(blob) == out


@_settings
@given(
    html=st.text(
        alphabet=st.sampled_from(list("<>/ab cdiv=\"'&#;自动化数据!?\n\t")), max_size=2000
    )
)
def test_extract_html_never_crashes(html):
    from ragflow_spark.extract.html import extract_html

    res = extract_html(html.encode("utf-8"))
    assert isinstance(res.text, str)
    assert all(isinstance(s, str) for s in res.sections)


@_settings
@given(
    sections=st.lists(st.text(max_size=120), max_size=12),
    template=st.sampled_from(["naive", "book", "laws", "paper", "one", "presentation"]),
)
def test_chunk_templates_total(sections, template):
    out = chunk_sections(template, sections)
    assert isinstance(out, list)
    assert all(isinstance(c, str) for c in out)
    assert chunk_sections(template, sections) == out


@_settings
@given(text=st.text(max_size=400))
def test_tokenizer_total(text):
    ltks, sm = content_tokens(text)
    assert isinstance(ltks, str) and isinstance(sm, str)


class TestFastParserEquivalence:
    """The fast scanner must build the same tree as the stdlib-driven
    builder on realistic pages and structured edge cases (it is allowed
    to differ only on pathological garbage, where neither is 'right')."""

    @staticmethod
    def _norm(node):
        kids, buf = [], []
        for c in node.children:
            if isinstance(c, str):
                buf.append(c)
            else:
                if buf:
                    kids.append("".join(buf))
                    buf = []
                kids.append(TestFastParserEquivalence._norm(c))
        if buf:
            kids.append("".join(buf))
        attrs = tuple(
            sorted((k, v if v is not None else "\0N") for k, v in node.attrs.items())
        )
        return (node.tag, attrs, tuple(kids))

    def _same(self, html):
        from ragflow_spark.extract.dom import parse_html_fast, parse_html_stdlib

        return self._norm(parse_html_fast(html)) == self._norm(
            parse_html_stdlib(html)
        )

    def test_generated_pages(self):
        from ragflow_spark.data.pagegen import generate_pages

        n = bad = 0
        for _, _, blob, _, _ in generate_pages(800, seed=7):
            if bytes(blob[:5]) == b"%PDF-":
                continue
            try:
                html = bytes(blob).decode("utf-8")
            except UnicodeDecodeError:
                continue
            n += 1
            bad += not self._same(html)
        assert n > 400 and bad == 0

    def test_edge_cases(self):
        cases = [
            '<div class="a" id=b>x</div>', "<br/><br />", "<p>a<p>b",
            "a &lt; b &amp; c", '<script>var a="<p>";</script><p>after</p>',
            "<STYLE>p{c}</STYLE>ok", "<!-- c --><p>x</p>",
            '<!DOCTYPE html><html><body>y</body></html>',
            '<div title="a>b">c</div>', "a < b > c", "<a href=x/>z</a>",
            "<ul><li>1<li>2</ul>", "<table><tr><td>a<td>b<tr><td>c</table>",
            "<div class>v</div>", "<p>broken", "</><p>bogus</p>", "</ div>x",
            "<?php 1 ?><p>q</p>", "<p>&copy;&nbsp;&#65;&#x42;</p>",
            "<script>never closed", "<!-- never closed", "<p>t</",
            '<A HREF="X">case</A>', '<input type="c" checked>after',
            "", "<>", "&", "&unknown;", "<b<p>tolerant</b<p>",
            # regressions from review: bare quote in unquoted attr
            # value, CDATA with '>', raw-close name boundary, IE
            # conditionals, '>' inside a bare value
            '<p class=a"b>x</p>', '<p class=a"b><p class=a"b>',
            "<p>before</p><![CDATA[ x > y ]]><p>after</p>",
            "<script>a</scripty>b</script>c",
            "<![if !IE]>content<![endif]>done",
            '<a onclick=f("x>y")>t</a>',
            # unclosed =-quote must fail to the data path, and raw-text
            # close needs an exact name match (not a \b boundary)
            '<p a="b>c</p>', "<div a=\"1\" b='2>x</div>",
            "<script>x</script-a>y</script>z", '<p a="b>c">x',
        ]
        for c in cases:
            assert self._same(c), c

    def test_truncated_tag_linear_time(self):
        """A page cut mid-tag must parse in linear time — the attr-blob
        grammar is possessive, so regex backtracking cannot blow up
        (a hang here pins an executor core at corpus scale)."""
        import time

        from ragflow_spark.extract.dom import parse_html

        h = "<html><body><p>hello</p><a href=/x class=" + "a" * 200_000
        t0 = time.time()
        parse_html(h)
        assert time.time() - t0 < 2.0
