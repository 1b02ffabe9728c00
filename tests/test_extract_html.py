"""HTML main-content extraction tests (the north-rule byte-identity
surface: title glue + "\\n" split are exact reference semantics,
deepdoc/parser/html_parser.py:40-49)."""

from ragflow_spark.extract.html import extract_html

ARTICLE = """<html><head><title>Doc 1</title><style>p{color:red}</style>
<script>var x=1;</script></head><body>
<nav><ul><li><a href="/">Home</a></li><li><a href="/b">Blog</a></li></ul></nav>
<div class="sidebar"><a href="/ad">Great deals on widgets right now</a></div>
<article>
<p>First paragraph of the body, with commas, clauses, and sufficient length
to be treated as genuine content by any sane density heuristic.</p>
<p>Second paragraph keeps going with more prose, more commas, and again a
decent amount of characters so scoring stays unambiguous.</p>
</article>
<footer><a href="/terms">Terms</a><a href="/priv">Privacy</a></footer>
</body></html>"""


class TestArticle:
    def test_title(self):
        assert extract_html(ARTICLE.encode()).title == "Doc 1"

    def test_boilerplate_removed(self):
        text = extract_html(ARTICLE.encode()).text
        assert "Home" not in text
        assert "Great deals" not in text
        assert "Terms" not in text

    def test_content_kept(self):
        text = extract_html(ARTICLE.encode()).text
        assert "First paragraph of the body" in text
        assert "Second paragraph keeps going" in text

    def test_sections_glue(self):
        r = extract_html(ARTICLE.encode())
        # exact reference glue: f"{title}\n{content}".split("\n")
        assert r.sections == f"{r.title}\n{r.text}".split("\n")
        assert r.sections[0] == "Doc 1"

    def test_script_style_dropped(self):
        text = extract_html(ARTICLE.encode()).text
        assert "var x" not in text and "color:red" not in text


class TestEdges:
    def test_empty(self):
        r = extract_html(b"")
        assert r.title == "" and r.text == ""
        assert r.sections == ["", ""]

    def test_whitespace_only(self):
        assert extract_html(b"   \n\t ").text == ""

    def test_malformed(self):
        r = extract_html(b"<html><body><p>broken tail")
        assert "broken tail" in r.text

    def test_link_farm_stripped(self):
        farm = (
            "<html><head><title>Dir</title></head><body><ul>"
            + "".join(f'<li><a href="/{i}">link {i}</a></li>' for i in range(40))
            + "</ul></body></html>"
        )
        assert extract_html(farm.encode()).text == ""

    def test_encodings(self):
        html = (
            "<html><head><title>中文页</title></head><body><article>"
            "<p>这是一个足够长的中文段落，包含逗号，以及更多的文字内容，"
            "用来确保启发式判定不产生歧义，并让密度评分足够高。</p>"
            "</article></body></html>"
        )
        for enc in ("utf-8", "gb18030", "utf-16"):
            r = extract_html(html.encode(enc))
            assert r.title == "中文页", enc
            assert "中文段落" in r.text, enc

    def test_whole_page_fallback_keeps_content(self):
        bare = "<html><body><p>short one.</p></body></html>"
        r = extract_html(bare.encode())
        assert "short one." in r.text


def test_bom_utf16_html_detected():
    """UTF-16 BOM'd HTML must sniff as html, not leak markup as txt
    (regression: byte-level '<' checks miss multi-byte encodings)."""
    from ragflow_spark.spark.udfs import extract_document_ex, sniff_doc_type

    html = "<html><head><title>T</title></head><body><article><p>Real body text here.</p></article></body></html>"
    for enc in ("utf-16", "utf-16-be", "utf-8-sig"):
        blob = html.encode(enc)
        assert sniff_doc_type(blob, None) == "html", enc
        doc_type, _, body, _, _ = extract_document_ex(blob, None, "English")
        assert doc_type == "html"
        assert "<" not in body and "Real body text here." in body


def test_reference_sample_page_characterization():
    """Characterization golden over the reference tree's own sample
    page (sdk/python/test/test_sdk_api/test_data/test.html — a real
    ad-heavy article).  NOT a byte-parity check against
    readability-lxml (unavailable in-sandbox); it locks OUR extractor's
    behavior on realistic adversarial input so regressions surface."""
    import os

    from ragflow_spark.extract.html import extract_html

    src = "/root/reference/sdk/python/test/test_sdk_api/test_data/test.html"
    if not os.path.exists(src):
        import pytest

        pytest.skip("reference sample page not present")
    r = extract_html(open(src, "rb").read())
    golden = open(
        os.path.join(os.path.dirname(__file__), "goldens", "test_html_extraction.txt"),
        encoding="utf-8",
    ).read()
    title, sections = golden.split("\n===SECTIONS===\n")
    assert r.title == title
    assert "\n".join(r.sections) == sections
    # sanity: boilerplate (cookie-consent JS, ad scripts) must not leak
    assert "ezTcfConsent" not in r.text
    assert "function" not in r.text


def test_real_page_goldens_byte_compare():
    """Committed realistic-page characterization corpus (VERDICT r4
    #6 — the in-sandbox stand-in for readability-lxml byte-parity):
    ten full pages covering CJK news with nav farms, entity soup over
    a legacy charset, an article with a comment section, a docs page
    with code blocks and a TOC sidebar, a wiki page with an infobox
    and reference list, a boilerplate-heavy product page, and (r5) a
    multi-post forum thread, a hostile malformed/misnested page, an
    RTL Arabic/Hebrew bidi page, and a template/SVG/noscript-heavy
    article.  Each byte-compares title+sections against its
    .expected.txt golden AND asserts the semantic split (content
    present, boilerplate absent), so a regenerated golden cannot
    silently bless a regression."""
    import os

    from ragflow_spark.extract.html import extract_html

    d = os.path.join(os.path.dirname(__file__), "goldens", "pages")
    pages = sorted(f for f in os.listdir(d) if f.endswith(".html"))
    assert len(pages) >= 10
    results = {}
    for f in pages:
        r = extract_html(open(os.path.join(d, f), "rb").read())
        got = r.title + "\n===SECTIONS===\n" + "\n".join(r.sections)
        want = open(
            os.path.join(d, f[:-5] + ".expected.txt"), encoding="utf-8"
        ).read()
        assert got == want, f
        results[f] = r.text

    # semantic gates per page: main content in, boilerplate out
    cjk = results["cjk_news.html"]
    assert "加盐重分配" in cjk and "自适应查询执行" in cjk
    for boiler in ("相关新闻", "优惠券", "京ICP", "隐私政策"):
        assert boiler not in cjk
    ent = results["entities.html"]
    assert "crème brûlée" in ent and "maître d’" in ent  # noqa: RUF001
    assert "½" in ent and "☃" in ent and "人民" in ent
    assert "<strong>" in ent  # escaped markup stays TEXT, not a tag
    blog = results["blog_comments.html"]
    assert "declarative pipeline" in blog and "bytes-scanned graph" in blog
    for boiler in ("throwaway9", "spam.example", "Newsletter", "dataLayer"):
        assert boiler not in blog
    docs = results["docs_page.html"]
    assert "checkpoint.interval = 30s" in docs and "Watermarks" in docs
    assert "Changelog" not in docs  # TOC sidebar dropped
    shop = results["shop_product.html"]
    assert "planetary mixing action" in shop
    for boiler in ("Customers also viewed", "Add to cart", "Sign in"):
        assert boiler not in shop
    wiki = results["wiki_infobox.html"]
    assert "divide-and-conquer" in wiki and "von Neumann" in wiki
    assert "Disclaimers" not in wiki and "Quicksort" not in wiki
    # forum thread: the Arc90 candidate family (like readability-lxml,
    # the reference's extractor) selects the top-scoring post, not the
    # whole thread — the golden DOCUMENTS that known behavior; gates
    # pin that the selected post is complete and chrome is out
    forum = results["forum_thread.html"]
    assert "unified region is split with storage" in forum
    assert "per-task, not per-executor" in forum
    for boiler in ("Sponsored", "Powered by ForumWare", "Hot threads",
                   "Register"):
        assert boiler not in forum
    # malformed markup: every sentence exactly once, in order, with
    # comment/script bodies skipped and attribute soup survived
    mal = results["malformed.html"]
    for phrase in (
        "treats the tag stream as a hint",
        "still renders",
        "a bracket inside a quoted attribute",
        "orphan table cell closes implicitly",
        "resumes the flow",
    ):
        assert mal.count(phrase) == 1, phrase
    assert "this is not a paragraph" not in mal  # comment body
    assert "not content either" not in mal  # script string
    assert "div-typo" not in mal  # stray closer swallowed
    # RTL/bidi: Arabic + Hebrew body survives, mixed-direction inline
    # code intact, chrome out
    rtl = results["rtl_mixed.html"]
    assert "حجر الأساس" in rtl and "עיבוד מבוזר" in rtl
    assert "spark.sql.shuffle.partitions = 256" in rtl
    assert "١٢٣٤٥" in rtl and "67890" in rtl  # both digit systems
    for boiler in ("اتصل بنا", "شارك على فيسبوك", "سياسة الخصوصية"):
        assert boiler not in rtl
    # modern article: template/SVG/style/noscript must not leak;
    # figcaption is content
    mod = results["modern_article.html"]
    assert "Figure 1: the same table" in mod
    assert "stores each attribute contiguously" in mod
    assert "TEMPLATE USER" not in mod  # <template> never renders
    assert "base64" not in mod  # style text
    assert "row 0" not in mod  # svg dropped
    for boiler in ("Related posts", "Impressum", "Archive"):
        assert boiler not in mod


def test_parity_harness_runs_or_reports_deps_absent():
    """scripts/parity_readability.py must never crash: with the
    readability wheels absent (the sandbox case) it exits 3 with a
    clean message; with them installed it runs the comparison."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    p = subprocess.run(
        [sys.executable, "scripts/parity_readability.py", "--pages", "20"],
        capture_output=True,
        text=True,
        cwd=root,
        timeout=300,
    )
    try:
        import html_text  # noqa: F401
        import readability  # noqa: F401

        deps = True
    except ImportError:
        deps = False
    if deps:
        assert p.returncode in (0, 1), p.stderr
        assert "byte-identity rate" in p.stdout
    else:
        assert p.returncode == 3, (p.stdout, p.stderr)
        assert "deps absent" in p.stdout


# -- poisoned-document survival (round 4) -----------------------------------


def test_pathological_nesting_extracts_not_crashes():
    """10k-deep divs / 30k unclosed inline tags: the iterative renderer
    must extract the text (recursion previously blew the whole Arrow
    batch at corpus scale)."""
    from ragflow_spark.spark.udfs import extract_document_ex

    deep = (
        "<html><body>" + "<div>" * 10000 + "core text"
        + "</div>" * 10000 + "</body></html>"
    )
    doc_type, _t, text, secs, mode = extract_document_ex(
        deep.encode(), None, "English"
    )
    assert (doc_type, text, mode) == ("html", "core text", "")
    flood = "<html><body>" + "<p><b><i>" * 30000 + "tail</body></html>"
    _dt, _t, text, _s, mode = extract_document_ex(flood.encode(), None, "English")
    assert text == "tail" and mode == ""


def test_poisoned_document_degrades_not_kills_batch():
    """A row no extractor survives (adversarially deep JSON) degrades
    to decoded raw text with the extract-error mode the pipeline
    counts as a fallback — never an exception out of the batch."""
    from ragflow_spark.spark.udfs import extract_document_ex, is_fallback_mode

    deep_json = ('{"a":' * 2000 + "1" + "}" * 2000).encode()
    doc_type, _t, text, _s, mode = extract_document_ex(deep_json, None, "English")
    assert doc_type == "json" and mode == "extract-error"
    assert text == deep_json.decode()
    assert is_fallback_mode(mode)
