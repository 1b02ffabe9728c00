"""Unit tests: codec cascade, token counting, normalization, tokenizer."""

from ragflow_spark.text.codec import decode_bytes, detect_codec
from ragflow_spark.text.normalize import full_to_half, looks_english
from ragflow_spark.text.porter import lemmatize_noun, porter_stem
from ragflow_spark.text.tokenizer import content_tokens, fine_grained, tokenize_text
from ragflow_spark.text.tokens import count_tokens


class TestCodec:
    def test_utf8_first(self):
        assert detect_codec("hello world".encode()) == "utf-8"

    def test_ascii_maps_to_utf8(self):
        # reference: confident-ascii chardet verdict -> utf-8
        assert detect_codec(b"plain ascii only") == "utf-8"

    def test_gb18030_chinese(self):
        blob = "中文内容，引擎测试。".encode("gb18030")
        codec = detect_codec(blob)
        assert "中文内容" in blob.decode(codec)

    def test_utf16_bom(self):
        blob = "中文 text".encode("utf-16")
        assert decode_bytes(blob) == "中文 text"

    def test_empty(self):
        assert detect_codec(b"") == "utf-8"
        assert decode_bytes(None) == ""

    def test_roundtrip_ignore_errors(self):
        # malformed tail: decode must not raise
        blob = "héllo".encode("latin-1") + b"\xff\xfe\xfd"
        assert isinstance(decode_bytes(blob), str)


class TestTokens:
    def test_empty(self):
        assert count_tokens("") == 0

    def test_words(self):
        assert count_tokens("the cat") == 2

    def test_long_word_costs_more(self):
        assert count_tokens("internationalization") >= 2

    def test_cjk_per_char(self):
        assert count_tokens("数据处理") == 4

    def test_punct(self):
        assert count_tokens("a,b") == 3

    def test_monotone(self):
        a = "spark engine " * 10
        assert count_tokens(a) > count_tokens(a[: len(a) // 2])


class TestNormalize:
    def test_q2b(self):
        assert full_to_half("ＡＢＣ１２３　ｘ") == "ABC123 x"

    def test_lang_heuristics(self):
        assert looks_english("Plain English text, nothing else!")


class TestPorter:
    def test_classic_cases(self):
        assert porter_stem("caresses") == "caress"
        assert porter_stem("ponies") == "poni"
        assert porter_stem("cats") == "cat"
        assert porter_stem("agreed") == "agre"
        assert porter_stem("plastered") == "plaster"
        assert porter_stem("motoring") == "motor"
        assert porter_stem("happy") == "happi"
        assert porter_stem("relational") == "relat"
        assert porter_stem("conditional") == "condit"
        assert porter_stem("formalize") == "formal"
        assert porter_stem("adjustable") == "adjust"
        assert porter_stem("effective") == "effect"

    def test_lemma(self):
        assert lemmatize_noun("foxes") == "fox"
        assert lemmatize_noun("tables") == "table"
        assert lemmatize_noun("glass") == "glass"
        assert lemmatize_noun("men") == "man"


class TestTokenizer:
    def test_english(self):
        out = tokenize_text("The Foxes Are Running")
        assert "fox" in out.split()

    def test_cjk_falls_to_chars(self):
        out = tokenize_text("数据处理")
        assert out.split() == list("数据处理")

    def test_mixed_runs(self):
        out = tokenize_text("spark引擎test")
        toks = out.split()
        assert "spark" in toks and "test" in toks and "引" in toks

    def test_content_tokens_strips_table_tags(self):
        ltks, sm = content_tokens("<table><tr><td>cell value</td></tr></table>")
        assert "td" not in ltks.split()
        assert "cell" in ltks.split()

    def test_fine_grained_slash_split(self):
        assert fine_grained("a/b c") == "a b c"


class TestTradi2Simp:
    """Deploy-time hanziconv table (RAGFLOW_SPARK_HANZI) + compact
    fallback.  hanziconv 0.3.2's toSimplified is a per-char translate
    over two aligned strings — exactly what the deployed path does, so
    supplying its public charmap makes conversion reference-exact."""

    def test_compact_fallback(self):
        from ragflow_spark.text.normalize import tradi2simp

        assert tradi2simp("數據處理") == "数据处理"
        assert tradi2simp("plain ascii") == "plain ascii"

    def test_deployed_table_wins(self, tmp_path, monkeypatch):
        from ragflow_spark.text import normalize

        # chars deliberately NOT in the compact table: 龍->龙, 鳳->凤
        p = tmp_path / "hanzi.txt"
        p.write_text("龍鳳數\n龙凤数\n", encoding="utf-8")
        monkeypatch.setenv(normalize.HANZI_ENV, str(p))
        normalize._t2s_deployed.cache_clear()
        try:
            assert normalize.tradi2simp("龍鳳") == "龙凤"
            assert normalize.tradi2simp("數") == "数"
            # deployed table REPLACES the compact one (hanziconv owns
            # the full map): chars it lacks pass through
            assert normalize.tradi2simp("據") == "據"
        finally:
            normalize._t2s_deployed.cache_clear()

    def test_malformed_table_ignored(self, tmp_path, monkeypatch):
        from ragflow_spark.text import normalize

        p = tmp_path / "bad.txt"
        p.write_text("abc\nde\n", encoding="utf-8")  # misaligned
        monkeypatch.setenv(normalize.HANZI_ENV, str(p))
        normalize._t2s_deployed.cache_clear()
        try:
            assert normalize.tradi2simp("數據") == "数据"  # compact path
        finally:
            normalize._t2s_deployed.cache_clear()
