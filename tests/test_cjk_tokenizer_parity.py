"""Black-box parity of the dictionary-driven CJK segmentation vs the
reference's own RagTokenizer (rag/nlp/rag_tokenizer.py).

The reference module is executed from source with datrie replaced by a
minimal trie over its escaped-byte keys, hanziconv/nltk replaced by
OUR normalize/stemmer hooks (shared by both sides), and the huqie
dictionary seeded deterministically from reference-tree data
(ner.json keys) plus hand-built overlap words that force FMM/BMM
disagreements — the DFS re-segmentation path.  Any output difference
isolates segmentation logic, not data or stemming.
"""

from __future__ import annotations

import json
import random
import re
import sys
import types

import pytest

from ragflow_spark.text.normalize import full_to_half, tradi2simp
from ragflow_spark.text.porter import lemmatize_noun, porter_stem
from ragflow_spark.text.tokenizer import WebTokenizer
from tests.conftest import REFERENCE_ROOT, read_reference

REF = "/root/reference/rag/nlp/rag_tokenizer.py"


# -- datrie stub over the reference's escaped-byte string keys ----------


class _FakeTrie:
    def __init__(self, alphabet=None):
        self._d: dict = {}

    def __setitem__(self, k, v):
        self._d[k] = v

    def __getitem__(self, k):
        return self._d[k]

    def __contains__(self, k):
        return k in self._d

    def has_keys_with_prefix(self, prefix):
        if prefix in self._d:
            return True
        return any(key.startswith(prefix) for key in self._d)

    def save(self, path):
        pass

    @classmethod
    def load(cls, path):
        raise FileNotFoundError(path)


# -- seeded huqie dictionary -------------------------------------------


def _seed_words() -> list[tuple[str, int, str]]:
    rng = random.Random(20240817)
    words: list[tuple[str, int, str]] = []
    # curated overlap set: substrings compete so FMM and BMM disagree
    curated = [
        ("数据", 2_000_000, "n"), ("数据处理", 800_000, "n"),
        ("处理", 1_500_000, "v"), ("据处", 1_000, "n"),
        ("引擎", 900_000, "n"), ("处理引擎", 20_000, "n"),
        ("分区", 600_000, "n"), ("策略", 700_000, "n"),
        ("分区策略", 9_000, "n"), ("区策", 500, "n"),
        ("广播", 400_000, "v"), ("小表", 30_000, "n"),
        ("倾斜", 200_000, "v"), ("键倾斜", 800, "n"),
        ("中华", 1_200_000, "ns"), ("中华人民", 500_000, "ns"),
        ("人民", 2_500_000, "n"), ("共和国", 600_000, "ns"),
        ("中华人民共和国", 100_000, "ns"), ("华人", 300_000, "n"),
        ("民共", 200, "n"), ("和国", 150, "n"),
        ("上海", 3_000_000, "ns"), ("海大", 5_000, "n"),
        ("大学", 2_200_000, "n"), ("上海大学", 80_000, "nt"),
        ("研究", 1_800_000, "v"), ("研究生", 700_000, "n"),
        ("生命", 900_000, "n"), ("研究生命", 100, "n"),
        ("命起", 50, "n"), ("起源", 120_000, "n"),
    ]
    words.extend(curated)
    ner = json.loads(read_reference(f"{REFERENCE_ROOT}/rag/res/ner.json"))
    zh_keys = [k for k in ner if not k.isascii()][:200]
    for k in zh_keys:
        words.append((k, rng.randint(10, 5_000_000), "nz"))
    return words


@pytest.fixture(scope="module")
def dict_file(tmp_path_factory):
    base = tmp_path_factory.mktemp("huqie_base")
    res = base / "rag" / "res"
    res.mkdir(parents=True)
    lines = [f"{w}\t{f}\t{t}" for w, f, t in _seed_words()]
    (res / "huqie.txt").write_text("\n".join(lines) + "\n", encoding="utf-8")
    return base


@pytest.fixture(scope="module")
def ref_tok(dict_file):
    src = read_reference(REF)
    saved = {}

    def put(name, mod):
        saved[name] = sys.modules.get(name)
        sys.modules[name] = mod

    datrie = types.ModuleType("datrie")
    datrie.Trie = _FakeTrie
    put("datrie", datrie)

    hanziconv = types.ModuleType("hanziconv")
    hanziconv.HanziConv = type(
        "HanziConv", (), {"toSimplified": staticmethod(tradi2simp)}
    )
    put("hanziconv", hanziconv)

    nltk = types.ModuleType("nltk")
    nltk.word_tokenize = lambda s: s.split()
    nltk_stem = types.ModuleType("nltk.stem")
    nltk_stem.PorterStemmer = type(
        "PorterStemmer", (), {"stem": staticmethod(lambda self_or_t, t=None: porter_stem(self_or_t if t is None else t))}
    )
    # PorterStemmer().stem(t): bind as instance method taking (self, t)
    nltk_stem.PorterStemmer = type(
        "PorterStemmer", (), {"stem": lambda self, t: porter_stem(t)}
    )
    nltk_stem.WordNetLemmatizer = type(
        "WordNetLemmatizer", (), {"lemmatize": lambda self, t: lemmatize_noun(t)}
    )
    nltk.stem = nltk_stem
    put("nltk", nltk)
    put("nltk.stem", nltk_stem)

    api = types.ModuleType("api")
    api_utils = types.ModuleType("api.utils")
    file_utils = types.ModuleType("api.utils.file_utils")
    file_utils.get_project_base_directory = lambda: str(dict_file)
    api_utils.file_utils = file_utils
    api.utils = api_utils
    put("api", api)
    put("api.utils", api_utils)
    put("api.utils.file_utils", file_utils)

    # execute only up to the module-level singleton construction —
    # everything below `tokenizer = RagTokenizer()` in the reference
    # is wrapper functions we don't need
    cut = src.find("def is_chinese")
    end = src.find("\n", src.find("return False", cut))
    ns = {"__name__": "ref_rag_tokenizer", "__file__": REF}
    try:
        exec(compile(src[: end + 1], REF, "exec"), ns)
        tok = ns["RagTokenizer"]()
    finally:
        for name, old in saved.items():
            if old is None:
                sys.modules.pop(name, None)
            else:
                sys.modules[name] = old
    return tok


@pytest.fixture(scope="module")
def our_tok(dict_file):
    tok = WebTokenizer()
    tok.load_user_dict(str(dict_file / "rag" / "res" / "huqie.txt"))
    return tok


ZH_SENTENCES = [
    "数据处理引擎的分区策略",
    "广播小表避免键倾斜",
    "中华人民共和国",
    "上海大学研究生命起源",  # classic FMM/BMM disagreement
    "数据数据数据数据数据数据",  # repetition fast path
    "研究生命起源的数据处理",
    "中华人民共和国数据处理引擎",
    "处理引擎广播小表",
    "据处区策民共和国",  # rare-word fragments
    "一",  # single char
    "引擎引擎引擎引擎引擎引擎引擎引擎引擎引擎引擎引擎",
]

MIXED_SENTENCES = [
    "spark数据处理引擎fast",
    "the 分区策略 of spark joins",
    "广播small table避免倾斜123",
    "数据-处理,引擎。分区！策略",
    "ＳＰＡＲＫ全角数据处理",  # full-width latin
    "c++ 数据/处理 x_y 引擎",
]


class TestCjkTokenizeParity:
    def test_zh_sentences(self, ref_tok, our_tok):
        for s in ZH_SENTENCES:
            assert our_tok.tokenize(s) == ref_tok.tokenize(s), s

    def test_mixed_sentences(self, ref_tok, our_tok):
        for s in MIXED_SENTENCES:
            assert our_tok.tokenize(s) == ref_tok.tokenize(s), s

    def test_fine_grained(self, ref_tok, our_tok):
        for s in ZH_SENTENCES + MIXED_SENTENCES:
            tks = ref_tok.tokenize(s)
            assert our_tok.fine_grained_tokenize(tks) == ref_tok.fine_grained_tokenize(tks), s

    def test_freq_tag_lookup(self, ref_tok, our_tok):
        for w, _f, _t in _seed_words()[:40]:
            assert our_tok.freq(w) == ref_tok.freq(w), w
            assert our_tok.tag(w) == ref_tok.tag(w), w
        assert our_tok.freq("不在词典里") == ref_tok.freq("不在词典里") == 0

    def test_random_zh_fuzz(self, ref_tok, our_tok):
        rng = random.Random(7)
        vocab = [w for w, _, _ in _seed_words()]
        chars = list("数据处理引擎分区策略广播小表倾斜中华人民共和国上海大学研究生命起源")
        for _ in range(60):
            parts = []
            for _ in range(rng.randint(1, 6)):
                if rng.random() < 0.6:
                    parts.append(rng.choice(vocab))
                else:
                    parts.append(
                        "".join(rng.choice(chars) for _ in range(rng.randint(1, 4)))
                    )
            s = "".join(parts)
            assert our_tok.tokenize(s) == ref_tok.tokenize(s), s

    def test_empty_dict_oov_falls_back_to_chars(self):
        tok = WebTokenizer()
        assert tok.tokenize("数据处理") == "数 据 处 理"
        assert tok.tokenize("pure ascii text") == "pure ascii text"
