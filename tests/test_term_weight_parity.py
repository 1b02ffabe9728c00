"""Black-box parity for term weighting / synonyms vs the REFERENCE'S
OWN source (rag/nlp/term_weight.py, synonym.py).

The reference modules are executed from source at test time with their
unavailable deps stubbed (rag_tokenizer -> OUR tokenizer hooks, nltk
wordnet -> a deterministic fake, file_utils -> the reference res dir).
Both sides then share the identical tokenizer + resources, so any
output difference isolates a logic divergence in the port.  No
reference code is copied into the repo.
"""

from __future__ import annotations

import re
import sys
import types

import pytest

from ragflow_spark.text import tokenizer as our_tok
from ragflow_spark.text.normalize import full_to_half, tradi2simp
from ragflow_spark.text.synonyms import SynonymLookup, load_synonyms
from ragflow_spark.text.term_weight import TermWeighter, load_resources
from tests.conftest import read_reference

REF_ROOT = "/root/reference"
RES_DIR = f"{REF_ROOT}/rag/res"


# deterministic WordNet fake shared by both sides
_FAKE_SYNSETS = {
    "spark": ["spark.n.01", "discharge.n.03", "trip.v.02"],
    "table": ["table.n.01", "mesa.n.01", "postpone.v.01"],
    "engine": ["engine.n.01", "locomotive.n.01"],
    "data": ["data.n.01", "datum.n.01"],
    "fast": ["fast.a.01", "debauched.a.01", "fast_lane.n.01"],
}


def fake_wordnet_fn(tk: str) -> list[str]:
    names = {re.sub("_", " ", n.split(".")[0]) for n in _FAKE_SYNSETS.get(tk, [])}
    return [t for t in names - {tk} if t]


class _FakeSynset:
    def __init__(self, name: str):
        self._n = name

    def name(self) -> str:
        return self._n


class _FakeWordnet:
    @staticmethod
    def synsets(tk):
        return [_FakeSynset(n) for n in _FAKE_SYNSETS.get(tk, [])]


def _exec_ref(path: str, extra_modules: dict) -> dict:
    """Execute a reference module's source with dependency stubs
    registered in sys.modules for the duration of the exec."""
    src = read_reference(path)
    saved = {}
    for name, mod in extra_modules.items():
        saved[name] = sys.modules.get(name)
        sys.modules[name] = mod
    ns = {"__name__": "ref_" + path.rsplit("/", 1)[-1][:-3], "__file__": path}
    try:
        exec(compile(src, path, "exec"), ns)
    finally:
        for name, old in saved.items():
            if old is None:
                sys.modules.pop(name, None)
            else:
                sys.modules[name] = old
    return ns


def _stub_modules() -> dict:
    """sys.modules stubs shared by every reference exec: our tokenizer
    as rag_tokenizer, the reference res dir as project base, the fake
    wordnet as nltk."""
    rag_tokenizer = types.ModuleType("rag.nlp.rag_tokenizer")
    rag_tokenizer.tokenize = our_tok.tokenize_text
    rag_tokenizer.fine_grained_tokenize = our_tok.fine_grained
    rag_tokenizer.tag = lambda t: ""
    rag_tokenizer.freq = lambda t: 0
    rag_tokenizer.tradi2simp = tradi2simp
    rag_tokenizer.strQ2B = full_to_half

    file_utils = types.ModuleType("api.utils.file_utils")
    file_utils.get_project_base_directory = lambda: REF_ROOT

    nltk = types.ModuleType("nltk")
    nltk_corpus = types.ModuleType("nltk.corpus")
    nltk_corpus.wordnet = _FakeWordnet()
    nltk.corpus = nltk_corpus

    api = types.ModuleType("api")
    api_utils = types.ModuleType("api.utils")
    api_utils.file_utils = file_utils
    rag = types.ModuleType("rag")
    rag_nlp = types.ModuleType("rag.nlp")
    rag_nlp.rag_tokenizer = rag_tokenizer
    rag_utils = types.ModuleType("rag.utils")

    return {
        "rag": rag,
        "rag.nlp": rag_nlp,
        "rag.nlp.rag_tokenizer": rag_tokenizer,
        "rag.utils": rag_utils,
        "api": api,
        "api.utils": api_utils,
        "api.utils.file_utils": file_utils,
        "nltk": nltk,
        "nltk.corpus": nltk_corpus,
    }


@pytest.fixture(scope="module")
def ref_tw():
    ns = _exec_ref(f"{REF_ROOT}/rag/nlp/term_weight.py", _stub_modules())
    return ns["Dealer"]()


@pytest.fixture(scope="module")
def ref_syn():
    ns = _exec_ref(f"{REF_ROOT}/rag/nlp/synonym.py", _stub_modules())
    return ns["Dealer"]()


@pytest.fixture(scope="module")
def ours_tw():
    ne, df = load_resources(RES_DIR)
    assert ne, "reference ner.json must load"
    return TermWeighter(
        ne=ne,
        df=df,
        tokenize=our_tok.tokenize_text,
        tag=lambda t: "",
        freq=lambda t: 0,
    )


@pytest.fixture(scope="module")
def ours_syn():
    d = load_synonyms(RES_DIR)
    assert d, "reference synonym.json must load"
    return SynonymLookup(dictionary=d, wordnet_fn=fake_wordnet_fn)


EN_QUERIES = [
    "what is the best partitioning strategy for skewed joins",
    "how does spark broadcast a small dimension table",
    "which engine supports adaptive query execution today",
    "why were the shuffle partitions so large yesterday",
    "explain predicate pushdown and column pruning for parquet scans",
    "top documents about streaming watermarks and late data handling",
]

ZH_QUERIES = [
    "数据处理引擎的分区策略是什么",
    "如何广播小表避免倾斜",
    "贵州茅台 股价",
    "阿为特 873693",
]

MIXED_QUERIES = [
    "spark引擎如何处理skew倾斜",
    "what is 阿为特 stock code",
]

TOKEN_LISTS = [
    ["spark", "engine", "partition", "strategy"],
    ["broadcast", "join", "skew", "salt", "aqe"],
    ["阿为特", "股价", "walk", "873693"],
    ["a", "bc", "def", "1234", "56.78", "x1"],
]


class TestTermWeightParity:
    def test_pretoken(self, ref_tw, ours_tw):
        for q in EN_QUERIES + ZH_QUERIES + MIXED_QUERIES:
            assert ours_tw.pretoken(q) == ref_tw.pretoken(q), q
            assert ours_tw.pretoken(q, num=True) == ref_tw.pretoken(q, num=True), q

    def test_token_merge(self, ref_tw, ours_tw):
        for tks in TOKEN_LISTS:
            assert ours_tw.token_merge(tks) == ref_tw.tokenMerge(tks), tks

    def test_split(self, ref_tw, ours_tw):
        for q in EN_QUERIES + MIXED_QUERIES:
            assert ours_tw.split(q) == ref_tw.split(q), q

    def test_weights_no_preprocess(self, ref_tw, ours_tw):
        for tks in TOKEN_LISTS:
            got = ours_tw.weights(tks, preprocess=False)
            want = [(t, float(w)) for t, w in ref_tw.weights(tks, preprocess=False)]
            assert got == want, tks

    def test_weights_preprocess(self, ref_tw, ours_tw):
        for q in EN_QUERIES + ZH_QUERIES:
            toks = our_tok.tokenize_text(q).split()
            got = ours_tw.weights(toks)
            want = [(t, float(w)) for t, w in ref_tw.weights(toks)]
            assert got == want, q


class TestSynonymParity:
    def test_lookup(self, ref_syn, ours_syn):
        probes = [
            "spark", "table", "engine", "data", "fast", "unknownword",
            "阿为特", "873693", "贵州茅台", "不存在的词",
        ]
        for tk in probes:
            assert sorted(ours_syn.lookup(tk)) == sorted(ref_syn.lookup(tk)), tk


class TestQueryBuildFuzz:
    def test_weights_fuzz(self, ref_tw, ours_tw):
        import random

        rng = random.Random(7)
        vocab = ("spark table join data engine 数据 处理 引擎 阿为特 873693 "
                 "x 12 3.14 a-b c++ hello-world übermut").split()
        for _ in range(60):
            tks = [rng.choice(vocab) for _ in range(rng.randint(1, 8))]
            got = ours_tw.weights(tks, preprocess=False)
            want = [(t, float(w)) for t, w in ref_tw.weights(tks, preprocess=False)]
            assert got == want, tks
            got2 = ours_tw.weights(tks)
            want2 = [(t, float(w)) for t, w in ref_tw.weights(tks)]
            assert got2 == want2, tks
