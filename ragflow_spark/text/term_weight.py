"""Per-term weights for full-text query build.

Clean-room reimplementation of the reference's term-weight dealer
(rag/nlp/term_weight.py:27-244): the retrieval score there is not
plain BM25 — every query term carries a weight

    w(t) = (0.3 * idf1(freq) + 0.7 * idf2(df)) * ner(t) * postag(t)

normalized over the query, where ``freq`` is the corpus unigram
frequency, ``df`` the document frequency, ``ner`` a named-entity class
boost (stock/corp/loca/sch -> 3, toxic -> 2, ...), and ``postag`` a
part-of-speech boost (proper nouns 3, nouns 2, pronouns/conjunctions
0.3).  Parity is tested black-box against the reference source
(AST-extracted with the tokenizer stubbed identically on both sides)
in tests/test_term_weight_parity.py.

Resources: the reference loads ``rag/res/ner.json`` and
``rag/res/term.freq``.  Those are deploy-time data (Apache-2.0), NOT
copied into this tree — ``load_resources`` reads them from a
directory holding them, e.g. the reference checkout.  With no
resources the weigher still runs with empty ne/df maps — exactly the
reference's behavior when its own loads fail (term_weight.py:82-88
catches and warns).

Scale note: weights are computed on the QUERY side only (a few dozen
terms, driver-side); the corpus side of weighted retrieval stays pure
column expressions (ops/retrieval.py), so nothing here touches the
per-row hot path.
"""

from __future__ import annotations

import json
import math
import os
import re

from . import tokenizer as _tok

# the reference's Chinese-function-word stop list (term_weight.py:29-57)
# — behavioral data, same set verbatim
STOP_WORDS = frozenset(
    [
        "请问", "您", "你", "我", "他", "是", "的", "就", "有", "于", "及",
        "即", "在", "为", "最", "从", "以", "了", "将", "与", "吗", "吧",
        "中", "#", "什么", "怎么", "哪个", "哪些", "啥", "相关",
    ]
)

_PUNCT_PAT = re.compile(
    r"[~—\t @#%!<>,\.\?\":;'\{\}\[\]_=\(\)\|，。？》•●○↓《；‘’：“”【¥ 】…￥！、·（）×`&\\/「」\\]"
)
_SINGLE_DIGIT = re.compile(r"[0-9]$")
_ONE_TERM = re.compile(r"[0-9a-z]{1,2}$")
_ALNUM_HEAD = re.compile(r"[0-9a-zA-Z]")
_ENDS_ALPHA = re.compile(r".*[a-zA-Z]$")
_NUMERICISH = re.compile(r"[0-9,.]{2,}$")
_SHORT_LATIN = re.compile(r"[a-z]{1,2}$")
_NUM_SPACE = re.compile(r"[0-9. -]{2,}$")
_LATIN_WORD = re.compile(r"[a-z. -]+$")
_TAG_NUM = re.compile(r"[0-9-]+")

# ner-class multipliers (term_weight.py:169-171); tags outside this map
# raise KeyError in the reference — same here (parity over leniency)
_NER_BOOST = {
    "toxic": 2, "func": 1, "corp": 3, "loca": 3, "sch": 3, "stock": 3,
    "firstnm": 1,
}


def load_resources(res_dir: str) -> tuple[dict, dict | set]:
    """(ne, df) maps per the reference's loaders: ner.json is a plain
    token->tag dict; term.freq is token\\tcount lines, degrading to a
    bare set when every count is zero (term_weight.py:59-77)."""
    ne: dict = {}
    df: dict | set = {}
    try:
        with open(os.path.join(res_dir, "ner.json"), encoding="utf-8") as fh:
            ne = json.load(fh)
    except Exception:
        pass
    try:
        res: dict = {}
        with open(os.path.join(res_dir, "term.freq"), encoding="utf-8") as fh:
            for line in fh:
                arr = line.replace("\n", "").split("\t")
                if len(arr) < 2:
                    res[arr[0]] = 0
                else:
                    res[arr[0]] = int(arr[1])
        df = set(res.keys()) if sum(res.values()) == 0 else res
    except Exception:
        pass
    return ne, df


class TermWeighter:
    """Query-side term weighting; tokenizer hooks injectable so parity
    tests can share one tokenizer between both implementations."""

    def __init__(
        self,
        ne: dict | None = None,
        df: dict | set | None = None,
        tokenize=None,
        tag=None,
        freq=None,
    ):
        self.ne = ne or {}
        self.df = df if df is not None else {}
        self._tokenize = tokenize or _tok.tokenize_text
        # default hooks ride the default tokenizer's trie: empty-dict
        # behavior is tag "" / freq 0, a deploy-time huqie dictionary
        # (RAGFLOW_SPARK_HUQIE) upgrades POS/freq boosts transparently
        self._tag = tag or _tok.tag
        self._freq = freq or _tok.freq

    # -- pretoken (term_weight.py:90-113) ---------------------------------
    def pretoken(self, txt: str, num: bool = False) -> list[str]:
        res = []
        for t in self._tokenize(txt).split():
            tk = t
            if tk in STOP_WORDS or (
                _SINGLE_DIGIT.match(tk) and not num
            ):
                continue
            if _PUNCT_PAT.match(t):
                tk = "#"
            if tk != "#" and tk:
                res.append(tk)
        return res

    # -- tokenMerge (term_weight.py:115-140) ------------------------------
    def token_merge(self, tks: list[str]) -> list[str]:
        def one_term(t: str) -> bool:
            return len(t) == 1 or bool(_ONE_TERM.match(t))

        res: list[str] = []
        i = 0
        while i < len(tks):
            j = i
            # leading single term glued to a following CJK multi-char word
            if (
                i == 0
                and one_term(tks[i])
                and len(tks) > 1
                and (len(tks[i + 1]) > 1 and not _ALNUM_HEAD.match(tks[i + 1]))
            ):
                res.append(" ".join(tks[0:2]))
                i = 2
                continue
            while (
                j < len(tks)
                and tks[j]
                and tks[j] not in STOP_WORDS
                and one_term(tks[j])
            ):
                j += 1
            if j - i > 1:
                if j - i < 5:
                    res.append(" ".join(tks[i:j]))
                    i = j
                else:
                    res.append(" ".join(tks[i : i + 2]))
                    i = i + 2
            else:
                if len(tks[i]) > 0:
                    res.append(tks[i])
                i += 1
        return [t for t in res if t]

    # -- ner / split (term_weight.py:142-158; ner is read inline) ---------
    def split(self, txt: str) -> list[str]:
        """Glue adjacent latin-ending tokens into one term unless either
        is tagged ``func`` — the reference's English-phrase builder."""
        tks: list[str] = []
        for t in re.sub(r"[ \t]+", " ", txt).split():
            if (
                tks
                and _ENDS_ALPHA.match(tks[-1])
                and _ENDS_ALPHA.match(t)
                and self.ne.get(t, "") != "func"
                and self.ne.get(tks[-1], "") != "func"
            ):
                tks[-1] = tks[-1] + " " + t
            else:
                tks.append(t)
        return tks

    # -- weights (term_weight.py:160-244) ----------------------------------
    def _ner_boost(self, t: str) -> float:
        if _NUMERICISH.match(t):
            return 2
        if _SHORT_LATIN.match(t):
            return 0.01
        if not self.ne or t not in self.ne:
            return 1
        return _NER_BOOST[self.ne[t]]

    def _postag_boost(self, t: str) -> float:
        tag = self._tag(t)
        if tag in ("r", "c", "d"):
            return 0.3
        if tag in ("ns", "nt"):
            return 3
        if tag == "n":
            return 2
        # NB: the reference applies this regex to the TAG string, not
        # the token (term_weight.py:183) — quirk preserved
        if _TAG_NUM.match(tag):
            return 2
        return 1

    def _freq_of(self, t: str) -> float:
        if _NUM_SPACE.match(t):
            return 3
        s = self._freq(t)
        if not s and _LATIN_WORD.match(t):
            return 300
        if not s:
            s = 0
        if not s and len(t) >= 4:
            sub = [tt for tt in _tok.fine_grained(t).split() if len(tt) > 1]
            if len(sub) > 1:
                s = min(self._freq_of(tt) for tt in sub) / 6.0
            else:
                s = 0
        return max(s, 10)

    def _df_of(self, t: str) -> float:
        if _NUM_SPACE.match(t):
            return 5
        if isinstance(self.df, dict) and t in self.df:
            return self.df[t] + 3
        if isinstance(self.df, set) and t in self.df:
            # set-mode df has no counts; the reference indexes a set the
            # same way a dict is indexed only when counts existed, so
            # set entries fall through to the latin/len branches
            pass
        if _LATIN_WORD.match(t):
            return 300
        if len(t) >= 4:
            sub = [tt for tt in _tok.fine_grained(t).split() if len(tt) > 1]
            if len(sub) > 1:
                return max(3, min(self._df_of(tt) for tt in sub) / 6.0)
        return 3

    @staticmethod
    def _idf(s: float, n: float) -> float:
        return math.log10(10 + ((n - s + 0.5) / (s + 0.5)))

    def weights(
        self, tks: list[str], preprocess: bool = True
    ) -> list[tuple[str, float]]:
        tw: list[tuple[str, float]] = []

        def weight_of(t: str) -> float:
            idf1 = self._idf(self._freq_of(t), 10000000)
            idf2 = self._idf(self._df_of(t), 1000000000)
            # float-association parity: the reference multiplies
            # ner(t) * postag(t) into one scalar BEFORE the idf mix
            return (0.3 * idf1 + 0.7 * idf2) * (
                self._ner_boost(t) * self._postag_boost(t)
            )

        if not preprocess:
            tw = [(t, weight_of(t)) for t in tks]
        else:
            for tk in tks:
                tt = self.token_merge(self.pretoken(tk, True))
                tw.extend((t, weight_of(t)) for t in tt)
        # float parity: the reference normalizes with np.sum, whose
        # PAIRWISE summation differs from sequential sum() by an ulp
        # once the list exceeds numpy's unroll block — found by fuzz
        import numpy as _np

        total = float(_np.sum(_np.asarray([s for _, s in tw], dtype=float)))
        return [(t, s / total) for t, s in tw]
