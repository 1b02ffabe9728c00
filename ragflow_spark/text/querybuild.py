"""Full-text query terms: the weighted term table of a question.

Clean-room port of the term half of the reference's ``FulltextQueryer``
(rag/nlp/query.py:26-217): normalizes the question (ENG/CJK spacing,
Q2B, traditional->simplified, punctuation strip), removes
interrogative filler (``rmWWW``), weighs the terms with the term
weigher and adds each term's synonyms at ``w / 4``.  The Spark scorer
(ops/retrieval.py:weighted_fulltext_scores) consumes these
``(term, weight)`` pairs directly rather than a Lucene match string.
"""

from __future__ import annotations

import re

from . import tokenizer as _tok
from .normalize import full_to_half, tradi2simp
from .synonyms import SynonymLookup
from .term_weight import TermWeighter

_WWW_PATTS = [
    (
        r"是*(什么样的|哪家|一下|那家|请问|啥样|咋样了|什么时候|何时|何地|何人|是否|是不是|多少|哪里|怎么|哪儿|怎么样|如何|哪些|是啥|啥是|啊|吗|呢|吧|咋|什么|有没有|呀|谁|哪位|哪个)是*",
        "",
    ),
    (r"(^| )(what|who|how|which|where|why)('re|'s)? ", " "),
    (
        r"(^| )('s|'re|is|are|were|was|do|does|did|don't|doesn't|didn't|has|have|be|there|you|me|your|my|mine|just|please|may|i|should|would|wouldn't|will|won't|done|go|for|with|so|the|a|an|by|i'm|it's|he's|she's|they|they're|you're|as|by|on|in|at|up|out|down|of|to|or|and|if) ",
        " ",
    ),
]


def rm_www(txt: str) -> str:
    otxt = txt
    for r, p in _WWW_PATTS:
        txt = re.sub(r, p, txt, flags=re.IGNORECASE)
    if not txt:
        txt = otxt
    return txt


def add_space_between_eng_zh(txt: str) -> str:
    txt = re.sub(r"([A-Za-z]+[0-9]+)([一-龥]+)", r"\1 \2", txt)
    txt = re.sub(r"([A-Za-z])([一-龥]+)", r"\1 \2", txt)
    txt = re.sub(r"([一-龥]+)([A-Za-z]+[0-9]+)", r"\1 \2", txt)
    txt = re.sub(r"([一-龥]+)([A-Za-z])", r"\1 \2", txt)
    return txt


class QueryBuilder:
    def __init__(
        self,
        weighter: TermWeighter | None = None,
        synonyms: SynonymLookup | None = None,
        tokenize=None,
    ):
        self.tw = weighter or TermWeighter()
        self.syn = synonyms or SynonymLookup()
        self._tokenize = tokenize or _tok.tokenize_text

    # -- weighted term table for the Spark scorer -------------------------
    def weighted_terms(self, txt: str) -> list[tuple[str, float, bool]]:
        """(term, weight, is_synonym) rows for distributed scoring: the
        EN-path cleanup regexes applied to the weighted terms, synonyms
        carried at ``w * 0.25`` (the reference's ``w / 4``)."""
        txt = add_space_between_eng_zh(txt)
        txt = re.sub(
            r"[ :|\r\n\t,，。？?/`!！&^%%()\[\]{}<>]+",
            " ",
            tradi2simp(full_to_half(txt.lower())),
        ).strip()
        txt = rm_www(txt)
        tks = self._tokenize(txt).split()
        tks_w = self.tw.weights(tks, preprocess=False)
        tks_w = [(re.sub(r"[ \\\"'^]", "", tk), w) for tk, w in tks_w]
        tks_w = [(re.sub(r"^[a-z0-9]$", "", tk), w) for tk, w in tks_w if tk]
        tks_w = [(re.sub(r"^[\+-]", "", tk), w) for tk, w in tks_w if tk]
        tks_w = [(tk.strip(), w) for tk, w in tks_w if tk.strip()]
        out: list[tuple[str, float, bool]] = []
        seen: set[str] = set()
        for tk, w in tks_w[:256]:
            if tk not in seen:
                out.append((tk, w, False))
                seen.add(tk)
            for s in self._tokenize(" ".join(self.syn.lookup(tk))).split():
                if s.strip() and s not in seen:
                    out.append((s, w * 0.25, True))
                    seen.add(s)
        return out

