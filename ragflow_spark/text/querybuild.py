"""Full-text query build: weighted terms + phrases + synonym clauses.

Clean-room port of the reference's ``FulltextQueryer``
(rag/nlp/query.py:26-217): normalizes the question (ENG/CJK spacing,
Q2B, traditional->simplified, punctuation strip), removes
interrogative filler (``rmWWW``), then builds a boosted match
expression —

* EN path: per-term weights from the term weigher, phrase bigrams at
  ``2 * max(w)``, synonym clauses at ``w / 4``;
* CJK path: per-phrase weights with fine-grained sub-terms, synonym
  OR-groups at ``^0.2``/``^0.7``, proximity clauses ``"..."~2``.

The produced :class:`MatchExpr` is engine-neutral structured data
(fields with boosts, query string, minimum_should_match); the Spark
scorer (ops/retrieval.py:weighted_fulltext_scores) consumes the
``(term, weight)`` pairs directly rather than round-tripping through a
Lucene string.  Parity with the reference string builder is tested
black-box in tests/test_term_weight_parity.py (AST-extracted reference
with identical tokenizer/weigher stubs on both sides).

Quirks preserved on purpose:
* ``isChinese`` returns True for any query of <= 3 whitespace tokens,
  so short English questions take the CJK branch (query.py:45-53);
* ``rmWWW`` is applied twice on the EN path (query.py:99-101);
* the EN bigram loop indexes the ORIGINAL weighted list, so filler
  terms removed from ``q`` still form phrases (query.py:113-124).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from . import tokenizer as _tok
from .normalize import full_to_half, tradi2simp
from .synonyms import SynonymLookup
from .term_weight import TermWeighter

QUERY_FIELDS = [
    "title_tks^10",
    "title_sm_tks^5",
    "important_kwd^30",
    "important_tks^20",
    "question_tks^20",
    "content_ltks^2",
    "content_sm_ltks",
]


@dataclass
class MatchExpr:
    fields: list[str]
    matching_text: str
    topn: int = 100
    extra_options: dict = field(default_factory=dict)


_SPECIAL = re.compile(r"([:\{\}/\[\]\-\*\"\(\)\|\+~\^])")

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


def sub_special_char(line: str) -> str:
    return _SPECIAL.sub(r"\\\1", line).strip()


def is_chinese(line: str) -> bool:
    arr = re.split(r"[ \t]+", line)
    if len(arr) <= 3:
        return True
    e = 0
    for t in arr:
        if not re.match(r"[a-zA-Z]+$", t):
            e += 1
    return e * 1.0 / len(arr) >= 0.7


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
        fine_grained=None,
    ):
        self.tw = weighter or TermWeighter()
        self.syn = synonyms or SynonymLookup()
        self._tokenize = tokenize or _tok.tokenize_text
        self._fine = fine_grained or _tok.fine_grained
        self.query_fields = list(QUERY_FIELDS)

    # -- the full query build (query.py:85-217) ---------------------------
    def question(
        self, txt: str, tbl: str = "qa", min_match: float = 0.6
    ) -> tuple[MatchExpr | None, list[str]]:
        txt = add_space_between_eng_zh(txt)
        txt = re.sub(
            r"[ :|\r\n\t,，。？?/`!！&^%%()\[\]{}<>]+",
            " ",
            tradi2simp(full_to_half(txt.lower())),
        ).strip()
        otxt = txt
        txt = rm_www(txt)

        if not is_chinese(txt):
            txt = rm_www(txt)
            tks = self._tokenize(txt).split()
            keywords = [t for t in tks if t]
            tks_w = self.tw.weights(tks, preprocess=False)
            tks_w = [(re.sub(r"[ \\\"'^]", "", tk), w) for tk, w in tks_w]
            tks_w = [(re.sub(r"^[a-z0-9]$", "", tk), w) for tk, w in tks_w if tk]
            tks_w = [(re.sub(r"^[\+-]", "", tk), w) for tk, w in tks_w if tk]
            tks_w = [(tk.strip(), w) for tk, w in tks_w if tk.strip()]
            syns = []
            for tk, w in tks_w[:256]:
                syn = self.syn.lookup(tk)
                syn = self._tokenize(" ".join(syn)).split()
                keywords.extend(syn)
                syn = ['"{}"^{:.4f}'.format(s, w / 4.0) for s in syn if s.strip()]
                syns.append(" ".join(syn))

            q = [
                "({}^{:.4f}".format(tk, w) + " {})".format(syn)
                for (tk, w), syn in zip(tks_w, syns)
                if tk and not re.match(r"[.^+\(\)-]", tk)
            ]
            for i in range(1, len(tks_w)):
                left, right = tks_w[i - 1][0].strip(), tks_w[i][0].strip()
                if not left or not right:
                    continue
                q.append(
                    '"%s %s"^%.4f'
                    % (
                        tks_w[i - 1][0],
                        tks_w[i][0],
                        max(tks_w[i - 1][1], tks_w[i][1]) * 2,
                    )
                )
            if not q:
                q.append(txt)
            query = " ".join(q)
            return MatchExpr(self.query_fields, query, 100), keywords

        def need_fine_grained_tokenize(tk: str) -> bool:
            if len(tk) < 3:
                return False
            if re.match(r"[0-9a-z\.\+#_\*-]+$", tk):
                return False
            return True

        txt = rm_www(txt)
        qs, keywords = [], []
        for tt in self.tw.split(txt)[:256]:
            if not tt:
                continue
            keywords.append(tt)
            twts = self.tw.weights([tt])
            syns = self.syn.lookup(tt)
            if syns and len(keywords) < 32:
                keywords.extend(syns)
            tms = []
            for tk, w in sorted(twts, key=lambda x: x[1] * -1):
                sm = (
                    self._fine(tk).split()
                    if need_fine_grained_tokenize(tk)
                    else []
                )
                sm = [
                    re.sub(
                        r"[ ,\./;'\[\]\\`~!@#$%\^&\*\(\)=\+_<>\?:\"\{\}\|，。；‘’【】、！￥……（）——《》？：“”-]+",
                        "",
                        m,
                    )
                    for m in sm
                ]
                sm = [sub_special_char(m) for m in sm if len(m) > 1]
                sm = [m for m in sm if len(m) > 1]

                if len(keywords) < 32:
                    keywords.append(re.sub(r"[ \\\"']+", "", tk))
                    keywords.extend(sm)

                tk_syns = self.syn.lookup(tk)
                tk_syns = [sub_special_char(s) for s in tk_syns]
                if len(keywords) < 32:
                    keywords.extend([s for s in tk_syns if s])
                tk_syns = [self._fine(s) for s in tk_syns if s]
                tk_syns = [f'"{s}"' if s.find(" ") > 0 else s for s in tk_syns]

                if len(keywords) >= 32:
                    break

                tk = sub_special_char(tk)
                if tk.find(" ") > 0:
                    tk = '"%s"' % tk
                if tk_syns:
                    tk = f"({tk} OR (%s)^0.2)" % " ".join(tk_syns)
                if sm:
                    tk = f'{tk} OR "%s" OR ("%s"~2)^0.5' % (" ".join(sm), " ".join(sm))
                if tk.strip():
                    tms.append((tk, w))

            tms = " ".join([f"({t})^{w}" for t, w in tms])

            if len(twts) > 1:
                tms += ' ("%s"~2)^1.5' % self._tokenize(tt)

            syns = " OR ".join(
                ['"%s"' % self._tokenize(sub_special_char(s)) for s in syns]
            )
            if syns and tms:
                tms = f"({tms})^5 OR ({syns})^0.7"

            qs.append(tms)

        if qs:
            query = " OR ".join([f"({t})" for t in qs if t])
            if not query:
                query = otxt
            return (
                MatchExpr(
                    self.query_fields, query, 100, {"minimum_should_match": min_match}
                ),
                keywords,
            )
        return None, keywords

    # -- weighted term table for the Spark scorer -------------------------
    def weighted_terms(
        self, txt: str, syn_weight_ratio: float = 0.25
    ) -> list[tuple[str, float, bool]]:
        """(term, weight, is_synonym) rows for distributed scoring: the
        EN-path cleanup regexes applied to the weighted terms, synonyms
        carried at ``w * ratio`` (the reference's ``w / 4``)."""
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
                    out.append((s, w * syn_weight_ratio, True))
                    seen.add(s)
        return out

