"""Synonym expansion for query build.

Clean-room port of rag/nlp/synonym.py:Dealer semantics:

* pure-lowercase-latin tokens resolve through WordNet synsets
  (``synset.name().split('.')[0]`` with underscores -> spaces, the
  token itself removed);
* everything else resolves through a JSON dictionary
  (``synonym.json`` — ticker <-> company-name pairs in the reference
  tree), key lowercased and space-squeezed, value string-or-list,
  truncated to ``topn``.

nltk is not installed in this sandbox, so the WordNet hook is
injectable (tests stub it identically on both sides of the parity
check) and degrades to [] when unavailable — matching a reference
deploy with an empty WordNet corpus.  The redis hot-reload path of the
reference (synonym.py:47-66) is deploy plumbing, not query semantics,
and is intentionally out of scope; at cluster scale the dictionary is
a broadcast read-only map.
"""

from __future__ import annotations

import json
import os
import re

_LATIN = re.compile(r"[a-z]+$")
_WS = re.compile(r"[ \t]+")


def _default_wordnet(tk: str) -> list[str]:
    try:
        from nltk.corpus import wordnet  # type: ignore
    except Exception:
        return []
    try:
        names = {re.sub("_", " ", s.name().split(".")[0]) for s in wordnet.synsets(tk)}
    except Exception:
        return []
    return [t for t in names - {tk} if t]


def load_synonyms(res_dir: str) -> dict:
    try:
        with open(os.path.join(res_dir, "synonym.json"), encoding="utf-8") as fh:
            return json.load(fh)
    except Exception:
        return {}


class SynonymLookup:
    def __init__(self, dictionary: dict | None = None, wordnet_fn=None):
        self.dictionary = dictionary or {}
        self._wordnet = wordnet_fn or _default_wordnet

    def lookup(self, tk: str) -> list[str]:
        if _LATIN.match(tk):
            return [t for t in self._wordnet(tk) if t]
        res = self.dictionary.get(_WS.sub(" ", tk.lower()), [])
        if isinstance(res, str):
            res = [res]
        return res[:8]
