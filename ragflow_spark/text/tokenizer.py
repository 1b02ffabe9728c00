"""Script-aware tokenization: the engine's ``content_ltks`` /
``content_sm_ltks`` producer.

Behavior matched to ``RagTokenizer`` (rag/nlp/rag_tokenizer.py:31-432),
now including the real dictionary-driven CJK segmentation:

1. normalize: non-word runs -> space, full->half width, lower,
   traditional->simplified (:322-325; compact t2s table in
   normalize.py — hanziconv's full table is unavailable in-sandbox,
   rarer characters pass through unchanged, documented deviation);
2. split the line into script runs (SPLIT_CHAR piece structure, then
   CJK/non-CJK alternation, :299-320);
3. Latin runs: whitespace tokens -> lemmatize -> Porter stem (:331);
4. CJK runs: bidirectional maximum matching over a character trie
   (:250-296), agreement spans taken verbatim, disagreement spans
   re-segmented by the reference's DFS over all trie segmentations
   scored by ``B/len + wordiness + log-freq sum`` (:119-230), then the
   token-merge pass over the full token stream (:236-248);
5. ``fine_grained_tokenize`` (:394-432): mostly-non-CJK token lists
   split on "/"; CJK tokens re-segmented to the SECOND-best DFS
   segmentation.

The huqie dictionary itself (InfiniFlow/huqie, fetched at deploy time
by the reference's download_deps.py:44-49) cannot be downloaded here,
so the default dictionary is empty and CJK segments fall back to
single-char tokens — the reference's own OOV behavior.  Supply a
dictionary at deploy via ``load_user_dict`` (huqie.txt format:
``word<TAB>freq<TAB>pos_tag``) or the ``RAGFLOW_SPARK_HUQIE`` env var
(read lazily per executor — ship the file with --files).  Frequencies
are stored log-scaled exactly like the reference loader
(:48-50, F = int(log(freq/1e6) + .5)) so ``freq``/``tag``/DFS scores
match bit-for-bit; parity is tested black-box against the
AST-executed reference with a shared seeded dictionary in
tests/test_cjk_tokenizer_parity.py.
"""

from __future__ import annotations

import math
import os
import re
from functools import lru_cache

from .normalize import full_to_half, tradi2simp
from .porter import lemmatize_noun, porter_stem


@lru_cache(maxsize=1 << 17)
def _stem(token: str) -> str:
    """Memoized lemmatize+stem: real corpora are Zipfian, so the hot
    vocabulary fits the cache and the stemmer runs once per type, not
    once per occurrence (~10x on the tokenize hot path)."""
    return porter_stem(lemmatize_noun(token))


_NON_WORD = re.compile(r"\W+")
_ALPHA_TOKEN = re.compile(r"[a-zA-Z_-]+$")
_NUMERIC_TOKEN = re.compile(r"[0-9,\.-]+$")
_LATIN_RUN = re.compile(r"[a-z\.-]+$")
_DIGIT_RUN = re.compile(r"[0-9\.-]+$")

# the reference's SPLIT_CHAR (rag_tokenizer.py:71) — punctuation runs
# OR latin/digit runs, both kept by re.split's capturing group
_SPLIT_CHAR = r"([ ,\.<>/?;:'\[\]\\`!@#$%^&*\(\)\{\}\|_+=《》，。？、；‘’：“”【】~！￥%……（）——-]+|[a-zA-Z0-9,\.-]+)"
_SPLIT_RE = re.compile(_SPLIT_CHAR)


def _is_cjk(ch: str) -> bool:
    return "一" <= ch <= "龥"


_ASCII_TOKEN = re.compile(r"[a-z0-9]+|_+")


def _ascii_tokenize(line: str) -> str:
    """Stemmed tokens of an ASCII line: alnum runs + '_' runs, in
    order (exactly the SPLIT_CHAR piece structure after \\W+ -> space;
    underscore is a separator the reference keeps as a token)."""
    return " ".join(_stem(t) for t in _ASCII_TOKEN.findall(line.lower()))


class CharTrie:
    """Character-level trie with terminal values and prefix probes —
    the two datrie operations the reference segmentation needs
    (``trie_[k]`` and ``has_keys_with_prefix``), over plain strings
    instead of escaped utf-8 byte keys (equivalent: the escape map is
    injective and prefix-preserving on whole characters)."""

    __slots__ = ("_root",)
    _VAL = 0  # int key can't collide with single-char str edges

    def __init__(self):
        self._root: dict = {}

    def set(self, word: str, value) -> None:
        node = self._root
        for ch in word:
            node = node.setdefault(ch, {})
        node[CharTrie._VAL] = value

    def get(self, word: str):
        node = self._root
        for ch in word:
            node = node.get(ch)
            if node is None:
                return None
        return node.get(CharTrie._VAL)

    def __contains__(self, word: str) -> bool:
        return self.get(word) is not None

    def has_keys_with_prefix(self, prefix: str) -> bool:
        node = self._root
        for ch in prefix:
            node = node.get(ch)
            if node is None:
                return False
        return True


_DENOMINATOR = 1_000_000


class WebTokenizer:
    """Trie-backed tokenizer; dictionary empty until
    :meth:`load_user_dict` (see module docstring)."""

    def __init__(self):
        self.trie = CharTrie()
        self.rtrie = CharTrie()  # reversed keys for backward matching
        self._n_words = 0

    # -- dictionary management -----------------------------------------
    def add_word(self, word: str, freq: int, tag: str = "") -> None:
        """Log-scale the raw frequency exactly like the reference
        loader (rag_tokenizer.py:48-50) and keep the higher score on
        duplicates."""
        w = word.lower()
        f = int(math.log(float(max(freq, 1)) / _DENOMINATOR) + 0.5)
        cur = self.trie.get(w)
        if cur is None or cur[0] < f:
            self.trie.set(w, (f, tag))
        self.rtrie.set(w[::-1], 1)
        self._n_words += 1

    def load_user_dict(self, path: str) -> None:
        """huqie.txt format: ``word[ \\t]freq[ \\t]tag`` per line; a
        bare ``word`` or ``word freq`` line also accepted."""
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                parts = re.split(r"[ \t]+", line.strip())
                if not parts or not parts[0]:
                    continue
                freq = int(float(parts[1])) if len(parts) > 1 else 1
                tag = parts[2] if len(parts) > 2 else ""
                self.add_word(parts[0], freq, tag)

    @property
    def has_dict(self) -> bool:
        return self._n_words > 0

    # -- trie lookups (term_weight hooks; rag_tokenizer.py:201-213) -----
    def freq(self, tk: str) -> int:
        v = self.trie.get(tk.lower())
        if v is None:
            return 0
        return int(math.exp(v[0]) * _DENOMINATOR + 0.5)

    def tag(self, tk: str) -> str:
        v = self.trie.get(tk.lower())
        return "" if v is None else v[1]

    # -- scoring (rag_tokenizer.py:215-230) ------------------------------
    def _score(self, tfts: list[tuple[str, tuple]]) -> tuple[list[str], float]:
        B = 30
        freq_sum, wordy, tks = 0, 0, []
        for tk, (f, _t) in tfts:
            freq_sum += f
            wordy += 0 if len(tk) < 2 else 1
            tks.append(tk)
        return tks, B / len(tks) + wordy / len(tks) + freq_sum

    def _sorted_segmentations(
        self, tkslist: list[list[tuple[str, tuple]]]
    ) -> list[tuple[list[str], float]]:
        return sorted(
            (self._score(tfts) for tfts in tkslist),
            key=lambda x: x[1],
            reverse=True,
        )

    # -- DFS over all trie segmentations (rag_tokenizer.py:119-198) -----
    def _dfs(self, chars: str, s: int, pre, tkslist, depth: int = 0, memo=None) -> int:
        if memo is None:
            memo = {}
        if depth > 10:
            if s < len(chars):
                tkslist.append(list(pre) + [(chars[s:], (-12, ""))])
            return s
        state = (s, tuple(tk for tk, _ in pre)) if pre else (s, None)
        if state in memo:
            return memo[state]
        res = s
        if s >= len(chars):
            tkslist.append(list(pre))
            memo[state] = s
            return s
        # runs of >= 5 identical chars collapse to one 10-char-max token
        if s < len(chars) - 4 and chars[s : s + 5] == chars[s] * 5:
            end = s
            while end < len(chars) and chars[end] == chars[s]:
                end += 1
            mid = s + min(10, end - s)
            t = chars[s:mid]
            val = self.trie.get(t)
            nxt = self._dfs(
                chars, mid, list(pre) + [(t, val if val else (-12, ""))],
                tkslist, depth + 1, memo,
            )
            res = max(res, nxt)
            memo[state] = res
            return res
        S = s + 1
        if s + 2 <= len(chars):
            t1, t2 = chars[s : s + 1], chars[s : s + 2]
            if self.trie.has_keys_with_prefix(t1) and not self.trie.has_keys_with_prefix(t2):
                S = s + 2
        if (
            len(pre) > 2
            and len(pre[-1][0]) == 1
            and len(pre[-2][0]) == 1
            and len(pre[-3][0]) == 1
        ):
            if self.trie.has_keys_with_prefix(pre[-1][0] + chars[s : s + 1]):
                S = s + 2
        for e in range(S, len(chars) + 1):
            t = chars[s:e]
            if e > s + 1 and not self.trie.has_keys_with_prefix(t):
                break
            val = self.trie.get(t)
            if val is not None:
                res = max(
                    res,
                    self._dfs(chars, e, list(pre) + [(t, val)], tkslist, depth + 1, memo),
                )
        if res > s:
            memo[state] = res
            return res
        t = chars[s : s + 1]
        val = self.trie.get(t)
        out = self._dfs(
            chars, s + 1, list(pre) + [(t, val if val else (-12, ""))],
            tkslist, depth + 1, memo,
        )
        memo[state] = out
        return out

    def _best_dfs(self, span: str) -> list[str]:
        tkslist: list = []
        self._dfs(span, 0, [], tkslist)
        return self._sorted_segmentations(tkslist)[0][0]

    # -- bidirectional maximum matching (rag_tokenizer.py:250-296) ------
    def _max_forward(self, line: str) -> tuple[list[str], float]:
        res = []
        s = 0
        while s < len(line):
            e = s + 1
            t = line[s:e]
            while e < len(line) and self.trie.has_keys_with_prefix(t):
                e += 1
                t = line[s:e]
            while e - 1 > s and t not in self.trie:
                e -= 1
                t = line[s:e]
            val = self.trie.get(t)
            res.append((t, val if val is not None else (0, "")))
            s = e
        return self._score(res)

    def _max_backward(self, line: str) -> tuple[list[str], float]:
        res = []
        s = len(line) - 1
        while s >= 0:
            e = s + 1
            t = line[s:e]
            while s > 0 and self.rtrie.has_keys_with_prefix(t[::-1]):
                s -= 1
                t = line[s:e]
            while s + 1 < e and t not in self.trie:
                s += 1
                t = line[s:e]
            val = self.trie.get(t)
            res.append((t, val if val is not None else (0, "")))
            s -= 1
        return self._score(res[::-1])

    # -- CJK segmentation: FMM/BMM agreement + DFS on disagreement
    #    (the merge loop of rag_tokenizer.py:338-389) ---------------------
    def _segment_cjk(self, run: str) -> list[str]:
        if len(run) < 2 or _LATIN_RUN.match(run) or _DIGIT_RUN.match(run):
            return [run]
        if not self.has_dict:
            # no dictionary: both directions yield per-char tokens (the
            # reference's OOV behavior)
            return list(run)
        res: list[str] = []
        tks, _ = self._max_forward(run)
        tks1, _ = self._max_backward(run)
        i, j, _i, _j = 0, 0, 0, 0
        same = 0
        while i + same < len(tks1) and j + same < len(tks) and tks1[i + same] == tks[j + same]:
            same += 1
        if same > 0:
            res.append(" ".join(tks[j : j + same]))
        _i = i + same
        _j = j + same
        j = _j + 1
        i = _i + 1
        while i < len(tks1) and j < len(tks):
            tk1, tk = "".join(tks1[_i:i]), "".join(tks[_j:j])
            if tk1 != tk:
                if len(tk1) > len(tk):
                    j += 1
                else:
                    i += 1
                continue
            if tks1[i] != tks[j]:
                i += 1
                j += 1
                continue
            res.append(" ".join(self._best_dfs("".join(tks[_j:j]))))
            same = 1
            while i + same < len(tks1) and j + same < len(tks) and tks1[i + same] == tks[j + same]:
                same += 1
            res.append(" ".join(tks[j : j + same]))
            _i = i + same
            _j = j + same
            j = _j + 1
            i = _i + 1
        if _i < len(tks1):
            res.append(" ".join(self._best_dfs("".join(tks[_j:]))))
        return " ".join(res).split()

    # -- token merge over the final stream (rag_tokenizer.py:236-248) ---
    def _merge(self, tks_str: str) -> str:
        res = []
        tks = re.sub(r"[ ]+", " ", tks_str).split()
        s = 0
        while s < len(tks):
            E = s + 1
            for e in range(s + 2, min(len(tks) + 2, s + 6)):
                tk = "".join(tks[s:e])
                if re.search(_SPLIT_CHAR, tk) and self.freq(tk):
                    E = e
            res.append("".join(tks[s:E]))
            s = E
        return " ".join(res)

    # -- script-run split (rag_tokenizer.py:299-320) --------------------
    def _script_runs(self, line: str) -> list[tuple[str, bool]]:
        runs: list[tuple[str, bool]] = []
        for piece in _SPLIT_RE.split(line):
            if not piece:
                continue
            if piece.isascii():  # fast path: pure-latin piece, one run
                runs.append((piece, False))
                continue
            s = 0
            zh = _is_cjk(piece[0])
            for e in range(1, len(piece)):
                _zh = _is_cjk(piece[e])
                if _zh != zh:
                    runs.append((piece[s:e], zh))
                    s = e
                    zh = _zh
            runs.append((piece[s:], zh))
        return runs

    # -- public API -----------------------------------------------------
    def tokenize(self, line: str) -> str:
        # exact fast path for the dominant web case: Q2B and trad->simp
        # are identity on ASCII, and \W+ -> space only separates what
        # the alnum-run findall separates anyway, so the SPLIT_CHAR
        # piece structure reduces to alnum runs and "_" runs
        # (underscore is a separator the reference keeps as a token).
        # With a dictionary loaded the merge_ pass may glue adjacent
        # tokens, so the fast path only applies dict-free.
        if line.isascii() and not self.has_dict:
            return _ascii_tokenize(line)
        # normalize order parity (rag_tokenizer.py:322-325): strip
        # non-word runs, Q2B, lowercase, traditional->simplified
        line = _NON_WORD.sub(" ", line)
        if line.isascii() and not self.has_dict:
            return _ascii_tokenize(line)
        line = tradi2simp(full_to_half(line).lower())
        tokens: list[str] = []
        for run, cjk in self._script_runs(line):
            if not run.strip():
                continue
            if not cjk:
                tokens.extend(_stem(t) for t in run.split())
            else:
                tokens.extend(self._segment_cjk(run))
        out = " ".join(tokens)
        return self._merge(out) if self.has_dict else out

    def fine_grained_tokenize(self, tks: str) -> str:
        if not self.has_dict:
            # dict-free behavior: the DFS can never produce a second
            # segmentation, so every CJK token stays as-is
            if tks and tks.isascii() and "/" not in tks:
                return " ".join(tks.split())
        tokens = tks.split()
        cjk_count = sum(1 for t in tokens if t and _is_cjk(t[0]))
        if cjk_count < len(tokens) * 0.2:
            out: list[str] = []
            for t in tokens:
                out.extend(t.split("/"))
            return " ".join(out)
        res: list[str] = []
        for tk in tokens:
            if len(tk) < 3 or _NUMERIC_TOKEN.match(tk):
                res.append(tk)
                continue
            tkslist: list = []
            if len(tk) > 10:
                tkslist.append(tk)
            else:
                self._dfs(tk, 0, [], tkslist)
            if len(tkslist) < 2:
                res.append(tk)
                continue
            stk = self._sorted_segmentations(tkslist)[1][0]
            if len(stk) == len(tk):
                stk = tk
            else:
                if _LATIN_RUN.match(tk):
                    if any(len(t) < 3 for t in stk):
                        stk = tk
                    else:
                        stk = " ".join(stk)
                else:
                    stk = " ".join(stk)
            res.append(stk)
        return " ".join(
            _stem(t) if _ALPHA_TOKEN.match(t) else t for t in res
        ).strip()


def _make_default() -> WebTokenizer:
    """Default tokenizer; picks up a deploy-provided huqie-format
    dictionary from RAGFLOW_SPARK_HUQIE (lazy, once per process — on a
    cluster each executor reads its local --files copy)."""
    tok = WebTokenizer()
    path = os.environ.get("RAGFLOW_SPARK_HUQIE", "")
    if path and os.path.exists(path):
        tok.load_user_dict(path)
    return tok


_DEFAULT = _make_default()


def tokenize_text(line: str) -> str:
    return _DEFAULT.tokenize(line)


def fine_grained(tks: str) -> str:
    return _DEFAULT.fine_grained_tokenize(tks)


def freq(tk: str) -> int:
    return _DEFAULT.freq(tk)


def tag(tk: str) -> str:
    return _DEFAULT.tag(tk)


_TABLE_TAG = re.compile(r"</?(table|td|caption|tr|th)( [^<>]{0,12})?>")


def content_tokens(chunk_text: str) -> tuple[str, str]:
    """(content_ltks, content_sm_ltks) for one chunk — mirrors
    ``tokenize`` (rag/nlp/__init__.py:260-264) incl. table-tag strip."""
    plain = _TABLE_TAG.sub(" ", chunk_text) if "<" in chunk_text else chunk_text
    ltks = tokenize_text(plain)
    return ltks, fine_grained(ltks)
