"""Deterministic token counting.

The reference budgets every chunker with tiktoken cl100k_base
(rag/utils/__init__.py:78-89).  tiktoken (and its network-fetched BPE
vocabulary) is not available in this environment, so the engine uses a
pinned, dependency-free estimator with cl100k-like magnitude:

* a run of latin letters      -> ceil(len / 7) tokens (>=1)
* a run of digits             -> ceil(len / 3) tokens (cl100k packs <=3)
* one CJK / other non-ASCII   -> 1 token per char
* one punctuation / symbol    -> 1 token
* whitespace                  -> 0 (cl100k folds the leading space)

When ``RAGFLOW_SPARK_TIKTOKEN`` points at a cl100k ranks file, counting
switches to the exact from-scratch BPE implementation
(``text.bpe`` — the public byte-pair-merge algorithm + the published
pretokenizer pattern), making every budget reference-exact at deploy
time.  Without it the estimator is the engine's single source of truth —
every chunker and test uses it, so chunk boundaries are stable across
runs and across cluster sizes.
"""

from __future__ import annotations

import re

from .bpe import deployed_encoder

# One token per match by construction: a greedy {1,7} letter block is
# exactly one ceil(run/7) unit (likewise {1,3} for digit runs), and any
# other non-space char is one token — so count == len(findall), one
# C-level scan (hot path: every chunker calls this per split fragment).
_COUNT_RE = re.compile(r"[A-Za-z]{1,7}|[0-9]{1,3}|[^\sA-Za-z0-9]")


def count_tokens(text: str) -> int:
    """Single C-level scan, exactly equal to the documented per-run
    estimator sum (see ``_COUNT_RE``).  With a deployed cl100k
    vocabulary this is the exact BPE count instead."""
    if not text:
        return 0
    enc = deployed_encoder()
    if enc is not None:
        return enc.count(text)
    return len(_COUNT_RE.findall(text))

