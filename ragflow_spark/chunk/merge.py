"""Greedy token-budget chunk packing.

Behavior matched to ``naive_merge`` (rag/nlp/__init__.py:521-563),
including its quirks, which are part of the parity contract:

* the accumulator starts with one empty chunk (callers drop empties
  downstream, rag/nlp/__init__.py:270-271);
* a new chunk opens when the *current* chunk's token count exceeds
  ``budget`` (strict >); the reference's ``overlapped_percent`` is
  always 0 here, so no tail of the previous chunk is carried;
* a section whose own token count reaches the budget is first split on
  the delimiter pattern (separators dropped);
* position tags are appended at most once per chunk, and never for
  fragments under 8 tokens.

Position tags use the reference's in-band format
``@@pn\\tx0\\tx1\\ttop\\tbottom##`` (deepdoc/parser/pdf_parser.py:918-920)
so PDF-path chunks stay byte-compatible.
"""

from __future__ import annotations

import re

from ..text.tokens import count_tokens
from .delimiters import delimiter_pattern

DEFAULT_DELIMITERS = "\n!?。；！？"
DEFAULT_BUDGET = 128


def greedy_merge(
    sections: list[str] | list[tuple[str, str]],
    budget: int = DEFAULT_BUDGET,
    delimiters: str = DEFAULT_DELIMITERS,
) -> list[str]:
    if not sections:
        return []
    if isinstance(sections[0], str):
        sections = [(s, "") for s in sections]

    chunks: list[str] = [""]
    counts: list[int] = [0]

    def push(fragment: str, tag: str, n: int) -> None:
        tag = tag or ""
        if n < 8:
            tag = ""
        if chunks[-1] == "" or counts[-1] > budget:
            if fragment.find(tag) < 0:
                fragment += tag
            chunks.append(fragment)
            counts.append(n)
        else:
            if chunks[-1].find(tag) < 0:
                fragment += tag
            chunks[-1] += fragment
            counts[-1] += n

    pattern = delimiter_pattern(delimiters)
    only_delim = re.compile(f"^{pattern}$") if pattern else None
    # one count per section, or per piece of a section split on the
    # delimiters
    for text, tag in sections:
        n = count_tokens(text)
        if n < budget or not pattern:
            push(text, tag, n)
            continue
        for piece in re.split(f"({pattern})", text, flags=re.DOTALL):
            if only_delim is not None and only_delim.match(piece):
                continue
            push(piece, tag, count_tokens(piece))

    return chunks


def nonempty_chunks(chunks: list[str]) -> list[str]:
    """Drop blank chunks, as ``tokenize_chunks`` does
    (rag/nlp/__init__.py:270-271)."""
    return [c for c in chunks if c.strip()]

