"""Plain-text chunk splitting.

Behavior matched to ``RAGFlowTxtParser.parser_txt``
(deepdoc/parser/txt_parser.py:28-64) with its default delimiters:
split on them (separators dropped), pack until the current chunk's
token count exceeds the budget (note: the reference checks the count
*before* adding — quirk preserved), and return ``[text, ""]`` pairs.
"""

from __future__ import annotations

import re

from ..chunk.delimiters import delimiter_pattern
from ..text.tokens import count_tokens

# the reference's default delimiters; its unicode-unescape of the
# config (txt_parser.py:34) leaves this string as it is
_PATTERN = delimiter_pattern("\n!?;。；！？")
_SPLIT = re.compile(f"({_PATTERN})")
_ONLY_DELIM = re.compile(f"^{_PATTERN}$")


def split_txt(txt: str, budget: int = 128) -> list[list[str]]:
    chunks = [""]
    counts = [0]

    def push(piece: str) -> None:
        n = count_tokens(piece)
        if counts[-1] > budget:
            chunks.append(piece)
            counts.append(n)
        else:
            chunks[-1] += piece
            counts[-1] += n

    for piece in _SPLIT.split(txt):
        if _ONLY_DELIM.match(piece):
            continue
        push(piece)
    return [[c, ""] for c in chunks]
