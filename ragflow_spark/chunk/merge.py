"""Greedy token-budget chunk packing.

Behavior matched to ``naive_merge`` (rag/nlp/__init__.py:521-563),
including its quirks, which are part of the parity contract:

* the accumulator starts with one empty chunk (callers drop empties
  downstream, rag/nlp/__init__.py:270-271);
* a new chunk opens when the *current* chunk's token count exceeds
  ``budget * (100 - overlap_pct) / 100`` (strict >);
* with overlap, the tail fraction of the previous chunk (position tags
  stripped) is prepended to the new one;
* a section whose own token count reaches the budget is first split on
  the delimiter pattern (separators dropped);
* position tags are appended at most once per chunk, and never for
  fragments under 8 tokens.

Position tags use the reference's in-band format
``@@pn\\tx0\\tx1\\ttop\\tbottom##`` (deepdoc/parser/pdf_parser.py:918-920)
so PDF-path chunks stay byte-compatible; ``strip_position_tags`` mirrors
``RAGFlowPdfParser.remove_tag`` (:1142-1144).
"""

from __future__ import annotations

import re

from ..text.tokens import count_tokens
from .delimiters import delimiter_pattern

_TAG_RE = re.compile(r"@@[\t0-9.-]+?##")

DEFAULT_DELIMITERS = "\n!?。；！？"
DEFAULT_BUDGET = 128


def strip_position_tags(text: str) -> str:
    return _TAG_RE.sub("", text)


def greedy_merge(
    sections: list[str] | list[tuple[str, str]],
    budget: int = DEFAULT_BUDGET,
    delimiters: str = DEFAULT_DELIMITERS,
    overlap_pct: int = 0,
) -> list[str]:
    if not sections:
        return []
    if isinstance(sections[0], str):
        sections = [(s, "") for s in sections]

    chunks: list[str] = [""]
    counts: list[int] = [0]
    open_threshold = budget * (100 - overlap_pct) / 100.0
    keep_fraction = (100 - overlap_pct) / 100.0

    def push(fragment: str, tag: str, n: int) -> None:
        tag = tag or ""
        if n < 8:
            tag = ""
        if chunks[-1] == "" or counts[-1] > open_threshold:
            carried = strip_position_tags(chunks[-1])
            fragment = carried[int(len(carried) * keep_fraction):] + fragment
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


def _default_concat(img1, img2):
    """Opaque-image concat used when the caller doesn't inject one:
    keeps the pair as a flat tuple (the engine carries images as
    opaque binary payloads; PIL stacking is a deploy-time swap —
    rag/nlp/__init__.py:634-660 concat_img)."""
    if img1 and not img2:
        return img1
    if not img1 and img2:
        return img2
    if not img1 and not img2:
        return None
    if img1 is img2:
        return img1
    a = img1 if isinstance(img1, tuple) else (img1,)
    b = img2 if isinstance(img2, tuple) else (img2,)
    return a + b


def greedy_merge_docx(
    sections: list[tuple[str, object]],
    budget: int = 128,
    delimiters: str = "\n。；！？",
    concat=None,
) -> tuple[list[str], list[object]]:
    """``naive_merge_docx`` (rag/nlp/__init__.py:663-698): the greedy
    token-budget merge over (text, image) section pairs — images ride
    along and concatenate when their sections merge.  Quirks preserved:
    the seed chunk is the empty string at index 0 (the reference
    returns it; callers drop empties), and a sub-section shorter than
    8 tokens never receives a position tag."""
    from ..text.tokens import count_tokens

    from .delimiters import delimiter_pattern

    if not sections:
        return [], []
    concat = concat or _default_concat
    cks: list[str] = [""]
    images: list[object] = [None]
    tk_nums = [0]

    def add_chunk(t: str, image, pos: str = "") -> None:
        tnum = count_tokens(t)
        if tnum < 8:
            pos = ""
        if cks[-1] == "" or tk_nums[-1] > budget:
            if t.find(pos) < 0:
                t += pos
            cks.append(t)
            images.append(image)
            tk_nums.append(tnum)
        else:
            if cks[-1].find(pos) < 0:
                t += pos
            cks[-1] += t
            images[-1] = concat(images[-1], image)
            tk_nums[-1] += tnum

    dels = delimiter_pattern(delimiters)
    for sec, image in sections:
        if not dels:
            # same guard as greedy_merge: an all-quoted/empty delimiter
            # config compiles to "", and re.split("()") would shatter
            # the section into single characters
            add_chunk(sec, image, "")
            continue
        for sub_sec in re.split(r"(%s)" % dels, sec):
            if re.match(f"^{dels}$", sub_sec):
                continue
            add_chunk(sub_sec, image, "")
    return cks, images


def greedy_merge_with_images(
    texts: list,
    images: list,
    budget: int = 128,
    delimiters: str = "\n。；！？",
    concat=None,
) -> tuple[list[str], list[object]]:
    """``naive_merge_with_images`` (rag/nlp/__init__.py:566-619):
    like :func:`greedy_merge_docx` but texts/images arrive as parallel
    lists and a text may be a (text, position_tag) tuple; a new chunk
    appends the tag when the text doesn't already contain it."""
    from ..text.tokens import count_tokens

    from .delimiters import delimiter_pattern

    if not texts or len(texts) != len(images):
        return [], []
    concat = concat or _default_concat
    cks: list[str] = [""]
    result_images: list[object] = [None]
    tk_nums = [0]

    def add_chunk(t: str, image, pos: str = "") -> None:
        tnum = count_tokens(t)
        if not pos:
            pos = ""
        if tnum < 8:
            pos = ""
        if cks[-1] == "" or tk_nums[-1] > budget:
            if t.find(pos) < 0:
                t += pos
            cks.append(t)
            result_images.append(image)
            tk_nums.append(tnum)
        else:
            if cks[-1].find(pos) < 0:
                t += pos
            cks[-1] += t
            if result_images[-1] is None:
                result_images[-1] = image
            else:
                result_images[-1] = concat(result_images[-1], image)
            tk_nums[-1] += tnum

    dels = delimiter_pattern(delimiters)
    for text, image in zip(texts, images):
        if isinstance(text, tuple):
            text_str = text[0]
            text_pos = text[1] if len(text) > 1 else ""
        else:
            text_str, text_pos = text, ""
        if not dels:
            # see greedy_merge_docx: empty pattern would split per char
            add_chunk(text_str, image, text_pos)
            continue
        for sub_sec in re.split(r"(%s)" % dels, text_str):
            if re.match(f"^{dels}$", sub_sec):
                continue
            add_chunk(sub_sec, image, text_pos)
    return cks, result_images
