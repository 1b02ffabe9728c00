"""Outline detection + hierarchical chunking.

Behavior matched to the reference's bullet machinery
(rag/nlp/__init__.py:168-225 patterns & classification, :401-428 title
levels, :431-518 hierarchical merge), the book/laws templates' core.

Four bullet "grammars" are scored over the sections; the winner drives
either a heading-chain merge (``outline_merge``) or a level pivot
(``heading_pivot_levels``) used by the paper template.
"""

from __future__ import annotations

import re
from collections import Counter

from ..text.tokens import count_tokens

# Same four grammars as BULLET_PATTERN (rag/nlp/__init__.py:168-193):
# zh statute / numeric / zh enumeration / EN part-chapter-section.
BULLET_GROUPS: list[list[str]] = [
    [
        r"第[零一二三四五六七八九十百0-9]+(分?编|部分)",
        r"第[零一二三四五六七八九十百0-9]+章",
        r"第[零一二三四五六七八九十百0-9]+节",
        r"第[零一二三四五六七八九十百0-9]+条",
        r"[\(（][零一二三四五六七八九十百]+[\)）]",
    ],
    [
        r"第[0-9]+章",
        r"第[0-9]+节",
        r"[0-9]{,2}[\. 、]",
        r"[0-9]{,2}\.[0-9]{,2}[^a-zA-Z/%~-]",
        r"[0-9]{,2}\.[0-9]{,2}\.[0-9]{,2}",
        r"[0-9]{,2}\.[0-9]{,2}\.[0-9]{,2}\.[0-9]{,2}",
    ],
    [
        r"第[零一二三四五六七八九十百0-9]+章",
        r"第[零一二三四五六七八九十百0-9]+节",
        r"[零一二三四五六七八九十百]+[ 、]",
        r"[\(（][零一二三四五六七八九十百]+[\)）]",
        r"[\(（][0-9]{,2}[\)）]",
    ],
    [
        r"PART (ONE|TWO|THREE|FOUR|FIVE|SIX|SEVEN|EIGHT|NINE|TEN)",
        r"Chapter (I+V?|VI*|XI|IX|X)",
        r"Section [0-9]+",
        r"Article [0-9]+",
    ],
]

_FALSE_BULLET = [r"0", r"[0-9]+ +[0-9~个只-]", r"[0-9]+\.{2,}"]


def _false_bullet(line: str) -> bool:
    return any(re.match(p, line) for p in _FALSE_BULLET)


def bullet_group_of(sections: list[str]) -> int:
    """Index of the grammar with the most matching sections, -1 if none
    (``bullets_category``, rag/nlp/__init__.py:208-225)."""
    hits = [0] * len(BULLET_GROUPS)
    for gi, group in enumerate(BULLET_GROUPS):
        for sec in sections:
            stripped = sec.strip()
            for pat in group:
                if re.match(pat, stripped) and not _false_bullet(stripped):
                    hits[gi] += 1
                    break
    best, best_hits = -1, 0
    for gi, h in enumerate(hits):
        if h > best_hits:
            best, best_hits = gi, h
    return best


def _not_title(txt: str) -> bool:
    """rag/nlp/__init__.py:423-428."""
    if re.match(r"第[零一二三四五六七八九十百0-9]+条", txt):
        return False
    if len(txt.split()) > 12 or (txt.find(" ") < 0 and len(txt) >= 32):
        return True
    return bool(re.search(r"[,;，。；！!]", txt))


def heading_pivot_levels(
    group: int, sections: list[tuple[str, str]]
) -> tuple[int, list[int]]:
    """Per-section bullet level + the most frequent title level
    (``title_frequency``, rag/nlp/__init__.py:401-420)."""
    # parity quirk: for group == -1 the reference indexes
    # BULLET_PATTERN[-1] (python wrap-around -> the LAST group's size),
    # rag/nlp/__init__.py:402 — replicated, not "fixed"
    size = len(BULLET_GROUPS[group])
    levels = [size + 1] * len(sections)
    if not sections or group < 0:
        return size + 1, levels
    for i, (txt, layout) in enumerate(sections):
        for j, pat in enumerate(BULLET_GROUPS[group]):
            if re.match(pat, txt.strip()) and not _false_bullet(txt.strip()):
                levels[i] = j
                break
        else:
            if re.search(r"(title|head)", layout) and not _not_title(
                txt.split("@")[0]
            ):
                levels[i] = size
    most = size + 1
    for level, _cnt in sorted(Counter(levels).items(), key=lambda kv: -kv[1]):
        if level <= size:
            most = level
            break
    return most, levels


def _governing_index(sorted_indices: list[int], target: int) -> int:
    """Greatest index in ``sorted_indices`` that is < / == target region —
    the binary search of rag/nlp/__init__.py:455-472."""
    if not sorted_indices:
        return -1
    if target > sorted_indices[-1]:
        return len(sorted_indices) - 1
    if target < sorted_indices[0]:
        return -1
    lo, hi = 0, len(sorted_indices)
    while hi - lo > 1:
        mid = (hi + lo) // 2
        if target > sorted_indices[mid]:
            lo = mid
        elif target < sorted_indices[mid]:
            hi = mid
        else:
            raise AssertionError("target collides with a heading index")
    return lo


# token budget under which outline_merge packs consecutive singleton
# chunks
_PACK_BUDGET = 218


def outline_merge(
    group: int,
    sections: list[str] | list[tuple[str, str]],
    depth: int,
) -> list[list[str]]:
    """Heading-chain chunking (``hierarchical_merge``,
    rag/nlp/__init__.py:431-518).

    Buckets sections into bullet levels (+ layout-title + body), walks the
    top ``depth`` levels emitting, per heading, the chain of governing
    lower-level headings and the heading's body; then packs consecutive
    singleton chunks under ``_PACK_BUDGET`` tokens.
    """
    if not sections or group < 0:
        return []
    if isinstance(sections[0], str):
        sections = [(s, "") for s in sections]
    sections = [
        (t, layout)
        for t, layout in sections
        if t
        and len(t.split("@")[0].strip()) > 1
        and not re.match(r"[0-9]+$", t.split("@")[0].strip())
    ]
    size = len(BULLET_GROUPS[group])
    buckets: list[list[int]] = [[] for _ in range(size + 2)]

    for i, (txt, layout) in enumerate(sections):
        for j, pat in enumerate(BULLET_GROUPS[group]):
            if re.match(pat, txt.strip()):
                buckets[j].append(i)
                break
        else:
            if re.search(r"(title|head)", layout) and not _not_title(txt):
                buckets[size].append(i)
            else:
                buckets[size + 1].append(i)
    texts = [t for t, _ in sections]

    chains: list[list[int]] = []
    consumed = [False] * len(texts)
    buckets = buckets[::-1]
    for li, bucket in enumerate(buckets[:depth]):
        for idx in bucket:
            if consumed[idx]:
                continue
            consumed[idx] = True
            chains.append([idx])
            if li + 1 == len(buckets) - 1:
                continue
            for lj in range(li + 1, len(buckets)):
                gov = _governing_index(buckets[lj], idx)
                if gov < 0:
                    continue
                if buckets[lj][gov] > chains[-1][-1]:
                    chains[-1].pop(-1)
                chains[-1].append(buckets[lj][gov])
            for member in chains[-1]:
                consumed[member] = True

    if not chains:
        return []

    resolved = [[texts[j] for j in chain[::-1]] for chain in chains]

    packed: list[list[str]] = [[]]
    sizes = [0]
    for chain in resolved:
        if len(chain) == 1:
            n = count_tokens(re.sub(r"@@[0-9]+.*", "", chain[0]))
            if n + sizes[-1] < _PACK_BUDGET:
                packed[-1].append(chain[0])
                sizes[-1] += n
                continue
            packed.append(chain)
            sizes.append(n)
            continue
        packed.append(chain)
        sizes.append(_PACK_BUDGET)
    return packed
