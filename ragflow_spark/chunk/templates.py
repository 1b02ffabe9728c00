"""Template chunkers over section lists.

Each template mirrors one of the reference's chunker entry points, with
the parser stage factored out: the input here is always the section list
a parser produced (HTML extraction, txt split, PDF lines, ...), and the
output is the list of chunk strings the reference's ``chunk(...,
section_only=True)`` would return.

* naive — rag/app/naive.py:383-577 (router + greedy merge)
* book  — rag/app/book.py:65-152
* laws  — rag/app/laws.py:143-211
* paper — rag/app/paper.py:140-211 (pivot merge over heading levels)
* one   — rag/app/one.py:69-132 (whole document, original order)

Determinism note: the reference samples sections with ``random.choices``
before language/bullet classification (rag/app/book.py:131-133).  At
cluster scale a per-row RNG is a reproducibility hazard, so this engine
classifies over the *full* section list — a deterministic superset of any
sample, which agrees with the sampled verdict on all non-adversarial
inputs (SURVEY.md §7 determinism note).
"""

from __future__ import annotations

import re

from ..text.normalize import looks_english
from .hierarchy import bullet_group_of, heading_pivot_levels, outline_merge
from .merge import DEFAULT_DELIMITERS, greedy_merge, nonempty_chunks
from .toc import drop_toc_sections, synthesize_colon_titles


def naive_chunks(
    sections: list[str],
    budget: int = 128,
    delimiters: str = DEFAULT_DELIMITERS,
) -> list[str]:
    """HTML/txt/json path of naive.chunk: drop empty sections, greedy
    merge, drop blank chunks (rag/app/naive.py:521-525,567-577)."""
    pairs = [(s, "") for s in sections if s]
    return nonempty_chunks(greedy_merge(pairs, budget, delimiters))


def book_chunks(sections: list[str]) -> list[str]:
    pairs = [(s, "") for s in sections if s]
    eng = looks_english(" ".join(t for t, _ in pairs)[:2000])
    drop_toc_sections(pairs, eng=eng)
    synthesize_colon_titles(pairs)
    group = bullet_group_of([t for t, _ in pairs])
    if group >= 0:
        merged = outline_merge(group, pairs, depth=5)
        return nonempty_chunks(["\n".join(ck) for ck in merged])
    # no outline: fall back to greedy merge at the book budget (256)
    # with the book delimiter set (rag/app/book.py:140-144)
    split_pairs = []
    for t, _ in pairs:
        halves = t.split("@")
        if len(halves) == 2:
            split_pairs.append((halves[0], "@" + halves[1]))
        else:
            split_pairs.append((halves[0], ""))
    return nonempty_chunks(greedy_merge(split_pairs, 256, "\n。；！？"))


def laws_chunks(sections: list[str]) -> list[str]:
    secs = [s for s in sections if s]
    eng = looks_english(" ".join(secs)[:2000])
    drop_toc_sections(secs, eng=eng)
    synthesize_colon_titles(secs)
    group = bullet_group_of(secs)
    merged = outline_merge(group, secs, depth=5)
    return nonempty_chunks(["\n".join(ck) for ck in merged])


def paper_chunks(sections: list[tuple[str, str]]) -> list[str]:
    """Pivot merge: chunk boundaries where a heading at (or above) the
    most frequent title level starts (rag/app/paper.py:190-210)."""
    if not sections:
        return []
    group = bullet_group_of([t for t, _ in sections])
    most_level, levels = heading_pivot_levels(group, sections)
    sec_ids: list[int] = []
    sid = 0
    for i, lvl in enumerate(levels):
        if lvl <= most_level and i > 0 and lvl != levels[i - 1]:
            sid += 1
        sec_ids.append(sid)
    chunks: list[str] = []
    last = -2
    for (txt, _), sec_id in zip(sections, sec_ids):
        if sec_id == last and chunks:
            chunks[-1] += "\n" + txt
            continue
        chunks.append(txt)
        last = sec_id
    return nonempty_chunks(chunks)


def one_chunk(sections: list[str]) -> list[str]:
    joined = "\n".join(s for s in sections if s)
    return [joined] if joined.strip() else []


def presentation_chunks(sections: list[str]) -> list[str]:
    """One chunk per slide/page, original order (rag/app/presentation.py:
    101-168 minus the vision-LLM page images)."""
    return [s for s in sections if s.strip()]


_PRES_GARBAGE_RE = re.compile(r"[0-9\.,%/-]+$")


def presentation_garbage(txt: str) -> bool:
    """``Pdf.__garbage`` (rag/app/presentation.py:62-68): numeric /
    punctuation-only or sub-3-char box texts are dropped."""
    txt = txt.lower().strip()
    if _PRES_GARBAGE_RE.match(txt):
        return True
    return len(txt) < 3


def presentation_pdf_pages(
    pdf: bytes,
) -> list[tuple[str, tuple[int, int, int, int, int]]]:
    """The presentation template's PDF branch (rag/app/presentation.py:
    70-87 ``Pdf.__call__`` + :146-157 chunk assembly): every page is
    one chunk — the page's box texts joined minus garbage — carrying
    ``(page, 0, w, 0, h)`` position metadata.  Boxes come from the
    positioned-char path; page thumbnails are oos, so w/h are the
    MediaBox extent where the reference uses the rendered image size."""
    from ..parsers.pdf_chars import pdf_pages_chars
    from ..pdf.assemble import assemble_page_boxes, page_stats

    pages = pdf_pages_chars(pdf)
    _mh, mean_w, _cum = page_stats(pages)
    out: list[tuple[str, tuple[int, int, int, int, int]]] = []
    seq = [0]
    for pn, p in enumerate(pages, start=1):
        em = mean_w[pn - 1] if mean_w[pn - 1] > 0 else 8.0
        boxes = assemble_page_boxes(p["chars"], pn, em, seq)
        lines = "\n".join(
            b["text"] for b in boxes if not presentation_garbage(b["text"])
        )
        out.append((lines, (pn, 0, int(p["width"]), 0, int(p["height"]))))
    return out


TEMPLATES = {
    "naive": lambda secs, **kw: naive_chunks(secs, **kw),
    "book": lambda secs, **kw: book_chunks(secs),
    "laws": lambda secs, **kw: laws_chunks(secs),
    "paper": lambda secs, **kw: paper_chunks([(s, "") for s in secs if s]),
    "one": lambda secs, **kw: one_chunk(secs),
    "presentation": lambda secs, **kw: presentation_chunks(secs),
}


def chunk_sections(template: str, sections: list[str], **kw) -> list[str]:
    fn = TEMPLATES.get(template or "naive", TEMPLATES["naive"])
    return fn(sections, **kw)
