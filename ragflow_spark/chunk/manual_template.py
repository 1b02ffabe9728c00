"""MANUAL template: outline-pivoted section grouping for long PDFs.

Port of the model-free core of rag/app/manual.py:172-258 (the OCR /
layout detector stages are plugin-tagged upstream, §2.4):

* section levels come from the PDF outline when it covers > 3% of the
  sections (bigram-set overlap > 0.8 matches a section to an outline
  entry), else from the bullet grammar + title-frequency pivot;
* consecutive sections group into ``sec_id`` runs split at levels
  above the pivot; table rows splice in at ``sec_id`` -1 (page-sorted);
* the merge loop packs a chunk while it holds < 32 tokens, or < 1024
  tokens while still inside the same section run, position tags
  appended per piece.
"""

from __future__ import annotations

from ..text.tokens import count_tokens
from .hierarchy import bullet_group_of, heading_pivot_levels

Poss = list[tuple[float, float, float, float, float]]


def manual_levels(
    sections: list[tuple[str, str, Poss]],
    outlines: list[tuple[str, int]],
) -> tuple[int, list[int]]:
    """(most_level, per-section level) — manual.py:198-216."""
    if len(sections) > 0 and outlines and len(outlines) / len(sections) > 0.03:
        max_lvl = max(lvl for _, lvl in outlines)
        most_level = max(0, max_lvl - 1)
        levels: list[int] = []
        for txt, _, _ in sections:
            for t, lvl in outlines:
                tks = set(t[i] + t[i + 1] for i in range(len(t) - 1))
                tks_ = set(
                    txt[i] + txt[i + 1] for i in range(min(len(t), len(txt) - 1))
                )
                if len(tks & tks_) / max(len(tks), len(tks_), 1) > 0.8:
                    levels.append(lvl)
                    break
            else:
                levels.append(max_lvl + 1)
        return most_level, levels
    bull = bullet_group_of([txt for txt, _, _ in sections])
    return heading_pivot_levels(bull, [(txt, lvl) for txt, lvl, _ in sections])


def _tag(pn, left, right, top, bottom) -> str:
    if pn + left + right + top + bottom == 0:
        return ""
    return "@@{}\t{:.1f}\t{:.1f}\t{:.1f}\t{:.1f}##".format(
        pn, left, right, top, bottom
    )


def manual_pdf_chunks(
    sections: list[tuple[str, str, Poss]],
    tbls: list[tuple[list, Poss]],
    outlines: list[tuple[str, int]],
) -> list[str]:
    """The pdf-branch post-processing (manual.py:217-253).  ``tbls``
    rows are (content_rows, positions) — tablefig shape; the reference
    splices only the FIRST table row (quirk preserved)."""
    most_level, levels = manual_levels(sections, outlines)
    assert len(sections) == len(levels)
    sec_ids: list[int] = []
    sid = 0
    for i, lvl in enumerate(levels):
        if lvl <= most_level and i > 0 and lvl != levels[i - 1]:
            sid += 1
        sec_ids.append(sid)

    merged: list[tuple[str, int, Poss]] = [
        (txt, sec_ids[i], poss) for i, (txt, _, poss) in enumerate(sections)
    ]
    for rows, poss in tbls:
        if not rows:
            continue
        merged.append(
            (
                rows if isinstance(rows, str) else rows[0],
                -1,
                [(p[0] + 1, p[1], p[2], p[3], p[4]) for p in poss],
            )
        )

    chunks: list[str] = []
    last_sid = -2
    tk_cnt = 0
    for txt, sec_id, poss in sorted(
        merged, key=lambda x: (x[-1][0][0], x[-1][0][3], x[-1][0][1])
    ):
        poss_s = "\t".join(_tag(*pos) for pos in poss)
        if tk_cnt < 32 or (tk_cnt < 1024 and (sec_id == last_sid or sec_id == -1)):
            if chunks:
                chunks[-1] += "\n" + txt + poss_s
                tk_cnt += count_tokens(txt)
                continue
        chunks.append(txt + poss_s)
        tk_cnt = count_tokens(txt)
        if sec_id > -1:
            last_sid = sec_id
    return chunks

