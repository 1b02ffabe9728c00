"""QA template: Q/A pair extraction from delimited text, xlsx and docx.

Behavior mirrors rag/app/qa.py (txt two-column state machine :340-376,
xlsx rows :36-77, docx heading-stack walk :185-265, chunk assembly
``"Question: q\\tAnswer: a"`` with prefix stripping :262-305) —
re-derived, no shared code.
"""

from __future__ import annotations

import re

_PREFIX_RE = re.compile(
    r"^(问题|答案|回答|user|assistant|Q|A|Question|Answer|问|答)[\t:： ]+",
    re.IGNORECASE,
)


def rm_prefix(txt: str) -> str:
    return _PREFIX_RE.sub("", txt.strip())


def qa_chunk(q: str, a: str) -> str:
    return "\t".join(["Question: " + rm_prefix(q), "Answer: " + rm_prefix(a)])


def qa_from_delimited(text: str) -> list[str]:
    """Two-column Q/A state machine: a 2-field line starts a new pair,
    other lines append to the running answer."""
    lines = text.split("\n")
    comma = sum(1 for ln in lines if len(ln.split(",")) == 2)
    tab = sum(1 for ln in lines if len(ln.split("\t")) == 2)
    delim = "\t" if tab >= comma else ","
    out: list[str] = []
    question, answer = "", ""
    for ln in lines:
        arr = ln.split(delim)
        if len(arr) != 2:
            if question:
                answer += "\n" + ln
            continue
        if question and answer:
            out.append(qa_chunk(question, answer))
        question, answer = arr
    if question:
        out.append(qa_chunk(question, answer))
    return out


def qa_from_xlsx(data: bytes) -> list[str]:
    """xlsx branch (rag/app/qa.py:36-77): per sheet, per row, the first
    non-empty cell is the question and the second the answer; rows
    without both are skipped."""
    from ..parsers.office import read_xlsx

    out: list[str] = []
    for _sheet, rows in read_xlsx(data):
        for r in rows:
            q, a = "", ""
            for cell in r:
                v = "" if cell is None else str(cell)
                if not v:
                    continue
                if not q:
                    q = v
                elif not a:
                    a = v
                else:
                    break
            if q and a:
                out.append(qa_chunk(q, a))
    return out


_HEADING_STYLE = re.compile(r"Heading ?([0-9]+)$")


def docx_style_level(style: str) -> int:
    """Heading level from a docx paragraph style (id or name);
    0 = body text (docx_question_level, rag/nlp/__init__.py:621-631
    with bull=-1)."""
    m = _HEADING_STYLE.match(style.strip())
    return int(m.group(1)) if m else 0


def qa_from_docx(data: bytes) -> tuple[list[str], list[str]]:
    """docx branch (rag/app/qa.py:185-265): Heading-styled paragraphs
    maintain a question stack (pop levels >= the new one); body
    paragraphs accumulate into the answer; tables emit as HTML with
    equal-text runs folded into colspans (the reference's exact i/j
    walk, quirks included).  Returns (qa_chunks, table_htmls)."""
    from ..parsers.office import read_docx

    paras, tables = read_docx(data)
    qa_out: list[str] = []
    q_stack: list[str] = []
    lvl_stack: list[int] = []
    last_answer = ""
    for text, style in paras:
        level, p_text = (0, "")
        if text.strip():
            level, p_text = docx_style_level(style), re.sub("　", " ", text).strip()
        if not level or level > 6:
            last_answer = f"{last_answer}\n{p_text}"
            continue
        if last_answer:
            sum_q = "\n".join(q_stack)
            if sum_q:
                qa_out.append(qa_chunk(sum_q, last_answer))
            last_answer = ""
        while q_stack and level <= lvl_stack[-1]:
            q_stack.pop()
            lvl_stack.pop()
        q_stack.append(p_text)
        lvl_stack.append(level)
    if last_answer:
        sum_q = "\n".join(q_stack)
        if sum_q:
            qa_out.append(qa_chunk(sum_q, last_answer))

    tbl_out: list[str] = []
    for rows in tables:
        html = "<table>"
        for r in rows:
            html += "<tr>"
            i = 0
            while i < len(r):
                span = 1
                c = r[i]
                # reference quirk preserved: span counts EVERY later
                # equal cell (not only adjacent) and i jumps to the
                # last equal index (rag/app/qa.py:248-256)
                for j in range(i + 1, len(r)):
                    if c == r[j]:
                        span += 1
                        i = j
                i += 1
                html += (
                    f"<td>{c}</td>" if span == 1 else f"<td colspan='{span}'>{c}</td>"
                )
            html += "</tr>"
        html += "</table>"
        tbl_out.append(html)
    return qa_out, tbl_out

