"""TAG knowledge-base template: (content, tags) pair extraction.

Port of rag/app/tag.py:26-121: two-column sources where the first
column is content and the second a comma-separated tag list; tags
normalize with ``.`` -> ``_``.  Quirks preserved: non-2-field lines
ACCUMULATE into the next pair's content with a leading newline (so
every emitted content starts with "\\n"), and the csv branch strips +
drops empty cells before the 2-field check while appending the RAW
line on mismatch.  The LLM auto-tagging pass that CONSUMES these KBs
is out of scope (§2.8); this is the data-side parser feeding it.
"""

from __future__ import annotations



def _norm_tags(a: str) -> list[str]:
    return [t.strip().replace(".", "_") for t in a.split(",") if t.strip()]


def tag_from_delimited(text: str) -> list[tuple[str, list[str]]]:
    """txt branch (tag.py:60-91): delimiter = TAB when >= as many
    2-tab-field lines as 2-comma-field lines."""
    lines = text.split("\n")
    comma = sum(1 for ln in lines if len(ln.split(",")) == 2)
    tab = sum(1 for ln in lines if len(ln.split("\t")) == 2)
    delim = "\t" if tab >= comma else ","
    out: list[tuple[str, list[str]]] = []
    content = ""
    for ln in lines:
        arr = ln.split(delim)
        if len(arr) != 2:
            content += "\n" + ln
            continue
        content += "\n" + arr[0]
        out.append((content, _norm_tags(arr[1])))
        content = ""
    return out


def tag_from_csv(text: str) -> list[tuple[str, list[str]]]:
    """csv branch (tag.py:93-118): quote-aware comma parsing, cells
    stripped and empties dropped before the 2-field test."""
    import csv as _csv

    lines = text.split("\n")
    out: list[tuple[str, list[str]]] = []
    content = ""
    for i, row in enumerate(_csv.reader(lines)):
        row = [r.strip() for r in row if r.strip()]
        if len(row) != 2:
            content += "\n" + lines[i]
            continue
        content += "\n" + row[0]
        out.append((content, _norm_tags(row[1])))
        content = ""
    return out

