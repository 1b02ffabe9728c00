"""Workload inputs: generated from the seed, pinned by digest, written
to parquet before anything is timed.

A corpus is a list of :class:`Doc` rows in the pages schema
``(url, warc_ts, html, text, lang)`` plus, per row, what a correct
extraction must produce (``expected``) and how strictly that is
checked (``check``):

* ``"text"`` — the extracted text, stripped, equals ``expected``
  byte for byte (pages from ``data.pagegen``);
* ``"lines"`` — the same line by line once runs of whitespace are
  collapsed (PDF table rows keep the column gaps as spaces);
* ``"words"`` — the extracted text holds exactly the words of
  ``expected``, in any order (two-column PDF pages: the plain text path
  merges the columns line by line, so only the word multiset is the
  generator's to promise).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
from collections import Counter
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from ragflow_spark.data.pagegen import generate_pages
from ragflow_spark.data.pdfgen import make_doc_pdf, make_two_column_pdf
from ragflow_spark.spark.udfs import sniff_doc_type

# docs per workload: sized so one local[1] pass of the transform takes
# a few seconds on a 4-core box (see README.md, "Sizing")
SIZES = {"cc_mix": 1600, "pdf_heavy": 480, "commit_resume": 1000}

# words for the generated PDFs: ASCII words, digits and
# punctuation-bearing tokens.  No CJK: the plain text path drops the
# column gap after a CJK table cell ("数据20" for cells "数据", "20"),
# which would fail the line oracle on most documents.
PDF_VOCAB = (
    "spark engine shuffle partition executor catalyst arrow lineage "
    "broadcast skew salting watermark rollup manifest codec outline "
    "a an of the to in x7 42 v2.1 alpha-beta under_score q99"
).split()

_EPOCH = dt.datetime(2024, 1, 1)


@dataclass(frozen=True)
class Doc:
    url: str
    warc_ts: dt.datetime
    html: bytes
    text: str
    lang: str
    expected: str
    check: str  # "text" | "lines" | "words"


def cc_mix(n: int, seed: int) -> list[Doc]:
    """The Common-Crawl-style page mix of ``data.pagegen``; the
    generator's ``text`` column is the expected extraction."""
    return [
        Doc(url, ts, html, text, lang, text, "text")
        for url, ts, html, text, lang in generate_pages(n, seed)
    ]


def _pdf_expected(pages: list[list[tuple]]) -> str:
    lines = []
    for page in pages:
        for kind, value in page:
            lines.append(value if kind == "line" else " ".join(value))
    return "\n".join(lines)


def pdf_heavy(n: int, seed: int) -> list[Doc]:
    """Two-page outlined PDFs with a captioned table (every odd one
    with a scrambled draw order), two in sixteen two-column pages, and
    one in sixteen an HTML article from the page mix, so the HTML
    layers stay measurable at a small share."""
    rng = random.Random(seed)
    articles = [
        r for i, r in enumerate(generate_pages(7 * (n // 16 + 1), seed)) if i % 7 in (0, 1)
    ]
    docs = []
    for i in range(n):
        ts = _EPOCH + dt.timedelta(seconds=37 * i)
        slot = i % 16
        if slot == 15:
            _, _, html, text, lang = articles[i // 16]
            docs.append(Doc(f"https://news.example.net/a-{i}", ts, html, text, lang, text, "text"))
            continue
        words = [rng.choice(PDF_VOCAB) for _ in range(rng.randint(8, 24))]
        scramble = rng.randrange(1 << 30) if i % 2 else None
        if slot in (6, 14):
            pdf, page = make_two_column_pdf(
                words, n_lines=rng.randint(4, 9), scramble_seed=scramble, return_expected=True
            )
            docs.append(
                Doc(f"https://docs.example.org/2col-{i}.pdf", ts, pdf, "", "English",
                    _pdf_expected([page]), "words")
            )
        else:
            pdf, pages = make_doc_pdf(words, doc_id=i, return_expected=True, scramble_seed=scramble)
            docs.append(
                Doc(f"https://docs.example.org/doc-{i}.pdf", ts, pdf, "", "English",
                    _pdf_expected(pages), "lines")
            )
    return docs


BUILDERS = {"cc_mix": cc_mix, "pdf_heavy": pdf_heavy, "commit_resume": cc_mix}


def build(workload: str, seed: int, n: int | None = None) -> list[Doc]:
    return BUILDERS[workload](n or SIZES[workload], seed)


def input_digest(docs: list[Doc]) -> str:
    """sha256 over every input byte, in row order: two runs compare
    only when this matches."""
    h = hashlib.sha256()
    for d in docs:
        for part in (d.url.encode(), d.html, d.text.encode(), d.lang.encode()):
            h.update(len(part).to_bytes(8, "little"))
            h.update(part)
    return h.hexdigest()


def type_histogram(docs: list[Doc]) -> dict[str, int]:
    return dict(sorted(Counter(sniff_doc_type(d.html, d.text) for d in docs).items()))


def _table(docs: list[Doc]) -> pa.Table:
    return pa.table(
        {
            "url": pa.array([d.url for d in docs], pa.string()),
            "warc_ts": pa.array([d.warc_ts for d in docs], pa.timestamp("us")),
            "html": pa.array([d.html for d in docs], pa.binary()),
            "text": pa.array([d.text for d in docs], pa.string()),
            "lang": pa.array([d.lang for d in docs], pa.string()),
        }
    )


def write_parquet(docs: list[Doc], path: str, n_files: int) -> None:
    """Rows in order, split into ``n_files`` files, so the scan has
    enough splits to spread over every core."""
    os.makedirs(path, exist_ok=True)
    table = _table(docs)
    per = -(-len(docs) // n_files)
    for k in range(n_files):
        part = table.slice(k * per, per)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"))
