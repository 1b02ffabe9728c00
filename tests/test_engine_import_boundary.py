"""The extraction path imports only the engine.

A fresh interpreter imports ``ragflow_spark.spark.udfs`` (what a worker
imports) and routes one document of each routed type through
``extract_document_ex`` -> ``chunk_sections`` -> ``content_tokens``.
None of the off-path families may load on the way: the operator suite
(``ops``), the test and benchmark generators (``data``), the query-side
text modules, the chunk templates the extraction job never selects and
the layout-model modules of ``pdf/`` the positioned-char path does not
call.  This pins the boundary a package split would draw before any
module moves.
"""

from __future__ import annotations

import json
import os
import pickle
import subprocess
import sys

from ragflow_spark.data.pdfgen import make_doc_pdf
from tests.test_office_parsers import make_docx

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

OFF_PATH = (
    "ragflow_spark.ops",
    "ragflow_spark.data",
    "ragflow_spark.parsers.markdown",
    "ragflow_spark.pdf.geometry",
    "ragflow_spark.pdf.tablefig",
    "ragflow_spark.pdf.tsr",
    "ragflow_spark.text.querybuild",
    "ragflow_spark.text.term_weight",
    "ragflow_spark.text.synonyms",
    "ragflow_spark.chunk.qa",
    "ragflow_spark.chunk.manual_template",
    "ragflow_spark.chunk.table_template",
    "ragflow_spark.chunk.tag_template",
)

_ROUTE = r"""
import json, pickle, sys

from ragflow_spark.spark.udfs import extract_document_ex
from ragflow_spark.chunk.templates import chunk_sections
from ragflow_spark.text.tokenizer import content_tokens

with open(sys.argv[1], "rb") as f:
    docs = pickle.load(f)
routed = {}
for name, body in docs.items():
    doc_type, _title, _text, sections, mode = extract_document_ex(body, None, "en")
    chunks = chunk_sections("naive", sections)
    tokens = [content_tokens(c) for c in chunks]
    routed[name] = [doc_type, mode, len(chunks), sum(bool(t[0]) for t in tokens)]
print(json.dumps({"routed": routed, "modules": sorted(sys.modules)}))
"""


def test_extraction_path_loads_no_off_path_module(tmp_path):
    words = "engine boundary test words for a small document".split()
    docs = {
        "html": b"<html><head><title>T</title></head><body><h1>Heading</h1>"
        b"<p>" + b" ".join(w.encode() for w in words * 8) + b"</p></body></html>",
        "pdf": make_doc_pdf(words),
        "txt": b"A plain text document.\nIts second line has more words.\n",
        "json": json.dumps({"title": "a record", "body": " ".join(words)}).encode(),
        "eml": b"From: a@example.com\r\nTo: b@example.com\r\nSubject: hello\r\n"
        b"Content-Type: text/plain\r\n\r\nThe body of a short message.\r\n",
        "docx": make_docx(),
    }
    path = tmp_path / "docs.pkl"
    path.write_bytes(pickle.dumps(docs))
    proc = subprocess.run(
        [sys.executable, "-c", _ROUTE, str(path)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    for name, (doc_type, mode, n_chunks, n_tokenized) in out["routed"].items():
        assert doc_type == name and mode != "extract-error", (name, doc_type, mode)
        assert n_chunks and n_tokenized == n_chunks, (name, n_chunks, n_tokenized)
    loaded = [
        m for m in out["modules"] if any(m == p or m.startswith(p + ".") for p in OFF_PATH)
    ]
    assert loaded == []
