"""Single-process kernel rate over one extractbench workload's documents.

    python3 scripts/kernel_rate.py --workload pdf_heavy --seed 1 --layer pdf
    python3 scripts/kernel_rate.py --workload cc_mix --seed 1 --layer doc

The documents come from ``extractbench.corpus.build`` (the workload's
own generator and sizes).  ``--layer pdf`` times
``parsers.pdf.extract_pdf_text_mode`` over the workload's PDFs;
``--layer doc`` times the chunk UDF's per-document work over every row:
``extract_document_ex`` -> ``chunk_sections`` -> ``content_tokens``.
No Spark runs.

The reading is the median of ``--runs`` timed passes (default 5) after
one warm pass.  One more, instrumented pass (not timed) gives the
per-layer split of the kernel time and the share of pages whose glyphs
pass ``dedupe_chars``'s clean-page check.  The last stdout line is one
JSON object: ``docs_per_s``, ``median_s``, ``runs_s``, ``split_ms``,
``dedupe_clean_share`` and ``sha256``, a digest of every output that
two trees share when they extract the same bytes.  Compare two trees
by running this file from each of them, alternating.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from extractbench import corpus  # noqa: E402
from ragflow_spark.chunk.templates import chunk_sections  # noqa: E402
from ragflow_spark.parsers import pdf as pdf_mod  # noqa: E402
from ragflow_spark.parsers import pdf_chars  # noqa: E402
from ragflow_spark.spark.pipeline import PipelineConfig  # noqa: E402
from ragflow_spark.spark.udfs import (  # noqa: E402
    content_tokens,
    extract_document_ex,
    sniff_doc_type,
)

_CFG = PipelineConfig(out_dir="")


def _text_input(doc: corpus.Doc) -> str | None:
    """The ``text`` value the extraction UDF sees: the pipeline keeps
    it only for empty and PDF rows."""
    if not doc.html or b"%PDF-" in doc.html[:64]:
        return doc.text
    return None


def _run_pdf(pdfs: list[bytes], digest=None) -> None:
    for b in pdfs:
        text, mode = pdf_mod.extract_pdf_text_mode(b)
        if digest is not None:
            digest.update(f"{len(text)}:{text}\x1f{mode}\x1e".encode("utf-8", "surrogatepass"))


def _run_doc(
    docs: list[corpus.Doc],
    digest=None,
    split: dict[str, float] | None = None,
) -> None:
    clock = time.perf_counter
    for d in docs:
        t0 = clock()
        ex = extract_document_ex(d.html, _text_input(d), d.lang)
        t1 = clock()
        chunks = chunk_sections(
            _CFG.template, ex[3], budget=_CFG.budget, delimiters=_CFG.delimiters
        )
        t2 = clock()
        toks = [content_tokens(c) for c in chunks]
        t3 = clock()
        if split is not None:
            split["extract"] += t1 - t0
            split["chunk"] += t2 - t1
            split["tokens"] += t3 - t2
        if digest is not None:
            digest.update(repr((d.url, ex, chunks, toks)).encode("utf-8", "surrogatepass"))


@contextmanager
def _timed(module, name: str, acc: dict[str, float], key: str, outer_only: bool = False):
    """Wrap ``module.name`` so every call adds its wall time to
    ``acc[key]``; ``outer_only`` skips the time of recursive calls."""
    orig = getattr(module, name)
    depth = [0]

    def wrapper(*args, **kwargs):
        if outer_only and depth[0]:
            return orig(*args, **kwargs)
        depth[0] += 1
        t0 = time.perf_counter()
        try:
            return orig(*args, **kwargs)
        finally:
            acc[key] += time.perf_counter() - t0
            depth[0] -= 1

    setattr(module, name, wrapper)
    try:
        yield
    finally:
        setattr(module, name, orig)


@contextmanager
def _dedupe_census(counts: dict[str, int]):
    """Count ``dedupe_chars`` pages and those its clean-page check
    passes (absent in trees without the check: the share reads null)."""
    check = getattr(pdf_chars, "_dedupe_candidates", None)
    if check is None:
        yield
        return

    def wrapper(*args, **kwargs):
        out = check(*args, **kwargs)
        counts["pages"] += 1
        counts["clean"] += not out
        return out

    pdf_chars._dedupe_candidates = wrapper
    try:
        yield
    finally:
        pdf_chars._dedupe_candidates = check


def _instrumented_pdf(pdfs: list[bytes]) -> tuple[dict[str, float], dict[str, int]]:
    acc = dict.fromkeys(("total", "pages_chars", "interpret", "dedupe"), 0.0)
    counts = {"pages": 0, "clean": 0}
    with _timed(pdf_chars, "_interpret_page", acc, "interpret", outer_only=True), \
            _timed(pdf_chars, "dedupe_chars", acc, "dedupe"), \
            _timed(pdf_chars, "pdf_pages_chars", acc, "pages_chars"), \
            _dedupe_census(counts):
        t0 = time.perf_counter()
        _run_pdf(pdfs)
        acc["total"] = time.perf_counter() - t0
    split = {
        "interpret": acc["interpret"],
        "dedupe": acc["dedupe"],
        "objects_fonts": acc["pages_chars"] - acc["interpret"] - acc["dedupe"],
        "lines_assembly": acc["total"] - acc["pages_chars"],
    }
    return split, counts


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(corpus.BUILDERS), default="pdf_heavy")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--layer", choices=("pdf", "doc"), default="pdf")
    ap.add_argument("--runs", type=int, default=5)
    args = ap.parse_args(argv)

    docs = corpus.build(args.workload, args.seed)
    if args.layer == "pdf":
        items = [bytes(d.html) for d in docs if sniff_doc_type(d.html, d.text) == "pdf"]

        def one_pass(digest=None):
            _run_pdf(items, digest)
    else:
        items = docs

        def one_pass(digest=None):
            _run_doc(items, digest)

    digest = hashlib.sha256()
    one_pass(digest)  # warm pass; also the output digest
    runs = []
    for _ in range(args.runs):
        t0 = time.perf_counter()
        one_pass()
        runs.append(time.perf_counter() - t0)
    med = statistics.median(runs)

    counts = {"pages": 0, "clean": 0}
    if args.layer == "pdf":
        split, counts = _instrumented_pdf(items)
    else:
        split = dict.fromkeys(("extract", "chunk", "tokens"), 0.0)
        with _dedupe_census(counts):
            _run_doc(items, split=split)
    out = {
        "workload": args.workload,
        "seed": args.seed,
        "layer": args.layer,
        "docs": len(items),
        "docs_per_s": round(len(items) / med, 1),
        "median_s": round(med, 4),
        "runs_s": [round(r, 4) for r in runs],
        "split_ms": {k: round(v * 1000.0, 1) for k, v in split.items()},
        "dedupe_pages": counts["pages"],
        "dedupe_clean_share": (
            round(counts["clean"] / counts["pages"], 4) if counts["pages"] else None
        ),
        "sha256": digest.hexdigest(),
    }
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main()
