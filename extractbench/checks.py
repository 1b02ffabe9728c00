"""Correctness oracles, output digests and the simulated kill.

Everything here reads plain Python values or parquet files through
pyarrow, so it runs (and is tested) without a Spark session.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import pyarrow.parquet as pq

from ragflow_spark.spark import udfs
from ragflow_spark.spark.pipeline import PipelineConfig

from .corpus import Doc

_CFG = PipelineConfig(out_dir="")


def _lines(text: str) -> list[str]:
    return [" ".join(ln.split()) for ln in text.split("\n") if ln.strip()]


def text_ok(doc: Doc, got: str | None) -> bool:
    """Extracted text against the generator's expectation (see
    ``corpus`` for the three check kinds)."""
    got = got or ""
    if doc.check == "text":
        return got.strip() == doc.expected.strip()
    if doc.check == "lines":
        return _lines(got) == _lines(doc.expected)
    if doc.check == "words":
        return sorted(got.split()) == sorted(doc.expected.split())
    raise ValueError(f"unknown check kind {doc.check!r}")


def row_digest(rows) -> str:
    """Order-independent digest of tuples: the sum of per-row sha256
    prefixes mod 2**128, so a dropped, duplicated or changed row moves
    it while row order does not."""
    acc = 0
    for row in rows:
        h = hashlib.sha256("\x1f".join(map(str, row)).encode("utf-8", "surrogatepass"))
        acc = (acc + int.from_bytes(h.digest()[:16], "big")) % (1 << 128)
    return f"{acc:032x}"


def udf_text_input(doc: Doc) -> str | None:
    """The ``text`` value the extraction UDF sees for this row: the
    pipeline's JVM-side pruning keeps it only for empty and PDF rows."""
    if not doc.html or b"%PDF-" in doc.html[:64]:
        return doc.text
    return None


def reference_doc(doc: Doc) -> tuple[tuple, list[str]]:
    """Single-process extraction and chunking of one row, the way the
    chunk UDF does it: ``((doc_type, title, text, sections, mode),
    chunks)``."""
    ex = udfs.extract_document_ex(doc.html, udf_text_input(doc), doc.lang)
    chunks = udfs.chunk_sections(
        _CFG.template, ex[3], budget=_CFG.budget, delimiters=_CFG.delimiters
    )
    return ex, chunks


def extraction_mismatches(docs: list[Doc], got: dict[str, tuple]) -> list[str]:
    """Urls whose Spark extraction row ``(doc_type, text, mode)`` is
    missing, fails the text oracle, degraded (``extract-error``) or, for
    a PDF, did not come from the positioned-char interpreter."""
    bad = []
    for d in docs:
        row = got.get(d.url)
        if row is None:
            bad.append(d.url)
            continue
        doc_type, text, mode = row
        if not text_ok(d, text) or mode == "extract-error" or (
            doc_type == "pdf" and mode != "interp"
        ):
            bad.append(d.url)
    return bad


def reference_mismatches(
    docs: list[Doc],
    extracted: dict[str, tuple] | None,
    chunks: dict[str, list[tuple[int, str]]],
    refs: dict[str, tuple] | None = None,
) -> list[str]:
    """Urls whose Spark rows differ from :func:`reference_doc` of the
    same bytes (taken from ``refs`` when given): ``extracted[url] =
    (doc_type, title, text, sections, mode)`` (``None``: chunks only),
    ``chunks[url] = [(chunk_ord, content), ...]``."""
    bad = []
    for d in docs:
        ex, ref_chunks = refs[d.url] if refs is not None else reference_doc(d)
        if extracted is not None:
            got = extracted.get(d.url)
            if got is None or tuple(got[:3]) != ex[:3] or list(got[3]) != ex[3] or got[4] != ex[4]:
                bad.append(d.url)
                continue
        if sorted(chunks.get(d.url, [])) != list(enumerate(ref_chunks)):
            bad.append(d.url)
    return bad


def read_chunks(chunks_dir: str) -> list[tuple]:
    """Committed chunk rows ``(url, chunk_ord, content, chunk_id)``."""
    t = pq.read_table(chunks_dir, columns=["url", "chunk_ord", "content", "chunk_id"])
    return list(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def _manifest_files(manifest_dir: str) -> list[str]:
    return sorted(
        os.path.join(manifest_dir, f)
        for f in os.listdir(manifest_dir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def simulate_kill(out_dir: str) -> list[int]:
    """Reproduce a crash between data commit and manifest append for
    the last half of the commit groups: delete their manifest rows and
    nothing else.  Each group appends one manifest file, so the files,
    ordered by the time their rows were written, are the groups.
    Returns the buckets whose rows were removed."""
    manifest_dir = PipelineConfig(out_dir=out_dir).manifest_dir
    files = _manifest_files(manifest_dir)
    if len(files) < 2:
        raise ValueError(f"{manifest_dir}: {len(files)} manifest file(s), need one per commit group")
    tables = {f: pq.read_table(f, columns=["bucket", "ts"]) for f in files}
    by_time = sorted(files, key=lambda f: min(tables[f].column("ts").to_pylist()))
    removed = []
    for f in by_time[len(by_time) - len(by_time) // 2 :]:
        removed.extend(tables[f].column("bucket").to_pylist())
        os.remove(f)
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    return sorted(removed)


def manifest_problems(out_dir: str, n_buckets: int) -> list[str]:
    """Every bucket must appear exactly once, as ``done``."""
    t = pq.read_table(PipelineConfig(out_dir=out_dir).manifest_dir, columns=["bucket", "status"])
    rows = list(zip(t.column("bucket").to_pylist(), t.column("status").to_pylist()))
    done = Counter(b for b, s in rows if s == "done")
    problems = [f"bucket {b}: status {s}" for b, s in rows if s != "done"]
    problems += [f"bucket {b}: {done[b]} done rows" for b in range(n_buckets) if done[b] != 1]
    problems += [f"unknown bucket {b}" for b in done if not 0 <= b < n_buckets]
    return problems
