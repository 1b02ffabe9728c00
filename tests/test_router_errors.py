"""The extraction router's error handling: a document no extractor
survives is degraded in one place (``extract_document_ex``'s net), keeps
its sniffed type and is counted as ``extract-error``; a document that
only looks like JSON takes the one txt path; an email is parsed once."""

from __future__ import annotations

from email.message import EmailMessage

import pandas as pd
import pytest

from ragflow_spark.spark import udfs
from ragflow_spark.spark.udfs import extract_document_ex
from ragflow_spark.text.codec import decode_bytes


def _over_nested_email() -> bytes:
    head = b"".join(
        b"Content-Type: multipart/mixed; boundary=b%d\n\n--b%d\n" % (i, i) for i in range(300)
    )
    return b"From: a@b.example\nSubject: deep\n" + head + b"Content-Type: text/plain\n\nhello"


def _email(subject: str, attach: bytes | None = None) -> bytes:
    m = EmailMessage()
    m["From"] = "a@b.example"
    m["To"] = "c@d.example"
    m["Subject"] = subject
    m.set_content(f"plain body of {subject}")
    m.add_alternative(f"<html><body><p>html body of {subject}</p></body></html>", subtype="html")
    if attach is not None:
        m.add_attachment(attach, maintype="text", subtype="plain", filename="notes.txt")
    return m.as_bytes()


def test_over_nested_email_keeps_its_type_and_is_counted():
    """The MIME pre-scan rejects the message; the net's row keeps
    doc_type eml and the decoded text, and carries the counted mode."""
    raw = _over_nested_email()
    body = decode_bytes(raw)
    sections = [s for s in body.split("\n") if s.strip()]
    assert extract_document_ex(raw, None, "English") == (
        "eml", "", body.strip(), sections, "extract-error"
    )


def test_over_nested_email_counts_in_the_manifest(spark, tmp_path):
    import pyarrow.parquet as pq

    from ragflow_spark.data.pagegen import PAGE_SCHEMA, generate_pages
    from ragflow_spark.spark.pipeline import PipelineConfig, run_pipeline

    rows = generate_pages(12, seed=3)
    rows.append(("https://mail.example.com/deep", rows[0][1], _over_nested_email(), None, "English"))
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, PAGE_SCHEMA).write.parquet(src)
    cfg = PipelineConfig(out_dir=str(tmp_path / "out"), n_buckets=2)
    totals = run_pipeline(spark, spark.read.parquet(src), cfg)
    manifest = pq.read_table(cfg.manifest_dir).to_pylist()
    assert totals["n_extract_err"] == sum(r["n_extract_err"] for r in manifest) == 1
    assert totals["n_pages"] == len(rows)


@pytest.mark.parametrize(
    "raw",
    [
        b"[1] Intro\n\nSome text.\n[2] Methods  \n  more",
        b"{not json}\n\n  x  ",
        b"  [draft]\nline two\n",
        b"{\n}x",
    ],
)
def test_non_json_bracket_document_takes_the_txt_path(raw):
    """Sniffed as JSON, does not parse: the same row the txt branch
    gives the same decoded body (here fed through the text column)."""
    assert udfs.sniff_doc_type(raw, None) == "json"
    assert extract_document_ex(raw, None, "English") == extract_document_ex(
        None, decode_bytes(raw), "English"
    )


def test_email_is_parsed_once_per_row(monkeypatch):
    from ragflow_spark.parsers import eml

    calls = []
    real = eml.parse_eml

    def counting(data):
        calls.append(len(data))
        return real(data)

    monkeypatch.setattr(eml, "parse_eml", counting)
    mails = [_email("one"), _email("two", attach=b"attached notes\nsecond line"), _email("three")]
    batch = pd.DataFrame(
        {
            "url": [f"https://mail.example.com/{i}" for i in range(len(mails))],
            "html": mails,
            "text": [None] * len(mails),
            "lang": ["English"] * len(mails),
        }
    )
    out = list(udfs._extracted_rows(batch))
    assert [r[2] for r in out] == ["eml"] * len(mails)
    assert "attached notes" in out[1][4] and "html body of two" in out[1][4]
    assert len(calls) == len(mails)
