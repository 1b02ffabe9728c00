"""Correctness oracles, digests and the simulated kill."""

from __future__ import annotations

import hashlib
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from extractbench import checks, corpus
from extractbench.corpus import Doc


def _flip(s: str) -> str:
    """The same text with its last byte changed."""
    return s[:-1] + chr(ord(s[-1]) ^ 1)


def test_row_digest_is_order_independent_and_byte_sensitive():
    rows = [("u1", 0, "alpha", 7), ("u1", 1, "beta", 8), ("u2", 0, "gamma", 9)]
    d = checks.row_digest(rows)
    assert checks.row_digest(reversed(rows)) == d
    assert checks.row_digest(rows[:2] + [("u2", 0, _flip("gamma"), 9)]) != d
    assert checks.row_digest(rows + rows[:1]) != d  # a duplicated row shows


@pytest.mark.parametrize("kind", ["text", "lines", "words"])
def test_text_oracle_fails_on_a_one_byte_change(kind):
    expected = "name  count price\nlineage 10 1.10"
    doc = Doc("u", None, b"", "", "English", expected, kind)
    assert checks.text_ok(doc, expected)
    assert not checks.text_ok(doc, _flip(expected))


def test_extraction_mismatches_flags_text_mode_and_missing_rows():
    docs = [Doc(f"u{i}", None, b"", "", "English", f"body {i}", "text") for i in range(4)]
    got = {
        "u0": ("html", "body 0", ""),
        "u1": ("html", _flip("body 1"), ""),
        "u2": ("pdf", "body 2", "scan"),
    }
    assert checks.extraction_mismatches(docs, got) == ["u1", "u2", "u3"]


def test_reference_check_fails_on_a_one_byte_chunk_change():
    docs = corpus.build("cc_mix", seed=3, n=28)
    refs = {d.url: checks.reference_doc(d) for d in docs}
    extracted = {u: ex for u, (ex, _) in refs.items()}
    chunks = {u: list(enumerate(ch)) for u, (_, ch) in refs.items()}
    assert checks.reference_mismatches(docs, extracted, chunks) == []
    url = next(u for u, c in chunks.items() if c)
    ordinal, content = chunks[url][-1]
    chunks[url][-1] = (ordinal, _flip(content))
    assert checks.reference_mismatches(docs, extracted, chunks) == [url]
    assert checks.reference_mismatches(docs, None, chunks, refs) == [url]


def test_generated_inputs_pass_their_own_oracle():
    for workload in ("cc_mix", "pdf_heavy"):
        docs = corpus.build(workload, seed=5, n=64)
        bad = [d.url for d in docs if not checks.text_ok(d, checks.reference_doc(d)[0][2])]
        assert bad == [], workload


def test_input_digest_is_pinned_by_the_seed():
    a, b = corpus.build("pdf_heavy", 1, n=32), corpus.build("pdf_heavy", 1, n=32)
    assert corpus.input_digest(a) == corpus.input_digest(b)
    assert corpus.input_digest(a) != corpus.input_digest(corpus.build("pdf_heavy", 2, n=32))


# ---- simulated kill --------------------------------------------------------


def _committed_output(root, n_groups=4, per_group=2):
    """An output dir shaped like run_pipeline's: chunk partitions per
    bucket plus one manifest file per commit group."""
    chunks = root / "chunks"
    manifest = root / "manifest"
    manifest.mkdir(parents=True)
    t0 = time.time()
    for g in range(n_groups):
        buckets = list(range(g * per_group, (g + 1) * per_group))
        for b in buckets:
            part = chunks / f"bucket={b}"
            part.mkdir(parents=True)
            pq.write_table(
                pa.table({"url": [f"u{b}"], "chunk_ord": [0], "content": [f"c{b}"], "chunk_id": [b]}),
                part / "part-00000.parquet",
            )
            (part / ".part-00000.parquet.crc").write_bytes(b"crc")
        name = f"part-{g:05d}-{'%032x' % (g * 7919)}-c000.parquet"
        pq.write_table(
            pa.table({
                "bucket": pa.array(buckets, pa.int32()),
                "status": ["done"] * per_group,
                "ts": [t0 + g] * per_group,
            }),
            manifest / name,
        )
        (manifest / f".{name}.crc").write_bytes(b"crc")
    (manifest / "_SUCCESS").write_bytes(b"")
    return chunks


def _tree_hashes(path):
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(dirpath, f)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_simulated_kill_drops_only_the_last_half_of_the_manifest(tmp_path):
    chunks = _committed_output(tmp_path)
    before = _tree_hashes(chunks)
    assert checks.manifest_problems(str(tmp_path), 8) == []

    removed = checks.simulate_kill(str(tmp_path))

    assert removed == [4, 5, 6, 7]
    assert _tree_hashes(chunks) == before  # committed chunks untouched
    left = sorted(os.listdir(tmp_path / "manifest"))
    assert left == [
        ".part-00000-00000000000000000000000000000000-c000.parquet.crc",
        ".part-00001-00000000000000000000000000001eef-c000.parquet.crc",
        "_SUCCESS",
        "part-00000-00000000000000000000000000000000-c000.parquet",
        "part-00001-00000000000000000000000000001eef-c000.parquet",
    ]
    assert checks.manifest_problems(str(tmp_path), 8) == [
        f"bucket {b}: 0 done rows" for b in range(4, 8)
    ]
    assert sorted(r[0] for r in checks.read_chunks(str(chunks))) == [f"u{b}" for b in range(8)]


def test_simulated_kill_orders_groups_by_write_time_not_name(tmp_path):
    _committed_output(tmp_path)
    manifest = tmp_path / "manifest"
    # rename so the newest group sorts first by name
    os.rename(
        manifest / "part-00003-00000000000000000000000000005ccd-c000.parquet",
        manifest / "part-00000-aaaa-c000.parquet",
    )
    assert checks.simulate_kill(str(tmp_path)) == [4, 5, 6, 7]


def test_manifest_problems_catch_duplicates(tmp_path):
    _committed_output(tmp_path, n_groups=2)
    pq.write_table(
        pa.table({"bucket": pa.array([1], pa.int32()), "status": ["done"], "ts": [0.0]}),
        tmp_path / "manifest" / "part-00009-dup-c000.parquet",
    )
    assert checks.manifest_problems(str(tmp_path), 4) == ["bucket 1: 2 done rows"]
