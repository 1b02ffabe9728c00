"""Locality properties that back the r5 twin oracles.

The ``tokenize_documents`` / ``manual_chunks`` DuckDB oracles replay
the Spark pipelines from the generator spec; that replay is only sound
because of structural properties these tests pin EXHAUSTIVELY.  If the
demo dict, the tokenizer, or the PDF generator changes in a way that
breaks a property, pytest fails here before the driver gate can
silently desync.

No Spark session needed — everything is driver-side pure functions.
"""

from __future__ import annotations

import itertools

import pytest


@pytest.fixture(scope="module")
def zh_tok():
    import __spark_entry__ as E
    from ragflow_spark.text.tokenizer import WebTokenizer

    tok = WebTokenizer()
    for w, f, t in E._ZH_DEMO_DICT:
        tok.add_word(w, f, t)
    vocab = [w for w, _, _ in E._ZH_DEMO_DICT]
    return tok, vocab


# the only adjacent-pair merges max-match can make over the demo dict:
# its two compounds.  The oracle's left-to-right replace() reproduces
# exactly these.
MERGES = {("数据", "处理"): "数据处理", ("上海", "大学"): "上海大学"}
# the dict's multi-word entries fine_grained re-expands
FINE = {"数据处理": "数据 处理", "研究生": "研究 生", "上海大学": "上海 大学"}


def _simulate(seq, per):
    out, i = [], 0
    while i < len(seq):
        if i + 1 < len(seq) and (seq[i], seq[i + 1]) in MERGES:
            out.append(MERGES[(seq[i], seq[i + 1])])
            i += 2
        else:
            out.append(per[seq[i]])
            i += 1
    return " ".join(out)


def test_zh_every_dict_word_tokenizes_to_itself(zh_tok):
    tok, vocab = zh_tok
    for w in vocab:
        assert tok.tokenize(w) == w


def test_zh_pair_and_triple_locality_exhaustive(zh_tok):
    """tokenize(concat(seq)) == per-word concat + the two compound
    merges, for ALL 18^2 pairs and 18^3 triples.  Triples cover every
    possible overlap interaction (a merge candidate flanked on either
    side); longer sequences add no new adjacency patterns, since
    max-match lookahead is bounded by the longest dict entry (4 chars
    = 2 words)."""
    tok, vocab = zh_tok
    per = {w: w for w in vocab}
    for seq in itertools.product(vocab, repeat=2):
        assert tok.tokenize("".join(seq)) == _simulate(seq, per), seq
    for seq in itertools.product(vocab, repeat=3):
        assert tok.tokenize("".join(seq)) == _simulate(seq, per), seq


def test_zh_fine_grained_is_merge_insensitive(zh_tok):
    """fine_grained(tokenize(s)) == per-word fine join — the merged
    compounds re-expand to the same sub-words the unmerged pair had,
    so the oracle can compute sm_ltks without replaying the merge."""
    tok, vocab = zh_tok
    for seq in itertools.product(vocab, repeat=2):
        ltks = tok.tokenize("".join(seq))
        want = " ".join(FINE.get(w, w) for w in seq)
        assert tok.fine_grained_tokenize(ltks) == want, seq


CORPUS_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
STEMS = {
    "customer": "custom", "key": "kei", "merge": "merg",
    "query": "queri", "table": "tabl", "value": "valu",
}


def test_en_per_word_locality_and_stems():
    """The EN path factors through the corpus vocabulary: tokenize of
    any word sequence == join of per-word tokens, the per-word tokens
    are the Porter stems the oracle embeds, and fine_grained is the
    identity on them (all sub-5-char or dictionary-absent)."""
    from ragflow_spark.text.tokenizer import WebTokenizer

    tok = WebTokenizer()
    for w in CORPUS_VOCAB:
        got = tok.tokenize(w)
        assert got == STEMS.get(w, w), (w, got)
        assert tok.fine_grained_tokenize(got) == got
    # sequence locality over adjacent pairs (space-separated English
    # never interacts across the space)
    for a, b in itertools.product(CORPUS_VOCAB[:8], CORPUS_VOCAB[-8:]):
        assert tok.tokenize(f"{a} {b}") == (
            STEMS.get(a, a) + " " + STEMS.get(b, b)
        )


def test_manual_oracle_structural_shape():
    """The manual_chunks oracle hard-codes sec_ids [0,0,0,0,1,1,1,1]
    (+closing 1, table -1): both Chapter headings bigram-match their
    own outline entries exactly (level 0), bodies never reach the 0.8
    overlap bar (they share no 'Chapter ...' prefix), so most_level=0
    and the single split lands at Chapter II.  Pin that derivation on
    a generated doc, including the piece sort order the fold walks."""
    from ragflow_spark.chunk.manual_template import manual_levels
    from ragflow_spark.data.pdfgen import make_doc_pdf
    from ragflow_spark.parsers.pdf import extract_pdf_outline
    from ragflow_spark.pdf.assemble import pdf_layout_document

    words = "customer query merge value the a table stream".split()
    pdf = make_doc_pdf(words, doc_id=3)
    rem, tables, _mh, _cum, _en = pdf_layout_document(pdf)
    outlines = extract_pdf_outline(pdf)
    assert [lvl for _, lvl in outlines] == [0, 0]
    secs = [
        (b["text"], "text",
         [(b["page_number"], b["x0"], b["x1"], b["top"], b["bottom"])])
        for b in rem
    ]
    most_level, levels = manual_levels(secs, outlines)
    assert most_level == 0
    assert levels == [0, 1, 1, 1, 0, 1, 1, 1, 1]
    # exactly one table, caption attached to every recovered row
    assert len(tables) == 1
    assert all("Table 1: summary of" in r for r in tables[0]["content"])
    # reading order the oracle assumes: 8 page-1 lines by top, then
    # the page-2 table region above the closing line
    tops = [(b["page_number"], round(b["top"], 1)) for b in rem]
    assert tops == sorted(tops)
    assert tables[0]["positions"][0][0] == 1  # 0-based page 2
