"""Characterization of the clean-room markdown renderer
(text/md_render.py) against Python-Markdown's documented output shape
(one tag per line for block structures, paragraphs joined by \\n).
Byte-parity with the real package runs at deploy via
scripts/parity_markdown.py (the package is not installed here)."""

from __future__ import annotations

import pytest

from ragflow_spark.text.md_render import render_markdown as md


@pytest.mark.parametrize(
    ("src", "want"),
    [
        ("plain", "<p>plain</p>"),
        ("soft\nwrap", "<p>soft\nwrap</p>"),
        ("one\n\ntwo", "<p>one</p>\n<p>two</p>"),
        ("# H", "<h1>H</h1>"),
        ("### H ###", "<h3>H</h3>"),
        ("T\n===", "<h1>T</h1>"),
        ("T\n---", "<h2>T</h2>"),
        ("---", "<hr />"),
        ("**b**", "<p><strong>b</strong></p>"),
        ("*e*", "<p><em>e</em></p>"),
        ("***be***", "<p><strong><em>be</em></strong></p>"),
        ("`a & b`", "<p><code>a &amp; b</code></p>"),
        ("[t](u)", '<p><a href="u">t</a></p>'),
        ("![a](s)", '<p><img alt="a" src="s" /></p>'),
        ("x & y < z", "<p>x &amp; y &lt; z</p>"),
        ("&amp; stays", "<p>&amp; stays</p>"),
        ("- a\n- b", "<ul>\n<li>a</li>\n<li>b</li>\n</ul>"),
        ("1. a\n2. b", "<ol>\n<li>a</li>\n<li>b</li>\n</ol>"),
        ("> q", "<blockquote>\n<p>q</p>\n</blockquote>"),
        ("    code", "<pre><code>code\n</code></pre>"),
        ("\n\nleading blanks", "<p>leading blanks</p>"),
    ],
)
def test_blocks(src, want):
    assert md(src) == want


def test_pipe_table_with_alignment():
    src = "| L | C | R |\n|:--|:-:|--:|\n| a | b | c |"
    assert md(src) == (
        "<table>\n<thead>\n<tr>\n"
        '<th style="text-align: left;">L</th>\n'
        '<th style="text-align: center;">C</th>\n'
        '<th style="text-align: right;">R</th>\n'
        "</tr>\n</thead>\n<tbody>\n<tr>\n"
        '<td style="text-align: left;">a</td>\n'
        '<td style="text-align: center;">b</td>\n'
        '<td style="text-align: right;">c</td>\n'
        "</tr>\n</tbody>\n</table>"
    )


def test_table_between_paragraphs():
    src = "before\n\n| A | B |\n|---|---|\n| 1 | 2 |\n\nafter"
    out = md(src)
    assert out.startswith("<p>before</p>\n<table>")
    assert out.endswith("</table>\n<p>after</p>")


def test_tables_flag_off_keeps_paragraph():
    src = "| A | B |\n|---|---|\n| 1 | 2 |"
    assert "<table>" not in md(src, tables=False)


def test_pipe_without_divider_is_not_a_table():
    assert md("answer with | pipe") == "<p>answer with | pipe</p>"
