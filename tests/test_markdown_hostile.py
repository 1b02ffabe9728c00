"""Hostile markdown through the renderer (text/md_render.py): a deep
blockquote nests to a capped depth instead of recursing per level."""

from __future__ import annotations

from ragflow_spark.text.md_render import render_markdown


def test_deep_blockquote_capped_not_recursive():
    out = render_markdown("> " * 100_000 + "text")
    assert out.startswith("<blockquote>")
    assert out.count("<blockquote>") <= 40
