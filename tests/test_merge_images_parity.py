"""Parity for the image-carrying merge variants vs the reference's own
``naive_merge_docx`` / ``naive_merge_with_images``
(rag/nlp/__init__.py:566-698), AST-extracted with the token counter,
delimiter builder and image-concat injected identically on both sides
(images are opaque objects here — PIL stacking is a deploy-time swap)."""

from __future__ import annotations

import ast
import re

import pytest

from ragflow_spark.chunk.delimiters import delimiter_pattern
from ragflow_spark.chunk.merge import (
    _default_concat,
    greedy_merge_docx,
    greedy_merge_with_images,
)
from ragflow_spark.text.tokens import count_tokens
from tests.conftest import read_reference

REF = "/root/reference/rag/nlp/__init__.py"


class _FakeImageClass:
    class Image:
        pass


@pytest.fixture(scope="module")
def ref():
    tree = ast.parse(read_reference(REF))
    wanted = [
        n
        for n in tree.body
        if isinstance(n, ast.FunctionDef)
        and n.name in ("naive_merge_docx", "naive_merge_with_images")
    ]
    assert len(wanted) == 2
    ns = {
        "re": re,
        "num_tokens_from_string": count_tokens,
        "get_delimiters": delimiter_pattern,
        "concat_img": _default_concat,
        "Image": _FakeImageClass,
    }
    exec(compile(ast.Module(body=wanted, type_ignores=[]), REF, "exec"), ns)
    return ns


SECTIONS = [
    ("First paragraph about engines and plans. Second sentence here!", "imgA"),
    ("短句。另一个短句！结尾", "imgB"),
    ("A longer block " + "with many tokens " * 30 + "ends here.", None),
    ("Tail piece.", "imgC"),
    ("", None),
]

TEXTS_TAGGED = [
    ("Tagged block one with a number of words inside", "@@1\t1\t2\t3\t4##"),
    "Plain untagged text block, also several words long.",
    ("Ti.", "@@2\t9\t9\t9\t9##"),  # < 8 tokens: tag must be dropped
    ("中文段落。带分隔符！以及结尾", "@@3\t5\t5\t5\t5##"),
]
IMAGES = ["x", None, "y", "z"]


class TestMergeImagesParity:
    @pytest.mark.parametrize("budget", [16, 64, 128])
    def test_docx_variant(self, ref, budget):
        want = ref["naive_merge_docx"](SECTIONS, chunk_token_num=budget)
        got = greedy_merge_docx(SECTIONS, budget=budget)
        assert got == tuple(want) or list(got) == list(want)

    @pytest.mark.parametrize("budget", [16, 64, 128])
    def test_with_images_variant(self, ref, budget):
        want = ref["naive_merge_with_images"](
            TEXTS_TAGGED, IMAGES, chunk_token_num=budget
        )
        got = greedy_merge_with_images(TEXTS_TAGGED, IMAGES, budget=budget)
        assert list(got) == list(want)

    def test_mismatched_lengths_empty(self, ref):
        assert greedy_merge_with_images(["a"], [], budget=8) == ([], [])
        assert ref["naive_merge_with_images"](["a"], [], chunk_token_num=8) == ([], [])

    def test_fuzz(self, ref):
        import random

        rng = random.Random(11)
        words = "alpha beta gamma delta epsilon 数据 处理 引擎 shuffle".split()
        for trial in range(25):
            secs = []
            for _ in range(rng.randint(1, 8)):
                n = rng.randint(0, 40)
                txt = " ".join(rng.choice(words) for _ in range(n))
                if rng.random() < 0.4:
                    txt += rng.choice(["。", "！", "\n", "；"])
                img = rng.choice(["i1", "i2", None])
                secs.append((txt, img))
            for budget in (8, 32, 128):
                want = ref["naive_merge_docx"](secs, chunk_token_num=budget)
                got = greedy_merge_docx(secs, budget=budget)
                assert list(got) == list(want), (trial, budget)
