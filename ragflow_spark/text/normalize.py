"""Unicode / whitespace normalization helpers.

Behavior matched from:
* full-width -> half-width (``strQ2B``, rag/nlp/rag_tokenizer.py:101-113)
* the English ratio heuristic (rag/nlp/__init__.py:228-244)
"""

from __future__ import annotations

import functools as _functools
import os as _os
import re

_EN_CHAR = re.compile(r"[`a-zA-Z0-9\s.,':;/\"?<>!\(\)\-]")


_Q2B_TABLE = {0x3000: 0x20, **{c: c - 0xFEE0 for c in range(0xFF01, 0xFF5F)}}


def full_to_half(s: str) -> str:
    """Full-width ASCII forms and ideographic space -> half-width
    (str.translate: one C call instead of a per-char Python loop)."""
    return s.translate(_Q2B_TABLE)


def ascii_ratio(s: str) -> float:
    if not s:
        return 0.0
    hits = sum(1 for ch in s if _EN_CHAR.fullmatch(ch))
    return hits / len(s)


def looks_english(s: str) -> bool:
    """Char-class ratio > 0.8, mirroring ``is_english``
    (rag/nlp/__init__.py:228-244)."""
    return ascii_ratio(s) > 0.8


# traditional -> simplified (rag_tokenizer.py:115-117 uses hanziconv).
# The full conversion table is deploy-time data (hanziconv 0.3.2's
# charmap is public): point RAGFLOW_SPARK_HANZI at a two-line file —
# line 1 the traditional chars, line 2 the aligned simplified chars —
# and every executor loads it on first use (same pattern as the huqie
# dict and the tiktoken ranks).  Without it, this compact table covers
# frequent traditional forms and falls back to identity.
_T2S_PAIRS = (
    ("萬與專業東絲兩嚴喪個臨舉義烏樂喬習鄉書買亂爭雲亞產親億僅從倉儀們價衆優會傘偉傳傷倫僞體餘傭俠側僑儉債傾兒黨蘭關興養獸囑開",
     "万与专业东丝两严丧个临举义乌乐乔习乡书买乱争云亚产亲亿仅从仓仪们价众优会伞伟传伤伦伪体余佣侠侧侨俭债倾儿党兰关兴养兽嘱开"),
    ("語說讀寫聽學國圖書館電腦網絡軟體資訊處理機器數據庫統計分類檢索標籤編碼節點權重優化評測試驗證質量門檻",
     "语说读写听学国图书馆电脑网络软体资讯处理机器数据库统计分类检索标签编码节点权重优化评测试验证质量门槛"),
)
_T2S_TABLE = {}
for _t, _s in _T2S_PAIRS:
    assert len(_t) == len(_s), (len(_t), len(_s))
    _T2S_TABLE.update({ord(a): ord(b) for a, b in zip(_t, _s)})


HANZI_ENV = "RAGFLOW_SPARK_HANZI"


@_functools.lru_cache(maxsize=1)
def _t2s_deployed() -> dict[int, int] | None:
    """Full conversion table from ``$RAGFLOW_SPARK_HANZI`` (two aligned
    lines: traditional, simplified), or None when not deployed."""
    path = _os.environ.get(HANZI_ENV)
    if not path or not _os.path.exists(path):
        return None
    try:
        with open(path, encoding="utf-8") as f:
            trad = f.readline().strip()
            simp = f.readline().strip()
        if not trad or len(trad) != len(simp):
            return None
        return {ord(a): ord(b) for a, b in zip(trad, simp)}
    except OSError:
        return None


def tradi2simp(s: str) -> str:
    """Traditional -> simplified Chinese: the deployed full table when
    present, the compact table otherwise."""
    table = _t2s_deployed()
    return s.translate(table if table is not None else _T2S_TABLE)
