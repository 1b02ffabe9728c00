"""Size-bounded recursive JSON splitting.

Behavior matched to ``RAGFlowJsonParser``
(deepdoc/parser/json_parser.py:27-179) at its default
``max_chunk_size`` of 2000: lists are first converted to index-keyed
dicts, then the tree is packed into chunks whose serialized size stays
under 4000 (reference doubles the configured size at :28), starting a
new chunk only once the current one reaches 1800 (its
``max_chunk_size - 200``); JSONL inputs are detected by sampling and
split per line.
"""

from __future__ import annotations

import json
from typing import Any

from ..text.codec import decode_bytes


_MAX_CHUNK_SIZE = 4000
_MIN_CHUNK_SIZE = 1800
# JSONL detection: at least 80% of the first 10 non-blank lines parse
_JSONL_SAMPLE = 10
_JSONL_THRESHOLD = 0.8


class JsonSplitter:
    @staticmethod
    def _size(data: dict) -> int:
        return len(json.dumps(data, ensure_ascii=False))

    @staticmethod
    def _set_path(d: dict, path: list[str], value: Any) -> None:
        for key in path[:-1]:
            d = d.setdefault(key, {})
        d[path[-1]] = value

    def _listify(self, data: Any) -> Any:
        if isinstance(data, dict):
            return {k: self._listify(v) for k, v in data.items()}
        if isinstance(data, list):
            return {str(i): self._listify(v) for i, v in enumerate(data)}
        return data

    def _split(self, data: Any, path: list[str], chunks: list[dict]) -> list[dict]:
        if isinstance(data, dict):
            for key, value in data.items():
                new_path = path + [key]
                used = self._size(chunks[-1])
                need = self._size({key: value})
                if need < _MAX_CHUNK_SIZE - used:
                    self._set_path(chunks[-1], new_path, value)
                else:
                    if used >= _MIN_CHUNK_SIZE:
                        chunks.append({})
                    self._split(value, new_path, chunks)
        else:
            self._set_path(chunks[-1], path, data)
        return chunks

    def split(self, data: Any) -> list[dict]:
        chunks = self._split(self._listify(data), [], [{}])
        if chunks and not chunks[-1]:
            chunks.pop()
        return chunks


def _is_jsonl(txt: str) -> bool:
    lines = [ln.strip() for ln in txt.strip().splitlines() if ln.strip()]
    if not lines:
        return False
    try:
        json.loads(txt)
        return False
    except json.JSONDecodeError:
        pass
    sample = lines[:_JSONL_SAMPLE]

    def ok(line: str) -> bool:
        try:
            json.loads(line)
            return True
        except json.JSONDecodeError:
            return False

    valid = sum(1 for ln in sample if ok(ln))
    return valid > 0 and valid / len(sample) >= _JSONL_THRESHOLD


# json.loads's scanner, _listify, _split, and json.dumps all recurse
# once per nesting level, so '[' * 20k from the open web RecursionErrors
# inside the stdlib before any chunking runs.  Real JSON documents nest
# tens of levels; reject far past that with a LINEAR string-aware scan
# (brackets inside JSON strings don't count) before parsing.
_MAX_JSON_DEPTH = 200


def _max_bracket_depth(txt: str) -> int:
    depth = peak = 0
    in_str = esc = False
    for ch in txt:
        if ch == "\n":
            # a raw newline is illegal inside a JSON string (even after
            # a backslash), so string state NEVER validly spans lines —
            # resetting here stops an unterminated quote on one JSONL
            # line from hiding a 20k-bracket line later in the document
            # from this scan (json.loads on that line would then
            # RecursionError, the exact failure this guard pre-empts)
            in_str = esc = False
        elif esc:
            esc = False
        elif in_str:
            if ch == "\\":
                esc = True
            elif ch == '"':
                in_str = False
        elif ch == '"':
            in_str = True
        elif ch in "[{":
            depth += 1
            if depth > peak:
                peak = depth
                if peak > _MAX_JSON_DEPTH:
                    return peak
        elif ch in "]}":
            depth -= 1
    return peak


def split_json_text(payload: bytes | str) -> list[str]:
    txt = decode_bytes(payload) if isinstance(payload, (bytes, bytearray)) else payload
    if _max_bracket_depth(txt) > _MAX_JSON_DEPTH:
        raise ValueError("over-nested JSON document")
    splitter = JsonSplitter()
    out: list[str] = []
    if _is_jsonl(txt):
        for line in txt.strip().splitlines():
            if not line.strip():
                continue
            try:
                data = json.loads(line)
            except json.JSONDecodeError:
                continue
            out.extend(
                json.dumps(c, ensure_ascii=False) for c in splitter.split(data) if c
            )
        return out
    try:
        data = json.loads(txt)
    except json.JSONDecodeError:
        return []
    return [json.dumps(c, ensure_ascii=False) for c in splitter.split(data) if c]
