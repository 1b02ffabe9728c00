"""Table template: delimited text -> typed columns + per-row chunks.

Behavior mirrors rag/app/table.py:263-393 (column type inference by
majority vote over values, row -> "col:val; ..." chunk text, typed
field names) and rag/nlp/__init__.py:302-329 (tokenize_table's
10-row batching), re-derived: no code is shared.

Deviations (documented):
* typed field names use an ASCII slug of the header instead of pinyin
  (the pinyin package is unavailable; for latin headers the result is
  identical).
* datetime parsing uses an explicit strptime format list instead of
  dateutil (same accepted shapes for the common formats; deterministic).

The Spark-level variant ``infer_types_df`` runs the same majority vote
as native column expressions — one aggregate pass, no Python — for
typed-output tables at corpus scale.
"""

from __future__ import annotations

import datetime as dt
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_INT_RE = re.compile(r"[+-]?[0-9]+$")
_FLOAT_RE = re.compile(r"[+-]?[0-9.]{,19}$")
_BOOL_TRUE_RE = re.compile(r"(true|yes|是|\*|✓|✔|☑|✅|√)$", re.IGNORECASE)
_BOOL_FALSE_RE = re.compile(r"(false|no|否|⍻|×)$", re.IGNORECASE)
_BOOL_RE = re.compile(r"(true|yes|是|\*|✓|✔|☑|✅|√|false|no|否|⍻|×)$", re.IGNORECASE)

_DT_FORMATS = (
    "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%d",
    "%Y/%m/%d",
    "%d/%m/%Y",
    "%Y-%m-%dT%H:%M:%S",
    "%Y年%m月%d日",
)

FIELD_SUFFIX = {
    "text": "_tks",
    "int": "_long",
    "keyword": "_kwd",
    "float": "_flt",
    "datetime": "_dt",
    "bool": "_kwd",
}


def trans_bool(s: str) -> str | None:
    if _BOOL_TRUE_RE.match(str(s).strip()):
        return "yes"
    if _BOOL_FALSE_RE.match(str(s).strip()):
        return "no"
    return None


def trans_datetime(s: str) -> str | None:
    t = str(s).strip()
    for fmt in _DT_FORMATS:
        try:
            return dt.datetime.strptime(t, fmt).strftime("%Y-%m-%d %H:%M:%S")
        except ValueError:
            continue
    return None


def infer_column_type(values: list) -> tuple[list, str]:
    """Majority vote over non-null values -> (converted values, type).

    Reference quirks preserved: '%%' stripped before numeric tests,
    leading '0' disqualifies a numeric match (zip codes, ids), an int
    beyond 2^63-1 forces float.
    """
    counts = {"int": 0, "float": 0, "text": 0, "datetime": 0, "bool": 0}
    force_float = False
    for v in values:
        if v is None:
            continue
        s = str(v)
        s_num = s.replace("%%", "")
        if _INT_RE.match(s_num) and not s_num.startswith("0"):
            counts["int"] += 1
            # int(s_num), not int(s): the raw cell may still carry the
            # '%%' the numeric test stripped ('15%%' passed _INT_RE via
            # s_num='15'; int('15%%') raised and aborted the whole
            # table — the reference crashes here too, rag/app/table.py
            # int(str(a)), but a poisoned cell must not kill this job)
            if int(s_num) > 2**63 - 1:
                force_float = True
                break
        elif _FLOAT_RE.match(s_num) and not s_num.startswith("0"):
            counts["float"] += 1
        elif _BOOL_RE.match(s):
            counts["bool"] += 1
        elif trans_datetime(s):
            counts["datetime"] += 1
        else:
            counts["text"] += 1
    ty = "float" if force_float else max(counts.items(), key=lambda kv: kv[1])[0]

    conv = {
        "int": lambda s: int(str(s)),
        "float": lambda s: float(str(s)),
        "bool": trans_bool,
        "datetime": trans_datetime,
        "text": str,
    }[ty]
    out = []
    for v in values:
        if v is None:
            out.append(None)
            continue
        try:
            out.append(conv(str(v)))
        except Exception:  # noqa: BLE001 — unconvertible cell -> null
            out.append(None)
    return out, ty


_SLUG_RE = re.compile(r"(/.*|（[^（）]+?）|\([^()]+?\))")
_NON_SLUG = re.compile(r"[^0-9a-zA-Z一-鿿]+")


def field_name(header: str, ty: str) -> str:
    """Typed field name: slug + type suffix (pinyin-free deviation)."""
    base = _SLUG_RE.sub("", str(header))
    base = _NON_SLUG.sub("_", base).strip("_").lower() or "col"
    return base + FIELD_SUFFIX[ty]


def table_rows(
    headers: list[str], rows: list[list[str]]
) -> tuple[list[str], dict[str, str], list[dict]]:
    """(row texts "col:val; ...", field_map, typed row dicts)."""
    if not headers:
        return [], {}, []
    cols = list(zip(*rows)) if rows else [[] for _ in headers]
    # field names kept as a LIST parallel to headers (the reference's
    # clmns, rag/app/table.py:289-293): two headers slugging to the
    # same field name ('total'/'Total ') would collapse in a dict, and
    # positional list(field_map.keys())[j] then IndexErrored or wrote
    # the wrong column's value under a later header's field
    typed_cols, field_names, field_map = [], [], {}
    for h, col in zip(headers, cols):
        conv, ty = infer_column_type(list(col))
        typed_cols.append(conv)
        fname = field_name(h, ty)
        field_names.append(fname)
        field_map[fname] = str(h).replace("_", " ")
    texts, dicts = [], []
    for i in range(len(rows)):
        parts, d = [], {}
        for j, h in enumerate(headers):
            v = typed_cols[j][i] if i < len(typed_cols[j]) else None
            if v is None or str(v) == "":
                continue
            parts.append(f"{h}:{v}")
            d[field_names[j]] = v
        if parts:
            texts.append("; ".join(parts))
            dicts.append(d)
    return texts, field_map, dicts


def table_chunks(headers: list[str], rows: list[list[str]]) -> list[str]:
    """Row texts joined 10 per chunk with the English "; " joiner
    (tokenize_table parity)."""
    texts, _, _ = table_rows(headers, rows)
    return ["; ".join(texts[i : i + 10]) for i in range(0, len(texts), 10)]


# --------------------------------------------------------------------------
# Spark-native type inference (corpus scale)
# --------------------------------------------------------------------------

# Spark/RE2-portable versions of the vote regexes (anchored)
_SQL_INT = r"^[+-]?[0-9]+$"
# NOTE deliberate divergence from _FLOAT_RE ("{,19}", reference parity):
# the reference's quantifier matches the EMPTY string, so its python path
# counts empty cells as float votes.  Empty cells are filtered out before
# voting in BOTH paths here (infer_column_type skips falsy cells; SQL
# side nulls/'' fail the {1,19} match), so the two inference variants
# agree on columns containing empty strings.
_SQL_FLOAT = r"^[+-]?[0-9.]{1,19}$"
_SQL_BOOL = r"^(?i)(true|yes|是|\*|✓|✔|☑|✅|√|false|no|否|⍻|×)$"
_SQL_DT = r"^[0-9]{4}[-/][0-9]{1,2}[-/][0-9]{1,2}([ T][0-9]{2}:[0-9]{2}(:[0-9]{2})?)?$"


def infer_types_df(df: DataFrame, columns: list[str]) -> DataFrame:
    """Majority-vote type per column as ONE aggregate pass of native
    expressions: returns rows (column, inferred_type).

    The vote order matches ``infer_column_type``: int beats float beats
    bool beats datetime beats text on ties (ties broken by that fixed
    priority, as the reference's dict ordering does).
    """
    aggs = []
    for c in columns:
        s = F.col(c).cast("string")
        s_num = F.regexp_replace(s, "%%", "")
        is_int = s_num.rlike(_SQL_INT) & ~s_num.startswith("0")
        is_float = ~is_int & s_num.rlike(_SQL_FLOAT) & ~s_num.startswith("0")
        is_bool = ~is_int & ~is_float & s.rlike(_SQL_BOOL)
        is_dt = ~is_int & ~is_float & ~is_bool & s.rlike(_SQL_DT)
        is_text = s.isNotNull() & ~is_int & ~is_float & ~is_bool & ~is_dt
        for name, cond in [
            ("int", is_int),
            ("float", is_float),
            ("bool", is_bool),
            ("datetime", is_dt),
            ("text", is_text),
        ]:
            aggs.append(
                F.sum(F.when(cond, 1).otherwise(0)).alias(f"{c}|{name}")
            )
    row = df.agg(*aggs).collect()[0].asDict()
    order = ["int", "float", "bool", "datetime", "text"]
    out = []
    for c in columns:
        votes = [(row[f"{c}|{t}"] or 0, -i, t) for i, t in enumerate(order)]
        out.append((c, max(votes)[2]))
    spark = df.sparkSession
    return spark.createDataFrame(out, "col_name string, inferred_type string")
