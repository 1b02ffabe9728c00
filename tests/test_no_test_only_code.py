"""Every top-level definition of the package is reachable from outside ``tests/``.

The engine ships to every executor in ``dist/ragflow_spark.zip``, so a
function that only a test calls is code that ships without a caller.
This test parses ``ragflow_spark/**/*.py`` with ``ast`` and walks
identifier references from the roots: the package's module-level code,
``scripts/*.py``, the non-test ``extractbench/*.py``,
``__spark_entry__.py`` and ``bench.py``.  A reference is a ``Name``, an
``Attribute``, an import alias or an identifier-shaped string constant
(a dotted one counts by each part).  Reaching a name reaches every
top-level ``def`` or ``class`` of that name in the package, and their
bodies add the names they reference.  Matching by name alone can only
over-reach, so a definition this test reports has no caller at all.

``KEEP`` lists the definitions that exist only to feed tests of code
that stays (an oracle, a fixture generator, a measurement), each with
its reason.  Anything else unreached fails the test by name.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "ragflow_spark"

KEEP = {
    "ragflow_spark.extract.dom.parse_html_stdlib": "fuzz oracle for parse_html_fast",
    "ragflow_spark.ops.dedup.simhash64": "brute-force truth in test_simhash_recall",
    "ragflow_spark.data.pdfgen.encrypt_pdf": "input for the PDF decryption tests",
    "ragflow_spark.data.pdfgen.flate_predictor_stream": "input for the PDF predictor tests",
    "ragflow_spark.parsers.pdf_crypto.compute_o": "builds encrypted PDFs for the decryption tests",
    "ragflow_spark.data.pdfgen.make_spanning_table_pdf": "input for the table recovery tests",
    "ragflow_spark.data.pagegen.write_pages": "writes pagegen parquet for the pipeline tests",
    "ragflow_spark.pdf.assemble.pdf_tagged_boxes": "drives the layout tests",
    "ragflow_spark.pdf.assemble.tag_titles_from_outline": "drives the paper-template tests",
    "ragflow_spark.parsers.pdf.extract_pdf_text": "text-only wrapper the PDF parser tests call",
    "ragflow_spark.ops.skew.host_of": "test_skew's input for salted_agg",
    "ragflow_spark.ops.skew.partition_sizes": "test_skew's measurement of salted_agg",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if _IDENT.fullmatch(n.value):
                out.update(n.value.split("."))
    return out


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


def _root_files() -> list[Path]:
    files = sorted((ROOT / "scripts").glob("*.py"))
    files += sorted((ROOT / "extractbench").glob("*.py"))
    files += [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    return files


def unreached() -> list[str]:
    """Qualified names of the package's top-level defs no root reaches."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        module = ".".join(path.relative_to(ROOT).with_suffix("").parts)
        for stmt in _parse(path).body:
            if isinstance(stmt, _DEFS):
                defs.setdefault(stmt.name, []).append((f"{module}.{stmt.name}", stmt))
            else:
                roots |= _names(stmt)
    for path in _root_files():
        roots |= _names(_parse(path))

    reached: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _qual, node in defs.get(name, ()):
            todo.extend(_names(node) - reached)
    return sorted(q for name, found in defs.items() if name not in reached for q, _ in found)


def test_every_definition_is_reached_outside_tests():
    missing = [q for q in unreached() if q not in KEEP]
    assert missing == [], "reached only from tests (delete, or KEEP with a reason):\n" + "\n".join(
        missing
    )


def test_keep_names_existing_unreached_definitions():
    assert sorted(KEEP) == sorted(q for q in unreached() if q in KEEP)
