"""Every definition of the package is reachable from outside ``tests/``.

The engine ships to every executor in ``dist/ragflow_spark.zip``, so a
function that only a test calls is code that ships without a caller.
This test parses ``ragflow_spark/**/*.py`` with ``ast`` and walks
identifier references from the roots: the package's module-level code,
``scripts/*.py``, the non-test ``extractbench/*.py`` and
``__spark_entry__.py``.  A reference is a ``Name``, an ``Attribute`` or
an identifier-shaped string constant (a dotted one counts by each
part).  An ``import`` is not a reference: a name only imported reaches
nothing, and a use of an ``as`` name reaches the imported name.

The definitions are the package's top-level ``def`` and ``class``
statements, its simple-name module-level assignments (``X = ...``),
and the non-dunder methods of every reached class.  Reaching a name
reaches every definition of that name, and their bodies add the names
they reference (a class's body without its non-dunder methods).  A
method that overrides a name of a base class outside the package
(``HTMLParser.handle_data``) is reached with its class: the base's own
code calls it.  Matching by name alone can only over-reach, so a
definition this test reports has no caller at all.

``KEEP`` lists the definitions that exist only to feed tests of code
that stays (an oracle, a fixture generator, a measurement), each with
its reason.  Anything else unreached fails the test by name.
"""

from __future__ import annotations

import ast
import builtins
import importlib
import re
import textwrap
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
    "ragflow_spark.pdf.geometry.line_tag": "tags the PDF sections test_pdf_template_e2e chunks",
    "ragflow_spark.data.pdfgen.EM": "glyph advance test_pdf_roundtrip_fuzz measures against",
    "ragflow_spark.text.term_weight.load_resources": "reads the reference resources for parity",
    "ragflow_spark.text.synonyms.load_synonyms": "reads the reference synonyms for parity",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*")
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
_DEFS = (*_FUNCS, ast.ClassDef)
_IMPORTS = (ast.Import, ast.ImportFrom)


def _dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _names(node: ast.AST) -> set[str]:
    """The names ``node`` references, imports excluded."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if _IDENT.fullmatch(n.value):
                out.update(n.value.split("."))
    return out


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


def _root_files() -> list[Path]:
    files = sorted((ROOT / "scripts").glob("*.py"))
    files += sorted((ROOT / "extractbench").glob("*.py"))
    files += [ROOT / "__spark_entry__.py"]
    return files


def _assigned(stmt: ast.stmt) -> list[str]:
    """The target names of a simple-name module-level assignment."""
    if isinstance(stmt, ast.Assign) and all(isinstance(t, ast.Name) for t in stmt.targets):
        names = [t.id for t in stmt.targets]
    elif isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name) and stmt.value:
        names = [stmt.target.id]
    else:
        return []
    return [] if any(_dunder(n) for n in names) else names


def _dotted(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        head = _dotted(node.value)
        return head and f"{head}.{node.attr}"
    return None


def _imported(tree: ast.Module) -> dict[str, str]:
    """Local name -> the dotted path it imports (absolute imports only)."""
    out: dict[str, str] = {}
    for stmt in ast.walk(tree):
        if isinstance(stmt, ast.Import):
            for a in stmt.names:
                out[a.asname or a.name.split(".")[0]] = a.name if a.asname else a.name.split(".")[0]
        elif isinstance(stmt, ast.ImportFrom) and not stmt.level and stmt.module:
            for a in stmt.names:
                out[a.asname or a.name] = f"{stmt.module}.{a.name}"
    return out


def _resolve(dotted: str, imported: dict[str, str]):
    """The object a base-class expression names, or None."""
    head, _, rest = dotted.partition(".")
    path = imported.get(head)
    if path is None:
        obj = getattr(builtins, head, None)
    else:
        mod, _, attr = path.rpartition(".")
        try:
            obj = importlib.import_module(path)
        except ImportError:
            try:
                obj = getattr(importlib.import_module(mod), attr) if mod else None
            except (ImportError, AttributeError):
                obj = None
    for part in rest.split(".") if rest else ():
        obj = getattr(obj, part, None)
    return obj


def unreached(package: Path = PACKAGE, root_files: list[Path] | None = None) -> list[str]:
    """Qualified names of the package's definitions no root reaches."""
    if root_files is None:
        root_files = _root_files()
    # name -> [(qualified name, node whose names the definition reaches)]
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    scope: dict[str, dict[str, str]] = {}  # class -> its module's imports
    aliases: dict[str, set[str]] = {}
    roots: set[str] = set()

    def scan_imports(tree: ast.Module) -> None:
        for n in ast.walk(tree):
            if isinstance(n, _IMPORTS):
                for a in n.names:
                    if a.asname:
                        aliases.setdefault(a.asname, set()).add(a.name.split(".")[-1])

    for path in sorted(package.rglob("*.py")):
        module = ".".join(path.relative_to(package.parent).with_suffix("").parts)
        tree = _parse(path)
        scan_imports(tree)
        imported = _imported(tree)
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                defs.setdefault(stmt.name, []).append((f"{module}.{stmt.name}", stmt))
                scope[f"{module}.{stmt.name}"] = imported
            elif _assigned(stmt):
                for name in _assigned(stmt):
                    defs.setdefault(name, []).append((f"{module}.{name}", stmt.value))
            elif not isinstance(stmt, _IMPORTS):
                roots |= _names(stmt)
    for path in root_files:
        tree = _parse(path)
        scan_imports(tree)
        roots |= _names(tree)

    def external(qual: str, cls: ast.ClassDef, seen: set[str]) -> set[str]:
        """Attribute names the class inherits from bases outside the package."""
        out: set[str] = set()
        for base in cls.bases:
            dotted = _dotted(base)
            if dotted is None:
                continue
            ours = [(q, n) for q, n in defs.get(dotted, ()) if isinstance(n, ast.ClassDef)]
            if ours:
                for q, node in ours:
                    if q not in seen:
                        out |= external(q, node, seen | {q})
                continue
            obj = _resolve(dotted, scope[qual])
            if obj is None:  # unknown base: assume it calls every method
                return {m.name for m in cls.body if isinstance(m, _FUNCS)}
            out |= set(dir(obj))
        return out

    reached: set[str] = set()
    todo = list(roots)

    def reach(node: ast.AST) -> None:
        todo.extend(_names(node) - reached)

    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        todo.extend(aliases.get(name, ()))
        for qual, node in defs.get(name, ()):
            if not isinstance(node, ast.ClassDef):
                reach(node)
                continue
            inherited = external(qual, node, {qual})
            for stmt in node.body:
                if isinstance(stmt, _FUNCS) and not _dunder(stmt.name):
                    defs.setdefault(stmt.name, []).append((f"{qual}.{stmt.name}", stmt))
                    if stmt.name in reached:  # named before its class was reached
                        reach(stmt)
                    elif stmt.name in inherited:
                        todo.append(stmt.name)
                else:
                    reach(stmt)
            for base in (*node.bases, *node.keywords, *node.decorator_list):
                reach(base)
    return sorted(q for name, found in defs.items() if name not in reached for q, _ in found)


def test_every_definition_is_reached_outside_tests():
    missing = [q for q in unreached() if q not in KEEP]
    assert missing == [], "reached only from tests (delete, or KEEP with a reason):\n" + "\n".join(
        missing
    )


def test_keep_names_existing_unreached_definitions():
    assert sorted(KEEP) == sorted(q for q in unreached() if q in KEEP)


def test_walk_flags_imports_methods_and_constants_but_not_overrides(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text('"""A package."""\n')
    (pkg / "mod.py").write_text(
        textwrap.dedent(
            """
            from html.parser import HTMLParser

            USED = 3
            UNREAD = 4


            def only_imported():
                return 1


            def called():
                return USED


            class Parser(HTMLParser):
                def handle_data(self, data):
                    self.out.append(data)

                def used_method(self):
                    return called()

                def unnamed_method(self):
                    return 2
            """
        )
    )
    (pkg / "use.py").write_text(
        "from .mod import only_imported, Parser\n\nParser().used_method()\n"
    )
    root = tmp_path / "run.py"
    root.write_text("from pkg.mod import only_imported as f\n")
    assert unreached(pkg, [root]) == [
        "pkg.mod.Parser.unnamed_method",
        "pkg.mod.UNREAD",
        "pkg.mod.only_imported",
    ]
