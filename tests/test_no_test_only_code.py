"""Every definition and every option of the package is used outside ``tests/``.

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
reaches every top-level definition of that name, and their bodies add
the names they reference (a class's body without its non-dunder
methods).  A method is reached only as an attribute: an ``Attribute``,
a part after the first of a dotted string, or the name string of a
``getattr``/``setattr``/``hasattr`` call — a local variable or a dict
key of the same name does not call it.  A method that overrides a name
of a base class outside the package (``HTMLParser.handle_data``) is
reached with its class: the base's own code calls it.  Matching by
name alone can only over-reach, so a definition this test reports has
no caller at all.

The parameter walk then checks every defaulted parameter of a reached
function, method or class (a dataclass field with a default counts):
some call outside ``tests/`` must set it, by keyword, by position
(``self``/``cls`` not counted) or through ``*args``/``**kw`` at the
call site.  A call matches by name (an ``as`` alias resolves, a
constructor call sets the class's ``__init__`` parameters or its
dataclass fields, ``partial(f, ...)`` calls ``f``).  A parameter no
such call sets has one value in every run, so it is a constant, not
an option.

``KEEP`` lists the definitions that exist only to feed tests of code
that stays (an oracle, a fixture generator, a measurement), and
``KEEP_PARAMS`` the parameters only tests set that stay settable (a
test seam, a deployment setting), each with its reason; the
parameters of ``KEEP`` definitions are exempt.  Anything else fails
the test by name.
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
    "ragflow_spark.pdf.assemble.tag_titles_from_outline": "drives the paper-template tests",
    "ragflow_spark.parsers.pdf.extract_pdf_text": "text-only wrapper the PDF parser tests call",
    "ragflow_spark.ops.skew.host_of": "test_skew's input for salted_agg",
    "ragflow_spark.ops.skew.partition_sizes": "test_skew's measurement of salted_agg",
    "ragflow_spark.pdf.geometry.line_tag": "tags the PDF sections test_pdf_template_e2e chunks",
    "ragflow_spark.data.pdfgen.EM": "glyph advance test_pdf_roundtrip_fuzz measures against",
    "ragflow_spark.text.term_weight.load_resources": "reads the reference resources for parity",
    "ragflow_spark.text.synonyms.load_synonyms": "reads the reference synonyms for parity",
    "ragflow_spark.parsers.pdf_chars._Font.em": (
        "oracle for the advance _interpret_page inlines (test_inlined_advance_matches_font_em)"
    ),
}

KEEP_PARAMS = {
    "ragflow_spark.session.get_spark(master)": "deployment setting: the Spark master URL",
    "ragflow_spark.text.term_weight.TermWeighter.__init__(freq)": (
        "test seam: the parity tests inject the reference's frequency lookup"
    ),
    "ragflow_spark.text.term_weight.TermWeighter.__init__(tag)": (
        "test seam: the parity tests inject the reference's POS lookup"
    ),
    "ragflow_spark.text.synonyms.SynonymLookup.__init__(dictionary)": (
        "test seam: the parity tests load the reference's synonym resource"
    ),
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*")
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
_DEFS = (*_FUNCS, ast.ClassDef)
_IMPORTS = (ast.Import, ast.ImportFrom)


def _dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _names(node: ast.AST) -> tuple[set[str], set[str]]:
    """The names ``node`` references, imports excluded, and the subset
    of them looked up as attributes: an ``Attribute``, every part after
    the first of a dotted string, and the name string of a ``getattr``,
    ``setattr`` or ``hasattr`` call."""
    names: set[str] = set()
    attrs: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            attrs.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if _IDENT.fullmatch(n.value):
                head, *rest = n.value.split(".")
                names.add(head)
                attrs.update(rest)
        elif (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Name)
            and n.func.id in ("getattr", "setattr", "hasattr")
            and len(n.args) > 1
            and isinstance(n.args[1], ast.Constant)
            and isinstance(n.args[1].value, str)
        ):
            attrs.add(n.args[1].value)
    return names | attrs, attrs


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


class _Walk:
    """The definition walk over ``package`` from ``root_files``."""

    def __init__(self, package: Path, root_files: list[Path]):
        # name -> [(qualified name, node whose names the definition reaches)]
        self.defs: dict[str, list[tuple[str, ast.AST]]] = {}
        self.methods: dict[str, list[tuple[str, ast.AST]]] = {}
        self.owner: dict[str, ast.ClassDef] = {}  # method qualified name -> its class
        self.scope: dict[str, dict[str, str]] = {}  # class -> its module's imports
        self.aliases: dict[str, set[str]] = {}
        self.trees: list[ast.Module] = []
        roots: set[str] = set()
        root_attrs: set[str] = set()
        for path in sorted(package.rglob("*.py")):
            module = ".".join(path.relative_to(package.parent).with_suffix("").parts)
            tree = self._scan(path)
            imported = _imported(tree)
            for stmt in tree.body:
                if isinstance(stmt, _DEFS):
                    self.defs.setdefault(stmt.name, []).append((f"{module}.{stmt.name}", stmt))
                    self.scope[f"{module}.{stmt.name}"] = imported
                elif _assigned(stmt):
                    for name in _assigned(stmt):
                        self.defs.setdefault(name, []).append((f"{module}.{name}", stmt.value))
                elif not isinstance(stmt, _IMPORTS):
                    names, attrs = _names(stmt)
                    roots |= names
                    root_attrs |= attrs
        for path in root_files:
            names, attrs = _names(self._scan(path))
            roots |= names
            root_attrs |= attrs
        self.reached: set[str] = set()
        self.reached_attrs: set[str] = set()
        self.classes: list[tuple[str, ast.ClassDef]] = []
        self._run([(n, n in root_attrs) for n in roots])

    def _scan(self, path: Path) -> ast.Module:
        tree = _parse(path)
        self.trees.append(tree)
        for n in ast.walk(tree):
            if isinstance(n, _IMPORTS):
                for a in n.names:
                    if a.asname:
                        self.aliases.setdefault(a.asname, set()).add(a.name.split(".")[-1])
        return tree

    def _external(self, qual: str, cls: ast.ClassDef, seen: set[str]) -> set[str]:
        """Attribute names the class inherits from bases outside the package."""
        out: set[str] = set()
        for base in cls.bases:
            dotted = _dotted(base)
            if dotted is None:
                continue
            ours = [(q, n) for q, n in self.defs.get(dotted, ()) if isinstance(n, ast.ClassDef)]
            if ours:
                for q, node in ours:
                    if q not in seen:
                        out |= self._external(q, node, seen | {q})
                continue
            obj = _resolve(dotted, self.scope[qual])
            if obj is None:  # unknown base: assume it calls every method
                return {m.name for m in cls.body if isinstance(m, _FUNCS)}
            out |= set(dir(obj))
        return out

    def _run(self, todo: list[tuple[str, bool]]) -> None:
        def reach(node: ast.AST) -> None:
            names, attrs = _names(node)
            todo.extend((n, n in attrs) for n in names)

        while todo:
            name, attr = todo.pop()
            if attr and name not in self.reached_attrs:
                self.reached_attrs.add(name)
                for _, node in self.methods.get(name, ()):
                    reach(node)
            if name in self.reached:
                continue
            self.reached.add(name)
            todo.extend((a, False) for a in self.aliases.get(name, ()))
            for qual, node in self.defs.get(name, ()):
                if not isinstance(node, ast.ClassDef):
                    reach(node)
                    continue
                self.classes.append((qual, node))
                inherited = self._external(qual, node, {qual})
                for stmt in node.body:
                    if isinstance(stmt, _FUNCS) and not _dunder(stmt.name):
                        self.methods.setdefault(stmt.name, []).append((f"{qual}.{stmt.name}", stmt))
                        self.owner[f"{qual}.{stmt.name}"] = node
                        if stmt.name in self.reached_attrs:  # named before its class was reached
                            reach(stmt)
                        elif stmt.name in inherited:
                            todo.append((stmt.name, True))
                    else:
                        reach(stmt)
                for base in (*node.bases, *node.keywords, *node.decorator_list):
                    reach(base)

    def unreached(self) -> list[str]:
        out = [q for name, found in self.defs.items() if name not in self.reached for q, _ in found]
        out += [
            q for name, found in self.methods.items() if name not in self.reached_attrs for q, _ in found
        ]
        return sorted(out)

    def reached_defs(self):
        """(qualified name, node, owning class or None) of every reached
        function, method and class."""
        for name, found in self.defs.items():
            if name in self.reached:
                for qual, node in found:
                    if isinstance(node, _DEFS):
                        yield qual, node, None
        for name, found in self.methods.items():
            if name in self.reached_attrs:
                for qual, node in found:
                    yield qual, node, self.owner[qual]
        for qual, cls in self.classes:
            for stmt in cls.body:
                if isinstance(stmt, _FUNCS) and _dunder(stmt.name):
                    yield f"{qual}.{stmt.name}", stmt, cls


def _walk(package: Path, root_files: list[Path] | None) -> _Walk:
    return _Walk(package, _root_files() if root_files is None else root_files)


def unreached(package: Path = PACKAGE, root_files: list[Path] | None = None) -> list[str]:
    """Qualified names of the package's definitions no root reaches."""
    return _walk(package, root_files).unreached()


def _decorated(node: ast.AST, name: str) -> bool:
    return any(
        (_dotted(d.func if isinstance(d, ast.Call) else d) or "").split(".")[-1] == name
        for d in getattr(node, "decorator_list", ())
    )


def _callee(call: ast.Call) -> tuple[str | None, list[ast.expr]]:
    """The name a call calls and its positional arguments; a
    ``partial(f, ...)`` calls ``f``."""
    name = call.func.id if isinstance(call.func, ast.Name) else getattr(call.func, "attr", None)
    if name == "partial" and call.args:
        inner = call.args[0]
        return (inner.id if isinstance(inner, ast.Name) else getattr(inner, "attr", None)), call.args[1:]
    return name, call.args


def _calls(walk: _Walk) -> dict[str, list[tuple[float, set[str]]]]:
    """name -> (positional count, keyword names) of every call to it
    outside ``tests/``; a ``*args`` or ``**kw`` sets everything."""
    out: dict[str, list[tuple[float, set[str]]]] = {}
    for tree in walk.trees:
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            name, args = _callee(call)
            if name is None:
                continue
            star = any(isinstance(a, ast.Starred) for a in args) or any(
                k.arg is None for k in call.keywords
            )
            shape = (float("inf") if star else len(args), {k.arg for k in call.keywords if k.arg})
            for n in {name, *walk.aliases.get(name, ())}:
                out.setdefault(n, []).append(shape)
    return out


def _defaulted(node: ast.AST, method: bool) -> list[tuple[float, str]]:
    """(position, name) of each defaulted parameter a caller may set;
    a keyword-only one has no position."""
    if isinstance(node, ast.ClassDef):  # a dataclass: its fields in order
        fields = [
            s
            for s in node.body
            if isinstance(s, ast.AnnAssign)
            and isinstance(s.target, ast.Name)
            and "ClassVar" not in ast.unparse(s.annotation)
        ]
        return [(i, s.target.id) for i, s in enumerate(fields) if s.value is not None]
    a = node.args
    pos = [*a.posonlyargs, *a.args]
    off = int(method and not _decorated(node, "staticmethod"))
    first = len(pos) - len(a.defaults)
    out = [(i - off, p.arg) for i, p in enumerate(pos) if i >= first]
    out += [(float("inf"), p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def unset_params(package: Path = PACKAGE, root_files: list[Path] | None = None) -> list[str]:
    """``qualified name(parameter)`` of every defaulted parameter of a
    reached definition that no call outside ``tests/`` sets.  A call
    matches a definition by name (a constructor by its class name, which
    sets the class's ``__init__`` parameters or dataclass fields)."""
    walk = _walk(package, root_files)
    calls = _calls(walk)
    out = []
    for qual, node, cls in walk.reached_defs():
        if qual in KEEP or (cls is not None and qual.rpartition(".")[0] in KEEP):
            continue
        if isinstance(node, ast.ClassDef):
            if not _decorated(node, "dataclass"):
                continue
            name, params = node.name, _defaulted(node, False)
        elif node.name == "__init__":
            name, params = cls.name, _defaulted(node, True)
        else:
            name, params = node.name, _defaulted(node, cls is not None)
        shapes = calls.get(name, ())
        for pos, param in params:
            if not any(n > pos or param in kws for n, kws in shapes):
                out.append(f"{qual}({param})")
    return sorted(out)


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


def test_every_defaulted_parameter_is_set_outside_tests():
    missing = [p for p in unset_params() if p not in KEEP_PARAMS]
    assert missing == [], "set only by tests (fold into a constant, or KEEP_PARAMS):\n" + (
        "\n".join(missing)
    )


def test_keep_params_names_existing_unset_parameters():
    assert sorted(KEEP_PARAMS) == sorted(p for p in unset_params() if p in KEEP_PARAMS)


def test_methods_reached_only_as_attributes(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text('"""A package."""\n')
    (pkg / "mod.py").write_text(
        textwrap.dedent(
            """
            class Box:
                def top(self):
                    return 1

                def left(self):
                    return 2

                def width(self):
                    return 3

                def height(self):
                    return 4


            def use(box):
                top = {"top": 0}["top"]
                return top + box.left() + getattr(box, "width")()
            """
        )
    )
    root = tmp_path / "run.py"
    root.write_text("from pkg.mod import Box, use\n\nuse(Box())\n")
    # a local variable and a dict key named ``top`` do not call Box.top
    assert unreached(pkg, [root]) == ["pkg.mod.Box.height", "pkg.mod.Box.top"]


def test_walk_flags_parameters_only_tests_set(tmp_path, monkeypatch):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text('"""A package."""\n')
    (pkg / "mod.py").write_text(
        textwrap.dedent(
            """
            from dataclasses import dataclass


            def f(x, by_pos=1, by_kw=2, unset=3, *, kw_only=4):
                return x


            def g(a=1, b=2):
                return a


            def h(a=1):
                return a


            def keep_me(a=1):
                return a


            class Worker:
                def __init__(self, size=1, name="w"):
                    self.size = size

                def run(self, n=1, m=2):
                    return n


            @dataclass
            class Config:
                out: str
                used: int = 1
                never: int = 2
            """
        )
    )
    root = tmp_path / "run.py"
    root.write_text(
        textwrap.dedent(
            """
            from pkg.mod import Config, Worker, f, g, keep_me
            from pkg.mod import h as alias

            f(0, 5, by_kw=6)
            g(**{"a": 1})
            alias(a=2)
            keep_me()
            Worker(4).run(3)
            Config("o", used=5)
            """
        )
    )
    monkeypatch.setitem(KEEP, "pkg.mod.keep_me", "a fixture")
    assert unset_params(pkg, [root]) == [
        "pkg.mod.Config(never)",
        "pkg.mod.Worker.__init__(name)",
        "pkg.mod.Worker.run(m)",
        "pkg.mod.f(kw_only)",
        "pkg.mod.f(unset)",
    ]
