"""Reachability guard: every package module, top-level function, class
and method is reached from something that runs outside pytest.

The roots are the spark-submit jobs, the tools, the bench scripts, the
query-registry entry point ``__spark_entry__.py`` and the ``extractbench``
harness.

Module level: the walk follows every ``import`` / ``from ... import`` in
a module's AST, function-level imports included, so a lazily imported
module counts as reached.

Function level: a top-level ``def`` or ``class`` in a reached module
counts as reached when its name appears in a root, in the module-level
code of a reached module (``@register(...)`` arguments and argument
defaults included), or in the body of another reached definition; a
method of a reached class, when its name appears in the same places.
``@register`` itself reaches the function it decorates: the query
registry calls it.  Names count wherever they appear, string literals
included, because the registry, SQL text and the benchmark's method
wrappers look code up by name; docstrings do not count, since naming a
function in prose does not call it.  The walk is transitive.

A module or function only tests reach is dead weight; delete it, or
list it in ``ALLOWED`` / ``ALLOWED_FUNCTIONS`` with the reason it must
stay.  Both allowlists stay exact.  Needs no Spark.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "databricks_pdf_ocr_spark"

#: package modules kept although no root reaches them, with the reason
ALLOWED = {
    "sources/images.py": "the JVM ImageIO reference the JPEG decoder "
                         "tests compare against",
}

#: top-level definitions kept although only tests reach them
ALLOWED_FUNCTIONS = {
    "functions/robotsmini.py:evaluate":
        "the scalar robots.txt reference the vectorized gate is tested "
        "against",
    "functions/vp8lmini.py:alph_encode":
        "the fixture writer for the every-filter round-trip test of the "
        "live ALPH decoder",
    "sources/csvsrc.py:error_rows":
        "the CSV mouth's error leg; the parse tests assert the error "
        "contract through it",
    "sources/jsonl.py:error_lines":
        "the JSONL mouth's error leg, the twin of csvsrc.error_rows; the "
        "parse tests assert the error contract through it",
}


def _roots() -> list[Path]:
    return sorted([*ROOT.glob("jobs/*.py"), *ROOT.glob("tools/*.py"),
                   *ROOT.glob("bench*.py"), ROOT / "__spark_entry__.py",
                   *ROOT.glob("extractbench/*.py")])


def _module_file(dotted: str) -> Path | None:
    base = ROOT.joinpath(*dotted.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _package_of(path: Path) -> str:
    return ".".join(path.relative_to(ROOT).parent.parts)


def _imports(path: Path) -> set[Path]:
    """Package module files ``path`` imports, at any nesting level.  An
    imported module also imports every enclosing package ``__init__``;
    ``from m import x`` counts ``m.x`` when ``x`` is itself a module."""
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                pkg = _package_of(path).split(".")
                pkg = pkg[:len(pkg) - node.level + 1]
                base = ".".join(pkg + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    files = set()
    for dotted in out:
        if dotted.split(".")[0] != PKG:
            continue
        parts = dotted.split(".")
        for i in range(1, len(parts) + 1):
            f = _module_file(".".join(parts[:i]))
            if f is not None:
                files.add(f)
    return files


def reachable() -> set[Path]:
    seen: set[Path] = set()
    todo = [p for r in _roots() for p in _imports(r)]
    while todo:
        f = todo.pop()
        if f not in seen:
            seen.add(f)
            todo.extend(_imports(f))
    return seen


def test_every_package_module_is_reached():
    pkg_dir = ROOT / PKG
    reached = reachable()
    unreached = sorted(
        str(f.relative_to(pkg_dir)) for f in pkg_dir.rglob("*.py")
        if f not in reached and "__pycache__" not in f.parts)
    assert [m for m in unreached if m not in ALLOWED] == []
    # the allowlist stays exact: a reached or missing entry must go
    assert sorted(ALLOWED) == [m for m in unreached if m in ALLOWED]


_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_FUNC = (ast.FunctionDef, ast.AsyncFunctionDef)
_DEF = (*_FUNC, ast.ClassDef)


def _parse(path: Path) -> ast.Module:
    """``path``'s AST without its module, class and function docstrings."""
    tree = ast.parse(path.read_text(), str(path))
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, *_DEF)) \
                and ast.get_docstring(node, clean=False) is not None:
            node.body = node.body[1:]
    return tree


def _names(*nodes: ast.AST) -> set[str]:
    """Every name, attribute, imported name and identifier-shaped word
    of a string literal under ``nodes``."""
    out: set[str] = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rsplit(".", 1)[-1])
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                out.update(_WORD.findall(n.value))
    return out


def _header(d: ast.AST) -> list[ast.AST]:
    """The parts of a definition that run when it is defined."""
    if isinstance(d, ast.ClassDef):
        return [*d.decorator_list, *d.bases, *d.keywords]
    return [*d.decorator_list, *d.args.defaults,
            *(x for x in d.args.kw_defaults if x is not None)]


def _registered(d: ast.AST) -> bool:
    return any(isinstance(x, ast.Call) and isinstance(x.func, ast.Name)
               and x.func.id == "register" for x in d.decorator_list)


def _methods(cls: ast.ClassDef) -> list[ast.AST]:
    """Methods checked by name; dunders are called implicitly."""
    return [m for m in cls.body if isinstance(m, _FUNC)
            and not m.name.startswith("__")]


def unreached_definitions() -> list[str]:
    """``module:name`` (``module:Class.method`` for methods) of every
    definition in a reached module that nothing outside pytest names."""
    pkg_dir = ROOT / PKG
    names = set().union(*(_names(_parse(r)) for r in _roots()))
    # key -> (name it is called by, its body's names, enclosing class key)
    defs: dict[str, tuple[str, set[str], str | None]] = {}
    for f in reachable():
        mod = str(f.relative_to(pkg_dir))
        for st in _parse(f).body:
            if not isinstance(st, _DEF):
                names |= _names(st)
                continue
            key = f"{mod}:{st.name}"
            names |= _names(*_header(st))
            if _registered(st):
                names.add(st.name)
            if isinstance(st, ast.ClassDef):
                methods = _methods(st)
                rest = [b for b in st.body if b not in methods]
                defs[key] = (st.name, _names(*rest, *(
                    h for m in methods for h in _header(m))), None)
                for m in methods:
                    defs[f"{key}.{m.name}"] = (m.name, _names(m), key)
            else:
                defs[key] = (st.name, _names(st), None)
    reached: set[str] = set()
    grew = True
    while grew:
        grew = False
        for key, (name, body, owner) in defs.items():
            if key not in reached and name in names \
                    and (owner is None or owner in reached):
                reached.add(key)
                names |= body
                grew = True
    return sorted(set(defs) - reached)


def test_every_package_function_is_reached():
    unreached = unreached_definitions()
    assert [d for d in unreached if d not in ALLOWED_FUNCTIONS] == []
    # the allowlist stays exact: a reached or missing entry must go
    assert sorted(ALLOWED_FUNCTIONS) == [d for d in unreached
                                         if d in ALLOWED_FUNCTIONS]
