"""Reachability guard: every package module is imported, directly or
transitively, from something that runs outside pytest.

The roots are the spark-submit jobs, the tools, the bench scripts, the
query-registry entry point ``__spark_entry__.py`` and the ``extractbench``
harness.
The walk follows every ``import`` / ``from ... import`` in a module's AST,
function-level imports included, so a lazily imported module counts as
reached.  A module only tests import is dead weight; delete it, or list it
in ``ALLOWED`` with the reason it must stay.  Needs no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "databricks_pdf_ocr_spark"

#: package modules kept although no root reaches them, with the reason
ALLOWED = {
    "sources/images.py": "the JVM ImageIO reference the JPEG decoder "
                         "tests compare against",
    "functions/tiffmini.py": "the scanned-document codec, parity-tested "
                             "against JVM ImageIO; no job ingests TIFF "
                             "yet (ROADMAP: wire it into media_phash or "
                             "delete it)",
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
