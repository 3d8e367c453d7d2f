"""The Python task floor: every Python body drops the worker's zip
importers (``databricks_pdf_ocr_spark/worker.py``), so a reused worker's
next task has no zip directory to re-read in ``invalidate_caches()``.

``test_every_python_body_drops_zip_importers`` needs no Spark: it walks the
AST of the package and of ``jobs/`` and fails on a function passed to
``mapInPandas`` or ``pandas_udf`` whose body does not call
``drop_zip_importers()`` right after its own imports.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HELPER = "drop_zip_importers"
_FUNC = (ast.FunctionDef, ast.AsyncFunctionDef)


def _is_pandas_udf(func: ast.AST) -> bool:
    return (isinstance(func, ast.Name) and func.id == "pandas_udf") or (
        isinstance(func, ast.Attribute) and func.attr == "pandas_udf")


def _resolve(arg: ast.AST, scopes: list[ast.AST]) -> ast.AST | None:
    """The function ``arg`` evaluates to: a lambda, a def visible from the
    innermost of ``scopes``, or the def a factory call returns."""
    if isinstance(arg, ast.Lambda):
        return arg
    if isinstance(arg, ast.Name):
        for scope in reversed(scopes):
            for d in ast.walk(scope):
                if isinstance(d, _FUNC) and d.name == arg.id and d is not scope:
                    return d
        return None
    if isinstance(arg, ast.Call):
        factory = _resolve(arg.func, scopes)
        if isinstance(factory, _FUNC):
            for r in ast.walk(factory):
                if isinstance(r, ast.Return) and isinstance(r.value, ast.Name):
                    return _resolve(r.value, [*scopes, factory])
    return None


def python_bodies(path: Path) -> list[tuple[str, ast.AST | None]]:
    """``(label, function)`` for every function ``path`` passes to
    ``mapInPandas`` or ``pandas_udf`` (call or decorator form); the
    function is None where the walk cannot resolve it."""
    tree = ast.parse(path.read_text(), str(path))
    label = str(path.relative_to(ROOT))
    out: list[tuple[str, ast.AST | None]] = []

    def visit(node: ast.AST, scopes: list[ast.AST]) -> None:
        if isinstance(node, _FUNC):
            scopes = [*scopes, node]
            if any(_is_pandas_udf(d.func if isinstance(d, ast.Call) else d)
                   for d in node.decorator_list):
                out.append((f"{label}:{node.lineno}", node))
        if isinstance(node, ast.Call) and node.args and not isinstance(
                node.args[0], ast.Constant) and (
                _is_pandas_udf(node.func)
                or (isinstance(node.func, ast.Attribute)
                    and node.func.attr == "mapInPandas")):
            out.append((f"{label}:{node.lineno}",
                        _resolve(node.args[0], scopes)))
        for child in ast.iter_child_nodes(node):
            visit(child, scopes)

    visit(tree, [tree])
    return out


def drops_first(fn: ast.AST | None) -> bool:
    """``fn``'s first statement after its docstring and imports is
    ``drop_zip_importers()``."""
    if not isinstance(fn, _FUNC):
        return False
    body = iter(fn.body[1:] if ast.get_docstring(fn) is not None
                else fn.body)
    first = next((s for s in body
                  if not isinstance(s, (ast.Import, ast.ImportFrom))), None)
    return (isinstance(first, ast.Expr) and isinstance(first.value, ast.Call)
            and isinstance(first.value.func, ast.Name)
            and first.value.func.id == HELPER)


def test_every_python_body_drops_zip_importers():
    files = [f for f in sorted([*(ROOT / "databricks_pdf_ocr_spark").rglob(
        "*.py"), *(ROOT / "jobs").glob("*.py")])
        if "__pycache__" not in f.parts]
    bodies = [b for f in files for b in python_bodies(f)]
    # the walk must see the shipped bodies: the extraction and MinHash
    # kernels, tokenize, comp_len, 3 multimodal, 2 similarity, robots,
    # 3 warc, the fixture generator and the job's warm-up
    assert len(bodies) >= 15, bodies
    assert [label for label, fn in bodies if not drops_first(fn)] == []


def test_drops_first_rejects_a_late_or_missing_call():
    def fn(src: str) -> ast.AST:
        return ast.parse(src).body[0]

    assert drops_first(fn("def f(b):\n    import zlib\n"
                          "    drop_zip_importers()\n    yield from b\n"))
    assert not drops_first(fn("def f(b):\n    yield from b\n"))
    assert not drops_first(fn("def f(b):\n    x = 1\n"
                              "    drop_zip_importers()\n"))
    assert not drops_first(ast.parse("lambda b: b").body[0].value)


def test_reused_worker_starts_tasks_without_zip_importers(spark):
    """After one package Python job, every task of the next job at the
    same parallelism starts on a worker with no zip importer cached, so
    its ``invalidate_caches()`` re-read nothing.  The second job's body
    does not call the helper itself."""
    from databricks_pdf_ocr_spark.fixtures import SMOKE, fixture_df

    sc = spark.sparkContext
    # Spark keeps one worker pool per Python environment: a variable of
    # this test's own gives its two jobs a fresh pool no other test has
    # used.  Many tasks per core: a fresh worker's first task re-creates
    # a few importers while its output is serialized after the drop, and
    # the pool hands tasks out in turn, so every worker runs several.
    sc.environment["TASK_FLOOR_TEST"] = "1"
    try:
        parts = 8 * sc.defaultParallelism
        assert fixture_df(spark, 3, parts, SMOKE,
                          n_partitions=parts).count() == parts

        def probe(batches):
            import sys
            import zipimport

            import pandas as pd
            n = sum(isinstance(v, zipimport.zipimporter)
                    for v in sys.path_importer_cache.values())
            for _ in batches:
                pass
            yield pd.DataFrame({"zip_importers": [n]})

        found = [r[0] for r in spark.range(parts, numPartitions=parts)
                 .mapInPandas(probe, "zip_importers long").collect()]
    finally:
        del sc.environment["TASK_FLOOR_TEST"]
    assert found == [0] * parts
