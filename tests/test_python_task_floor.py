"""The Python task floor: every Python body drops the worker's zip
importers (``databricks_pdf_ocr_spark/worker.py``), so a reused worker's
next task has no zip directory to re-read in ``invalidate_caches()``;
and no driver-held frame is built from a Python list, whose every read
runs a job of pickled Python tasks.

``test_every_python_body_drops_zip_importers`` needs no Spark: it walks the
AST of the package and of ``jobs/`` and fails on a function passed to
``mapInPandas`` or ``pandas_udf`` whose body does not call
``drop_zip_importers()`` right after its own imports.
``test_no_list_built_frames`` walks the same files and fails on any
``createDataFrame`` call outside ``session.local_frame``, the Arrow-built
``LocalTableScan`` that no Spark job reads.
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


def _sources() -> list[Path]:
    return [f for f in sorted([*(ROOT / "databricks_pdf_ocr_spark").rglob(
        "*.py"), *(ROOT / "jobs").glob("*.py")])
        if "__pycache__" not in f.parts]


def test_every_python_body_drops_zip_importers():
    bodies = [b for f in _sources() for b in python_bodies(f)]
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


#: the one module allowed a ``createDataFrame`` call, inside ``local_frame``
SESSION = "databricks_pdf_ocr_spark/session.py"


def list_frame_calls(source: str, label: str) -> list[int]:
    """Lines of ``source`` (the file ``label``) that call
    ``createDataFrame`` anywhere but inside ``local_frame`` in
    ``SESSION``."""
    out: list[int] = []

    def visit(node: ast.AST, exempt: bool) -> None:
        if isinstance(node, _FUNC) and node.name == "local_frame":
            exempt = label == SESSION
        if (isinstance(node, ast.Call) and not exempt
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"):
            out.append(node.lineno)
        for child in ast.iter_child_nodes(node):
            visit(child, exempt)

    visit(ast.parse(source, label), False)
    return out


def test_no_list_built_frames():
    found = {}
    for f in _sources():
        label = str(f.relative_to(ROOT))
        found[label] = list_frame_calls(f.read_text(), label)
    assert found[SESSION] == []
    assert {k: v for k, v in found.items() if v} == {}


def test_list_frame_calls_flags_a_list_built_frame():
    src = ("def build(spark):\n"
           "    return spark.createDataFrame([(1,)], 'a int')\n")
    assert list_frame_calls(src, "databricks_pdf_ocr_spark/x.py") == [2]
    assert list_frame_calls(src, SESSION) == [2]
    local = ("def local_frame(spark, rows, schema):\n"
             "    return spark.createDataFrame(rows, schema)\n")
    assert list_frame_calls(local, SESSION) == []
    assert list_frame_calls(local, "jobs/x.py") == [2]


def test_local_frame_takes_ddl_and_runs_no_job(spark, in_job_group):
    from databricks_pdf_ocr_spark.session import local_frame

    df, jobs = in_job_group("local-frame", lambda: local_frame(
        spark, [(1, b"x", [0.5])], "a int, b binary, c array<double>"))
    assert df.schema.simpleString() == \
        "struct<a:int,b:binary,c:array<double>>"
    assert jobs == []
    assert "LocalTableScan" in \
        df._jdf.queryExecution().executedPlan().toString()
    rows, jobs = in_job_group("local-frame-read", df.collect)
    assert [tuple(r) for r in rows] == [(1, b"x", [0.5])] and jobs == []


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
