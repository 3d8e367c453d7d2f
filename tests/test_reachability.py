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

Parameter level: every defaulted parameter of a module-level function,
or of a method of a module-level class, in the package or ``jobs/`` is
set at some call site of a function with that name outside ``tests/``:
by keyword, by position, or through a ``*args`` / ``**kwargs`` call.  A
class call reaches ``__init__``.  An argument that repeats the
default's own expression sets nothing.  Nested defs (closures,
default-bound locals) are exempt.  Every defaulted field of a
module-level ``@dataclass`` is likewise set outside ``tests/`` by a
class-call keyword or positional argument, a ``dataclasses.replace``
keyword, or a key of a ``load_config`` overrides dict (the job's flags).

A module or function only tests reach is dead weight, and so is a
default no pipeline sets; delete it, or list it in ``ALLOWED`` /
``ALLOWED_FUNCTIONS`` / ``ALLOWED_DEFAULTS`` with the reason it must
stay.  The allowlists stay exact.  Needs no Spark.
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
    "operators/multimodal.py:dedup_payloads":
        "the media_payloads table's dedup-on-read, which a reader of the "
        "table needs (crash reruns and gc restores duplicate rows); the "
        "job tests read the table through it",
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


# ---------------------------------------------------------------------------
# Parameter level: every default is set by some caller
# ---------------------------------------------------------------------------

#: defaulted parameters and dataclass fields no pipeline call sets, kept
#: for one of four reasons: (a) an encoder option that builds
#: decoder-coverage fixtures; (b) a bound on outside input, or an
#: iteration cap, that tests shrink to reach its guard cheaply; (c) a
#: deployment setting; (d) a name the benchmark passes or reads
ALLOWED_DEFAULTS = {
    "sources/warc.py:read_warc_segments(glob)":
        "(c) the file pattern of a deployment's WARC landing directory",
    "sources/images.py:read_image_files(glob)":
        "(c) the file pattern of a deployment's image landing directory",
    "sources/images.py:read_image_files(recursive)":
        "(c) whether a deployment's image landing directory is nested",
    "streaming/ingest.py:ingest_available(max_files_per_trigger)":
        "(c) the micro-batch size a deployment's landing stream admits",
    "sources/tables.py:IcebergTableIO.__init__(namespace)":
        "(c) the Iceberg catalog namespace a deployment keeps its tables in",
    "jobs/bench_scaling.py:record(bench_dir)":
        "(c) where a checkout keeps its scaling record; tests record into "
        "a temporary directory",
    "functions/gifmini.py:encode_gif(interlace)":
        "(a) builds the interlaced fixtures of the GIF decoder tests",
    "functions/gifmini.py:encode_gif(local_palettes)":
        "(a) builds the local-palette fixtures of the GIF decoder tests",
    "functions/gifmini.py:encode_gif(loop)":
        "(a) builds the looping-animation fixtures of the GIF decoder tests",
    "functions/pngmini.py:encode_png(filter_type)":
        "(a) builds the per-filter fixtures of the PNG decoder tests",
    "functions/vp8lmini.py:alph_encode(filt)":
        "(a) builds the per-filter fixtures of the ALPH decoder tests",
    "sources/warc.py:write_warc(gzip_per_record)":
        "(a) builds the whole-file-gzip fixtures of the WARC reader tests",
    "sources/warc.py:iter_warc_stream(max_record_bytes)":
        "(b) the record-size bound on crawl input; tests shrink it to "
        "reach the oversize error cheaply",
    "sources/warc.py:_decompress_entity(max_bytes)":
        "(b) the inflation bound on a compressed HTTP entity; tests "
        "shrink it to reach the decompression-bomb guard cheaply",
    "operators/dedup.py:neardup_components(max_iter)":
        "(b) the frontier loop's round cap; tests shrink it to reach "
        "the non-convergence error cheaply",
    "config.py:ExtractConfig.max_payload_bytes":
        "(d) read by extractbench/trace.py:functions_probe",
    "config.py:ExtractConfig.max_pages_per_doc":
        "(d) read by extractbench/trace.py:functions_probe",
    "config.py:ExtractConfig.max_retries":
        "(d) read by extractbench/trace.py:functions_probe",
    "config.py:ExtractConfig.retry_backoff_s":
        "(d) read by extractbench/trace.py:functions_probe",
}


def _label(path: Path) -> str:
    pkg_dir = ROOT / PKG
    return str(path.relative_to(pkg_dir if pkg_dir in path.parents
                                else ROOT))


def _checked_files() -> list[Path]:
    return sorted(f for f in [*(ROOT / PKG).rglob("*.py"),
                              *ROOT.glob("jobs/*.py")]
                  if "__pycache__" not in f.parts)


def _caller_files() -> list[Path]:
    return sorted({*_roots(), *_checked_files(), *ROOT.glob("tests/*.py")})


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else (
        f.attr if isinstance(f, ast.Attribute) else None)


def _calls(trees: list[ast.Module]) -> dict[str, list[ast.Call]]:
    """Every call under ``trees``, by the name it calls."""
    out: dict[str, list[ast.Call]] = {}
    for tree in trees:
        for n in ast.walk(tree):
            if isinstance(n, ast.Call) and _callee(n) is not None:
                out.setdefault(_callee(n), []).append(n)
    return out


def _differs(value: ast.AST, default: ast.AST | None) -> bool:
    """``value`` is not the default's own expression (``None``: a
    default factory, which no argument repeats)."""
    return default is None or ast.dump(value) != ast.dump(default)


def _sets(call: ast.Call, param: str, pos: int | None,
          default: ast.AST | None, splat: bool = True) -> bool:
    """``call`` passes ``param``, the ``pos``-th positional argument of
    the bound callee (None for a keyword-only parameter), a value other
    than its ``default``; a ``**`` splat counts only with ``splat``."""
    for kw in call.keywords:
        if kw.arg is None and splat:
            return True
        if kw.arg == param:
            return _differs(kw.value, default)
    if pos is None:
        return False
    for i, a in enumerate(call.args):
        if isinstance(a, ast.Starred):
            return i <= pos
        if i == pos:
            return _differs(a, default)
    return False


def _defaulted(d: ast.AST, bound: bool):
    """``(name, bound positional index, default)`` of each defaulted
    parameter of ``d``; a bound method's first parameter is not
    counted."""
    a = d.args
    pos = [*a.posonlyargs, *a.args]
    skip = 1 if bound else 0
    first = len(pos) - len(a.defaults)
    out = [(p.arg, i - skip, a.defaults[i - first])
           for i, p in enumerate(pos) if i >= first]
    return out + [(p.arg, None, v) for p, v in zip(a.kwonlyargs,
                                                   a.kw_defaults)
                  if v is not None]


def _checked_defs(tree: ast.Module):
    """``(qualified name, names it is called by, def, bound)`` for each
    module-level function and each method of a module-level class."""
    for st in tree.body:
        if isinstance(st, _FUNC):
            yield st.name, {st.name}, st, False
        elif isinstance(st, ast.ClassDef):
            for m in st.body:
                if isinstance(m, _FUNC):
                    static = any(isinstance(x, ast.Name)
                                 and x.id == "staticmethod"
                                 for x in m.decorator_list)
                    names = {m.name, st.name} if m.name == "__init__" \
                        else {m.name}
                    yield f"{st.name}.{m.name}", names, m, not static


def _dataclass_fields(tree: ast.Module):
    """``(class name, field, positional index, default)`` of each
    defaulted field of a module-level ``@dataclass``; ``default`` is
    None for a ``field(default_factory=...)``."""
    for st in tree.body:
        if not (isinstance(st, ast.ClassDef) and any(
                (_callee(x) if isinstance(x, ast.Call) else
                 _callee(ast.Call(x, [], []))) == "dataclass"
                for x in st.decorator_list)):
            continue
        anns = [b for b in st.body if isinstance(b, ast.AnnAssign)
                and isinstance(b.target, ast.Name)]
        for i, b in enumerate(anns):
            if b.value is None:
                continue
            default = b.value
            if isinstance(default, ast.Call) and _callee(default) == "field":
                kws = {k.arg: k.value for k in default.keywords}
                default = kws.get("default")
            yield st.name, b.target.id, i, default


def _overrides(call: ast.Call) -> ast.AST | None:
    """The overrides dict a ``load_config`` call passes."""
    args = [*call.args[:1], *(k.value for k in call.keywords
                              if k.arg == "overrides")]
    return args[0] if args else None


def _sets_field(calls: dict[str, list[ast.Call]], cls: str, name: str,
                pos: int, default: ast.AST | None) -> bool:
    """Some call sets field ``name`` of dataclass ``cls`` to a value other
    than its default: a keyword or positional argument of a class call,
    a ``dataclasses.replace`` keyword, or a key of a ``load_config``
    overrides dict (the job's flags).  A ``**`` splat does not count:
    ``load_config``'s own splat is what its keys stand for."""
    if any(_sets(c, name, pos, default, splat=False)
           for c in calls.get(cls, ())):
        return True
    if any(_sets(c, name, None, default, splat=False)
           for c in calls.get("replace", ())):
        return True
    for c in calls.get("load_config", ()):
        d = _overrides(c)
        if isinstance(d, ast.Dict) and any(
                isinstance(k, ast.Constant) and k.value == name
                and _differs(v, default) for k, v in zip(d.keys, d.values)):
            return True
    return False


def unset_defaults(checked: dict[str, ast.Module],
                   callers: dict[str, ast.Module]) -> tuple[int, list[str]]:
    """The number of defaulted parameters and dataclass fields in
    ``checked`` (label -> AST), and ``label:qualname(param)`` /
    ``label:Class.field`` of each that no call in ``callers`` (label ->
    AST) sets.  A parameter is set when a call passes it, by keyword, by
    position or through ``*args`` / ``**kwargs``; calls match by the
    callee's name, and a class call reaches ``__init__``.  Two kinds of
    call set nothing: an argument that repeats the default's own
    expression, and any call in a caller under ``tests/``."""
    calls = _calls([t for label, t in callers.items()
                    if not label.startswith("tests/")])
    n, unset = 0, []
    for label, tree in checked.items():
        for qual, names, d, bound in _checked_defs(tree):
            sites = [c for name in names for c in calls.get(name, ())]
            for param, pos, default in _defaulted(d, bound):
                n += 1
                if not any(_sets(c, param, pos, default) for c in sites):
                    unset.append(f"{label}:{qual}({param})")
        for cls, name, pos, default in _dataclass_fields(tree):
            n += 1
            if not _sets_field(calls, cls, name, pos, default):
                unset.append(f"{label}:{cls}.{name}")
    return n, sorted(unset)


def test_every_default_is_set_by_some_call():
    checked = {_label(f): _parse(f) for f in _checked_files()}
    n, unset = unset_defaults(
        checked, {_label(f): _parse(f) for f in _caller_files()})
    # non-vacuity: the walk sees the package's defaulted parameters and
    # dataclass fields (the count they had when this floor was set)
    assert n >= 150, n
    assert [u for u in unset if u not in ALLOWED_DEFAULTS] == []
    # the allowlist stays exact: a set or missing entry must go
    assert sorted(ALLOWED_DEFAULTS) == [u for u in unset
                                        if u in ALLOWED_DEFAULTS]


_SRC = """
def f(a, b=1, *, c=2):
    pass

class K:
    def __init__(self, x=0):
        pass

    def m(self, y=1):
        pass

    @staticmethod
    def s(a, b=1):
        pass
"""


def _unset(*calls: str, src: str = _SRC) -> list[str]:
    tree = ast.parse(src)
    return unset_defaults({"m.py": tree}, {"m.py": tree, **{
        f"c{i}.py": ast.parse(c) for i, c in enumerate(calls)}})[1]


def test_default_guard_flags_an_unset_default():
    assert unset_defaults({"m.py": ast.parse(_SRC)}, {})[0] == 5
    assert _unset("f(0)") == ["m.py:K.__init__(x)", "m.py:K.m(y)",
                              "m.py:K.s(b)", "m.py:f(b)", "m.py:f(c)"]


def test_default_guard_accepts_keyword_positional_and_star_calls():
    assert _unset("f(0, c=3)\nK(x=1)\nk.m(y=2)\nK.s(0, b=2)") == [
        "m.py:f(b)"]
    # by position: a bound method's first argument fills the parameter
    # after self, a staticmethod's its first parameter
    assert _unset("f(0, 2)\nK(1)\nk.m(2)\nK.s(0, 2)") == ["m.py:f(c)"]
    assert _unset("f(0, 2, 3)\nK()\nk.m()\nK.s(0)") == [
        "m.py:K.__init__(x)", "m.py:K.m(y)", "m.py:K.s(b)", "m.py:f(c)"]
    # **kwargs may hold any parameter, *args any positional one
    assert _unset("f(0, **kw)\nK(**kw)\nk.m(**kw)\nK.s(**kw)") == []
    assert _unset("f(*a)\nK(*a)\nk.m(*a)\nK.s(0, *a)") == ["m.py:f(c)"]


def test_default_guard_ignores_nested_defs():
    tree = ast.parse("def f():\n    def g(_memo=None):\n        pass\n"
                     "    return g\n")
    assert unset_defaults({"m.py": tree}, {"m.py": tree}) == (0, [])


def test_default_guard_counts_the_default_value_as_unset():
    # by keyword or by position, an argument that repeats the default's
    # expression sets nothing; any other value does
    assert _unset("f(0, 1, c=2)\nK(x=0)\nk.m(1)\nK.s(0, b=1)") == [
        "m.py:K.__init__(x)", "m.py:K.m(y)", "m.py:K.s(b)", "m.py:f(b)",
        "m.py:f(c)"]
    assert _unset("f(0, 1, c=2)\nf(0, b=+1, c=N)") == [
        "m.py:K.__init__(x)", "m.py:K.m(y)", "m.py:K.s(b)"]
    # a named default is repeated by the same name
    assert _unset("g(N)\ng(M)", src="def g(n=N):\n    pass\n") == []
    assert _unset("g(n=N)", src="def g(n=N):\n    pass\n") == ["m.py:g(n)"]


def test_default_guard_ignores_calls_from_tests():
    calls = "f(0, 2, c=3)\nK(x=1)\nk.m(y=2)\nK.s(0, b=2)"
    assert _unset(calls) == []
    tree = ast.parse(_SRC)
    assert unset_defaults({"m.py": tree}, {
        "m.py": tree, "tests/test_m.py": ast.parse(calls)})[1] == [
        "m.py:K.__init__(x)", "m.py:K.m(y)", "m.py:K.s(b)", "m.py:f(b)",
        "m.py:f(c)"]


_DC = """
from dataclasses import dataclass, field

@dataclass(frozen=True)
class C:
    a: int
    b: int = 1
    c: str = "x"
    d: list = field(default_factory=list)
    e: int = field(default=5)

def load_config(overrides):
    return C(**overrides)

class Plain:
    b: int = 1
"""


def test_default_guard_checks_dataclass_fields():
    tree = ast.parse(_DC)
    assert unset_defaults({"m.py": tree}, {})[0] == 4
    assert _unset("load_config(o)", src=_DC) == [
        "m.py:C.b", "m.py:C.c", "m.py:C.d", "m.py:C.e"]
    # a class-call keyword or positional argument, a
    # dataclasses.replace keyword, a load_config overrides key
    assert _unset("C(0, 2)\nC(0, c='y')\ndataclasses.replace(x, d=[1])\n"
                  "load_config({'e': args.e})", src=_DC) == []
    # the default's own value, a ** splat and a test caller set nothing
    assert _unset("C(0, 1, c='x', e=5)\nC(**kw)\nreplace(x, d=[], b=1)\n"
                  "load_config({'e': 5, 'c': 'x'})", src=_DC) == [
        "m.py:C.b", "m.py:C.c", "m.py:C.e"]
    assert unset_defaults({"m.py": tree}, {
        "m.py": tree, "tests/t.py": ast.parse("C(0, 2, 'y', [], 6)")})[1] \
        == ["m.py:C.b", "m.py:C.c", "m.py:C.d", "m.py:C.e"]
