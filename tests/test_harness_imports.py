"""Every `from rabitq_spark... import name` in the harnesses outside the
package (bench.py, scripts/, perfbench/) resolves against the package, and
every keyword a harness passes to a name it imported so is a parameter of
that function, so deleting or renaming a helper or a keyword cannot leave
a harness that fails only when someone runs it. Reads the files with ast
and the signatures with inspect; starts no Spark."""

import ast
import importlib
import inspect
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _harness_files() -> list[str]:
    files = [os.path.join(ROOT, "bench.py")]
    for sub in ("scripts", "perfbench"):
        d = os.path.join(ROOT, sub)
        files += sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".py")
        )
    return files


def _package_imports(path: str) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for each package import in `path`; name is
    None for a plain `import rabitq_spark.x`."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            mod = node.module or ""
            if mod == "rabitq_spark" or mod.startswith("rabitq_spark."):
                out += [(node.lineno, mod, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (node.lineno, a.name, None)
                for a in node.names
                if a.name == "rabitq_spark" or a.name.startswith("rabitq_spark.")
            ]
    return out


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or name == "*" or hasattr(mod, name):
        return True
    try:  # a submodule not yet bound on its package
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


@pytest.mark.parametrize(
    "path", _harness_files(), ids=lambda p: os.path.relpath(p, ROOT)
)
def test_harness_package_imports_resolve(path):
    stale = [
        f"{os.path.relpath(path, ROOT)}:{line}: {module}"
        + (f" import {name}" if name else "")
        for line, module, name in _package_imports(path)
        if not _resolves(module, name)
    ]
    assert not stale, "stale package imports:\n" + "\n".join(stale)


def _imported_callables(tree) -> dict:
    """{local name: object} of every package function or class `tree`
    imports by name (`from rabitq_spark... import f [as g]`)."""
    out = {}
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom) or node.level != 0:
            continue
        mod = node.module or ""
        if mod != "rabitq_spark" and not mod.startswith("rabitq_spark."):
            continue
        for a in node.names:
            obj = getattr(importlib.import_module(mod), a.name, None)
            if callable(obj) and not inspect.ismodule(obj):
                out[a.asname or a.name] = obj
    return out


def _stale_keywords(source: str, name: str) -> list[str]:
    """`line: call(keyword=)` for each keyword `source` passes to a package
    callable it imported by name that the callable's signature lacks."""
    tree = ast.parse(source, name)
    funcs = _imported_callables(tree)
    stale = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)):
            continue
        func = funcs.get(node.func.id)
        if func is None:
            continue
        params = inspect.signature(func).parameters
        if any(p.kind is p.VAR_KEYWORD for p in params.values()):
            continue
        stale += [
            f"{name}:{node.lineno}: {node.func.id}({kw.arg}=)"
            for kw in node.keywords
            if kw.arg is not None and kw.arg not in params
        ]
    return stale


@pytest.mark.parametrize(
    "path", _harness_files(), ids=lambda p: os.path.relpath(p, ROOT)
)
def test_harness_keywords_are_parameters(path):
    with open(path) as f:
        stale = _stale_keywords(f.read(), os.path.relpath(path, ROOT))
    assert not stale, "keywords the package no longer takes:\n" + "\n".join(stale)


def test_the_keyword_guard_sees_a_missing_keyword():
    source = (
        "from rabitq_spark.index.search import search as ann\n"
        "ann(model, queries, topk=5, impl='auto')\n"
        "ann(model, queries, no_such_keyword=False)\n"
    )
    assert _stale_keywords(source, "h.py") == ["h.py:3: ann(no_such_keyword=)"]


def test_the_guard_sees_a_missing_name():
    assert _resolves("rabitq_spark.index.vecstore", "exact_rerank")
    assert not _resolves("rabitq_spark.index.vecstore", "store_exact_rerank")
    assert not _resolves("rabitq_spark.no_such_module", None)


def test_index_first_binds_search_functions():
    """A process that imports rabitq_spark.index before rabitq_spark.operators
    must bind ann.search and simjoin.search to the search() function, not
    to the rabitq_spark.index.search submodule."""
    import subprocess
    import sys

    code = (
        "import rabitq_spark.index\n"
        "from rabitq_spark.operators import ann, simjoin\n"
        "assert callable(ann.search), type(ann.search)\n"
        "assert callable(simjoin.search), type(simjoin.search)\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True)
