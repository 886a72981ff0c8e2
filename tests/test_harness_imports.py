"""Every `from rabitq_spark... import name` in the harnesses outside the
package (bench.py, scripts/, perfbench/) resolves against the package, so
deleting or renaming a helper cannot leave a harness that fails only when
someone runs it. Reads the files with ast; starts no Spark."""

import ast
import importlib
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
