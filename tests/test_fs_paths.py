"""The persistence modules take every path decision through rabitq_spark/_fs.py:
no posix-only file call, and no test of whether a path is a URI, outside
the vec store's read side (VecStore.gather and its memmaps, _shard_mmaps).
A posix-only call on a location that can be a URI is how a file:// or s3://
model skipped its tombstones and a stream store was never read. ast only,
no Spark."""

import ast
import os

ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "rabitq_spark")

MODULES = (
    "index/model.py",
    "index/vecstore.py",
    "index/pq.py",
    "operators/dedup.py",
    "streaming/index_stream.py",
    "streaming/neardup_stream.py",
    "__main__.py",
)

FORBIDDEN = {
    "os.path.exists",
    "os.path.isdir",
    "os.path.isfile",
    "os.makedirs",
    "os.listdir",
    "os.replace",
    "shutil.rmtree",
    "np.savez",
    "np.load",
    "numpy.savez",
    "numpy.load",
}

URI_PREDICATES = {"is_uri", "_is_uri"}

# (module, enclosing function qualname) pairs where posix calls serve the
# memmap read branch of a posix store
ALLOWED = {
    ("index/vecstore.py", "VecStore.gather"),
    ("index/vecstore.py", "_shard_mmaps"),
}


def _dotted(node) -> str | None:
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if isinstance(node, ast.Name):
        parts.append(node.id)
        return ".".join(reversed(parts))
    return None


def _violations(rel: str, tree: ast.AST) -> list:
    found = []

    def visit(node, scope: tuple) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            scope = scope + (node.name,)
        allowed = any(
            (rel, ".".join(scope[: i + 1])) in ALLOWED for i in range(len(scope))
        )
        what = None
        if isinstance(node, ast.Attribute):
            name = _dotted(node)
            if name in FORBIDDEN or node.attr in URI_PREDICATES:
                what = name or node.attr
        elif isinstance(node, ast.Name) and node.id in URI_PREDICATES:
            what = node.id
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "open"
        ):
            what = "open"
        elif isinstance(node, ast.ImportFrom) and node.module:
            for alias in node.names:
                name = f"{node.module}.{alias.name}"
                if name in FORBIDDEN or alias.name in URI_PREDICATES:
                    what = name
        if what and not allowed:
            found.append(f"{rel}:{node.lineno} {'.'.join(scope) or '<module>'}: {what}")
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(tree, ())
    return found


def test_persistence_modules_take_paths_through_fs():
    found = []
    for rel in MODULES:
        with open(os.path.join(ROOT, rel)) as f:
            found += _violations(rel, ast.parse(f.read()))
    assert not found, "posix-only path calls outside rabitq_spark/_fs.py:\n" + "\n".join(found)


def test_guard_sees_each_forbidden_form():
    src = (
        "import os, shutil\n"
        "import numpy as np\n"
        "from os.path import isdir\n"
        "def f(p):\n"
        "    os.path.exists(p); os.makedirs(p); os.replace(p, p)\n"
        "    shutil.rmtree(p); np.savez(p); np.load(p); open(p)\n"
        "    _fs.is_uri(p)\n"
        "class VecStore:\n"
        "    def gather(self):\n"
        "        os.path.exists(self.dir); _fs.is_uri(self.dir)\n"
    )
    got = _violations("index/vecstore.py", ast.parse(src))
    assert len(got) == 9, got
    assert not [g for g in got if "VecStore.gather" in g]
