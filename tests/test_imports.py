"""Every ``sbustreamspot_core_spark`` import in the repo's Python files names
a module and attribute that exist.

pytest only executes the imports on the paths it runs; demos, tools and
function-local (lazy) imports are checked here by walking their syntax
trees — top-level and nested, absolute and relative.
"""

import ast
import importlib
import importlib.util
import os

import pytest

PKG = "sbustreamspot_core_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TREES = [PKG, "jobs", "tools", "tests"]
FILES = ["__spark_entry__.py", "bench.py", "bench_extra.py"]


def python_files():
    for tree in TREES:
        for dirpath, _, names in os.walk(os.path.join(ROOT, tree)):
            yield from (os.path.join(dirpath, n) for n in sorted(names)
                        if n.endswith(".py"))
    yield from (os.path.join(ROOT, f) for f in FILES)


def _package_of(path):
    """Dotted package parts a file's relative imports resolve against."""
    rel = os.path.relpath(path, ROOT)[:-len(".py")].split(os.sep)
    return rel[:-1]


def package_imports(path, source):
    """``(module, name | None, lineno)`` for every import that resolves into
    the package; ``name`` is None for a plain ``import a.b``."""
    for node in ast.walk(ast.parse(source, filename=path)):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    yield a.name, None, node.lineno
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                pkg = _package_of(path)
                base = pkg[:len(pkg) - (node.level - 1)]
                module = ".".join(base + ([node.module] if node.module else []))
            else:
                module = node.module or ""
            if module.split(".")[0] != PKG:
                continue
            for a in node.names:
                yield module, a.name, node.lineno


def _is_module(dotted):
    try:
        return importlib.util.find_spec(dotted) is not None
    except ModuleNotFoundError:        # a parent is missing or not a package
        return False


def resolves(module, name):
    if not _is_module(module):
        return False
    if name is None or name == "*":
        return True
    return (hasattr(importlib.import_module(module), name)
            or _is_module(f"{module}.{name}"))


def dangling(path, source):
    return [f"{os.path.relpath(path, ROOT)}:{line}: {module}"
            + (f".{name}" if name else "")
            for module, name, line in package_imports(path, source)
            if not resolves(module, name)]


def test_every_package_import_resolves():
    bad, seen = [], 0
    for path in python_files():
        with open(path) as f:
            source = f.read()
        seen += sum(1 for _ in package_imports(path, source))
        bad += dangling(path, source)
    assert seen > 100          # the walk reaches the repo, not an empty tree
    assert bad == []


@pytest.mark.parametrize("source", [
    f"from {PKG}.operators.nope import x\n",
    f"from {PKG}.operators.dedup import nope\n",
    f"def lazy():\n    import {PKG}.nope\n",
    "from ..nope import x\n",
])
def test_dangling_imports_are_reported(source):
    path = os.path.join(ROOT, PKG, "streaming", "probe.py")
    assert len(dangling(path, source)) == 1
