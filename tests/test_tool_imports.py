"""Every `from capsbm25.<mod> import <name>` in the repo's runnable
tools (scripts/, bench.py, __spark_entry__.py, perfbench/) resolves, so
deleting a package symbol cannot silently break a tool. Parsed with ast,
nothing executed."""

import ast
import glob
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(
    glob.glob(os.path.join(ROOT, "scripts", "*.py"))
    + glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
    + [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
)


def _package_imports(path):
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
                node.module or "").split(".")[0] == "capsbm25":
            for alias in node.names:
                yield node.module, alias.name, node.lineno
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "capsbm25":
                    yield alias.name, None, node.lineno


@pytest.mark.parametrize("path", TOOLS,
                         ids=[os.path.relpath(p, ROOT) for p in TOOLS])
def test_tool_package_imports_resolve(path):
    missing = []
    for module, name, line in _package_imports(path):
        mod = importlib.import_module(module)
        if name is not None and name != "*" and not hasattr(mod, name):
            try:  # `from capsbm25 import submodule`
                importlib.import_module(f"{module}.{name}")
            except ImportError:
                missing.append(f"line {line}: {module}.{name}")
    assert not missing, missing
