"""Every `from dataselector_spark... import X` in tools/ and tests/ must
resolve: a module or attribute that was moved or deleted otherwise only
shows up when someone next runs that tool."""

import ast
import glob
import importlib
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FILES = sorted(
    glob.glob(os.path.join(REPO, "tools", "*.py"))
    + glob.glob(os.path.join(REPO, "tests", "*.py"))
)


def _package_imports(path):
    """(line, module, name-or-None) for each absolute import of the package."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if (node.module or "").split(".")[0] == "dataselector_spark":
                for alias in node.names:
                    yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "dataselector_spark":
                    yield node.lineno, alias.name, None


def _resolves(module, name):
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or name == "*" or hasattr(mod, name):
        return True
    try:
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


@pytest.mark.parametrize("path", FILES, ids=lambda p: os.path.relpath(p, REPO))
def test_package_imports_resolve(path):
    dangling = [
        f"{os.path.relpath(path, REPO)}:{line}: {module}"
        + (f" import {name}" if name else "")
        for line, module, name in _package_imports(path)
        if not _resolves(module, name)
    ]
    assert not dangling, dangling


def test_scan_sees_package_imports():
    # the scan is not vacuous: tools import the package throughout
    assert sum(
        1 for p in FILES if "tools" in p for _ in _package_imports(p)
    ) > 50
