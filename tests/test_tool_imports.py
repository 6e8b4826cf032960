"""The scripts under ``tools/`` and ``bench.py`` only run by hand, so a
deleted or renamed library name would strand them silently. This reads
their source (no script runs) and checks that every name they take
from ``gaming_ai_analytics_spark`` still resolves."""

from __future__ import annotations

import ast
import importlib
import pathlib
import types

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = "gaming_ai_analytics_spark"
SCRIPTS = sorted((REPO / "tools").glob("*.py")) + [REPO / "bench.py"]
_MISSING = object()


def _lookup(module: str, name: str):
    """What ``from module import name`` binds, or ``_MISSING``."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    try:  # a submodule its package has not imported
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return _MISSING


def _unresolved(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text(), str(path))
    modules: dict[str, types.ModuleType] = {}  # local alias -> module
    missing = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
            for a in node.names:
                got = _lookup(node.module, a.name)
                if got is _MISSING:
                    missing.append(f"line {node.lineno}: {node.module}.{a.name}")
                elif isinstance(got, types.ModuleType):
                    modules[a.asname or a.name] = got
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PKG) and a.asname:
                    modules[a.asname] = importlib.import_module(a.name)
    # attribute reads through a module alias (``D._self_join_hinter``)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
            and not hasattr(modules[node.value.id], node.attr)
        ):
            missing.append(f"line {node.lineno}: {node.value.id}.{node.attr}")
    return missing


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_tool_imports_resolve(path):
    assert not _unresolved(path)
