"""The scripts under scripts/ are not imported by the package or the
suite, so nothing else notices when a rename leaves one behind. Without
starting Spark, each script must compile, every package or ``tests``
name it imports (at any nesting depth) must resolve, and every
attribute it reads off an imported package module must exist."""

from __future__ import annotations

import ast
import importlib
import types
from pathlib import Path

import pytest

ROOTS = ("distributed_file_system_with_stream_processing_spark", "tests")
SCRIPTS = sorted((Path(__file__).resolve().parent.parent / "scripts").glob("*.py"))


def _ours(module: str | None) -> bool:
    return module is not None and module.split(".")[0] in ROOTS


def _resolve(module: str, name: str):
    """``from module import name``: an attribute or a submodule."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


def _bound_modules(tree: ast.AST) -> dict[str, types.ModuleType]:
    """Import every package name the script imports; return the local
    names bound to package modules."""
    bound: dict[str, types.ModuleType] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if _ours(a.name):
                    mod = importlib.import_module(a.name)
                    if a.asname:
                        bound[a.asname] = mod
                    else:
                        top = a.name.split(".")[0]
                        bound[top] = importlib.import_module(top)
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and _ours(node.module):
            for a in node.names:
                obj = _resolve(node.module, a.name)
                if isinstance(obj, types.ModuleType):
                    bound[a.asname or a.name] = obj
    return bound


def _chain(node: ast.Attribute) -> list[str] | None:
    """``a.b.c`` as ``["a", "b", "c"]``; None unless it starts at a name."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    return [node.id, *reversed(parts)] if isinstance(node, ast.Name) else None


@pytest.mark.parametrize("path", SCRIPTS, ids=[p.name for p in SCRIPTS])
def test_script_compiles_and_its_package_names_resolve(path):
    src = path.read_text()
    compile(src, str(path), "exec")
    tree = ast.parse(src, str(path))
    bound = _bound_modules(tree)
    missing = []
    for node in ast.walk(tree):
        chain = _chain(node) if isinstance(node, ast.Attribute) else None
        if not chain or chain[0] not in bound:
            continue
        obj = bound[chain[0]]
        for i, attr in enumerate(chain[1:], 1):
            if not isinstance(obj, types.ModuleType):
                break
            if not hasattr(obj, attr):
                try:
                    importlib.import_module(f"{obj.__name__}.{attr}")
                except ModuleNotFoundError:
                    missing.append(".".join(chain[: i + 1]))
                    break
            obj = getattr(obj, attr)
    assert not missing, f"{path.name} reads missing names: {sorted(set(missing))}"
