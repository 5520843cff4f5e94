"""Every library name the benchmark and tool code imports resolves, and
every call to one binds to its signature.

The benchmark (`kgbench/`), the bench and tool scripts, `bench.py` and
the driver entry point import kgforge names, many of them lazily inside
functions that no tier-1 test runs. Deleting or renaming a library
name or keyword would break those callers silently; these tests read
their import statements and calls from the source (function bodies
included) and check each one without running the scripts.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import inspect
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SOURCES = sorted(
    [p for d in ("kgbench", "bench", "tools") for p in (REPO / d).glob("*.py")]
    + [REPO / "bench.py", REPO / "__spark_entry__.py"]
)


def _sibling_names(path: Path) -> set[str]:
    """Top-level names a script module defines, read from its source
    (bench scripts import their siblings by file name)."""
    names: set[str] = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names |= {n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)}
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name).split(".")[0] for a in node.names}
    return names


def _unresolved(path: Path) -> list[str]:
    missing = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "kgforge" and importlib.util.find_spec(a.name) is None:
                    missing.append(f"import {a.name}")
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            names = [a.name for a in node.names]
            if node.module.split(".")[0] == "kgforge":
                mod = importlib.import_module(node.module)
                bad = [
                    n for n in names
                    if not hasattr(mod, n)
                    and not (
                        hasattr(mod, "__path__")  # a package's submodule
                        and importlib.util.find_spec(f"{node.module}.{n}")
                    )
                ]
            elif (path.parent / f"{node.module}.py").exists():
                defined = _sibling_names(path.parent / f"{node.module}.py")
                bad = [n for n in names if n not in defined]
            else:
                continue
            missing += [f"from {node.module} import {n} (line {node.lineno})" for n in bad]
    return missing


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: str(p.relative_to(REPO)))
def test_imported_library_names_resolve(path):
    assert _unresolved(path) == []


def _unbound_calls(path: Path) -> list[str]:
    """Calls to an imported kgforge callable, `f(...)` or `mod.f(...)`,
    whose positional count or keyword names its signature rejects."""
    tree = ast.parse(path.read_text())
    imported: dict[str, object] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] == "kgforge":
                mod = importlib.import_module(node.module)
                for a in node.names:
                    if hasattr(mod, a.name):
                        imported[a.asname or a.name] = getattr(mod, a.name)
    bad = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name):
            fn = imported.get(f.id)
        elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
            fn = getattr(imported.get(f.value.id), f.attr, None)
        else:
            continue
        if not callable(fn):
            continue
        try:
            sig = inspect.signature(fn)
        except (TypeError, ValueError):  # a builtin without a signature
            continue
        n_pos = 0 if any(isinstance(a, ast.Starred) for a in node.args) else len(node.args)
        try:
            sig.bind_partial(*[None] * n_pos, **{k.arg: None for k in node.keywords if k.arg})
        except TypeError as e:
            bad.append(f"{ast.unparse(f)}(...) at line {node.lineno}: {e}")
    return bad


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: str(p.relative_to(REPO)))
def test_library_calls_bind(path):
    assert _unbound_calls(path) == []
