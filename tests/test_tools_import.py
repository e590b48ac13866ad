"""Every kept script loads: each `tools/*.py` and `bench.py` is executed
by file path (its `__main__` guard keeps Spark from starting), so a
deleted or renamed library symbol a script imports fails here instead of
on the next manual run. Imports inside function bodies, and attributes
read off an imported repo module (`bench.main` after `import bench`),
are resolved too."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
SCRIPTS = sorted(REPO.glob("tools/*.py")) + [REPO / "bench.py"]
_LOCAL = ("detector_network_processor_spark", "tools", "bench")


def _is_local(module: str) -> bool:
    return module.split(".")[0] in _LOCAL


def _has(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    try:  # `from package import submodule`
        importlib.import_module(f"{module}.{name}")
        return True
    except ImportError:
        return False


def _missing_symbols(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), str(path))
    aliases: dict[str, str] = {}
    missing = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                importlib.import_module(a.name)
                if a.asname or "." not in a.name:
                    aliases[a.asname or a.name] = a.name
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            for a in node.names:
                if a.name != "*" and not _has(node.module, a.name):
                    missing.append(f"{node.module}.{a.name} (line {node.lineno})")
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
            and _is_local(aliases[node.value.id])
            and not _has(aliases[node.value.id], node.attr)
        ):
            missing.append(f"{aliases[node.value.id]}.{node.attr} (line {node.lineno})")
    return missing


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(REPO)))
def test_script_loads(path, monkeypatch):
    # the tools put the repo root on sys.path; keep that out of other tests
    monkeypatch.setattr(sys, "path", [str(REPO)] + sys.path)
    spec = importlib.util.spec_from_file_location(f"_script_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert callable(getattr(module, "main", None)), f"{path.name} has no main()"
    assert _missing_symbols(path) == []
