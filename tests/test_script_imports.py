"""Every name the scripts outside the package import from it exists.

The bench, generator and sweep scripts, the Spark entry point and the
benchmark harness import ``treemachine_spark`` names, often inside the
function that needs them, so compiling them does not catch a name that
moved or went away. This reads each script with ``ast`` and resolves
every ``from treemachine_spark... import name`` (function-local ones
included) against the imported module. No Spark session is started."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = sorted(
    p.relative_to(REPO).as_posix()
    for pattern in ("bench*.py", "gen_*.py", "sweeps/*.py", "__spark_entry__.py", "perfbench/*.py")
    for p in REPO.glob(pattern)
)


def package_imports(path: Path):
    """(line, module, name) of every package import in the file; name is
    None for a plain ``import treemachine_spark...``."""
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"), str(path))):
        if isinstance(node, ast.ImportFrom) and not node.level and node.module:
            if node.module.split(".")[0] == "treemachine_spark":
                yield from ((node.lineno, node.module, a.name) for a in node.names)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "treemachine_spark":
                    yield node.lineno, a.name, None


def resolves(module: str, name: str | None) -> bool:
    mod = importlib.import_module(module)
    if name is None or name == "*" or hasattr(mod, name):
        return True
    try:
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_scripts_are_found():
    assert "bench_tree.py" in SCRIPTS and "perfbench/run.py" in SCRIPTS


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_package_imports_resolve(script):
    missing = [
        f"{script}:{line} from {module} import {name}"
        for line, module, name in package_imports(REPO / script)
        if not resolves(module, name)
    ]
    assert not missing, missing
