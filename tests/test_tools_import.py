"""``bench.py`` and every script under ``tools/`` import cleanly, so a
helper moved or renamed under them fails here rather than the next time
someone runs the script.  Only module level runs: each script keeps its
work behind ``if __name__ == "__main__"``.

Each script is also loaded from a copy in a temporary checkout, and may put
only that checkout on ``sys.path``: a script that names a fixed checkout
would, run from a second one (a parent copy for an A/B, say), silently
measure or check the first one's engine."""

from __future__ import annotations

import ast
import importlib.util
import os
import shutil
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = ["bench.py"] + sorted(
    os.path.join("tools", f)
    for f in os.listdir(os.path.join(ROOT, "tools"))
    if f.endswith(".py")
)


def _literal_path_entries(source: str) -> list[int]:
    """Lines that hand ``sys.path.insert``/``append`` a string literal."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("insert", "append")
            and ast.unparse(node.func.value) == "sys.path"
            and any(
                isinstance(a, ast.Constant) and isinstance(a.value, str)
                for a in node.args
            )
        ):
            lines.append(node.lineno)
    return lines


@pytest.mark.parametrize("path", SCRIPTS)
def test_script_imports(path, tmp_path, monkeypatch):
    with open(os.path.join(ROOT, path)) as fh:
        assert _literal_path_entries(fh.read()) == [], path
    copy = tmp_path / path
    copy.parent.mkdir(parents=True, exist_ok=True)
    shutil.copy(os.path.join(ROOT, path), copy)
    # the copy's checkout holds only the script: the engine it imports
    # still resolves from this checkout, behind whatever the script adds
    monkeypatch.setattr(sys, "path", [*sys.path, ROOT])
    # bench.py, which profile_query imports, adds this checkout as it
    # first loads: load it before the snapshot
    importlib.import_module("bench")
    before = list(sys.path)
    name = "_import_check_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, str(copy))
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    try:
        spec.loader.exec_module(mod)
    finally:
        del sys.modules[name]
    assert callable(getattr(mod, "main", None)), path
    added = list(sys.path)
    for entry in before:
        added.remove(entry)
    assert set(added) <= {str(tmp_path)}, (path, added)
