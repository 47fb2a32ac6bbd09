"""``bench.py`` and every script under ``tools/`` import cleanly, so a
helper moved or renamed under them fails here rather than the next time
someone runs the script.  Only module level runs: each script keeps its
work behind ``if __name__ == "__main__"``."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = ["bench.py"] + sorted(
    os.path.join("tools", f)
    for f in os.listdir(os.path.join(ROOT, "tools"))
    if f.endswith(".py")
)


@pytest.mark.parametrize("path", SCRIPTS)
def test_script_imports(path):
    name = "_import_check_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, path))
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    try:
        spec.loader.exec_module(mod)
    finally:
        del sys.modules[name]
    assert callable(getattr(mod, "main", None)), path
