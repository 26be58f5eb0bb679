"""The scripts stay runnable: each parses, and every name it imports
from the package or ``bench`` still exists. No Spark session."""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SCRIPTS = sorted(glob.glob(os.path.join(_ROOT, "scripts", "*.py")))
_OURS = ("nvd2mysqlloader_spark", "bench")


def _resolves(module: str, name: str) -> bool:
    """``from module import name`` would succeed: an attribute of the
    module, or a submodule of a package."""
    if hasattr(importlib.import_module(module), name):
        return True
    try:
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


@pytest.mark.parametrize("script", _SCRIPTS, ids=os.path.basename)
def test_script_imports_resolve(script):
    with open(script) as f:
        tree = ast.parse(f.read(), script)
    missing = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            missing += [a.name for a in node.names
                        if a.name.split(".")[0] in _OURS
                        and importlib.util.find_spec(a.name) is None]
        elif (isinstance(node, ast.ImportFrom) and node.module
              and node.module.split(".")[0] in _OURS):
            missing += [f"{node.module}.{a.name}" for a in node.names
                        if not _resolves(node.module, a.name)]
    assert not missing, missing
