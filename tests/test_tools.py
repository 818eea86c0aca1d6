"""Tooling smoke test: every script under tools/ imports in-process
(starting no Spark session) and defines a callable ``main``, so a tool
whose imports rot is caught here rather than on its next manual run."""

import glob
import importlib.util
import os

import pytest

TOOLS = sorted(
    glob.glob(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "*.py")
    )
)


def test_tools_exist():
    assert TOOLS


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_imports_and_defines_main(path):
    name = "tool_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(getattr(mod, "main", None))
