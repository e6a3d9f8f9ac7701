"""Every script under ``tools/`` imports without running its ``main()``,
so deleting a helper that another tool imports fails here, not at the
tool's next run."""

from __future__ import annotations

import importlib
import pathlib

import pytest

TOOLS = sorted(
    p.stem for p in (pathlib.Path(__file__).resolve().parents[1] / "tools").glob("*.py")
)


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    assert callable(importlib.import_module(f"tools.{name}").main)
