"""Tooling tripwire: every ``tools/*.py`` module must import, and no tool
filename may carry a round tag. Catches a surviving tool that still
imports a deleted sibling, and per-round tool copies. Spark-free."""

from __future__ import annotations

import importlib
import re
from pathlib import Path

TOOLS = Path(__file__).resolve().parent.parent / "tools"


def test_every_tool_imports_and_none_is_round_named():
    # tools/ is on sys.path via conftest's single shared insert
    names = sorted(p.stem for p in TOOLS.glob("*.py"))
    assert names, f"no tools found under {TOOLS}"
    round_named = [n for n in names if re.search(r"_r\d+", n)]
    assert not round_named, f"round-tagged tool copies: {round_named}"
    for name in names:
        importlib.import_module(name)
