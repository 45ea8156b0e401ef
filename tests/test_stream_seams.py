"""One availableNow drain: in the package only ``streaming.lakehouse._drain``
calls ``.trigger(`` or ``.awaitTermination(``, and ``streaming/windows.py``
builds a stream writer (``writeStream``) only in ``_to_memory``.  AST walks
over the package; no Spark session."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "spider_spark"


def _users(path: Path, attrs: set[str], calls_only: bool) -> set[tuple[str, str | None]]:
    """(file, top-level def or None) pairs whose code uses one of ``attrs``
    as an attribute (as a method call when ``calls_only``)."""
    found = set()
    for top in ast.parse(path.read_text(), filename=str(path)).body:
        for n in ast.walk(top):
            node = (n.func if isinstance(n, ast.Call) else None) if calls_only else n
            if isinstance(node, ast.Attribute) and node.attr in attrs:
                found.add((str(path.relative_to(PKG)), getattr(top, "name", None)))
    return found


def test_only_drain_starts_and_awaits_a_stream():
    found = set().union(
        *(_users(p, {"trigger", "awaitTermination"}, True) for p in sorted(PKG.rglob("*.py")))
    )
    assert found == {("streaming/lakehouse.py", "_drain")}


def test_windows_builds_writers_only_in_to_memory():
    found = _users(PKG / "streaming" / "windows.py", {"writeStream"}, False)
    assert found == {("streaming/windows.py", "_to_memory")}
