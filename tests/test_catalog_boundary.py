"""The query catalog is evidence, not engine: the six ``catalog*.py``
modules import the engine, and nothing in the engine imports them back.
A pure AST walk over ``spider_spark/`` (no Spark session), so the
boundary costs nothing at run time."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "spider_spark"


def _is_catalog(dotted: str) -> bool:
    return any(part.startswith("catalog") for part in dotted.split(".") if part)


def _catalog_imports(path: Path) -> list[str]:
    """Every import in ``path`` that names a catalog module, as written."""
    found = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            found += [a.name for a in node.names if _is_catalog(a.name)]
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level == 0 and not mod.startswith("spider_spark"):
                continue
            names = [mod] + [f"{mod}.{a.name}" for a in node.names]
            if any(_is_catalog(n) for n in names):
                found.append("." * node.level + mod + ":" + ",".join(a.name for a in node.names))
    return found


def test_catalog_checker_sees_every_import_form(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "import os\n"
        "from .catalog import q\n"
        "from . import catalog_extra\n"
        "from ..catalog_crawl import x\n"
        "import spider_spark.catalog_records\n"
        "from spider_spark import catalog_streaming\n"
        "from .bloom import ShardedBloom\n"
        "from pyspark.sql import catalog\n"
    )
    assert len(_catalog_imports(src)) == 5


def test_engine_never_imports_the_catalog():
    modules = [
        p for p in sorted(PKG.rglob("*.py"))
        if not (p.parent == PKG and p.name.startswith("catalog"))
    ]
    assert len(modules) > 20
    leaks = {
        str(p.relative_to(PKG)): imps for p in modules if (imps := _catalog_imports(p))
    }
    assert not leaks, f"engine modules importing the catalog: {leaks}"
