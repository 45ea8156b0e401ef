"""One fetch worker: ``fetch.fetch_batch`` alone builds the mapInPandas
fetch iterator, and the page sources in ``transport.py`` only map URLs
to pages — the worker columns (``partition_id``, ``doc_id``, ``body``),
outlink canonicalization and the partition session stay in the worker.
AST walks over the package, and one page-source call; no Spark session."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "spider_spark"
_WORKER_COLUMNS = {"partition_id", "doc_id", "err_type", "body"}


def _tree(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _column_stores(node: ast.AST) -> set[str]:
    """String keys assigned by subscript (``out["doc_id"] = ...``)."""
    return {
        t.slice.value
        for n in ast.walk(node) if isinstance(n, ast.Assign)
        for t in n.targets
        if isinstance(t, ast.Subscript) and isinstance(t.slice, ast.Constant)
        and isinstance(t.slice.value, str)
    }


def _own(f: ast.FunctionDef):
    """The nodes of ``f``'s own body, not those of functions nested in it."""
    todo = list(f.body)
    while todo:
        n = todo.pop()
        yield n
        if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            todo.extend(ast.iter_child_nodes(n))


def _fetch_iterators(tree: ast.AST) -> list[str]:
    """Generator functions that stamp a fetch worker column."""
    return [
        f.name
        for f in ast.walk(tree) if isinstance(f, ast.FunctionDef)
        if any(isinstance(n, (ast.Yield, ast.YieldFrom)) for n in _own(f))
        and _column_stores(f) & _WORKER_COLUMNS
    ]


def _names(tree: ast.Module) -> set[str]:
    return {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)} | {
        n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)
    }


def test_fetch_py_alone_defines_the_fetch_worker():
    found = {
        str(p.relative_to(PKG)): its
        for p in sorted(PKG.rglob("*.py"))
        if (its := _fetch_iterators(_tree(p)))
    }
    assert found == {"fetch.py": ["fetch_fn"]}
    fetch = _tree(PKG / "fetch.py")
    (batch,) = [f for f in fetch.body if isinstance(f, ast.FunctionDef) and f.name == "fetch_batch"]
    assert _fetch_iterators(batch) == ["fetch_fn"], "fetch_batch builds the worker"


def test_transport_sources_build_no_worker_columns():
    tree = _tree(PKG / "transport.py")
    assert not _column_stores(tree) & (_WORKER_COLUMNS | {"link0", "link1", "link2"})
    assert not _names(tree) & {"canonicalize_series", "canon", "TaskContext", "mapInPandas"}


def test_simnet_source_opens_outside_a_spark_task():
    """Outside a task the worker opens its session with partition id -1;
    the simnet source must still answer like the scalar ``fetch_one``."""
    import pandas as pd

    from spider_spark import fetch, simnet

    n_hosts, page_space = 20, 50
    keys = [(h, p) for h in range(n_hosts) for p in range(0, page_space, 7)]
    urls = pd.Series([f"http://h{h}.example/p{p}" for h, p in keys])
    status, err_type, _flat, _bodies = fetch.simnet_source(n_hosts, page_space)(-1, None)(urls)
    want = [simnet.fetch_one(h, p, n_hosts, page_space)[:2] for h, p in keys]
    assert [(int(s), int(e)) for s, e in zip(status, err_type)] == want
    assert {e for _, e in want} != {0}, "the sample must include failed fetches"
