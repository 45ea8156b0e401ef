"""Every ``TableStore`` commit goes through one set of helpers, so a
crash hook or an audit needs to wrap only those: ``_replace`` is the one
atomic metadata write, ``_commit``/``_expose`` the only manifest writers
and pointer flips (with ``restore_last_committed``'s roll-back),
``_check_base`` the one CAS and ``_versions`` the one listing of the
manifest directory.  A pure AST walk over ``storage.py`` (no Spark
session)."""

from __future__ import annotations

import ast
from pathlib import Path

STORAGE = Path(__file__).resolve().parent.parent / "spider_spark" / "storage.py"
_LISTINGS = {"listdir", "scandir", "walk", "glob", "iglob"}


def _methods() -> dict[str, ast.FunctionDef]:
    tree = ast.parse(STORAGE.read_text(), filename=str(STORAGE))
    (cls,) = [n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "TableStore"]
    return {n.name: n for n in cls.body if isinstance(n, ast.FunctionDef)}


def _called(node: ast.AST) -> set[str]:
    """Names of every function or method called in ``node`` (``os.replace``
    as ``replace``, ``self._commit`` as ``_commit``)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Call):
            f = n.func
            out.add(f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", ""))
    return out


def _callers(name: str) -> set[str]:
    return {m for m, node in _methods().items() if name in _called(node)}


def _raisers(exc: str) -> set[str]:
    out = set()
    for m, node in _methods().items():
        for n in ast.walk(node):
            if isinstance(n, ast.Raise) and n.exc is not None:
                target = n.exc.func if isinstance(n.exc, ast.Call) else n.exc
                if getattr(target, "id", None) == exc:
                    out.add(m)
    return out


def test_every_commit_goes_through_one_seam():
    replacers = {
        m for m, node in _methods().items()
        for n in ast.walk(node)
        if isinstance(n, ast.Attribute) and n.attr == "replace"
        and getattr(n.value, "id", None) == "os"
    }
    assert replacers == {"_replace"}
    assert _callers("_write_manifest") == {"_commit", "_expose"}
    assert _callers("_set_pointer") == {"_commit", "_expose", "restore_last_committed"}
    assert _raisers("ConcurrentCommitError") == {"_check_base"}
    assert _callers("_check_base") == {"_commit", "_expose"}
    listers = {m for m, node in _methods().items() if _called(node) & _LISTINGS}
    assert {m for m in listers if "_mdir" in _called(_methods()[m])} == {"_versions"}
