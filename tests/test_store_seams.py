"""Every ``TableStore`` commit goes through one set of helpers, so a
crash hook or an audit needs to wrap only those: ``_replace`` is the one
atomic metadata write, ``_commit`` the only manifest writer and pointer
flip (with ``restore_last_committed``'s roll-back), ``_check_base`` the
one CAS and ``_versions`` the one listing of the manifest directory.
The public surface is pinned to the methods the crawl, the streams, the
graded catalog window or the tests of those features use.  A pure AST
walk over ``storage.py`` (no Spark session)."""

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
    assert _callers("_write_manifest") == {"_commit"}
    assert _callers("_set_pointer") == {"_commit", "restore_last_committed"}
    assert _raisers("ConcurrentCommitError") == {"_check_base"}
    assert _callers("_check_base") == {"_commit"}
    listers = {m for m, node in _methods().items() if _called(node) & _LISTINGS}
    assert {m for m in listers if "_mdir" in _called(_methods()[m])} == {"_versions"}


# Every public method and the caller that keeps it.  A method no engine
# module, no graded catalog entry, no SURVEY section 2 row and no test of
# a kept feature calls is deleted, not listed here.
_KEPT_PUBLIC = {
    "current_version", "exists", "read", "write", "create", "append",
    "append_rows", "upsert_rows", "merge_upsert", "compact", "count_rows",
    "read_partitions", "commit_round", "last_committed_round",
    "restore_last_committed", "expire_snapshots",  # the crawl
    "append_txn", "last_txn",  # the streaming sinks
    "delete_rows", "range_members", "read_range", "evolve_partition_spec",
    "partition_files",  # graded entries c13, c14, c18, c25
    "read_at", "read_changes", "history",  # helpers of graded-feature tests
    "files",  # the benchmark's storage.members
}


def test_public_surface_is_the_audited_keep_list():
    public = {m for m in _methods() if not m.startswith("_")}
    assert public == _KEPT_PUBLIC, (
        f"added: {sorted(public - _KEPT_PUBLIC)}, gone: {sorted(_KEPT_PUBLIC - public)}"
    )


def test_commit_has_one_mode():
    """``_commit`` always CASes and flips the pointer: no staged mode."""
    args = _methods()["_commit"].args
    names = {a.arg for a in args.args + args.kwonlyargs}
    assert "parent" not in names
