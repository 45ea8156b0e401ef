"""The benchmark's traced runs wrap engine names (``perfbench/workloads.py``
``install_tracing``) and call some ``TableStore`` methods directly.  A
rename or a deletion in the engine must fail here, not leave a traced run
silently measuring nothing or crashing."""

from __future__ import annotations

import ast
import importlib.util
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _HookCheck:
    """A tracer that patches nothing and checks every patch target."""

    enabled = True

    def __init__(self):
        self.patched: list[tuple[object, str]] = []

    def patch(self, owner, attr, name, attrs_of=None, after=None):
        assert hasattr(owner, attr), f"perfbench patches {owner!r}.{attr}, which no longer exists"
        assert callable(getattr(owner, attr))
        self.patched.append((owner, attr))


def _workloads():
    spec = importlib.util.spec_from_file_location(
        "perfbench_workloads", os.path.join(ROOT, "perfbench", "workloads.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # its dataclasses resolve annotations there
    spec.loader.exec_module(mod)
    return mod


def test_every_traced_hook_names_an_engine_attribute():
    wl = _workloads()
    for name, cls in wl.WORKLOADS.items():
        tracer = _HookCheck()
        cls(None, wl.SIZES["tiny"][name], 7, tracer, "", 2).install_tracing()
        assert tracer.patched, f"{name} traces nothing"


def test_patched_crawl_names_are_looked_up_at_call_time():
    """A patch of a module attribute only takes effect where the caller
    looks the name up when it calls: ``run_rounds`` calls the module
    global ``run_round``, ``_admit`` calls ``bloom.bloom_prefilter`` and
    ``minhash_dedup`` calls the module global ``lsh_candidate_pairs``."""
    from spider_spark.crawl import Crawler
    from spider_spark.functions.dedup import minhash_dedup

    assert "run_round" in Crawler.run_rounds.__code__.co_names
    assert "bloom_prefilter" in Crawler._admit.__code__.co_names
    assert "lsh_candidate_pairs" in minhash_dedup.__code__.co_names


def test_every_direct_store_call_names_a_table_store_method():
    """``perfbench/workloads.py`` calls ``store.<name>(...)`` and
    ``<x>.store.<name>(...)`` outside the traced hooks (the
    ``storage.members`` census, the seen digest).  Each name must be a
    ``TableStore`` method, or a traced crawl run dies at its end."""
    from spider_spark.storage import TableStore

    path = os.path.join(ROOT, "perfbench", "workloads.py")
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    names = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute):
            owner = n.func.value
            if getattr(owner, "id", None) == "store" or getattr(owner, "attr", None) == "store":
                names.add(n.func.attr)
    assert names >= {"files", "exists", "read"}
    missing = sorted(m for m in names if not callable(getattr(TableStore, m, None)))
    assert not missing, f"perfbench calls TableStore.{missing}, which no longer exist"
