"""The benchmark's traced runs wrap engine names (``perfbench/workloads.py``
``install_tracing``).  A rename in the engine must fail here, not leave a
traced run silently measuring nothing."""

from __future__ import annotations

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
