"""Smoke self-test of the benchmark: every workload and its correctness
gate at tiny sizes in one Spark session, the gates' failure paths, and the
exit code without the engine.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

import run
import tracing
import workloads as wl

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = run.start_spark(str(tmp_path_factory.mktemp("spark")), 2)
    yield s
    tracing.stop_spark(s)


def _run(spark, tmp_path, name, traced):
    tracer = tracing.Tracer(name, enabled=traced)
    w = wl.WORKLOADS[name](spark, wl.SIZES["tiny"][name], 7, tracer, str(tmp_path), 2)
    w.warm_up = lambda: None  # the untimed op only steadies timings
    try:
        w.install_tracing()
        w.setup()
        ops = [w.measure(traced=traced)]
        failed, report = w.finish(ops)
    finally:
        tracer.unpatch_all()
    assert all(op.ok for op in w.warmup)
    assert ops[0].ok and not failed and ops[0].wall > 0
    assert report
    if traced:
        assert set(ops[0].layers) <= set(wl.PER_LAYER)
    return w, ops[0]


def test_wave_dedup_traced_reconciles_and_gate_rejects_misses(spark, tmp_path):
    w, op = _run(spark, tmp_path, "wave_dedup", traced=True)
    assert op.layers["fetch.rows"] == op.layers["frontier.dequeued_rows"]
    assert op.layers["seen.new_rows"] <= op.layers["canon.candidate_rows"]
    assert op.layers["dedup.containment_candidates"] > 0
    _wave, nd = w.parts
    assert nd.twins and nd.copies
    assert wl.near_dup_gate(set(nd.twins), nd.twins, set(nd.copies), nd.copies) == 0
    assert wl.near_dup_gate(set(nd.twins[1:]), nd.twins, set(), nd.copies) == 1 + len(nd.copies)


def test_crawl_matches_refsim_and_gate_rejects_wrong_model(spark, tmp_path):
    w, op = _run(spark, tmp_path, "crawl", traced=True)
    assert 0.5 < op.layers["round.accounted_frac"] <= 1.0
    model_rounds, model_seen = w.model()
    engine_rounds = [r["dequeued"] for r in w.rounds]
    engine_seen = w.seen_digest()
    assert wl.crawl_gate(engine_rounds, engine_seen, model_rounds, model_seen) == (set(), True)
    wrong_digest = (model_seen[0], model_seen[1] + 1)
    assert wl.crawl_gate(engine_rounds, engine_seen, model_rounds, wrong_digest) == (set(), False)
    wrong_count = [model_rounds[0] - 1] + model_rounds[1:]
    assert wl.crawl_gate(engine_rounds, engine_seen, wrong_count, model_seen) == ({1}, True)
    assert wl.crawl_gate(engine_rounds, engine_seen, model_rounds + [5], model_seen)[0] == {2}


def test_fails_without_the_engine(tmp_path):
    """In a directory with only BENCHMARK.json and the benchmark, the run
    exits non-zero and prints no result."""
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".*", "__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert out.returncode != 0
    assert "correct" not in out.stdout
