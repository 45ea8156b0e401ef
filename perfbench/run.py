"""Crawl-engine benchmark: run one workload, check it, print every metric.

    python3 perfbench/run.py --workload {wave_dedup,crawl} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  Set-up (Spark session, seeded inputs, the
crawl's bootstrap and recovery, or the warm-up operation) is timed as
``setup_s``; then a closed loop of operations runs for ``--seconds`` (at
least the workload's ``min_ops``, and two when traced), and ``op_s_p50``
is their median wall.  With ``--trace 0``
the last stdout line is a JSON object with the end-to-end metrics; with
``--trace 1`` every other operation is traced (spans around the engine's
public calls) and the JSON carries the per-layer metrics.
Lines before it give every metric by name with its unit.  Spans are
written to ``perfbench/.trace/`` at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Spark runs at local[min(MAX_CORES, nproc)].  The workloads are bound by
# per-job and per-commit overheads, not by rows: at local[2] they run as
# fast as at local[4] (ingest + round + recovery of a live crawl took
# 17.3 s vs 17.9 s in a 4-core box), and two task threads with their
# Python workers leave cores free for the JVM's own threads, so a busy
# neighbour moves the timings less.
MAX_CORES = 2

# end-to-end metric -> unit; BENCHMARK.json lists the same names
END_TO_END = {"setup_s": "s", "op_s_p50": "s"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_spark(workdir: str, cores: int):
    from spider_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the JVM and the Python workers inherit these: temp files stay in the
    # checkout, and workers import spider_spark from it
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def run(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import spider_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import tracing
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    cores = max(1, min(MAX_CORES, os.cpu_count() or 1))
    master = f"local[{cores}]"
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    workdir = os.path.join(HERE, ".work", run_id)
    os.makedirs(workdir, exist_ok=True)
    probe_mops = tracing.cpu_probe() / 1e6
    tracer = tracing.Tracer(run_id, enabled=bool(args.trace))
    spark = None
    with tracing.PeakRSS() as rss:
        try:
            spark = start_spark(workdir, cores)
            w = wl.WORKLOADS[args.workload](
                spark, wl.SIZES["full"][args.workload], args.seed, tracer, workdir, cores
            )
            w.install_tracing()
            w.setup()
            setup_s = time.monotonic() - T_START
            ops = []
            deadline = time.monotonic() + args.seconds
            # a traced run alternates untraced and traced operations, so the
            # tracing overhead is measured in the same window
            min_ops = max(w.min_ops, 2) if args.trace else w.min_ops
            while len(ops) < min_ops or time.monotonic() < deadline:
                ops.append(w.measure(traced=bool(args.trace) and len(ops) % 2 == 1))
            failed_ops, report = w.finish(ops)
        except Exception:
            traceback.print_exc()
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
            return 1
        finally:
            tracer.unpatch_all()
            if spark is not None:
                tracing.stop_spark(spark)
            rss.sample()
            if args.trace:
                tracer.write(os.path.join(HERE, ".trace", f"{run_id}.jsonl"))
            shutil.rmtree(workdir, ignore_errors=True)

    failed_ops |= {i for i, op in enumerate(ops) if not op.ok}
    warm = w.warmup
    attempted = len(ops) + len(warm)
    failed = len(failed_ops) + sum(not op.ok for op in warm)
    plain = [op for op in ops if not op.layers]
    e2e = {
        "setup_s": setup_s,
        "op_s_p50": statistics.median(op.wall for op in plain),
    }
    peak_mb = rss.peak / 2**20
    print(f"workload {args.workload} seed {args.seed} master {master} nproc {os.cpu_count()} "
          f"probe_mops {probe_mops:.1f} ops {len(ops)} (+{len(warm)} warm-up)")
    for name, value in e2e.items():
        print(f"{name} {value:.6g} {END_TO_END[name]}")
    print(f"peak_rss_mb {peak_mb:.6g} MB (PSS of this process, the JVM and Python workers)")
    print("op_walls_s " + " ".join(f"{op.wall:.3f}{'*' if op.layers else ''}" for op in ops)
          + " (* traced)")
    for name, (value, unit, note) in report.items():
        print(f"{name} {value:.6g} {unit} {note}".rstrip())
    print(f"failed_frac {failed / attempted:.6g} ratio ({failed}/{attempted})")

    if args.trace:
        traced = [op for op in ops if op.layers]
        layers = {k: 0.0 for k in wl.PER_LAYER}
        for k in layers:
            vals = [op.layers[k] for op in traced if k in op.layers]
            if vals:
                layers[k] = statistics.fmean(vals)
        layers.update(w.run_layers)
        layers["mem.peak_rss_mb"] = peak_mb
        layers["box.probe_mops"] = probe_mops
        if not any("trace.overhead_frac" in op.layers for op in traced):
            # the same operation traced and untraced in one run
            layers["trace.overhead_frac"] = (
                statistics.median(op.wall for op in traced) / e2e["op_s_p50"] - 1.0
            )
        for k, v in layers.items():
            print(f"{k} {v:.6g} {wl.PER_LAYER[k]}")
        metrics = {k: {"value": float(v), "unit": wl.PER_LAYER[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(run(parse_args()))
