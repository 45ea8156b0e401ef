"""Spans, process-tree memory sampling, the CPU probe and Spark shutdown.

Spans are recorded from the benchmark, around calls into the engine's
public functions; nothing here reaches inside ``spider_spark``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import signal
import subprocess
import threading
import time

import numpy as np


class Tracer:
    """In-memory spans: (name, start, end, parent, run id, attrs).

    A disabled tracer patches nothing, so an untraced run calls the engine
    exactly as a user would.  An enabled one records spans (and runs the
    patches' counting hooks) only while ``active`` is set, so a traced run
    can interleave untraced operations."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record one span; the body may add counts to the yielded attrs."""
        if not self.active:
            yield attrs
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.monotonic(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def patch(self, owner, attr: str, name: str | None, attrs_of=None, after=None) -> None:
        """Wrap ``owner.attr`` so every call is a span named ``name``
        (``None``: no span, for calls that only build a lazy plan).

        ``attrs_of(*args, **kwargs)`` labels the span (e.g. the table);
        ``after(result, attrs, *args, **kwargs)`` may run extra counting
        jobs, which get their own ``trace.count`` span so that they show as
        tracing overhead and not as engine time."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            attrs = attrs_of(*args, **kwargs) if attrs_of else {}
            if name is None:
                out = orig(*args, **kwargs)
            else:
                with tracer.span(name, **attrs) as attrs:
                    out = orig(*args, **kwargs)
            if after is not None:
                with tracer.span("trace.count", of=name or attr):
                    after(out, attrs, *args, **kwargs)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unpatch_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ queries
    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def descendants(self, span: dict) -> list[dict]:
        out, todo = [], [span["id"]]
        while todo:
            pid = todo.pop()
            kids = [s for s in self.spans if s["parent"] == pid]
            out.extend(kids)
            todo.extend(k["id"] for k in kids)
        return out

    @staticmethod
    def dur(span: dict) -> float:
        return span["end"] - span["start"]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part its child spans cover."""
        return self.dur(span) - sum(self.dur(c) for c in self.children(span))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _ppid_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    kids = _ppid_map()
    out, todo = [], [root or os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes with each shared page split
    among its sharers, so forked Python workers are not counted N times."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PeakRSS:
    """Peak resident memory of this process tree (this process, the JVM,
    its Python workers) as summed PSS, sampled from /proc by a daemon
    thread."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        self.peak = max(self.peak, sum(_pss_bytes(p) for p in process_tree()))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def cpu_probe(n: int = 2_000_000) -> float:
    """Single-thread numpy element-ops/s (the ``bench.py`` probe).  A low
    reading marks a noisy-neighbour window.  The first pass is untimed: a
    cold process reads far lower than the box's real rate."""
    a = np.random.RandomState(0).rand(n)
    float(np.sqrt(a * a + 1.0).sum())
    t0 = time.monotonic()
    s = 0.0
    for _ in range(3):
        s += float(np.sqrt(a * a + 1.0).sum())
    return n * 3 / (time.monotonic() - t0)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM and wait until every process the
    session started (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    started = [p for p in process_tree() if p != os.getpid()]
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        left = [p for p in started if _alive(p)]
        if not left:
            return
        time.sleep(0.2)
    for p in started:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
