"""The benchmark's workloads: seeded inputs, one timed operation, and the
correctness gate that checks it against an independent model.

Every workload is a closed loop with one client: the next operation starts
only after the previous one returned, because the crawl has a single
writer and each caller waits for its commit.  The engine receives only
generated DataFrames (frontier, seed lists, hosts, documents).
"""

from __future__ import annotations

import hashlib
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from spider_spark import bloom as bloom_mod
from spider_spark import canon, parse, simnet, synth
from spider_spark import crawl as crawl_mod
from spider_spark.crawl import Crawler
from spider_spark.fetch import fetch_batch
from spider_spark.frontier import dequeue
from spider_spark.functions import dedup
from spider_spark.politeness import eligible_hosts, robots_allowed
from spider_spark.refsim import SimConfig, simulate
from spider_spark.round import CrawlConfig
from spider_spark.storage import TableStore

# Per-layer metrics (name -> unit).  Every traced run reports all of them;
# a layer a workload does not run reads 0 there.
PER_LAYER = {
    "frontier.dequeue_s": "s",
    "frontier.dequeued_rows": "count",
    "politeness.robots_dropped_rows": "count",
    "fetch.s": "s",
    "fetch.rows": "count",
    "fetch.err_rows": "count",
    "fetch.partition_skew": "ratio",
    "parse.links_s": "s",
    "parse.link_rows": "count",
    "canon.candidates_s": "s",
    "canon.candidate_rows": "count",
    "seen.antijoin_s": "s",
    "seen.new_rows": "count",
    "bloom.update_s": "s",
    "bloom.skip_ratio": "ratio",
    "bloom.fp_ratio": "ratio",
    "bloom.bytes": "B",
    "round.s": "s",
    "round.fetch_s": "s",
    "round.dedup_s": "s",
    "round.new_rows": "count",
    "round.dup_rows": "count",
    "round.seen_buckets_read": "count",
    "round.jobs": "count",
    "round.accounted_frac": "ratio",
    "storage.merge_frontier_s": "s",
    "storage.append_seen_s": "s",
    "storage.append_documents_s": "s",
    "storage.merge_host_state_s": "s",
    "storage.append_lineage_s": "s",
    "storage.commit_s": "s",
    "storage.expire_s": "s",
    "storage.compact_s": "s",
    "storage.read_partitions_s": "s",
    "storage.bytes_written": "B",
    "storage.members": "count",
    "crawl.bootstrap_s": "s",
    "crawl.resume_restore_s": "s",
    "crawl.resume_rebuild_s": "s",
    "dedup.containment_s": "s",
    "dedup.containment_candidates": "count",
    "dedup.containment_useful_ratio": "ratio",
    "dedup.minhash_s": "s",
    "dedup.lsh_candidates": "count",
    "dedup.minhash_pairs": "count",
    "mem.peak_rss_mb": "MB",
    "box.probe_mops": "Mops",
    "trace.overhead_frac": "ratio",
}

# storage span (method, table) -> per-layer metric
_STORAGE_METRIC = {
    ("merge_upsert", "frontier"): "storage.merge_frontier_s",
    ("merge_upsert", "host_state"): "storage.merge_host_state_s",
    ("append", "seen"): "storage.append_seen_s",
    ("append", "documents"): "storage.append_documents_s",
    ("append", "lineage"): "storage.append_lineage_s",
    ("commit_round", None): "storage.commit_s",
    ("expire_snapshots", None): "storage.expire_s",
    ("compact", None): "storage.compact_s",
    ("read_partitions", None): "storage.read_partitions_s",
    ("restore_last_committed", None): "crawl.resume_restore_s",
}


def url_digest(urls) -> int:
    """Order-independent digest of a URL set: sum of the first 32 bits of
    each URL's md5.  ``digest_col`` computes the same sum in Spark."""
    return sum(int(hashlib.md5(u.encode()).hexdigest()[:8], 16) for u in urls)


def digest_col(col: str = "url"):
    return F.sum(F.conv(F.substring(F.md5(F.col(col)), 1, 8), 16, 10).cast("long"))


def urls_of(h: np.ndarray, p: np.ndarray) -> pd.Series:
    return "http://h" + pd.Series(h).astype(str) + ".example/p" + pd.Series(p).astype(str)


def hosts_dict(hosts_df) -> dict[str, dict]:
    return {
        r["host"]: {
            "crawl_delay": r["crawl_delay"],
            "max_concurrent": r["max_concurrent"],
            "disallow_prefixes": list(r["disallow_prefixes"] or []),
        }
        for r in hosts_df.collect()
    }


def _allowed(url: str, hosts: dict[str, dict]) -> bool:
    rest = url.split("://", 1)[1]
    host, _, path = rest.partition("/")
    h = hosts.get(host)
    return h is None or not any(("/" + path).startswith(d) for d in h["disallow_prefixes"])


def per_s(work_per_op: int, ops) -> float:
    return work_per_op * len(ops) / sum(op.wall for op in ops)


@dataclass
class Op:
    """One measured operation: wall time, gate verdict, and (traced ops
    only) per-layer values."""

    wall: float
    ok: bool
    layers: dict = field(default_factory=dict)


class Workload:
    """``setup`` builds inputs and may warm up, leaving the checked
    warm-up ops in ``self.warmup``; ``op`` runs one timed operation;
    ``finish(ops)`` runs the end-of-run gate over the measured ops and
    returns ``(failed_op_indices, report)``, where report maps a metric
    name to (value, unit, note)."""

    name = ""
    # operations measured per run, however long they take; op_s_p50 is
    # their median
    min_ops = 2

    def __init__(self, spark, size: dict, seed: int, tracer, workdir: str, cores: int):
        self.spark = spark
        self.size = size
        self.seed = seed
        self.tracer = tracer
        self.workdir = workdir
        self.cores = cores
        self.rng = np.random.default_rng(seed)
        self.run_layers: dict[str, float] = {}
        self.warmup: list[Op] = []

    def install_tracing(self) -> None:
        """Patch the engine calls this workload traces (traced runs only)."""

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, traced: bool) -> Op:
        raise NotImplementedError

    def measure(self, traced: bool) -> Op:
        """One operation, with the tracer recording only if ``traced``."""
        self.tracer.active = traced
        try:
            return self.op(traced)
        finally:
            self.tracer.active = False

    def finish(self, ops: list[Op]) -> tuple[set[int], dict]:
        return set(), {}

    def warm_up(self) -> None:
        """The first op in a fresh JVM runs ~2x slower than later ones
        (codegen compiles, JIT, Python worker start): run it untimed."""
        self.warmup = [self.op(traced=False)]

    def _job_id(self) -> int:
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup()
        return max(ids) if ids else -1


# ====================================================================== wave
class Wave(Workload):
    """One storage-free scheduling wave: dequeue -> salted fetch -> link
    extraction + canonical candidates -> exact anti-join against the full
    seen set, counted into a digest.  No store, no Bloom prefilter."""

    name = "wave"

    def setup(self) -> None:
        s, rng = self.size, self.rng
        n, nh, ps = s["rows"], s["n_hosts"], s["page_space"]
        hot = int(rng.integers(nh))
        h = np.where(rng.random(n) < s["hot_frac"], hot, rng.integers(0, nh, n))
        p = rng.integers(0, ps, n)
        pdf = pd.DataFrame({"url": urls_of(h, p), "priority": rng.integers(0, 3, n).astype("int32")})
        pdf = pdf.drop_duplicates("url", ignore_index=True)
        spark = self.spark
        self.hosts = synth.hosts_config(spark, nh, uniform_delay=0, uniform_cap=s["host_cap"]).cache()
        self.frontier = (
            spark.createDataFrame(pdf)
            .select(
                "url",
                canon.url_hash_col(F.col("url")).alias("url_hash"),
                canon.host_col(F.col("url")).alias("host"),
                F.col("priority").cast("int"),
                F.lit(0).alias("depth"),
                F.lit("pending").alias("state"),
                F.lit(0).alias("retry_count"),
                F.lit(0).cast("long").alias("next_fetch_time"),
                F.lit(0).cast("long").alias("discovered_round"),
            )
            .cache()
        )
        self.seen = self.frontier.select("url_hash").cache()
        self.frontier.count()
        self.seen.count()
        self.model = self._model(pdf, hosts_dict(self.hosts))

    def _model(self, pdf: pd.DataFrame, hosts: dict) -> dict:
        """Python-side recount with the scalar simnet (the refsim network):
        per-host (priority, url) order capped at max_concurrent, after the
        dequeue-time robots check."""
        s = self.size
        rows = sorted(zip(pdf["priority"].tolist(), pdf["url"].tolist()))
        taken: dict[str, int] = {}
        dequeued, cand = 0, set()
        for _prio, url in rows:
            host = url.split("/")[2]
            if not _allowed(url, hosts) or taken.get(host, 0) >= hosts[host]["max_concurrent"]:
                continue
            taken[host] = taken.get(host, 0) + 1
            dequeued += 1
            h_id = int(host[1:].split(".")[0])
            _status, err, spans = simnet.fetch_one(h_id, int(url.rsplit("/p", 1)[1]), s["n_hosts"], s["page_space"])
            if err == 0:
                cand.update(sp["text"] for sp in spans if sp["kind"] == "link")
        new = cand - set(pdf["url"])
        return {"dequeued": dequeued, "candidates": len(cand), "new": len(new), "digest": url_digest(new)}

    def _stages(self):
        s = self.size
        batch = lambda: dequeue(  # noqa: E731
            self.frontier, eligible_hosts(self.hosts, None, 1), 1, None, hosts_df=self.hosts
        )
        fetched = lambda b: fetch_batch(b, s["n_hosts"], s["page_space"], self.cores, 8)  # noqa: E731
        links = lambda r: parse.extract_links(  # noqa: E731
            r.filter(F.col("err_type") == 0).select("url", "depth", "spans")
        )
        cands = lambda lk: (  # noqa: E731
            lk.select(F.col("link").alias("url"), (F.col("depth") + 1).alias("depth"))
            .groupBy("url")
            .agg(F.min("depth").alias("depth"))
            .select(
                "url",
                canon.url_hash_col(F.col("url")).alias("url_hash"),
                canon.host_col(F.col("url")).alias("host"),
                "depth",
            )
        )
        anti = lambda c: c.join(self.seen, "url_hash", "left_anti")  # noqa: E731
        return batch, fetched, links, cands, anti

    def _plan(self):
        batch, fetched, links, cands, anti = self._stages()
        b = batch()
        c = cands(links(fetched(b)))
        return b, c, anti(c)

    def op(self, traced: bool) -> Op:
        if traced:
            return self._traced_op()
        t0 = time.monotonic()
        n_new, dig = self._plan()[2].agg(F.count(F.lit(1)), digest_col()).first()
        wall = time.monotonic() - t0
        return self._checked(wall, {"seen.new_rows": n_new, "digest": dig})

    def _checked(self, wall: float, got: dict, layers: dict | None = None) -> Op:
        """Every count the op produced must equal the model's recount."""
        m = self.model
        want = {
            "frontier.dequeued_rows": m["dequeued"],
            "fetch.rows": m["dequeued"],  # every dequeued row is fetched once
            "canon.candidate_rows": m["candidates"],
            "seen.new_rows": m["new"],
            "digest": m["digest"],
        }
        bad = {k: (v, want[k]) for k, v in got.items() if v != want[k]}
        if bad:
            print(f"wave: (engine, model) counts differ: {bad}", file=sys.stderr)
        return Op(wall, not bad, layers or {})

    def _traced_op(self) -> Op:
        """Each stage materialized in turn (parquet round-trip), so each
        span is that stage's own time."""
        batch, fetched, links, cands, anti = self._stages()
        spark, tr = self.spark, self.tracer
        base = os.path.join(self.workdir, "wave")

        def pin(name, df):
            path = os.path.join(base, name)
            df.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path)

        t0 = time.monotonic()
        with tr.span("op", workload="wave"):
            with tr.span("frontier.dequeue"):
                b = pin("batch", batch())
            with tr.span("fetch"):
                r = pin("fetched", fetched(b))
            with tr.span("parse.links"):
                lk = pin("links", links(r))
            with tr.span("canon.candidates"):
                c = pin("cand", cands(lk))
            with tr.span("seen.antijoin"):
                n_new, dig = anti(c).agg(F.count(F.lit(1)), digest_col()).first()
        wall = time.monotonic() - t0
        spans = {sp["name"]: tr.dur(sp) for sp in tr.spans[-6:] if sp["name"] != "op"}
        per_part = [
            row["n"] for row in r.groupBy("partition_id").agg(F.count(F.lit(1)).alias("n")).collect()
        ]
        counts = {
            "frontier.dequeued_rows": b.count(),
            "canon.candidate_rows": c.count(),
            "seen.new_rows": n_new,
        }
        layers = {
            **counts,
            "frontier.dequeue_s": spans["frontier.dequeue"],
            "fetch.s": spans["fetch"],
            "fetch.rows": sum(per_part),
            "fetch.err_rows": r.filter(F.col("err_type") > 0).count(),
            "fetch.partition_skew": max(per_part) / (sum(per_part) / len(per_part)),
            "parse.links_s": spans["parse.links"],
            "parse.link_rows": lk.count(),
            "canon.candidates_s": spans["canon.candidates"],
            "seen.antijoin_s": spans["seen.antijoin"],
        }
        return self._checked(wall, {**counts, "fetch.rows": layers["fetch.rows"], "digest": dig}, layers)

    def finish(self, ops):
        if self.tracer.enabled:
            pending = self.frontier.filter(F.col("state") == "pending").join(
                eligible_hosts(self.hosts, None, 1), "host"
            )
            self.run_layers["politeness.robots_dropped_rows"] = (
                pending.count() - robots_allowed(pending, self.hosts).count()
            )
        m = self.model
        report = {
            "dequeued": (m["dequeued"], "urls", "per wave"),
            "candidates": (m["candidates"], "urls", "per wave"),
        }
        plain = [op for op in ops if not op.layers]
        if plain:
            report["wave_urls_per_s"] = (
                per_s(m["dequeued"] + m["candidates"], plain), "urls/s", f"n={len(plain)}"
            )
        return set(), report


# ===================================================================== crawl
class Crawl(Workload):
    """A crawl: bootstrap a store, crash and recover (fresh ``Crawler`` +
    ``resume()``), then run capped storage-inclusive rounds, one per
    operation.  Gated against ``refsim.simulate`` on the same seeds."""

    name = "crawl"

    def install_tracing(self) -> None:
        tr = self.tracer
        table_of = lambda store, table=None, *a, **k: {"table": table}  # noqa: E731
        for meth in ("write", "append", "merge_upsert", "compact", "read_partitions"):
            after = self._after_append if meth == "append" else None
            after = self._after_read_partitions if meth == "read_partitions" else after
            tr.patch(TableStore, meth, f"storage.{meth}", attrs_of=table_of, after=after)
        for meth in ("commit_round", "expire_snapshots", "restore_last_committed"):
            tr.patch(TableStore, meth, f"storage.{meth}")
        tr.patch(crawl_mod, "run_round", "round.run_round")
        tr.patch(bloom_mod.ShardedBloom, "update_from_df", "bloom.update_from_df")
        tr.patch(bloom_mod, "bloom_prefilter", None, after=self._after_prefilter)

    def _after_append(self, _out, attrs, _store, table, df, *a, **k):
        if table == "lineage":  # a local relation of per-partition rows
            attrs["partitions"] = [(r["dequeued"], r["errors"]) for r in df.collect()]

    def _after_read_partitions(self, _out, attrs, _store, table, values, *a, **k):
        attrs["buckets"] = len(list(values))

    def _after_prefilter(self, out, attrs, _spark, candidates, _bloom):
        self._prefilter = (out[0].count(), candidates.count())

    def setup(self) -> None:
        s, rng, spark = self.size, self.rng, self.spark
        nh, ps = s["n_hosts"], s["page_space"]
        self.hot = int(rng.integers(nh))
        pdf = pd.DataFrame({"url": self._urls(s["seeds"]), "priority": rng.integers(0, 3, s["seeds"]).astype("int32")})
        self.seeds = list(zip(pdf["url"].tolist(), pdf["priority"].tolist()))
        hosts = synth.hosts_config(spark, nh).cache()
        self.hosts_py = hosts_dict(hosts)
        self.cfg = CrawlConfig(
            n_hosts=nh, page_space=ps, global_cap=s["global_cap"], fetch_partitions=self.cores, salt=8
        )
        self.store_dir = os.path.join(self.workdir, "store")
        self.crawler = Crawler(spark, self.store_dir, self.cfg)
        t0 = time.monotonic()
        self.crawler.bootstrap(spark.createDataFrame(pdf), hosts)
        self.run_layers["crawl.bootstrap_s"] = time.monotonic() - t0
        self.rounds: list[dict] = []
        # A round has ~35 Spark jobs of fixed cost, so a run has time for
        # only a few operations: recovery runs once here, and each
        # operation is one round, the largest step.
        tr = self.tracer
        tr.active = tr.enabled
        try:
            t0 = time.monotonic()
            with tr.span("crawl.resume") as resume:
                self.crawler = Crawler(spark, self.store_dir, self.cfg)
                self.crawler.resume()
            self.resume_s = time.monotonic() - t0
        finally:
            tr.active = False
        if tr.enabled:
            (span,) = [sp for sp in tr.spans if sp["attrs"] is resume]
            inside = tr.descendants(span)
            self.run_layers["crawl.resume_restore_s"] = sum(
                tr.dur(sp) for sp in inside if sp["name"] == "storage.restore_last_committed"
            )
            self.run_layers["crawl.resume_rebuild_s"] = sum(
                tr.dur(sp) for sp in inside if sp["name"] == "bloom.update_from_df"
            )

    def _urls(self, n: int) -> pd.Series:
        s, rng = self.size, self.rng
        h = np.where(rng.random(n) < s["hot_frac"], self.hot, rng.integers(0, s["n_hosts"], n))
        return urls_of(h, rng.integers(0, s["page_space"], n))

    def _parquet_files(self) -> dict[str, int]:
        out = {}
        for root, _d, files in os.walk(self.store_dir):
            for f in files:
                if f.endswith(".parquet"):
                    path = os.path.join(root, f)
                    out[path] = os.path.getsize(path)
        return out

    def op(self, traced: bool) -> Op:
        files0 = self._parquet_files() if traced else None
        self._prefilter = None
        j0 = self._job_id()
        t0 = time.monotonic()
        with self.tracer.span("crawl.run_rounds", round=len(self.rounds) + 1):
            res = self.crawler.run_rounds(1)
        wall = time.monotonic() - t0
        r = res[0] if res else None
        self.rounds.append({
            "dequeued": r.dequeued if r else 0,
            "candidates": (r.new_urls + r.dup_urls) if r else 0,
            "round_s": wall,
            "jobs": self._job_id() - j0,
        })
        return Op(wall, True, self._round_layers(r, files0) if traced else {})

    def _round_layers(self, r, files0: dict) -> dict:
        tr = self.tracer
        rnd = next(sp for sp in reversed(tr.spans) if sp["name"] == "crawl.run_rounds")
        inside = tr.descendants(rnd)
        named = lambda n: [sp for sp in inside if sp["name"] == n]  # noqa: E731
        total = lambda sps: sum(tr.dur(sp) for sp in sps)  # noqa: E731
        out = {k: 0.0 for k in _STORAGE_METRIC.values() if not k.startswith("crawl.")}
        storage = [
            sp for sp in inside
            if sp["name"].startswith("storage.")
            and not tr.spans[sp["parent"]]["name"].startswith("storage.")
        ]
        for sp in storage:
            meth, table = sp["name"].split(".", 1)[1], sp["attrs"].get("table")
            key = _STORAGE_METRIC.get((meth, table)) or _STORAGE_METRIC.get((meth, None))
            if key:
                out[key] = out.get(key, 0.0) + tr.dur(sp)
        fetch_s = total(
            sp for sp in inside
            if sp["name"] == "storage.write" and sp["attrs"].get("table") == "_round_results"
        )
        dedup_s = sum(tr.self_time(sp) for sp in named("round.run_round"))
        round_storage = [sp for sp in storage if sp["attrs"].get("table") != "_round_results"]
        bloom_s = total(named("bloom.update_from_df"))
        # rounds are successive on a growing store, so a traced round has
        # no untraced twin to compare with: the tracing cost is the share
        # of the round its counting jobs took
        hooks = total(named("trace.count"))
        round_s = tr.dur(rnd) - hooks
        parts = [p for sp in named("storage.append") for p in sp["attrs"].get("partitions", [])]
        rows = [d for d, _e in parts]
        n_def, n_cand = self._prefilter or (0, 0)
        new_urls = r.new_urls if r else 0
        out.update({
            "fetch.s": fetch_s,
            "fetch.rows": sum(rows),
            "fetch.err_rows": sum(e for _d, e in parts),
            "fetch.partition_skew": max(rows) / (sum(rows) / len(rows)) if rows else 0.0,
            "canon.candidate_rows": n_cand,
            "bloom.update_s": bloom_s,
            "bloom.skip_ratio": n_def / n_cand if n_cand else 0.0,
            "bloom.fp_ratio": (new_urls - n_def) / new_urls if new_urls else 0.0,
            "round.s": round_s,
            "round.fetch_s": fetch_s,
            "round.dedup_s": dedup_s,
            "round.new_rows": new_urls,
            "round.dup_rows": r.dup_urls if r else 0,
            "round.seen_buckets_read": sum(sp["attrs"].get("buckets", 0) for sp in named("storage.read_partitions")),
            "round.accounted_frac": (fetch_s + dedup_s + total(round_storage) + bloom_s) / round_s,
            "storage.bytes_written": sum(
                size for path, size in self._parquet_files().items() if path not in files0
            ),
            "trace.overhead_frac": hooks / round_s,
        })
        return out

    def seen_digest(self) -> tuple[int, int]:
        n, dig = self.crawler.store.read("seen").agg(F.count(F.lit(1)), digest_col()).first()
        return int(n), int(dig or 0)

    def model(self) -> tuple[list[int], tuple[int, int]]:
        """refsim over the same seeds and number of rounds."""
        s = self.size
        sim = simulate(
            self.seeds,
            self.hosts_py,
            SimConfig(s["n_hosts"], s["page_space"], s["global_cap"], self.cfg.max_retries),
            len(self.rounds),
        )
        return [len(b) for b in sim.crawl_order], (len(sim.seen), url_digest(sim.seen))

    def finish(self, ops):
        model_rounds, model_seen = self.model()
        engine_rounds = [r["dequeued"] for r in self.rounds if r["dequeued"]]
        bad, seen_ok = crawl_gate(engine_rounds, self.seen_digest(), model_rounds, model_seen)
        if bad or not seen_ok:
            print(f"crawl: rounds {sorted(bad)} differ from refsim, seen set "
                  f"{'matches' if seen_ok else 'differs'}", file=sys.stderr)
        # op i ran round i + 1
        failed = {min(i - 1, len(ops) - 1) for i in bad}
        if not seen_ok:
            failed.add(len(ops) - 1)
        round_s = [r["round_s"] for r in self.rounds]
        seen_n = model_seen[0]
        store_bytes = sum(self._parquet_files().values())
        report = {
            "crawl_urls_per_s": (
                sum(r["dequeued"] + r["candidates"] for r in self.rounds) / sum(round_s), "urls/s", ""
            ),
            "round_s_p50": (statistics.median(round_s), "s", f"n={len(round_s)}"),
            "resume_s": (self.resume_s, "s", "n=1, in set-up"),
            "store_bytes_per_url": (store_bytes / seen_n, "B/url", f"seen={seen_n}"),
        }
        if self.tracer.enabled:
            store = self.crawler.store
            tables = [t for t in os.listdir(self.store_dir) if t != "rounds" and store.exists(t)]
            self.run_layers["storage.members"] = sum(store.files(t).count() for t in tables)
            self.run_layers["bloom.bytes"] = self.crawler.bloom.nbytes
            untraced = [r["jobs"] for i, r in enumerate(self.rounds) if i % 2 == 0]
            self.run_layers["round.jobs"] = statistics.median(untraced)
        return failed, report


def crawl_gate(engine_rounds, engine_seen, model_rounds, model_seen) -> tuple[set[int], bool]:
    """Compare a crawl with its model: returns the 1-based rounds whose
    dequeued count differs (a round missing on either side differs too)
    and whether the seen set's (size, digest) matches."""
    n = max(len(engine_rounds), len(model_rounds))
    pad = lambda xs: list(xs) + [None] * (n - len(xs))  # noqa: E731
    bad = {i + 1 for i, (a, b) in enumerate(zip(pad(engine_rounds), pad(model_rounds))) if a != b}
    return bad, tuple(engine_seen) == tuple(model_seen)


# ================================================================== near_dup
class NearDup(Workload):
    """Document dedup: ``containment_pairs`` (word 8-shingles) finds
    truncated twins, ``minhash_dedup`` finds one-word-edited copies.  A
    boilerplate header on a seeded share of documents skews the shingle
    join the way real page templates do."""

    name = "near_dup"

    def install_tracing(self) -> None:
        def count_lsh(out, _attrs, *a, **k):
            self._lsh = out.count()

        self.tracer.patch(dedup, "lsh_candidate_pairs", None, after=count_lsh)

    def setup(self) -> None:
        s, rng = self.size, self.rng
        vocab = np.array([f"w{i}" for i in range(s["vocab"])])
        header = " ".join(rng.choice(vocab, s["header_words"]))
        n = s["docs"]
        # fixed shares, seed-chosen documents: the join's skew (boilerplate
        # pairs grow with the square of the share) is the same every run
        pick = lambda frac: set(rng.choice(n, int(frac * n), replace=False).tolist())  # noqa: E731
        boiler, twins, copies = pick(s["boiler_frac"]), pick(s["twin_frac"]), pick(s["copy_frac"])
        ids, texts = [], []
        self.twins, self.copies = [], []
        for i in range(n):
            words = rng.choice(vocab, int(rng.integers(s["min_words"], s["max_words"] + 1)))
            body = " ".join(words)
            text = f"{header} {body}" if i in boiler else body
            ids.append(f"d{i:06d}")
            texts.append(text)
            if i in twins:  # truncated twin: fully contained in its source
                toks = text.split()
                m = int(rng.integers(max(8, len(toks) // 3), max(9, 2 * len(toks) // 3)))
                ids.append(f"t{i:06d}")
                texts.append(" ".join(toks[:m]))
                self.twins.append((f"t{i:06d}", f"d{i:06d}"))
            if i in copies:  # one word edited: a near-duplicate for MinHash
                j = int(rng.integers(len(words)))
                edited = words.copy()
                edited[j] = "x" + edited[j]
                ids.append(f"n{i:06d}")
                texts.append(text[: len(text) - len(body)] + " ".join(edited))
                self.copies.append((f"d{i:06d}", f"n{i:06d}"))
        self.docs = self.spark.createDataFrame(pd.DataFrame({"doc_id": ids, "text": texts})).cache()
        self.n_docs = self.docs.count()

    def op(self, traced: bool) -> Op:
        tr = self.tracer
        self._lsh = 0
        t0 = time.monotonic()
        with tr.span("op", workload="near_dup"):
            with tr.span("dedup.containment"):
                cp = dedup.containment_pairs(self.docs, self.docs, k=8)
                full = F.col("n_match") == F.col("n_shingles")
                n_cand, full_pairs = cp.agg(
                    F.count(F.lit(1)),
                    F.collect_list(F.when(full, F.struct("id_contained", "id_container"))),
                ).first()
            t1 = time.monotonic()
            with tr.span("dedup.minhash"):
                pairs = dedup.minhash_dedup(self.docs).select("id_a", "id_b").collect()
        wall = time.monotonic() - t0
        misses = near_dup_gate(
            {tuple(p) for p in full_pairs}, self.twins, {tuple(p) for p in pairs}, self.copies
        )
        layers = {}
        if traced:
            spans = {sp["name"]: tr.dur(sp) for sp in tr.spans if sp["name"].startswith("dedup.")}
            layers = {
                "dedup.containment_s": spans["dedup.containment"],
                "dedup.containment_candidates": n_cand,
                "dedup.containment_useful_ratio": len(self.twins) / n_cand,
                "dedup.minhash_s": spans["dedup.minhash"] - sum(
                    tr.dur(sp) for sp in tr.spans if sp["name"] == "trace.count" and sp["start"] >= t1
                ),
                "dedup.lsh_candidates": self._lsh,
                "dedup.minhash_pairs": len(pairs),
            }
        return Op(wall, misses == 0, layers)

    def finish(self, ops):
        report = {
            "docs": (self.n_docs, "docs", ""),
            "planted_twins": (len(self.twins), "pairs", ""),
            "planted_copies": (len(self.copies), "pairs", ""),
        }
        plain = [op for op in ops if not op.layers]
        if plain:
            report["near_dup_docs_per_s"] = (per_s(self.n_docs, plain), "docs/s", f"n={len(plain)}")
        return set(), report


def near_dup_gate(full_pairs: set, twins: list, lsh_pairs: set, copies: list) -> int:
    """Planted pairs the pass missed: every truncated twin must be fully
    contained (n_match == n_shingles) in its source, and every edited copy
    must come out of MinHash as a near-duplicate pair."""
    return sum(t not in full_pairs for t in twins) + sum(c not in lsh_pairs for c in copies)


class WaveDedup(Workload):
    """The storage-free per-row paths, one after the other in each
    operation: a scheduling wave (``Wave``), then a near-duplicate pass
    over seeded documents (``NearDup``).  Neither touches the store or the
    Bloom prefilter, so a storage or Bloom change must read "no change"
    here.  They share one workload because every run pays ~20 s of JVM
    start and first jobs, and the benchmark's time budget has room for
    two workloads, not three."""

    name = "wave_dedup"
    # after the warm-up a warm op repeats within ~10%, and the time budget
    # has room for one
    min_ops = 1

    def __init__(self, spark, size: dict, seed: int, tracer, workdir: str, cores: int):
        super().__init__(spark, size, seed, tracer, workdir, cores)
        self.parts = [cls(spark, size[cls.name], seed, tracer, workdir, cores) for cls in (Wave, NearDup)]
        self.part_ops: dict[str, list[Op]] = {p.name: [] for p in self.parts}

    def install_tracing(self) -> None:
        for p in self.parts:
            p.install_tracing()

    def setup(self) -> None:
        for p in self.parts:
            p.setup()
        # the first op in a fresh JVM is ~2x a warm one (~15 s of codegen,
        # JIT and Python worker start, whatever the input size): it runs
        # untimed, as part of set-up
        self.warm_up()

    def op(self, traced: bool) -> Op:
        t0 = time.monotonic()
        ops = [p.op(traced) for p in self.parts]
        wall = time.monotonic() - t0
        for p, o in zip(self.parts, ops):
            self.part_ops[p.name].append(o)
        return Op(wall, all(o.ok for o in ops), {k: v for o in ops for k, v in o.layers.items()})

    def finish(self, ops):
        report = {}
        for p in self.parts:
            # warm-up ops come first in part_ops; the measured ones follow
            _failed, rep = p.finish(self.part_ops[p.name][len(self.warmup):])
            report.update(rep)
            self.run_layers.update(p.run_layers)
        return set(), report


WORKLOADS = {w.name: w for w in (WaveDedup, Crawl)}

# Input sizes.  "full" is the benchmark; "tiny" is the smoke self-test.
SIZES = {
    "full": {
        "wave_dedup": {
            "wave": {"rows": 10_000, "n_hosts": 1000, "page_space": 2000, "hot_frac": 0.3, "host_cap": 2000},
            "near_dup": {"docs": 200, "vocab": 5000, "header_words": 16, "min_words": 30,
                         "max_words": 60, "boiler_frac": 0.2, "twin_frac": 0.15, "copy_frac": 0.1},
        },
        "crawl": {"seeds": 4000, "n_hosts": 1000, "page_space": 2000, "hot_frac": 0.3,
                  "global_cap": 1500},
    },
    "tiny": {
        "wave_dedup": {
            "wave": {"rows": 2000, "n_hosts": 50, "page_space": 200, "hot_frac": 0.3, "host_cap": 40},
            "near_dup": {"docs": 60, "vocab": 500, "header_words": 16, "min_words": 20,
                         "max_words": 40, "boiler_frac": 0.2, "twin_frac": 0.3, "copy_frac": 0.3},
        },
        "crawl": {"seeds": 600, "n_hosts": 50, "page_space": 200, "hot_frac": 0.3,
                  "global_cap": 150},
    },
}
