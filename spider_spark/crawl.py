"""The crawl: bootstrap, one round (``run_round``), one admission path
(``Crawler._admit``), the driver loop and resume (T1).

Replaces the reference's per-API crawl loops (shixinSpiderAPI
shixin_spider.py:317-342; zhixingSpiderAPI zhixing_spider.py:229-260)
and its JSON start-ID checkpoint (shixin_spider.py:299-312) with one
generic loop over the versioned table store.  The reference's checkpoint
bug — it writes the FINAL id even mid-run (shixin_spider.py:336) — is
fixed structurally: a round's manifest commits only after every table of
that round is durable, and resume rolls back to the last manifest.
"""

from __future__ import annotations

import contextlib
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import bloom as bloom_mod
from . import canon, fetch, frontier, parse, politeness
from .round import CrawlConfig, RoundResult, seen_rows
from .schemas import FRONTIER, HOST_STATE, LINEAGE
from .storage import TableStore


class Crawler:
    def __init__(self, spark: SparkSession, workdir: str, cfg: CrawlConfig):
        for name in ("seen_buckets", "media_buckets"):
            if getattr(cfg, name) < 1:
                raise ValueError(f"CrawlConfig.{name} must be >= 1, got {getattr(cfg, name)}")
        self.spark = spark
        self.cfg = cfg
        self.store = TableStore(spark, workdir)
        self.bloom = self._make_filter()

    def _make_filter(self) -> bloom_mod.ShardedBloom | None:
        """The seen-prefilter: it only changes WHICH candidates skip the
        exact anti-join, never the result."""
        if not self.cfg.use_bloom:
            return None
        return bloom_mod.ShardedBloom(self.cfg.bloom_shards, self.cfg.bloom_bits)

    # ------------------------------------------------------------ admission
    def _canonical_seeds(self, seeds: DataFrame, hosts: DataFrame) -> DataFrame:
        """(url, priority) rows -> depth-0 ``_candidates``, one per
        canonical URL with its lowest priority.  The prelude of bootstrap
        and of every seed batch."""
        s = seeds.select(
            canon.canonicalize_udf(F.col("url")).alias("url"), F.col("priority").cast("int")
        )
        s = s.groupBy("url").agg(F.min("priority").alias("priority"))
        return _candidates(s.withColumn("depth", F.lit(0)), hosts)

    def _admit(
        self,
        cand: DataFrame,
        next_fetch_time: int,
        round_id: int,
        updates: DataFrame | None = None,
    ) -> tuple[int, int]:
        """The one way a URL enters the crawl (a round's links, a seed
        batch, an audit): the candidate rows (url, url_hash, host,
        priority, depth), one per URL, that are not yet in seen become
        pending frontier rows fetchable from ``next_fetch_time``.  They
        and ``updates`` (a round's fetched rows) are MERGEd into the
        frontier in one commit; the new URLs are appended to seen and ORed
        into the Bloom.  The caller commits the round.  Returns
        (candidates, new URLs).

        The Bloom tags each candidate once (``bloom_prefilter``), and ONE
        grouped count over the tags gives both the candidate count and
        the seen buckets the exact anti-join must open: maybe-seen rows
        group by their bucket, definitely-new ones into a NULL group.  A
        bucket with no maybe-seen hash cannot match, so opening only
        those is exact.  Everything cached or broadcast here is released
        however this returns or raises."""
        with contextlib.ExitStack() as cleanup:
            definite_new, maybe_seen, tagged, bc = bloom_mod.bloom_prefilter(
                self.spark, cand, self.bloom
            )
            cleanup.callback(tagged.unpersist)
            if bc is not None:
                cleanup.callback(bc.destroy)
            bucket_counts = (
                tagged.groupBy(
                    F.when(
                        F.col("_maybe"),
                        canon.bucket_col(F.col("url_hash"), self.cfg.seen_buckets),
                    ).alias("b")
                )
                .count()
                .collect()
            )
            n_cand = sum(r["count"] for r in bucket_counts)
            seen = self.store.read_partitions(
                "seen", [r["b"] for r in bucket_counts if r["b"] is not None]
            )
            new = definite_new.unionByName(
                maybe_seen.join(seen.select("url_hash"), "url_hash", "left_anti")
            ).cache()
            cleanup.callback(new.unpersist)
            # one collect of the new hashes is both the count and the Bloom
            # delta (8 B per new URL, ORed in on the driver; see bloom.py)
            hashes = new.select("url_hash").toArrow().column("url_hash").to_numpy()
            rows = frontier.pending_rows(new, next_fetch_time, round_id)
            if updates is not None:
                self._merge_frontier(updates.unionByName(rows))
            elif len(hashes):
                self._merge_frontier(rows)
            if len(hashes):
                self.store.append("seen", seen_rows(new, self.cfg))
                if self.bloom is not None:
                    self.bloom.update_local(hashes)
        return n_cand, len(hashes)

    def _merge_frontier(self, rows: DataFrame) -> str:
        """MERGE frontier rows by url_hash (single-writer; an atomic
        snapshot flip).  Terminal partitions are immutable: fetched/dead
        rows are never re-dequeued, so the merge reads and rewrites ONLY
        the live pending/retry partitions and carries the terminal members
        forward by manifest reference — per-round cost stays O(live), not
        O(all-ever-crawled)."""
        return self.store.merge_upsert(
            "frontier", rows, key="url_hash", partition_by=["state"],
            immutable_partitions=["fetched", "dead"],
        )

    # ------------------------------------------------------------ bootstrap
    def bootstrap(self, seeds: DataFrame, hosts: DataFrame) -> None:
        """Seed list -> round-0 frontier; seeds are canonicalized, robots-
        filtered, deduped (first-wins on lowest priority)."""
        frontier0 = frontier.pending_rows(self._canonical_seeds(seeds, hosts), 0, 0)
        # frontier is partitioned by state (Iceberg partition-spec analog):
        # the dequeue scan of pending/retry rows prunes terminal files
        self.store.write(
            "frontier",
            self.spark.createDataFrame([], FRONTIER).unionByName(frontier0),
            partition_by=["state"],
        )
        self.store.write("seen", seen_rows(frontier0, self.cfg), partition_by=["seen_bucket"])
        self.store.write("hosts", hosts)
        self.store.create("host_state", HOST_STATE)
        self.store.create("lineage", LINEAGE)
        if self.bloom is not None:
            self.bloom.update_from_df(self.spark, self.store.read("seen"))
        self.store.commit_round(0)

    # ------------------------------------------------------------ resume
    def resume(self) -> int:
        """Roll back to the last committed manifest; rebuild the Bloom
        side-structure from the (authoritative) seen table."""
        rid = self.store.restore_last_committed()
        if rid is None:
            raise RuntimeError("nothing to resume: no committed rounds")
        self.bloom = self._make_filter()
        if self.bloom is not None:
            self.bloom.update_from_df(self.spark, self.store.read("seen"))
        return rid

    # ------------------------------------------------------------ rounds
    def run_rounds(
        self, n_rounds: int, record_order: bool = False, expire_keep: int = 3
    ) -> list[RoundResult]:
        start = (self.store.last_committed_round() or 0) + 1
        results: list[RoundResult] = []
        # released however the loop ends: drained, or a raise in a round
        hosts_df = self.store.read("hosts").cache()
        try:
            for r in range(start, start + n_rounds):
                res = run_round(self, r, hosts_df, record_order)
                if res.dequeued == 0:
                    # empty round: advance the clock (retry rows may be
                    # backed off into the future); stop only when the
                    # frontier is truly drained.
                    # from manifest footers, no Spark job: the frontier
                    # never carries merge-on-read deletes or pre-spec
                    # members, so the metadata count is exact
                    if self.store.count_rows("frontier", ["pending", "retry"]) == 0:
                        break
                    self.store.commit_round(r)
                    continue
                self.store.expire_snapshots(keep=expire_keep)
                # small-file maintenance (Iceberg rewrite_data_files
                # analog): delta appends add one segment per round; compact
                # the worst table slice once it crosses the member
                # threshold.  No-op most rounds, amortized O(table/threshold).
                for t in ("seen", "documents", "lineage", "frontier"):
                    self.store.compact(t, max_members=32)
                results.append(res)
        finally:
            hosts_df.unpersist()
        return results

    # ------------------------------------------------------------ robots cache
    def update_hosts(self, host_rows: DataFrame) -> str:
        """Politeness-cache refresh: MERGE (by host) freshly parsed
        robots/politeness rows (robots.hosts_from_robots output) into the
        hosts table the rounds broadcast.  Run it between rounds at
        whatever cadence robots re-fetch deserves."""
        return self.store.merge_upsert("hosts", host_rows, key="host")

    # ------------------------------------------------------------ seed ingestion
    def enqueue_seeds(self, seeds: DataFrame) -> int:
        """Add (url, priority) seed rows to a LIVE crawl: canonicalize,
        dedup within the batch (min priority wins, like bootstrap),
        robots-filter, anti-join the seen table, MERGE the remainder into
        the frontier as pending rows fetchable next round.

        The seen anti-join makes this idempotent — replaying the same
        batch (a restarted stream micro-batch, a duplicated seed file)
        enqueues nothing the second time — which is exactly the
        exactly-once contract streaming ingestion (streaming/ingest.py)
        builds on.  The current round manifest is RE-committed so the
        ingested rows survive resume(): crash mid-enqueue rolls back to
        the pre-batch manifest AND leaves the stream batch unmarked, so
        the replay re-enqueues cleanly; crash after the commit but before
        the checkpoint mark replays into the seen anti-join and enqueues
        nothing.  Either way, exactly-once.

        Semantics mirror refsim.simulate(extra_seeds=): a batch ingested
        after committed round r behaves like links discovered in round r
        (next_fetch_time = r+1) but with depth 0 and caller-given
        priority, robots-filtered against the live hosts table.
        Returns the number of genuinely new URLs."""
        rid = self.store.last_committed_round() or 0
        seeds = self._canonical_seeds(seeds, self.store.read("hosts"))
        _, n_new = self._admit(seeds, rid + 1, rid)
        if n_new:
            self.store.commit_round(rid, extra={"seed_ingest": n_new})
        return n_new

    # ------------------------------------------------------------ priority refresh
    def reprioritize_from_links(self, boost_cap: int = 3) -> str | None:
        """Between-rounds scheduler refresh: re-rank PENDING frontier rows
        by observed link in-degree (frontier.link_indegree_priorities) —
        the batch analog of a PageRank-guided crawl policy.  Retry rows
        keep their backoff semantics; terminal partitions are untouched
        (pending rows stay pending, so the partition-level merge never
        sees a terminal key).  Mirrored by refsim.simulate(reprioritize=)
        at the start of the next round."""
        if not self.store.exists("documents"):
            return None
        pending = self.store.read("frontier").filter(F.col("state") == "pending")
        updates = frontier.link_indegree_priorities(
            pending, self.store.read("documents"), boost_cap
        )
        v = self._merge_frontier(updates)
        # durability (ADVICE r4): without a re-commit, a crash before the
        # next round's commit_round reverts the refresh on resume() and the
        # replayed rounds diverge from a refsim run with reprioritize set —
        # same pattern as enqueue_seeds
        rid = self.store.last_committed_round()
        if rid is not None:
            self.store.commit_round(rid, extra={"reprioritized": 1})
        return v

    # ------------------------------------------------------------ audit (T6)
    def audit_lost(self, expected: DataFrame, priority: int = 0) -> int:
        """Lost-ID reconciliation sweep (errLostAPI shixin_spider.py:401-423):
        URLs in the expected universe that were never seen — dropped by a
        crash, a blocked batch, an over-eager filter — are re-enqueued as
        pending.  One anti-join vs the seen table, MERGE-back, done; run
        it every N rounds or after a resume.  Robots-disallowed URLs are
        dropped like on every admission path: dequeue would never release
        them, so they would sit pending forever.

        Safe with the partition-level frontier merge: lost keys are by
        definition absent from seen ⊇ all frontier keys, so they can
        never reside in a terminal partition."""
        rid = (self.store.last_committed_round() or 0) + 1
        exp = expected.select("url", F.lit(priority).alias("priority"))
        _, n_new = self._admit(self._canonical_seeds(exp, self.store.read("hosts")), 0, rid)
        if n_new:
            self.store.commit_round(rid, extra={"audit": n_new})
        return n_new

    # ------------------------------------------------------------ views
    def seen_urls(self) -> set[str]:
        return {r["url"] for r in self.store.read("seen").select("url").collect()}

    def frontier_df(self) -> DataFrame:
        return self.store.read("frontier")


def _candidates(urls: DataFrame, hosts: DataFrame) -> DataFrame:
    """(url, priority, depth) rows, one per canonical URL -> robots-allowed
    admission candidates (url, url_hash, host, priority, depth)."""
    return politeness.robots_allowed(
        urls.select(
            "url",
            canon.url_hash_col(F.col("url")).alias("url_hash"),
            canon.host_col(F.col("url")).alias("host"),
            "priority",
            "depth",
        ),
        hosts,
    )


def run_round(
    crawler: Crawler, round_id: int, hosts_df: DataFrame, record_order: bool = False
) -> RoundResult:
    """One crawl round (SURVEY.md §3.4): dequeue (W1) → politeness gates
    (T2/T3) → salted repartition → fetch+parse (mapInPandas) → link
    extraction → robots → admission (Bloom prefilter + exact seen
    anti-join, J5; frontier MERGE, seen append) → documents, media,
    host_state and lineage (T1) → the round commit.

    Every step that touches crawl-sized data is a DataFrame op.  The
    fetch results are pinned as the ``_round_results`` parquet snapshot
    (the cost Iceberg MERGE pays anyway) for their several consumers: an
    in-memory ``.cache()`` of their wide nested rows thrashes the JVM
    allocator (measured 5-10x slower at local[32]).  One grouping-sets
    collect over them gives the lineage rows and per-host (fetches,
    errors); those driver-sized rows (at most ``fetch_partitions`` and
    ``n_hosts``) are written with pyarrow, with no Spark job of their
    own.  An empty batch returns before any admission or write, and the
    caller decides whether the crawl has drained."""
    t0 = time.monotonic()
    cfg, store = crawler.cfg, crawler.store
    elig = politeness.eligible_hosts(hosts_df, store.read("host_state"), round_id)
    batch = frontier.dequeue(
        store.read("frontier"), elig, round_id, cfg.global_cap, hosts_df=hosts_df,
        rank_salt=cfg.rank_salt,
    )
    store.write(
        "_round_results",
        fetch.fetch_batch(
            batch, cfg.n_hosts, cfg.page_space, cfg.fetch_partitions, cfg.salt,
            keep_body=cfg.keep_raw_body, proxies=cfg.proxies, source=cfg.fetch_fn,
        ),
    )
    results = store.read("_round_results")

    # per-partition lineage rows (A1/A5 analog) and per-host quarantine
    # counts (T3) from ONE driver action: grouping sets over partition_id
    # and host give at most fetch_partitions + fetched-hosts rows
    stats = (
        results.groupingSets([["partition_id"], ["host"]], "partition_id", "host")
        .agg(
            F.grouping("host").alias("by_part"),
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("err_type") == 0).cast("long")).alias("ok"),
            F.sum((F.col("err_type") > 0).cast("long")).alias("err"),
        )
        .collect()
    )
    parts = sorted((r for r in stats if r["by_part"]), key=lambda r: r["partition_id"])
    n_deq = sum(r["n"] for r in parts)
    n_ok = sum(r["ok"] for r in parts)
    if n_deq == 0:
        return RoundResult(round_id, 0, 0, 0, 0, 0, int((time.monotonic() - t0) * 1000))
    batch_urls = None
    if record_order:
        order = batch.orderBy(*frontier.ORDER_COLS).select("url")
        batch_urls = [r["url"] for r in order.collect()]

    # ---- links: they come out of the fetch stage ALREADY canonical
    # (canon.canonicalize_series runs inside the fetch worker): one python
    # stage per pipeline — chaining a second pandas UDF here would double
    # the python workers per task (measured 10x slowdown at 32 cores)
    ok = results.filter(F.col("err_type") == 0)
    links = parse.extract_links(ok.select("url", "depth", "spans"))
    cand = (
        links.groupBy(F.col("link").alias("url"))
        .agg((F.min("depth") + 1).cast("int").alias("depth"))
        .withColumn("priority", F.col("depth"))
    )
    n_cand, n_new = crawler._admit(
        _candidates(cand, hosts_df), round_id + 1, round_id,
        updates=frontier.state_updates(results, round_id, cfg.max_retries),
    )

    # ---- documents (interleaved spans) for ok fetches, partitioned by
    # fetch_round: each round's append is one partition member, so an
    # incremental consumer (export of rounds k..k+n) opens only those
    doc_cols = ["doc_id", "spans", "url", "host"] + (["body"] if cfg.keep_raw_body else [])
    store.append(
        "documents",
        ok.select(*doc_cols, F.lit(round_id).cast("long").alias("fetch_round")),
        partition_by=["fetch_round"],
    )
    if cfg.write_media_table:
        # S13 media refs, one row per media span; dup-key skip
        # (db_config.py:46-54): the first sighting of a media_ref wins,
        # later rounds' repeats are dropped by a bucket-pruned anti-join
        # (only the media buckets this round's refs hash into are opened)
        media = (
            ok.select(F.explode("spans").alias("s"), "url")
            .filter(F.col("s.kind") == "media")
            .groupBy(F.col("s.media_ref").alias("media_ref"))
            .agg(
                F.min("url").alias("source_url"),
                F.lit(round_id).cast("long").alias("first_seen_round"),
            )
            .withColumn(
                "media_bucket", canon.bucket_col(F.xxhash64("media_ref"), cfg.media_buckets)
            )
        )
        if store.exists("media"):
            buckets = [r["media_bucket"] for r in media.select("media_bucket").distinct().collect()]
            prior = store.read_partitions("media", buckets)
            media = media.join(prior.select("media_ref"), "media_ref", "left_anti")
        store.append("media", media, partition_by=["media_bucket"])
    store.upsert_rows(
        "host_state",
        politeness.quarantine_rows(
            {r["host"]: (r["n"], r["err"]) for r in stats if not r["by_part"]}, round_id
        ),
        key="host",
    )
    nulls = [None] * len(parts)
    store.append_rows("lineage", {
        "round_id": [round_id] * len(parts),
        "partition_id": [r["partition_id"] for r in parts],
        "dequeued": [r["n"] for r in parts],
        "fetched_ok": [r["ok"] for r in parts],
        "errors": [r["err"] for r in parts],
        "new_urls": nulls,
        "dup_urls": nulls,
        "wall_ms": nulls,
    })
    store.commit_round(round_id)
    return RoundResult(
        round_id=round_id,
        dequeued=int(n_deq),
        fetched_ok=int(n_ok),
        errors=int(n_deq - n_ok),
        new_urls=int(n_new),
        dup_urls=int(n_cand - n_new),
        wall_ms=int((time.monotonic() - t0) * 1000),
        batch_urls=batch_urls,
    )
