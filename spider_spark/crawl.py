"""Crawl driver loop: bootstrap, rounds, MERGE-back, resume (T1).

Replaces the reference's per-API crawl loops (shixinSpiderAPI
shixin_spider.py:317-342; zhixingSpiderAPI zhixing_spider.py:229-260)
and its JSON start-ID checkpoint (shixin_spider.py:299-312) with one
generic loop over the versioned table store.  The reference's checkpoint
bug — it writes the FINAL id even mid-run (shixin_spider.py:336) — is
fixed structurally: a round's manifest commits only after every table of
that round is durable, and resume rolls back to the last manifest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import canon, frontier, politeness
from .bloom import ShardedBloom
from .round import CrawlConfig, RoundResult, run_round, seen_rows
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

    def _make_filter(self) -> ShardedBloom | None:
        """The seen-prefilter: it only changes WHICH candidates skip the
        exact anti-join, never the result."""
        if not self.cfg.use_bloom:
            return None
        return ShardedBloom(self.cfg.bloom_shards, self.cfg.bloom_bits)

    # ------------------------------------------------------------ admission
    def _canonical_seeds(self, seeds: DataFrame, hosts: DataFrame) -> DataFrame:
        """(url, priority) rows -> canonical, robots-allowed depth-0 rows
        (url, url_hash, host, priority, depth), one per URL with its
        lowest priority.  The prelude of every admission path."""
        s = seeds.select(
            canon.canonicalize_udf(F.col("url")).alias("url"), F.col("priority").cast("int")
        )
        s = s.groupBy("url").agg(F.min("priority").alias("priority"))
        s = s.select(
            "url",
            canon.url_hash_col(F.col("url")).alias("url_hash"),
            canon.host_col(F.col("url")).alias("host"),
            "priority",
            F.lit(0).alias("depth"),
        )
        return politeness.robots_allowed(s, hosts)

    def _admit(self, seeds: DataFrame, next_fetch_time: int, round_id: int, what: str) -> int:
        """Admit the ``_canonical_seeds`` rows not yet in seen: MERGE them
        into the frontier as pending rows, append them to seen, add them
        to the Bloom, and commit ``round_id`` with ``{what: n}`` so they
        survive resume().  Returns n, the number of new URLs."""
        new = seeds.join(
            self.store.read("seen").select("url_hash"), "url_hash", "left_anti"
        ).cache()
        # one collect of the new hashes is both the count and the Bloom
        # delta (ORed in on the driver, like a round's; see bloom.py)
        hashes = new.select("url_hash").toArrow().column("url_hash").to_numpy()
        n_new = len(hashes)
        if n_new:
            self._merge_frontier(frontier.pending_rows(new, next_fetch_time, round_id))
            self.store.append("seen", seen_rows(new, self.cfg))
            if self.bloom is not None:
                self.bloom.update_local(hashes)
            self.store.commit_round(round_id, extra={what: n_new})
        new.unpersist()
        return n_new

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

    def _seen_reader(self, bucket_values) -> DataFrame:
        """Manifest-pruned seen scan for the round's exact anti-join."""
        return self.store.read_partitions("seen", bucket_values)

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
    def _materialize(self, name: str, df: DataFrame) -> DataFrame:
        """Pin a round intermediate as a parquet snapshot (the cost Iceberg
        MERGE pays anyway) instead of an in-memory nested-row cache —
        measured 5-10x faster at high core counts (see round.run_round)."""
        self.store.write(name, df)
        return self.store.read(name)

    def run_rounds(
        self, n_rounds: int, record_order: bool = False, expire_keep: int = 3
    ) -> list[RoundResult]:
        start = (self.store.last_committed_round() or 0) + 1
        results: list[RoundResult] = []
        hosts_df = self.store.read("hosts").cache()
        for r in range(start, start + n_rounds):
            res, out = run_round(
                self.spark,
                self.cfg,
                r,
                self.store.read("frontier"),
                hosts_df,
                self.store.read("host_state") if self.store.exists("host_state") else None,
                self.bloom,
                materialize=self._materialize,
                seen_reader=self._seen_reader,
                record_order=record_order,
            )
            # the round's cached frames (Bloom-tagged candidates, new
            # links) and broadcasts are released however the round ends:
            # empty, drained, or a store write raising
            # (ConcurrentCommitError, a schema ValueError)
            try:
                if res.dequeued == 0:
                    # empty round: advance the clock (retry rows may be
                    # backed off into the future); stop only when the
                    # frontier is truly drained.
                    remaining = (
                        self.store.read("frontier")
                        .filter(F.col("state").isin("pending", "retry"))
                        .count()
                    )
                    if remaining == 0:
                        break
                    self.store.commit_round(r)
                    continue
                self._merge_frontier(out["frontier_updates"])
                self.store.append("seen", out["seen_delta"])
                # documents partitioned by fetch_round: each round's append
                # is one partition member, so an incremental consumer
                # (export of rounds k..k+n for a training-data pipeline)
                # opens only those members — manifest-level pruning, no
                # full-table scan
                self.store.append("documents", out["documents"], partition_by=["fetch_round"])
                if out["media_delta"] is not None:
                    # S13 dup-key skip (db_config.py:46-54): first sighting
                    # of a media_ref wins; later rounds' repeats are dropped
                    # by a bucket-pruned anti-join (only the media buckets
                    # this round's refs hash into are opened), and the
                    # append writes only the new rows
                    delta = out["media_delta"]
                    if self.store.exists("media"):
                        cand_b = [
                            r["media_bucket"]
                            for r in delta.select("media_bucket").distinct().collect()
                        ]
                        prior = self.store.read_partitions("media", cand_b)
                        delta = delta.join(prior.select("media_ref"), "media_ref", "left_anti")
                    self.store.append("media", delta, partition_by=["media_bucket"])
                # driver-sized rows (<= n_hosts, <= fetch_partitions) and
                # the collected Bloom delta: no Spark job of their own
                self.store.upsert_rows("host_state", out["host_state"], key="host")
                self.store.append_rows("lineage", out["lineage"])
                if self.bloom is not None:
                    self.bloom.update_local(out["new_hashes"])
                self.store.commit_round(r)
                self.store.expire_snapshots(keep=expire_keep)
                # small-file maintenance (Iceberg rewrite_data_files
                # analog): delta appends add one segment per round; compact
                # the worst table slice once it crosses the member
                # threshold.  No-op most rounds, amortized O(table/threshold).
                for t in ("seen", "documents", "lineage", "frontier"):
                    if self.store.exists(t):
                        self.store.compact(t, max_members=32)
                results.append(res)
            finally:
                for df in out["_cached"]:
                    df.unpersist()
                for b in out["_broadcasts"]:
                    b.destroy()
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
        return self._admit(seeds, rid + 1, rid, "seed_ingest")

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
        return self._admit(self._canonical_seeds(exp, self.store.read("hosts")), 0, rid, "audit")

    # ------------------------------------------------------------ views
    def seen_urls(self) -> set[str]:
        return {r["url"] for r in self.store.read("seen").select("url").collect()}

    def frontier_df(self) -> DataFrame:
        return self.store.read("frontier")
