"""One crawl round: a pure DataFrame transform (SURVEY.md §3.4).

dequeue (W1) → politeness gates (T2/T3) → salted repartition → fetch+parse
(mapInPandas) → documents append → link extraction → canonicalize →
Bloom prefilter + exact seen anti-join (J5) → MERGE-back (frontier /
seen / host_state / documents) → per-partition lineage rows (T1).

The driver only sequences rounds; every step that touches crawl-sized
data is a DataFrame op.  A round is several Spark jobs, not one.
``run_round``'s own actions are:

- the ``_round_results`` snapshot of the fetch stage (``materialize``);
- one grouped count over the Bloom-tagged candidates, which gives the
  candidate count and the seen buckets to open;
- one grouping-sets collect over the fetch results: per-partition
  lineage rows and per-host (fetches, errors), at most fetch partitions
  + fetched hosts rows;
- one collect of the new links' ``url_hash`` values: their count is the
  round's new-URL count and they are its Bloom delta.

The caller writes the frontier, seen and documents with Spark and
commits.  The driver-sized outputs -- ``host_state`` rows (at most
``n_hosts``), lineage rows (at most ``fetch_partitions``) and the Bloom
delta -- launch no Spark job of their own: the store writes them with
pyarrow (``TableStore.upsert_rows``/``append_rows``) and the Bloom ORs
the hashes in on the driver (``ShardedBloom.update_local``).  A
storage-inclusive round is about 23 Spark jobs in all.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import bloom as bloom_mod
from . import canon, fetch, frontier, parse, politeness


@dataclass
class CrawlConfig:
    n_hosts: int = 50
    page_space: int = 1000
    global_cap: int | None = None       # None -> per-host caps bound the batch
    max_retries: int = 3
    fetch_partitions: int = 8
    salt: int = 8
    use_bloom: bool = True
    bloom_shards: int = 16
    bloom_bits: int = 1 << 20
    # S14 raw-body retention: keep the response HTML on each document row
    # so parsers can re-run over old crawls (credit_person_web.py:234-249)
    keep_raw_body: bool = False
    # S2 proxy rotation: refreshed pool (proxies.live_proxies output);
    # each fetch partition's session pins one proxy — deterministic
    # affinity (T5), replayable unlike the reference's random.choice
    proxies: list[str] | None = None
    # S13 media sink: persist one row per discovered media_ref (the
    # saveImage/file-sink analog, share_func.py:224-249) with dup-key
    # skip — first sighting wins, like the reference's unique-key insert
    write_media_table: bool = False
    # seen/media tables are bucketed by pmod(hash, N) so the per-round
    # exact dedup anti-joins read only candidate buckets (manifest-level
    # pruning) instead of the whole ever-grown key set; each must be
    # >= 1 (Crawler rejects anything else).  At 10^10 URLs size so one
    # bucket's parquet fits an executor scan (e.g. 4096 buckets ≈ 2.4M
    # keys/bucket).
    seen_buckets: int = 16
    media_buckets: int = 16
    # two-phase hot-host dequeue rank (frontier.dequeue rank_salt): the
    # per-host rank window alone sorts a viral host's whole pending set
    # in ONE task at 10^10 rows; S > 1 pre-ranks per (host, salt-slice)
    # keeping ≤ cap rows/slice, then exact-ranks the ≤ S·cap survivors.
    # Results-identical (parity-gated); None/1 keeps the single window.
    rank_salt: int | None = None
    # pluggable transport (S1-real / S3): a mapInPandas fetcher built by
    # transport.make_http_fetch_fn / make_browser_fetch_fn replaces the
    # simnet default for the WHOLE crawl — same flat schema, so every
    # downstream stage (span assembly, dedup, MERGE-back, resume) is
    # unchanged.  Parity gates (refsim) only apply to the simnet default.
    fetch_fn: object = None


@dataclass
class RoundResult:
    round_id: int
    dequeued: int
    fetched_ok: int
    errors: int
    new_urls: int
    dup_urls: int
    wall_ms: int
    batch_urls: list[str] | None = None  # crawl-order parity (tests only)


def seen_rows(df: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Rows of ``df`` as seen-table rows (url_hash, url, seen_bucket)."""
    return df.select(
        "url_hash",
        "url",
        canon.bucket_col(F.col("url_hash"), cfg.seen_buckets).alias("seen_bucket"),
    )


def run_round(
    spark: SparkSession,
    cfg: CrawlConfig,
    round_id: int,
    frontier_df: DataFrame,
    hosts_df: DataFrame,
    host_state_df: DataFrame | None,
    bloom: bloom_mod.ShardedBloom | None,
    *,
    materialize,
    seen_reader,
    cleanup: contextlib.ExitStack,
    record_order: bool = False,
) -> tuple[RoundResult, dict[str, DataFrame]]:
    """Pure-transform round: takes current table DataFrames, returns the
    round result + the updated DataFrames (caller persists via storage).

    ``seen_reader(bucket_values) -> DataFrame`` returns the seen slice
    restricted to those pmod(url_hash, cfg.seen_buckets) buckets
    (storage.read_partitions) — the exact anti-join opens only the
    buckets its candidates hash into, never the whole ever-seen set.

    ``materialize(name, df) -> DataFrame`` pins an intermediate for reuse
    across the round's several consumers.  The Crawler writes a parquet
    snapshot and reads it back (what Iceberg MERGE pays anyway): an
    in-memory ``.cache()`` thrashes the JVM allocator on wide nested rows
    at high core counts (measured: in-memory columnar caching of the
    fetch results was 5-10x slower than a parquet round-trip at
    local[32]).

    ``cleanup`` takes each round-scoped cached frame and broadcast as it
    is made (the Bloom-tagged candidates and their shard broadcast, the
    new links); the caller closes it once the round's store writes are
    done, so a raise anywhere -- here or in a write -- leaks neither.
    A never-destroyed per-round broadcast leaks driver+executor memory
    over a long crawl."""
    t0 = time.monotonic()
    elig = politeness.eligible_hosts(hosts_df, host_state_df, round_id)
    batch = frontier.dequeue(
        frontier_df, elig, round_id, cfg.global_cap, hosts_df=hosts_df,
        rank_salt=cfg.rank_salt,
    )

    results = materialize(
        "_round_results",
        fetch.fetch_batch(
            batch, cfg.n_hosts, cfg.page_space, cfg.fetch_partitions, cfg.salt,
            keep_body=cfg.keep_raw_body, proxies=cfg.proxies,
            fetch_fn=cfg.fetch_fn,
        ),
    )

    # ---- documents (interleaved spans) for ok fetches
    ok = results.filter(F.col("err_type") == 0)
    doc_cols = ["doc_id", "spans", "url", "host"] + (
        ["body"] if cfg.keep_raw_body else []
    )
    docs = ok.select(
        *doc_cols, F.lit(round_id).cast("long").alias("fetch_round")
    )

    # ---- media refs (S13): one row per media span, first-seen metadata
    media_delta = None
    if cfg.write_media_table:
        media_delta = (
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

    # ---- link extraction -> robots -> dedup vs seen.  Links come out of
    # the fetch stage ALREADY canonical (canon.canonicalize_series runs
    # inside the fetch worker): one python stage per pipeline — chaining a
    # second pandas UDF here would double the python workers per task and
    # oversubscribe the executor (measured 10x slowdown at 32 cores).
    links = parse.extract_links(ok.select("url", "depth", "spans"))
    cand = (
        links.select(F.col("link").alias("url"), (F.col("depth") + 1).alias("depth"))
        .groupBy("url")
        .agg(F.min("depth").cast("int").alias("depth"))
        .select(
            "url",
            canon.url_hash_col(F.col("url")).alias("url_hash"),
            canon.host_col(F.col("url")).alias("host"),
            "depth",
        )
    )
    cand = politeness.robots_allowed(cand, hosts_df)

    # Bloom tag once per candidate, cached (bloom_prefilter); ONE action
    # over that cache gives both the candidate count and the buckets the
    # exact check must open: rows tagged maybe-seen group by their seen
    # bucket, the definitely-new ones into a NULL group.  Opening only
    # those buckets is exact, since a bucket with no maybe-seen hash
    # cannot produce an anti-join match.
    definite_new, maybe_seen, tagged, bloom_bc = bloom_mod.bloom_prefilter(spark, cand, bloom)
    cleanup.callback(tagged.unpersist)
    if bloom_bc is not None:
        cleanup.callback(bloom_bc.destroy)
    bucket_counts = (
        tagged.groupBy(
            F.when(
                F.col("_maybe"), canon.bucket_col(F.col("url_hash"), cfg.seen_buckets)
            ).alias("b")
        )
        .count()
        .collect()
    )
    n_cand = sum(r["count"] for r in bucket_counts)
    cand_buckets = [r["b"] for r in bucket_counts if r["b"] is not None]
    seen_scan = seen_reader(cand_buckets)
    checked_new = maybe_seen.join(seen_scan.select("url_hash"), "url_hash", "left_anti")
    new_links = definite_new.unionByName(checked_new).cache()
    cleanup.callback(new_links.unpersist)

    # ---- MERGE-able outputs
    updates = frontier.state_updates(results, round_id, cfg.max_retries)
    new_rows = frontier.pending_rows(
        new_links.withColumn("priority", F.col("depth")), round_id + 1, round_id
    )
    frontier_updates = updates.unionByName(new_rows)
    seen_delta = seen_rows(new_links, cfg)

    # ---- per-partition lineage rows (A1/A5 analog) and per-host
    # quarantine counts (T3) from ONE driver action: grouping sets over
    # partition_id and host give at most fetch_partitions + fetched-hosts
    # rows, which the store writes as driver rows (no Spark write job).
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
    nulls = [None] * len(parts)
    lineage = {
        "round_id": [round_id] * len(parts),
        "partition_id": [r["partition_id"] for r in parts],
        "dequeued": [r["n"] for r in parts],
        "fetched_ok": [r["ok"] for r in parts],
        "errors": [r["err"] for r in parts],
        "new_urls": nulls,
        "dup_urls": nulls,
        "wall_ms": nulls,
    }
    host_state = politeness.quarantine_rows(
        {r["host"]: (r["n"], r["err"]) for r in stats if not r["by_part"]}, round_id
    )
    # the new links' hashes, once: their count is the round's new-URL
    # count and they are the Bloom delta (8 B per new URL, ORed in on the
    # driver -- see bloom.py)
    new_hashes = new_links.select("url_hash").toArrow().column("url_hash").to_numpy()
    n_new = len(new_hashes)
    batch_urls = None
    if record_order:
        batch_urls = [
            r["url"]
            for r in batch.orderBy(*[F.col(c) for c in frontier.ORDER_COLS]).select("url").collect()
        ]

    res = RoundResult(
        round_id=round_id,
        dequeued=int(n_deq),
        fetched_ok=int(n_ok),
        errors=int(n_deq - n_ok),
        new_urls=int(n_new),
        dup_urls=int(n_cand - n_new),
        wall_ms=int((time.monotonic() - t0) * 1000),
        batch_urls=batch_urls,
    )
    out = {
        "frontier_updates": frontier_updates,
        "new_links": new_links,
        "seen_delta": seen_delta,
        "documents": docs,
        "media_delta": media_delta,
        "host_state": host_state,
        "lineage": lineage,
        "new_hashes": new_hashes,
    }
    return res, out
