"""The crawl's configuration, a round's result row, and seen-table rows.

The round itself (SURVEY.md §3.4) is ``crawl.run_round``, and every URL
enters the crawl through ``crawl.Crawler._admit``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import canon


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
    # pluggable transport (S1-real / S3): a page source built by
    # transport.make_http_fetch_fn / make_browser_fetch_fn replaces the
    # simnet for the WHOLE crawl.  The fetch worker around it is the same
    # (keep_raw_body and proxies above apply to every source), so every
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
    wall_ms: int  # the whole round: fetch, admission, every write, the commit
    batch_urls: list[str] | None = None  # crawl-order parity (tests only)


def seen_rows(df: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Rows of ``df`` as seen-table rows (url_hash, url, seen_bucket)."""
    return df.select(
        "url_hash",
        "url",
        canon.bucket_col(F.col("url_hash"), cfg.seen_buckets).alias("seen_bucket"),
    )

