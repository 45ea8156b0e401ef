"""Frontier dequeue (the core W1 operator) + state-machine updates.

The reference's total crawl order is deterministic: ascending IDs within
a sub-group, sub-groups in order, groups in checkpoint order
(shixin_spider.py:253-296 getGroups/splitGroups; zhixing_spider.py:203-212
idQueue).  Our order is defined by ranking on
``(priority, next_fetch_time, url)`` — never on partition order — so it
is reproducible under any parallelism (SURVEY.md §7 hard-part (a)).

Scale notes (10^10-row frontier):
- the candidate filter (state + next_fetch_time) is a parquet-pushed
  predicate; with Iceberg the frontier is partitioned by state and
  bucketed by host so pending rows prune to a fraction of files.
- per-host ranking shuffles by host once; the optional global cap uses
  ``orderBy().limit(n)`` = TakeOrdered (per-partition top-n + driver
  merge of n rows, NOT a global sort).  For giant batches leave
  ``global_cap=None`` and let the per-host caps bound the batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ORDER_COLS = ["priority", "next_fetch_time", "url"]


def dequeue(
    frontier: DataFrame,
    elig_hosts: DataFrame,
    round_id: int,
    global_cap: int | None = None,
    hosts_df: DataFrame | None = None,
    rank_salt: int | None = None,
) -> DataFrame:
    """One round's fetch batch.

    pending/retry rows whose next_fetch_time has arrived, on an eligible
    host, ranked (priority, next_fetch_time, url) per host, capped at the
    host's max_concurrent, then optionally capped globally by the same
    total order.

    ``hosts_df`` (with disallow_prefixes) enables the dequeue-time robots
    recheck: a robots refresh (Crawler.update_hosts) must also stop
    QUEUED-but-unfetched URLs, not just future enqueues.  The filter runs
    BEFORE the per-host ranking so a newly-disallowed row never consumes
    a max_concurrent slot.  With a static robots config it is a no-op
    (every pending row already passed the enqueue-time filter), so crawl
    parity under fixed hosts is unchanged.  Mirrored in refsim.simulate.

    ``rank_salt`` = S enables the two-phase hot-host rank (VERDICT r4 #4):
    the per-host window alone sorts one host's ENTIRE pending set in one
    task — 10^9 rows for a viral domain.  Phase 1 pre-ranks per
    (host, pmod(xxhash64(url), S)) and keeps ≤ cap rows per salt slice;
    phase 2 runs the exact per-host rank on the ≤ S·cap survivors.
    RESULTS-IDENTICAL to the single window: deleting rows never increases
    a survivor's rank, so any row with host-rank ≤ cap has slice-rank ≤
    cap in its slice — phase 1 keeps every global winner, phase 2 restores
    the exact order/caps (no refsim change needed; parity tests prove it).
    """
    cand = frontier.filter(
        F.col("state").isin("pending", "retry") & (F.col("next_fetch_time") <= F.lit(round_id))
    ).join(elig_hosts, "host")
    if hosts_df is not None:
        from . import politeness

        cand = politeness.robots_allowed(cand, hosts_df)
    if rank_salt and rank_salt > 1:
        wpre = Window.partitionBy("host", "_slice").orderBy(
            *[F.col(c).asc() for c in ORDER_COLS]
        )
        cand = (
            cand.withColumn("_slice", F.pmod(F.xxhash64("url"), F.lit(rank_salt)))
            .withColumn("_prk", F.row_number().over(wpre))
            .filter(F.col("_prk") <= F.col("max_concurrent"))
            .drop("_slice", "_prk")
        )
    w = Window.partitionBy("host").orderBy(*[F.col(c).asc() for c in ORDER_COLS])
    ranked = (
        cand.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.col("max_concurrent"))
        .drop("_rk", "max_concurrent")
    )
    if global_cap is not None:
        ranked = ranked.orderBy(*[F.col(c).asc() for c in ORDER_COLS]).limit(global_cap)
    return ranked


def state_updates(results: DataFrame, round_id: int, max_retries: int) -> DataFrame:
    """Frontier rows for the fetched batch with their post-fetch state.

    err_type 0 -> fetched; 1/2 (request-failed/timeout) -> retry with
    exponential backoff until max_retries then dead; 3 (unknown) -> dead.
    Mirrors the reference's invalid-table routing (shixin_python_sql.py:
    19-59: err 1/2 re-queued, err 3 flagged processed) but with a bounded
    retry budget — the structural fix for its logged retry livelock
    (测试中/.../整合代码修改日志).
    """
    new_retry = F.col("retry_count") + 1
    backoff = F.expr("cast(shiftleft(1L, least(retry_count + 1, 6)) as long)")
    retryable = F.col("err_type").isin(1, 2)
    return results.select(
        "url",
        "url_hash",
        "host",
        "priority",
        "depth",
        F.when(F.col("err_type") == 0, F.lit("fetched"))
        .when(retryable & (new_retry <= max_retries), F.lit("retry"))
        .otherwise(F.lit("dead"))
        .alias("state"),
        F.when(retryable, new_retry).otherwise(F.col("retry_count")).cast("int").alias("retry_count"),
        F.when(retryable & (new_retry <= max_retries), F.lit(round_id) + backoff)
        .otherwise(F.lit(round_id))
        .cast("long")
        .alias("next_fetch_time"),
        "discovered_round",
    )


def link_indegree_priorities(
    pending: DataFrame, documents: DataFrame, boost_cap: int = 3
) -> DataFrame:
    """Popularity-driven frontier re-prioritization (the scheduler half of
    a PageRank-guided crawl, run as a between-rounds maintenance op):
    pending rows are re-ranked by the link in-degree observed in the
    documents fetched so far — ``priority := depth - min(indeg, boost_cap)``,
    so heavily-referenced pages dequeue ahead of their BFS depth while
    the cap keeps a viral page from starving whole hosts.

    Pure integer math on immutable inputs (depth never changes), so the
    refresh is idempotent at a fixed document set and exactly mirrored by
    refsim.simulate(reprioritize=).  Scale shape: one explode + count
    shuffle on the 8-byte url_hash and one join against ONLY the pending
    partition — O(links + pending), never O(all-ever-crawled frontier).
    An incremental variant can feed storage.read_changes deltas into a
    persisted in-degree table; the full recompute here is the simple
    correct form.
    """
    from . import canon

    links = documents.select(F.explode("spans").alias("s")).filter(
        F.col("s.kind") == "link"
    )
    indeg = (
        links.select(canon.url_hash_col(F.col("s.text")).alias("url_hash"))
        .groupBy("url_hash")
        .agg(F.count(F.lit(1)).alias("_indeg"))
    )
    boosted = pending.join(indeg, "url_hash", "left").withColumn(
        "priority",
        (
            F.col("depth")
            - F.least(F.coalesce(F.col("_indeg"), F.lit(0)), F.lit(boost_cap))
        ).cast("int"),
    )
    return boosted.select(pending.columns)


def pending_rows(df: DataFrame, next_fetch_time: int, discovered_round: int) -> DataFrame:
    """(url, url_hash, host, priority, depth) rows -> pending frontier rows
    in FRONTIER column order, fetchable from round ``next_fetch_time``.

    Every admission path builds its rows here: bootstrap seeds (0, 0),
    links discovered in round r (r+1, r; priority == depth, a BFS-ish
    frontier: shallower pages first, matching the reference's
    sweep-in-discovery-order), seed batches and audit re-enqueues."""
    return df.select(
        "url",
        "url_hash",
        "host",
        F.col("priority").cast("int").alias("priority"),
        F.col("depth").cast("int").alias("depth"),
        F.lit("pending").alias("state"),
        F.lit(0).alias("retry_count"),
        F.lit(next_fetch_time).cast("long").alias("next_fetch_time"),
        F.lit(discovered_round).cast("long").alias("discovered_round"),
    )
