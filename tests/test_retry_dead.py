"""T4 livelock regression: error URLs must reach a terminal state.

The reference's change log (测试中/.../整合代码修改日志) records its big
operational bug: while blocked, read-DB → request → write-DB silently
became an infinite retry loop.  Our frontier state machine bounds every
URL's lifetime: retryable errors back off exponentially and land in
``dead`` after max_retries; err_type-3 rows die immediately."""

from __future__ import annotations

from spider_spark import synth
from spider_spark.crawl import Crawler
from spider_spark.round import CrawlConfig


def test_errors_reach_dead_never_loop(spark, tmp_path):
    # small closed universe (5 hosts x 40 pages = 200 URLs) so the BFS
    # provably drains inside the horizon
    n_hosts, page_space = 5, 40
    cfg = CrawlConfig(
        n_hosts=n_hosts,
        page_space=page_space,
        max_retries=1,
        fetch_partitions=4,
        use_bloom=False,
    )
    seeds = synth.seed_list(spark, 60, n_hosts, page_space)
    hosts = synth.hosts_config(spark, n_hosts, uniform_delay=0, uniform_cap=1000, with_robots=False)
    c = Crawler(spark, str(tmp_path), cfg)
    c.bootstrap(seeds, hosts)
    # horizon > discovery waves + the +2-round backoff of the single retry;
    # run_rounds stops early once the frontier drains
    c.run_rounds(18)

    frontier = c.frontier_df().cache()
    states = {r["state"] for r in frontier.select("state").distinct().collect()}
    # every URL is terminal: nothing pending/retry left that is still eligible
    remaining = frontier.filter("state in ('pending','retry')").count()
    assert remaining == 0, f"non-terminal rows left: {remaining} (states={states})"

    # retryable errors were retried but capped: retry_count records observed
    # failures, so a dead row shows at most budget+1 (the killing attempt)
    max_retry = frontier.groupBy().max("retry_count").collect()[0][0]
    assert max_retry <= cfg.max_retries + 1
    # and some URLs did die from retry exhaustion (the simnet error mix
    # guarantees retryable failures exist)
    dead = frontier.filter("state = 'dead' and retry_count > 0").count()
    assert dead > 0
    frontier.unpersist()


def test_backoff_is_exponential_and_capped(spark):
    """state_updates schedules retries at round + 2^retry_count (capped),
    and kills rows past the budget."""
    from pyspark.sql import Row

    from spider_spark.frontier import state_updates
    from spider_spark.schemas import FETCH_RESULT

    rows = [
        Row(url="u1", url_hash=1, host="h", priority=0, depth=0, retry_count=0,
            discovered_round=0, partition_id=0, status=529, err_type=1, doc_id=None, spans=None),
        Row(url="u2", url_hash=2, host="h", priority=0, depth=0, retry_count=2,
            discovered_round=0, partition_id=0, status=408, err_type=2, doc_id=None, spans=None),
        Row(url="u3", url_hash=3, host="h", priority=0, depth=0, retry_count=3,
            discovered_round=0, partition_id=0, status=529, err_type=1, doc_id=None, spans=None),
        Row(url="u4", url_hash=4, host="h", priority=0, depth=0, retry_count=0,
            discovered_round=0, partition_id=0, status=404, err_type=3, doc_id=None, spans=None),
    ]
    df = spark.createDataFrame(rows, FETCH_RESULT)
    got = {r["url"]: r for r in state_updates(df, round_id=10, max_retries=3).collect()}
    assert (got["u1"]["state"], got["u1"]["next_fetch_time"]) == ("retry", 12)   # +2^1
    assert (got["u2"]["state"], got["u2"]["next_fetch_time"]) == ("retry", 18)   # +2^3
    assert got["u3"]["state"] == "dead"   # budget exhausted
    assert got["u4"]["state"] == "dead"   # permanent error


def test_drain_check_runs_no_spark_job(spark, tmp_path, monkeypatch):
    """An empty round decides from manifest metadata whether the frontier
    has drained: with every live row backed off into the future, the
    round dequeues nothing, the crawl is not drained, and the round still
    commits, all without a DataFrame count."""
    from pyspark.sql import functions as F

    cfg = CrawlConfig(n_hosts=4, page_space=50, fetch_partitions=2, use_bloom=False)
    c = Crawler(spark, str(tmp_path), cfg)
    c.bootstrap(synth.seed_list(spark, 20, 4, 50), synth.hosts_config(spark, 4))
    backed_off = c.frontier_df().withColumns(
        {"state": F.lit("retry"), "next_fetch_time": F.lit(100).cast("long")}
    )
    c._merge_frontier(backed_off)
    c.store.commit_round(0)
    n_live = c.frontier_df().count()

    def no_count(self):
        raise AssertionError("DataFrame.count in the drain check")

    # the session's concrete DataFrame class (pyspark.sql.DataFrame is
    # its abstract base in Spark 4)
    monkeypatch.setattr(type(spark.range(1)), "count", no_count)
    assert c.run_rounds(1) == []
    assert c.store.last_committed_round() == 1
    monkeypatch.undo()
    assert c.frontier_df().filter(F.col("state") == "retry").count() == n_live
