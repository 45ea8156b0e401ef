"""Everything-on integration parity: every engine feature that could
plausibly perturb crawl semantics, enabled SIMULTANEOUSLY in one crawl —
hot-host skew seeds, a global dequeue cap, the Bloom seen-filter,
bucketed seen+media manifests, the media sink, raw-body retention,
proxy affinity, and a mid-crawl robots refresh — must still reproduce
the reference simulator's crawl order, seen set, and frontier states
exactly.

Each feature is results-neutral by its own test (test_bucketing,
test_bloom, test_skew, test_crawl_parity); this gate catches
INTERACTIONS between them (e.g. a bucketed anti-join consuming the
Bloom prefilter's maybe-seen half, under a refresh that strands queued
rows).
"""

from __future__ import annotations

import pytest

from spider_spark import synth
from spider_spark.crawl import Crawler
from spider_spark.refsim import SimConfig, simulate
from spider_spark.robots import hosts_from_robots
from spider_spark.round import CrawlConfig

from .conftest import hosts_df_to_dict

N_HOSTS, PAGE_SPACE = 20, 400


@pytest.fixture(scope="module")
def everything_crawl(spark, tmp_path_factory):
    cfg = CrawlConfig(
        n_hosts=N_HOSTS,
        page_space=PAGE_SPACE,
        global_cap=80,
        max_retries=1,
        fetch_partitions=4,
        salt=4,
        use_bloom=True,
        bloom_shards=4,
        bloom_bits=1 << 16,
        keep_raw_body=True,
        write_media_table=True,
        proxies=["p1:3128", "p2:3128", "p3:3128"],
        seen_buckets=8,
        media_buckets=8,
        rank_salt=4,  # two-phase hot-host rank — results-identical by proof
    )
    # 30% of seed rows pile onto host 0 (the salted-repartition skew case)
    seeds = synth.seed_list(spark, 140, N_HOSTS, PAGE_SPACE, hot_frac=0.3, hot_host=0)
    hosts = synth.hosts_config(spark, N_HOSTS)
    crawler = Crawler(spark, str(tmp_path_factory.mktemp("crawl_all")), cfg)
    crawler.bootstrap(seeds, hosts)
    results = crawler.run_rounds(2, record_order=True)
    refreshed = hosts_from_robots(
        spark.createDataFrame(
            [("h1.example", "User-agent: *\nDisallow: /p2\nCrawl-delay: 1")],
            ["host", "robots_txt"],
        ),
        default_cap=10,
    )
    crawler.update_hosts(refreshed)
    # mid-crawl seed batch through the REAL streaming path (file source +
    # checkpoint + foreachBatch enqueue_seeds) — composed with the Bloom,
    # bucketed seen, and the robots refresh that just landed
    import json

    from spider_spark.streaming.ingest import ingest_seed_stream

    base = tmp_path_factory.mktemp("ingest_all")
    (base / "in").mkdir()
    extra = [
        (f"http://h{(3 * i + 1) % N_HOSTS}.example/p{(23 * i + 9) % PAGE_SPACE}", i % 2)
        for i in range(20)
    ]
    with open(base / "in" / "b1.json", "w") as f:
        for url, prio in extra:
            f.write(json.dumps({"url": url, "priority": prio}) + "\n")
    ingest_seed_stream(spark, crawler, str(base / "in"), str(base / "ckpt"))
    results += crawler.run_rounds(2, record_order=True)

    sim = simulate(
        [(r["url"], r["priority"]) for r in seeds.collect()],
        hosts_df_to_dict(hosts),
        SimConfig(
            n_hosts=N_HOSTS, page_space=PAGE_SPACE, global_cap=80, max_retries=1
        ),
        4,
        host_updates={3: hosts_df_to_dict(refreshed)},
        extra_seeds={3: extra},
    )
    return crawler, results, sim, extra


def test_everything_on_order_parity(everything_crawl):
    _, results, sim, _ = everything_crawl
    assert len(results) == len(sim.crawl_order) == 4
    for res, sim_batch in zip(results, sim.crawl_order):
        assert res.batch_urls == sim_batch, f"round {res.round_id} order mismatch"


def test_everything_on_seen_and_state_parity(everything_crawl):
    crawler, _, sim, _ = everything_crawl
    assert crawler.seen_urls() == sim.seen
    eng = {
        r["url"]: (r["state"], r["retry_count"])
        for r in crawler.frontier_df().collect()
    }
    ref = {u: (row.state, row.retry_count) for u, row in sim.states.items()}
    assert eng == ref


def test_everything_on_fixture_not_degenerate(everything_crawl):
    """The combined config must actually exercise each feature: the
    global cap binds at least one round, the media table is non-empty,
    and the hot host dominates round 1."""
    crawler, results, _, extra = everything_crawl
    assert any(r.dequeued == 80 for r in results), "global_cap never bound"
    assert crawler.store.read("media").count() > 0
    # skew lands in the BACKLOG (h0's max_concurrent correctly caps each
    # batch at 5): the hot host must hold a disproportionate frontier
    # share vs the ~7 urls/host a uniform 140-seed split would give
    from pyspark.sql import functions as F

    h0_rows = crawler.frontier_df().filter(F.col("host") == "h0.example").count()
    assert h0_rows >= 25, f"hot-host skew degenerate: {h0_rows} frontier rows"
    # the ingested batch must be non-degenerate too: present in the
    # frontier, and at least one injected URL actually fetched in r3/r4
    front = {r["url"]: r["state"] for r in crawler.frontier_df().collect()}
    injected = [u for u, _ in extra if u in front]
    assert len(injected) >= 10, f"seed ingest degenerate: {len(injected)}"
    assert any(front[u] == "fetched" for u in injected), "no injected URL fetched"
