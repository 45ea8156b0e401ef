"""T6 lost-ID audit sweep + S15 proxy refresh / F9 keyed identity choice."""

from __future__ import annotations

from pyspark.sql import functions as F

from spider_spark import synth
from spider_spark.crawl import Crawler
from spider_spark.round import CrawlConfig

N_HOSTS, PAGE_SPACE = 10, 200


def test_audit_lost_requeues_exactly_the_missing(spark, tmp_path):
    cfg = CrawlConfig(
        n_hosts=N_HOSTS, page_space=PAGE_SPACE, max_retries=2,
        fetch_partitions=4, use_bloom=True, bloom_shards=4, bloom_bits=1 << 14,
    )
    c = Crawler(spark, str(tmp_path), cfg)
    seeds = synth.seed_list(spark, 40, N_HOSTS, PAGE_SPACE)
    hosts = synth.hosts_config(spark, N_HOSTS)
    c.bootstrap(seeds, hosts)
    c.run_rounds(2, expire_keep=10)

    # expected universe: every page id 0..59 on host 0 — some were never
    # discovered by the crawl
    expected = spark.range(60).select(
        F.concat(F.lit("http://h0.example/p"), F.col("id").cast("string")).alias("url")
    )
    seen_before = c.seen_urls()
    # h0 disallows the /p13 prefix (synth.hosts_config: every 7th host),
    # so the audit must not re-enqueue p13 even though it was never seen
    manual_lost = {
        f"http://h0.example/p{i}" for i in range(60) if not f"/p{i}".startswith("/p13")
    } - seen_before
    n = c.audit_lost(expected)
    assert n == len(manual_lost)
    # re-enqueued as pending, recorded as seen, and idempotent
    fr = c.frontier_df().filter(F.col("state") == "pending")
    pend = {r["url"] for r in fr.select("url").collect()}
    assert manual_lost <= pend
    assert manual_lost <= c.seen_urls()
    assert c.audit_lost(expected) == 0


def test_audit_lost_skips_robots_disallowed_after_drain(spark, tmp_path):
    # a disallowed URL re-enqueued as pending is never released by
    # frontier.dequeue, so a drained crawl would tick empty rounds forever
    cfg = CrawlConfig(n_hosts=1, page_space=4, max_retries=0, fetch_partitions=2, use_bloom=False)
    c = Crawler(spark, str(tmp_path), cfg)
    c.bootstrap(synth.seed_list(spark, 1, 1, 4), synth.hosts_config(spark, 1))
    c.run_rounds(10)
    drained = c.store.last_committed_round()
    assert c.frontier_df().filter(F.col("state").isin("pending", "retry")).count() == 0

    disallowed = spark.createDataFrame([("http://h0.example/p13",)], ["url"])
    assert c.audit_lost(disallowed) == 0
    assert c.run_rounds(5) == []
    assert c.store.last_committed_round() == drained


def test_probe_and_live_pool_deterministic(spark):
    from spider_spark.proxies import live_proxies, probe_proxies

    addrs = [(f"10.0.0.{i}:8080",) for i in range(30)]
    df = spark.createDataFrame(addrs, ["addr"])
    pool1 = live_proxies(df)
    pool2 = live_proxies(df)
    assert pool1 == pool2
    assert 0 < len(pool1) < 30  # fake prober kills ~1/3
    probed = probe_proxies(df)
    assert probed.count() == 30
    assert probed.filter(F.col("alive")).count() == len(pool1)


def test_keyed_choice_stable_and_covering(spark):
    from spider_spark.proxies import keyed_choice

    uas = ["ua-a", "ua-b", "ua-c"]
    df = spark.range(300).select(F.concat(F.lit("k"), F.col("id")).alias("key"))
    picked = df.select("key", keyed_choice(F.col("key"), uas).alias("ua"))
    again = df.select("key", keyed_choice(F.col("key"), uas).alias("ua"))
    a = {r["key"]: r["ua"] for r in picked.collect()}
    b = {r["key"]: r["ua"] for r in again.collect()}
    assert a == b  # same key -> same identity, across runs
    assert set(a.values()) == set(uas)  # all options actually used


def test_phone_attribution_recode_and_miss(spark):
    from spider_spark.geo import phone_attribution

    dim = spark.createDataFrame(
        [
            ("1380000", "广东", "深圳", "中国联通"),
            ("1390000", "广东", "广州", "中国移动"),
            ("1500000", "北京", "北京", "中国电信"),
            ("1700000", "上海", "上海", "某虚拟运营商"),
        ],
        ["prefix", "province", "city", "company_name"],
    )
    phones = spark.createDataFrame(
        [("13800001234",), ("13900005678",), ("15000009999",), ("17000001111",),
         ("19900000000",)],  # last prefix not in dim
        ["phone"],
    )
    rows = {r["phone"]: r for r in phone_attribution(phones, dim).collect()}
    assert rows["13800001234"]["company"] == 1
    assert rows["13900005678"]["company"] == 2
    assert rows["15000009999"]["company"] == 3
    assert rows["17000001111"]["company"] == 4  # unknown carrier name -> 4
    miss = rows["19900000000"]
    assert miss["province"] is None and miss["company"] == 4
    assert rows["13800001234"]["city"] == "深圳"


def test_fetch_with_proxy_pool_is_transparent(spark):
    """S2 wiring: a configured proxy pool pins one proxy per partition
    session; fetch results are identical with and without the pool (the
    simnet fetcher ignores the proxy, as a healthy proxy should be
    transparent)."""
    from spider_spark import synth
    from spider_spark.fetch import fetch_batch

    seeds = synth.seed_list(spark, 30, 5, 100).select(
        "url",
        F.xxhash64("url").alias("url_hash"),
        F.lit("h").alias("host"),
        F.lit(0).alias("priority"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("retry_count"),
        F.lit(0).cast("long").alias("discovered_round"),
    )
    plain = fetch_batch(seeds, 5, 100, num_partitions=2).select("url", "status").collect()
    proxied = fetch_batch(
        seeds, 5, 100, num_partitions=2, proxies=["10.0.0.1:8080", "10.0.0.2:8080"]
    ).select("url", "status").collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, proxied))


def test_media_table_sink_first_wins(spark, tmp_path):
    """S13: media refs land in a `media` table once each (dup-key skip),
    and every ref in the table appears in some document's media spans."""
    from spider_spark.crawl import Crawler
    from spider_spark.round import CrawlConfig

    cfg = CrawlConfig(
        n_hosts=N_HOSTS, page_space=PAGE_SPACE, max_retries=2,
        fetch_partitions=4, use_bloom=False, write_media_table=True,
    )
    c = Crawler(spark, str(tmp_path), cfg)
    c.bootstrap(synth.seed_list(spark, 40, N_HOSTS, PAGE_SPACE), synth.hosts_config(spark, N_HOSTS))
    c.run_rounds(3, expire_keep=10)
    media = c.store.read("media")
    n = media.count()
    assert n > 0
    assert media.select("media_ref").distinct().count() == n  # dup-key skip held
    span_refs = {
        r["media_ref"]
        for r in c.store.read("documents")
        .select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"))
        .distinct()
        .collect()
    }
    table_refs = {r["media_ref"] for r in media.select("media_ref").collect()}
    assert table_refs == span_refs
    # first-wins: every first_seen_round <= any later sighting (monotone by construction)
    assert media.filter(F.col("first_seen_round") < 1).count() == 0


def test_sink_flags_do_not_change_crawl_semantics(spark, tmp_path):
    """keep_raw_body / write_media_table only ADD sink output; crawl
    order, seen set, and frontier states must be bit-identical to a run
    without them (the flagship entry runs with both on)."""
    from spider_spark.crawl import Crawler
    from spider_spark.round import CrawlConfig

    outs = {}
    for label, flags in (
        ("plain", {}),
        ("sinks", {"keep_raw_body": True, "write_media_table": True}),
    ):
        cfg = CrawlConfig(
            n_hosts=N_HOSTS, page_space=PAGE_SPACE, max_retries=2,
            fetch_partitions=4, use_bloom=True, bloom_shards=4,
            bloom_bits=1 << 14, **flags,
        )
        c = Crawler(spark, str(tmp_path / label), cfg)
        c.bootstrap(
            synth.seed_list(spark, 40, N_HOSTS, PAGE_SPACE),
            synth.hosts_config(spark, N_HOSTS),
        )
        c.run_rounds(2, expire_keep=10)
        outs[label] = (
            c.seen_urls(),
            {(r["url"], r["state"]) for r in c.frontier_df().collect()},
            {r["doc_id"] for r in c.store.read("documents").collect()},
        )
    assert outs["plain"] == outs["sinks"]
