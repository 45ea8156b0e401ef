"""Mid-crawl seed ingestion (Crawler.enqueue_seeds) + the Structured
Streaming front door (streaming/ingest.py).

Reference capability: the crawler picks up new start IDs only by
restarting and re-reading its checkpoint file (shixin_spider.py:299-312).
Here a live crawl ingests new seeds between rounds, exactly-once, with
crawl-order parity against refsim.simulate(extra_seeds=)."""

from __future__ import annotations

import json
import os

import pytest

from spider_spark import synth
from spider_spark.crawl import Crawler
from spider_spark.refsim import SimConfig, simulate
from spider_spark.round import CrawlConfig
from spider_spark.streaming.ingest import ingest_seed_stream

from .conftest import hosts_df_to_dict

N_HOSTS, PAGE_SPACE = 12, 200


def _cfg(**kw):
    base = dict(
        n_hosts=N_HOSTS,
        page_space=PAGE_SPACE,
        global_cap=None,
        max_retries=2,
        fetch_partitions=4,
        use_bloom=True,
        bloom_shards=4,
        bloom_bits=1 << 16,
    )
    base.update(kw)
    return CrawlConfig(**base)


def _seeds_df(spark, pairs):
    return spark.createDataFrame(pairs, "url string, priority int")


# 25 distinct URLs, verified disjoint from the 60-seed bootstrap set
EXTRA = [
    (f"http://h{(i * 5 + 2) % N_HOSTS}.example/p{(i * 29 + 11) % PAGE_SPACE}", i % 3)
    for i in range(25)
]


@pytest.fixture()
def booted(spark, tmp_path):
    crawler = Crawler(spark, str(tmp_path / "store"), _cfg())
    seeds = synth.seed_list(spark, 60, N_HOSTS, PAGE_SPACE)
    hosts = synth.hosts_config(spark, N_HOSTS)
    crawler.bootstrap(seeds, hosts)
    return crawler, seeds, hosts


def test_enqueue_is_idempotent_and_survives_resume(spark, booted):
    crawler, _, _ = booted
    batch = _seeds_df(spark, EXTRA)
    n1 = crawler.enqueue_seeds(batch)
    assert n1 > 0
    # replaying the same batch (restarted micro-batch) enqueues nothing
    assert crawler.enqueue_seeds(batch) == 0
    urls = {r["url"] for r in crawler.store.read("frontier").collect()}
    new_urls = {u for u, _ in EXTRA}
    assert new_urls & urls  # present...
    pending = (
        crawler.store.read("frontier").filter("state = 'pending'").count()
    )
    # ...exactly once (no dup url_hash rows)
    assert (
        crawler.store.read("frontier").select("url_hash").distinct().count()
        == crawler.store.read("frontier").count()
    )
    assert pending >= n1
    # the manifest re-commit makes the batch durable across resume()
    crawler.store.restore_last_committed()
    assert new_urls <= {r["url"] for r in crawler.store.read("frontier").collect()}


def test_crawl_parity_with_midcrawl_seed_batch(spark, booted):
    """bootstrap(A) -> 1 round -> enqueue_seeds(B) -> 2 rounds must equal
    refsim.simulate(A, extra_seeds={2: B}) over 3 rounds — order, seen
    set, and final frontier states."""
    crawler, seeds, hosts = booted
    r1 = crawler.run_rounds(1, record_order=True)
    crawler.enqueue_seeds(_seeds_df(spark, EXTRA))
    r23 = crawler.run_rounds(2, record_order=True)

    sim = simulate(
        [(r["url"], r["priority"]) for r in seeds.collect()],
        hosts_df_to_dict(hosts),
        SimConfig(n_hosts=N_HOSTS, page_space=PAGE_SPACE, global_cap=None, max_retries=2),
        3,
        extra_seeds={2: EXTRA},
    )
    eng_order = [res.batch_urls for res in r1 + r23]
    assert eng_order == sim.crawl_order
    assert crawler.seen_urls() == sim.seen
    # injection is non-vacuous: at least one injected seed was fetched
    fetched = {u for batch in eng_order[1:] for u in batch}
    assert fetched & {u for u, _ in EXTRA}


def test_streaming_ingest_exactly_once(spark, tmp_path, booted):
    crawler, _, _ = booted
    seeds_dir = tmp_path / "seeds_in"
    ckpt = tmp_path / "ingest_ckpt"
    seeds_dir.mkdir()

    def drop_file(name, pairs):
        with open(seeds_dir / name, "w") as f:
            for url, prio in pairs:
                f.write(json.dumps({"url": url, "priority": prio}) + "\n")

    drop_file("batch1.json", EXTRA[:10])
    n1 = ingest_seed_stream(spark, crawler, str(seeds_dir), str(ckpt))
    assert n1 == len({u for u, _ in EXTRA[:10]})
    # drain again with no new files: checkpoint skips batch1 entirely
    assert ingest_seed_stream(spark, crawler, str(seeds_dir), str(ckpt)) == 0
    # a second file overlapping the first: only the genuinely new rows land
    drop_file("batch2.json", EXTRA[5:20])
    n2 = ingest_seed_stream(spark, crawler, str(seeds_dir), str(ckpt))
    assert n2 == len({u for u, _ in EXTRA[10:20]})
    front = {r["url"] for r in crawler.store.read("frontier").collect()}
    assert {u for u, _ in EXTRA[:20]} <= front
    assert os.path.isdir(ckpt)


def test_sitemap_feeds_the_seed_front_door(spark, booted):
    """sitemap.xml -> sitemap_seeds -> enqueue_seeds: the standards-based
    bulk channel lands in the live frontier with sitemap priorities
    mapped onto the frontier's ascending rank."""
    from pyspark.sql import functions as F

    from spider_spark.robots import sitemap_seeds

    crawler, _, _ = booted
    # pretty-printed, as real sitemaps are: multi-line <url> blocks, padded
    # <loc>, plus a junk block and a malformed (non-numeric) <priority>
    # that must fall back to the protocol default, never to null (ADVICE r4)
    xml = (
        "<urlset>\n"
        "  <url>\n    <loc> http://h2.example/p151 </loc>\n"
        "    <priority>0.9</priority>\n  </url>\n"
        "  <url>\n    <loc>\n      http://h3.example/p152\n    </loc>\n  </url>\n"
        "  <url><changefreq>daily</changefreq></url>\n"  # junk: dropped
        "  <url><loc>http://h4.example/p153</loc>"
        "<priority>high</priority></url>\n"  # malformed priority -> default
        "</urlset>"
    )
    seeds = sitemap_seeds(spark.createDataFrame([(xml,)], "sitemap_xml string"))
    got = {r["url"]: r["priority"] for r in seeds.collect()}
    assert got == {
        "http://h2.example/p151": 1,
        "http://h3.example/p152": 5,
        "http://h4.example/p153": 5,
    }
    n = crawler.enqueue_seeds(seeds)
    assert n == 3
    front = {
        r["url"]: r["priority"]
        for r in crawler.store.read("frontier").filter("state = 'pending'").collect()
    }
    assert front["http://h2.example/p151"] == 1
    assert front["http://h3.example/p152"] == 5
    assert front["http://h4.example/p153"] == 5


@pytest.mark.parametrize("entry", ["enqueue_seeds", "audit_lost"])
def test_admission_opens_only_its_own_seen_buckets(spark, booted, monkeypatch, entry):
    """A seed batch or an audit anti-joins seen like a round's links do:
    it never scans the whole seen table, and it opens only buckets its
    own candidates hash into."""
    from spider_spark.storage import TableStore

    crawler, seeds, _ = booted
    # three URLs already seen (bootstrap seeds) and two new ones
    old = [r["url"] for r in seeds.orderBy("url").limit(3).collect()]
    batch = _seeds_df(spark, [(u, 0) for u in old] + EXTRA[:2])
    cand = crawler._canonical_seeds(batch, crawler.store.read("hosts"))
    n_buckets = crawler.cfg.seen_buckets
    own = {r["url_hash"] % n_buckets for r in cand.select("url_hash").collect()}
    assert len(own) < n_buckets  # the check can tell a full scan apart

    reads, opened = [], []
    read, read_partitions = TableStore.read, TableStore.read_partitions

    def spy_read(store, table, *a, **k):
        reads.append(table)
        return read(store, table, *a, **k)

    def spy_read_partitions(store, table, values, *a, **k):
        if table == "seen":
            opened.extend(values)
        return read_partitions(store, table, values, *a, **k)

    monkeypatch.setattr(TableStore, "read", spy_read)
    monkeypatch.setattr(TableStore, "read_partitions", spy_read_partitions)
    if entry == "enqueue_seeds":
        n_new = crawler.enqueue_seeds(batch)
    else:
        n_new = crawler.audit_lost(batch.select("url"))
    assert n_new == 2
    assert "seen" not in reads
    assert opened and set(opened) <= own
