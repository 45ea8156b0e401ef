"""T1 checkpoint/resume: kill after round k, resume, final state identical
to an uninterrupted run (SURVEY.md §7 step 5)."""

from __future__ import annotations

from spider_spark import synth
from spider_spark.crawl import Crawler
from spider_spark.round import CrawlConfig

N_HOSTS, PAGE_SPACE = 15, 300


def _cfg():
    return CrawlConfig(
        n_hosts=N_HOSTS, page_space=PAGE_SPACE, max_retries=2,
        fetch_partitions=4, use_bloom=True, bloom_shards=4, bloom_bits=1 << 14,
    )


def test_resume_equals_uninterrupted(spark, tmp_path):
    seeds = synth.seed_list(spark, 80, N_HOSTS, PAGE_SPACE)
    hosts = synth.hosts_config(spark, N_HOSTS)

    # uninterrupted: 4 rounds
    a = Crawler(spark, str(tmp_path / "a"), _cfg())
    a.bootstrap(seeds, hosts)
    a.run_rounds(4, expire_keep=10)

    # interrupted: 2 rounds, then a simulated crash (half-written next
    # round: new frontier version without a manifest), then resume + 2
    b = Crawler(spark, str(tmp_path / "b"), _cfg())
    b.bootstrap(seeds, hosts)
    b.run_rounds(2, expire_keep=10)
    b.store.write("frontier", b.frontier_df().limit(3))  # torn write
    b2 = Crawler(spark, str(tmp_path / "b"), _cfg())
    rid = b2.resume()
    assert rid == 2
    b2.run_rounds(2, expire_keep=10)

    assert a.seen_urls() == b2.seen_urls()
    sa = {(r["url"], r["state"], r["retry_count"]) for r in a.frontier_df().collect()}
    sb = {(r["url"], r["state"], r["retry_count"]) for r in b2.frontier_df().collect()}
    assert sa == sb
    # documents identical too
    da = {r["doc_id"] for r in a.store.read("documents").collect()}
    db = {r["doc_id"] for r in b2.store.read("documents").collect()}
    assert da == db
    # and the tables the round writes as driver rows
    for t in ("host_state", "lineage"):
        assert {tuple(r) for r in a.store.read(t).collect()} == {
            tuple(r) for r in b2.store.read(t).collect()
        }, t


def test_reprioritize_survives_resume(spark, tmp_path):
    """ADVICE r4: reprioritize_from_links re-commits the round manifest, so
    a crash between the refresh and the next round's commit no longer
    reverts the refresh on resume() — the resumed run sees the boosted
    priorities, keeping parity with a refsim run that has reprioritize set."""
    seeds = synth.seed_list(spark, 80, N_HOSTS, PAGE_SPACE)
    hosts = synth.hosts_config(spark, N_HOSTS)
    c = Crawler(spark, str(tmp_path / "r"), _cfg())
    c.bootstrap(seeds, hosts)
    c.run_rounds(2, expire_keep=10)
    c.reprioritize_from_links(boost_cap=2)
    before = {
        r["url_hash"]: r["priority"]
        for r in c.frontier_df().filter("state = 'pending'").collect()
    }
    c2 = Crawler(spark, str(tmp_path / "r"), _cfg())
    assert c2.resume() == 2
    after = {
        r["url_hash"]: r["priority"]
        for r in c2.frontier_df().filter("state = 'pending'").collect()
    }
    assert after == before
    # and the manifest still records the refresh next to the round tables
    import json as _json
    import os as _os

    with open(_os.path.join(str(tmp_path / "r"), "rounds", "round_000002.json")) as f:
        m = _json.load(f)
    assert m["reprioritized"] == 1
