from __future__ import annotations

import numpy as np

from spider_spark.bloom import ShardedBloom, bloom_prefilter


def test_no_false_negatives_local():
    b = ShardedBloom(n_shards=4, bits_per_shard=1 << 14, n_hashes=5)
    rng = np.random.default_rng(42)
    inserted = rng.integers(-(2**62), 2**62, size=5000, dtype=np.int64)
    b.update_local(inserted)
    assert b.maybe_contains(inserted).all(), "Bloom must never miss an inserted key"

    other = rng.integers(-(2**62), 2**62, size=5000, dtype=np.int64)
    fresh = other[~np.isin(other, inserted)]
    fp_rate = b.maybe_contains(fresh).mean()
    assert fp_rate < 0.05, f"false-positive rate too high: {fp_rate}"


def test_distributed_build_matches_local(spark):
    vals = list(range(-500, 500))
    df = spark.createDataFrame([(v * 2654435761,) for v in vals], ["url_hash"])
    b1 = ShardedBloom(n_shards=4, bits_per_shard=1 << 12, n_hashes=3)
    b1.update_from_df(spark, df)
    b2 = ShardedBloom(n_shards=4, bits_per_shard=1 << 12, n_hashes=3)
    b2.update_local(np.array([v * 2654435761 for v in vals], dtype=np.int64))
    assert (b1.shards == b2.shards).all()


def test_prefilter_is_only_an_optimization(spark):
    """Crawl results with Bloom == results without (SURVEY.md §7 step 4):
    definite_new ∪ maybe_seen must partition candidates, with every
    truly-seen key in maybe_seen.  bloom=None tags every candidate
    maybe-seen, so the exact check alone decides."""
    seen_keys = [(i * 7919,) for i in range(200)]
    cand_keys = [(i * 7919,) for i in range(150, 350)]
    seen = spark.createDataFrame(seen_keys, ["url_hash"])
    cand = spark.createDataFrame(cand_keys, ["url_hash"])

    b = ShardedBloom(n_shards=4, bits_per_shard=1 << 12, n_hashes=3)
    b.update_from_df(spark, seen)

    new_without = {r["url_hash"] for r in cand.join(seen, "url_hash", "left_anti").collect()}
    for bloom in (b, None):
        definite_new, maybe_seen, tagged, bc = bloom_prefilter(spark, cand, bloom)
        new_with = {
            r["url_hash"]
            for r in definite_new.unionByName(
                maybe_seen.join(seen, "url_hash", "left_anti")
            ).collect()
        }
        assert new_with == new_without
        if bloom is None:
            assert bc is None and definite_new.count() == 0
        tagged.unpersist()
        if bc is not None:
            bc.destroy()


def test_driver_budget_fails_fast():
    """A 10^10-key filter (~17 GiB of bitmaps) must fail at construction
    with the sizing rule, BEFORE any allocation (VERDICT r2 #5)."""
    import time

    import pytest

    t0 = time.monotonic()
    with pytest.raises(ValueError, match="use_bloom=False"):
        ShardedBloom(n_shards=4096, bits_per_shard=1 << 25)
    assert time.monotonic() - t0 < 1.0
    # an explicit budget raise is honored
    b = ShardedBloom(n_shards=4, bits_per_shard=1 << 14,
                     driver_budget_bytes=1 << 20)
    assert b.nbytes <= 1 << 20


def test_crawl_identical_with_and_without_bloom(spark, tmp_path):
    """The seen-prefilter is an optimization only: the final seen set and
    frontier states must be IDENTICAL with the Bloom on and off (the
    invariant that makes false positives harmless)."""
    from spider_spark import synth
    from spider_spark.crawl import Crawler
    from spider_spark.round import CrawlConfig

    n_hosts, page_space = 10, 200
    outs = {}
    for kind, use in (("none", False), ("bloom", True)):
        cfg = CrawlConfig(
            n_hosts=n_hosts, page_space=page_space, max_retries=2,
            fetch_partitions=4, use_bloom=use, bloom_shards=4,
            bloom_bits=1 << 14,
        )
        c = Crawler(spark, str(tmp_path / kind), cfg)
        c.bootstrap(
            synth.seed_list(spark, 40, n_hosts, page_space),
            synth.hosts_config(spark, n_hosts),
        )
        c.run_rounds(2, expire_keep=10)
        outs[kind] = (
            c.seen_urls(),
            {(r["url"], r["state"]) for r in c.frontier_df().collect()},
        )
    assert outs["none"] == outs["bloom"]


def test_seen_filter_entry_releases_prefilter_state(spark, monkeypatch):
    """c3_seen_filter_split runs the real prefilter; like run_round it
    must unpersist the tagged cache and destroy the Bloom broadcast, or
    every grading call leaks one cached frame and one broadcast."""
    import os

    import spider_spark.bloom as bloom_mod
    from spider_spark.catalog import QUERIES

    made = []

    def spy(*args):
        out = bloom_prefilter(*args)
        made.append(out)
        return out

    monkeypatch.setattr(bloom_mod, "bloom_prefilter", spy)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for _ in range(2):
        assert QUERIES["c3_seen_filter_split"](spark, "/root/testdata/sf0.001").count() > 0
    assert len(made) == 2
    assert jsc.getPersistentRDDs().size() == before
    for _, _, tagged, bc in made:
        assert not tagged.is_cached
        assert not os.path.exists(bc._path)
