from __future__ import annotations

import numpy as np
import pytest

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


@pytest.mark.parametrize("fail_at", ["seen_append", "seen_reader", "seed_seen_append"])
def test_run_rounds_releases_cached_state_when_a_round_raises(
    spark, tmp_path, monkeypatch, fail_at
):
    """A raise in a store write (the seen append) or in a store read
    after the prefilter (the seen buckets) must still unpersist the
    cached hosts and the round's tagged candidates and new links and
    destroy the Bloom broadcast: none of them may outlive the failed
    run_rounds.  A seed batch is admitted the same way, so a raise in its
    seen append must release its state too."""
    import os

    import spider_spark.bloom as bloom_mod
    from spider_spark import synth
    from spider_spark.crawl import Crawler
    from spider_spark.round import CrawlConfig
    from spider_spark.storage import TableStore

    n_hosts, page_space = 10, 200
    cfg = CrawlConfig(
        n_hosts=n_hosts, page_space=page_space, fetch_partitions=4,
        bloom_shards=4, bloom_bits=1 << 14,
    )
    c = Crawler(spark, str(tmp_path / "crawl"), cfg)
    c.bootstrap(
        synth.seed_list(spark, 40, n_hosts, page_space),
        synth.hosts_config(spark, n_hosts),
    )

    made = []

    def spy(*args):
        out = bloom_prefilter(*args)
        made.append(out)
        return out

    def boom(*_a, **_k):
        raise RuntimeError(f"injected failure at {fail_at}")

    monkeypatch.setattr(bloom_mod, "bloom_prefilter", spy)
    if fail_at.endswith("seen_append"):
        append = TableStore.append

        def failing_append(store, table, *a, **k):
            if table == "seen":
                boom()
            return append(store, table, *a, **k)

        monkeypatch.setattr(TableStore, "append", failing_append)
    else:
        read_partitions = TableStore.read_partitions

        def failing_read(store, table, *a, **k):
            if table == "seen":
                boom()
            return read_partitions(store, table, *a, **k)

        monkeypatch.setattr(TableStore, "read_partitions", failing_read)

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match=fail_at):
        if fail_at == "seed_seen_append":
            c.enqueue_seeds(synth.seed_list(spark, 80, n_hosts, page_space))
        else:
            c.run_rounds(1)
    assert jsc.getPersistentRDDs().size() == before
    assert len(made) == 1
    _, _, tagged, bc = made[0]
    assert not tagged.is_cached
    assert not os.path.exists(bc._path)


def test_empty_batch_runs_no_admission(spark, tmp_path, monkeypatch):
    """A round whose batch is empty returns before admission: it tags no
    candidates with the Bloom.  Here a robots refresh disallows every
    path, so the pending rows stay queued and each round is empty."""
    from pyspark.sql import functions as F

    import spider_spark.bloom as bloom_mod
    from spider_spark import synth
    from spider_spark.crawl import Crawler
    from spider_spark.round import CrawlConfig

    n_hosts, page_space = 4, 50
    cfg = CrawlConfig(
        n_hosts=n_hosts, page_space=page_space, fetch_partitions=2,
        bloom_shards=4, bloom_bits=1 << 14,
    )
    c = Crawler(spark, str(tmp_path / "crawl"), cfg)
    hosts = synth.hosts_config(spark, n_hosts)
    c.bootstrap(synth.seed_list(spark, 20, n_hosts, page_space), hosts)
    c.update_hosts(hosts.withColumn("disallow_prefixes", F.array(F.lit("/"))))
    made = []

    def spy(*args):
        out = bloom_prefilter(*args)
        made.append(out)
        return out

    monkeypatch.setattr(bloom_mod, "bloom_prefilter", spy)
    assert c.run_rounds(2) == []
    assert c.store.last_committed_round() == 2  # the clock advanced
    assert c.frontier_df().filter(F.col("state") == "pending").count() > 0
    assert made == []


def test_round_with_no_new_url_leaves_seen_unmoved(spark, tmp_path):
    """Every URL of the universe is a seed, so a round's links are all
    seen: the round dequeues and fetches, admits nothing, and writes no
    seen segment (an empty append is a Spark job and a new manifest)."""
    from spider_spark import synth
    from spider_spark.crawl import Crawler
    from spider_spark.round import CrawlConfig

    n_hosts, page_space = 2, 20
    cfg = CrawlConfig(
        n_hosts=n_hosts, page_space=page_space, fetch_partitions=2,
        bloom_shards=4, bloom_bits=1 << 14,
    )
    c = Crawler(spark, str(tmp_path / "crawl"), cfg)
    universe = [(f"http://h{h}.example/p{p}", 0) for h in range(n_hosts) for p in range(page_space)]
    c.bootstrap(
        spark.createDataFrame(universe, "url string, priority int"),
        synth.hosts_config(spark, n_hosts),
    )
    v0 = c.store.current_version("seen")
    (res,) = c.run_rounds(1)
    assert res.dequeued > 0 and res.dup_urls > 0 and res.new_urls == 0
    assert c.store.current_version("seen") == v0


def test_prefilter_probe_of_broadcast_bitmaps_matches_maybe_contains(monkeypatch):
    """The prefilter UDF probes the broadcast (shards, m, k) in place.  It
    must answer like maybe_contains and build no ShardedBloom per Arrow
    batch (that allocates and zeroes all n_shards * m / 8 bytes)."""
    import pickle

    from spider_spark import bloom as bloom_mod

    b = ShardedBloom(n_shards=8, bits_per_shard=1 << 12, n_hashes=4)
    rng = np.random.default_rng(7)
    inserted = rng.integers(-(2**62), 2**62, size=600, dtype=np.int64)
    b.update_local(inserted)
    keys = np.concatenate([inserted, rng.integers(-(2**62), 2**62, size=600, dtype=np.int64)])
    expected = b.maybe_contains(keys)
    assert expected[:600].all() and not expected[600:].all()

    payload = pickle.loads(pickle.dumps((b.shards, b.m, b.k)))  # as broadcast ships it

    def no_filter(*_a, **_k):
        raise AssertionError("the probe built a ShardedBloom")

    monkeypatch.setattr(ShardedBloom, "__init__", no_filter)
    assert (bloom_mod.probe(*payload, keys) == expected).all()
