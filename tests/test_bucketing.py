"""Bucketed seen/media tables (VERDICT r2 #4): the per-round exact
anti-join must open only candidate buckets (manifest-level pruning), and
bucketing must never change crawl results — it is an optimization of
WHICH files are scanned, like the Bloom filter is of which rows are
exact-checked."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spider_spark.storage import TableStore


def test_read_partitions_opens_only_selected_members(spark, tmp_path):
    st = TableStore(spark, str(tmp_path))
    df = spark.range(0, 400).select(
        F.col("id").alias("url_hash"),
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.pmod("id", F.lit(8)).cast("int").alias("seen_bucket"),
    )
    st.write("seen", df, partition_by=["seen_bucket"])
    # append a second segment so buckets have multiple members
    st.append("seen", df.withColumn("url_hash", F.col("url_hash") + 1000))

    pruned = st.read_partitions("seen", [2, 5])
    member_paths = st.partition_files("seen", [2, 5])
    assert len(member_paths) == 4  # 2 buckets x 2 segments
    opened = pruned.inputFiles()
    assert opened, "pruned read should open the selected buckets"
    for f in opened:
        assert any(p in f for p in member_paths), f"opened non-candidate file {f}"
    # pruned slice == full-scan filter on the same buckets
    assert (
        pruned.count()
        == st.read("seen").filter(F.col("seen_bucket").isin(2, 5)).count()
        == 200
    )
    # empty selection: no files, empty frame with full schema
    assert st.read_partitions("seen", []).count() == 0


def _run_crawl(spark, workdir, buckets):
    from spider_spark import synth
    from spider_spark.crawl import Crawler
    from spider_spark.round import CrawlConfig

    cfg = CrawlConfig(
        n_hosts=8, page_space=60, fetch_partitions=2,
        use_bloom=True, bloom_shards=2, bloom_bits=1 << 12,
        seen_buckets=buckets, media_buckets=buckets, write_media_table=True,
    )
    seeds = synth.seed_list(spark, 40, 8, 60)
    hosts = synth.hosts_config(spark, 8)
    c = Crawler(spark, workdir, cfg)
    c.bootstrap(seeds, hosts)
    c.run_rounds(2)
    return c


def test_bucketed_crawl_matches_unbucketed(spark, tmp_path):
    a = _run_crawl(spark, str(tmp_path / "bucketed"), buckets=4)
    b = _run_crawl(spark, str(tmp_path / "flat"), buckets=1)

    assert a.seen_urls() == b.seen_urls()
    fa = {(r["url"], r["state"]) for r in a.frontier_df().collect()}
    fb = {(r["url"], r["state"]) for r in b.frontier_df().collect()}
    assert fa == fb
    ma = {r["media_ref"] for r in a.store.read("media").collect()}
    mb = {r["media_ref"] for r in b.store.read("media").collect()}
    assert ma == mb

    # the bucketed store really is partitioned (per-bucket members)
    values = {m["value"] for m in a.store._manifest("seen")["members"]}
    assert values <= {"0", "1", "2", "3"} and len(values) > 1
    mvalues = {m["value"] for m in a.store._manifest("media")["members"]}
    assert mvalues <= {"0", "1", "2", "3"}


def test_bucket_counts_must_be_positive(spark, tmp_path):
    from spider_spark.crawl import Crawler
    from spider_spark.round import CrawlConfig

    for field in ("seen_buckets", "media_buckets"):
        for bad in (0, -1):
            with pytest.raises(ValueError, match=field):
                Crawler(spark, str(tmp_path), CrawlConfig(**{field: bad}))
