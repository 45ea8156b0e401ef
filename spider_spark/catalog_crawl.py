"""Catalog part 4: crawl-engine operators under the oracle gate —
month-window parameter generation, the Bloom seen filter end-to-end
(c3), snapshot semantics (c4 time-travel /
incremental scan, c8 MERGE, c9 compaction + pruned reads), the
politeness / robots / retry-state gates (c5-c7), and invariant oracles
for the Bloom fill band (c2) and the HLL error bound (a10)."""

from __future__ import annotations

from pyspark.sql import functions as F

from .catalog import _scratch, _t, q


@q(
    "w5b_last6_months",
    """SELECT strftime(m_begin, '%Y-%m-%d') AS begin_date,
              strftime(LEAST(m_begin + INTERVAL 1 MONTH - INTERVAL 1 DAY,
                             TIMESTAMP '2001-08-01'), '%Y-%m-%d') AS end_date
       FROM (SELECT unnest(generate_series(TIMESTAMP '2001-03-01', TIMESTAMP '2001-08-01',
                                           INTERVAL 1 MONTH)) AS m_begin)""",
)
def w5b_last6_months(spark, sf_dir):
    """W5 last-6-months [begin,end] window pairs, current window truncated
    at 'today' (param_date.py:19-45, mobile_month.py:12-31) — the month
    parameters the operator sweep fans out over."""
    months = spark.sql(
        """SELECT explode(sequence(to_timestamp('2001-03-01'), to_timestamp('2001-08-01'),
                                   interval 1 month)) AS m_begin"""
    )
    end = F.least(
        F.col("m_begin") + F.expr("INTERVAL 1 MONTH") - F.expr("INTERVAL 1 DAY"),
        F.to_timestamp(F.lit("2001-08-01")),
    )
    return months.select(
        F.date_format("m_begin", "yyyy-MM-dd").alias("begin_date"),
        F.date_format(end, "yyyy-MM-dd").alias("end_date"),
    )


@q(
    "c2_bloom_stats",
    # the exact fill ratios are xxhash-dependent (not SQL-derivable), but
    # the sizing invariant is: every shard of a correctly-built filter
    # over this key volume lands in a sane fill band — a hashing or
    # sharding regression (empty shard, saturated shard) flips the flag
    """SELECT CAST(s AS INT) AS shard, CAST(1 AS BOOLEAN) AS fill_in_band
       FROM (SELECT unnest(generate_series(0, 7)) AS s)""",
)
def c2_bloom_stats(spark, sf_dir):
    """Sharded-Bloom construction stats over the events id space: shards
    are SIZED FROM THE KEY VOLUME (m = next-pow2 of 4*k*n/shard — the
    sizing discipline a 10^10-key filter lives or dies by), so each
    measured fill ratio must land inside the (0.01, 0.7) band the math
    predicts at every SF."""
    import math

    import pandas as pd

    from .bloom import ShardedBloom

    ids = _t(spark, sf_dir, "events").select(F.xxhash64(F.col("event_id")).alias("url_hash"))
    n_per_shard = max(ids.count() // 8, 1)
    bits = 1 << max(14, math.ceil(math.log2(4 * 4 * n_per_shard)))
    b = ShardedBloom(n_shards=8, bits_per_shard=bits, n_hashes=4)
    b.update_from_df(spark, ids)
    import numpy as np

    rows = [
        (
            int(i),
            bool(0.01 < float(np.unpackbits(b.shards[i].view(np.uint8)).mean()) < 0.7),
        )
        for i in range(b.n_shards)
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["shard", "fill_in_band"]))


@q(
    "c3_seen_filter_split",
    # exact ground truth for the seen filter: the final
    # new/seen split is deterministic even when the Bloom prefilter has
    # false positives (an FP only routes a row to the exact anti-join,
    # never drops it) and has no false negatives (a seen row can never
    # skip the check) — so SQL states the split without modeling the
    # filter at all.  This is the invariant the engine's dedup relies on.
    """SELECT 'http://h' || CAST(doc_id % 20 AS VARCHAR) || '.example/p' ||
              CAST(doc_id AS VARCHAR) AS url,
              'h' || CAST(doc_id % 20 AS VARCHAR) || '.example' AS host
       FROM documents WHERE doc_id % 3 <> 0""",
)
def c3_seen_filter_split(spark, sf_dir):
    """J5/P10 seen-set dedup end-to-end through the REAL engine path
    (bloom_prefilter -> definite_new + maybe_seen -> exact anti-join, as
    in ``crawl.Crawler._admit``), on a deterministic universe: every 3rd
    URL is pre-seen.  The small Bloom is deliberately undersized so false
    positives occur and the anti-join actually earns its keep.  The split
    is collected so the prefilter's tag cache and Bloom broadcast are
    released before returning, as ``_admit`` releases them."""
    from . import bloom as bloom_mod
    from . import canon

    urls = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("http://h"),
            (F.col("doc_id") % 20).cast("string"),
            F.lit(".example/p"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.concat(F.lit("h"), (F.col("doc_id") % 20).cast("string"), F.lit(".example")).alias(
            "host"
        ),
        (F.col("doc_id") % 3 == 0).alias("_seen"),
    ).withColumn("url_hash", canon.url_hash_col(F.col("url")))
    seen = urls.filter(F.col("_seen")).select("url_hash", "url")
    cand = urls.select("url", "host", "url_hash")

    # undersized on purpose: at sf0.1 (~1.7k seen keys) the shards run
    # >50% full -> hundreds of FPs routed through the exact check
    b = bloom_mod.ShardedBloom(n_shards=4, bits_per_shard=1 << 10, n_hashes=2)
    b.update_from_df(spark, seen.select("url_hash"))
    definite_new, maybe_seen, tagged, bc = bloom_mod.bloom_prefilter(spark, cand, b)
    checked_new = maybe_seen.join(seen.select("url_hash"), "url_hash", "left_anti")
    split = definite_new.unionByName(checked_new).select("url", "host")
    try:
        rows = split.collect()
    finally:
        tagged.unpersist()
        bc.destroy()
    return spark.createDataFrame(rows, split.schema)


@q(
    "c4_time_travel_scan",
    # ground truth: three append-only snapshots partition doc_id < 300 by
    # doc_id % 3 — the time-travel read must return exactly round 1's
    # slice and the incremental scan exactly the later two rounds' rows
    """SELECT 'asof_r1' AS probe, doc_id FROM documents
       WHERE doc_id < 300 AND doc_id % 3 = 0
       UNION ALL
       SELECT 'since_r1' AS probe, doc_id FROM documents
       WHERE doc_id < 300 AND doc_id % 3 <> 0""",
)
def c4_time_travel_scan(spark, sf_dir):
    """S11/S18 snapshot semantics end-to-end through the REAL TableStore:
    three committed append-only rounds, then (a) an Iceberg-style
    time-travel read AS OF round 1 (no pointer move) and (b) an
    incremental scan of everything appended after it (manifest member-set
    difference, O(delta) I/O).  Store rebuilt per call in a scratch dir;
    the parquet bytes on disk are what get graded."""
    from .storage import TableStore

    root = _scratch("c4_store", sf_dir)
    store = TableStore(spark, root)
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    for rnd in (1, 2, 3):
        store.append("snap", docs.filter(F.col("doc_id") % 3 == rnd - 1))
        store.commit_round(rnd)
    asof = store.read_at("snap", round_id=1).select(
        F.lit("asof_r1").alias("probe"), "doc_id"
    )
    changes = store.read_changes("snap", since_round=1, until_round=3).select(
        F.lit("since_r1").alias("probe"), "doc_id"
    )
    return asof.unionByName(changes)


@q(
    "c5_politeness_gate",
    # hosts_config is integer formulas (delay h%3, cap {5,10,20,50} by
    # h%4, see synth.py); state rows exist for h < 20 with
    # last_fetch_round = h%4, quarantined = (h%5 == 0).  At round 3 a
    # host passes iff stateless, or not-quarantined with
    # last + delay <= 3
    """SELECT 'h' || CAST(h AS VARCHAR) || '.example' AS host,
              CAST(CASE h%4 WHEN 0 THEN 5 WHEN 1 THEN 10 WHEN 2 THEN 20
                   ELSE 50 END AS INT) AS max_concurrent
       FROM (SELECT unnest(generate_series(0, 29)) AS h)
       WHERE h >= 20 OR (h%5 <> 0 AND h%4 + h%3 <= 3)""",
)
def c5_politeness_gate(spark, sf_dir):
    """T2/T3 politeness: the REAL eligible_hosts gate (crawl-delay window
    + quarantine flag, stateless hosts pass) on formula-derived host
    state, re-derived exactly by the oracle."""
    from . import synth
    from .politeness import eligible_hosts

    hosts = synth.hosts_config(spark, 30)
    state = spark.range(20).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example")).alias("host"),
        (F.col("id") % 4).cast("long").alias("last_fetch_round"),
        (F.col("id") % 5 == 0).alias("quarantined"),
    )
    return eligible_hosts(hosts, state, 3)


@q(
    "c6_robots_filter",
    # every 7th host disallows the /p13 prefix (hosts_config); a path
    # '/p<page>' matches iff the page number's decimal string starts '13'
    """WITH seeds AS (
         SELECT DISTINCT (i*97+1)%21 AS h, (i*13 + i%7)%2000 AS p
         FROM (SELECT unnest(generate_series(0, 399)) AS i))
       SELECT 'http://h' || CAST(h AS VARCHAR) || '.example/p' || CAST(p AS VARCHAR) AS url,
              'h' || CAST(h AS VARCHAR) || '.example' AS host
       FROM seeds
       WHERE NOT (h%7 = 0 AND CAST(p AS VARCHAR) LIKE '13%')""",
)
def c6_robots_filter(spark, sf_dir):
    """T-robots: the REAL robots_allowed filter (JVM exists() over
    disallow prefixes, no Python) on a formula URL universe — the oracle
    re-derives exactly which URLs survive."""
    from . import synth
    from .politeness import robots_allowed

    urls = synth.seed_list(spark, 400, 21, 2000).select(
        "url", F.regexp_extract("url", r"^http://([^/]+)/", 1).alias("host")
    )
    return robots_allowed(urls, synth.hosts_config(spark, 21)).select("url", "host")


@q(
    "c7_state_machine",
    # S6/S7/S8 routing at round 5 with max_retries 2: err 0 -> fetched;
    # err 1/2 -> retry with 2^(rc+1) backoff until the budget, then dead;
    # err 3 (unknown id) -> dead immediately
    """SELECT 'u' || CAST(i AS VARCHAR) AS url,
              CAST(i AS BIGINT) AS url_hash,
              'h' || CAST(i%10 AS VARCHAR) AS host,
              CAST(0 AS INT) AS priority, CAST(0 AS INT) AS depth,
              CASE WHEN i%4 = 0 THEN 'fetched'
                   WHEN i%4 IN (1,2) AND i%3 + 1 <= 2 THEN 'retry'
                   ELSE 'dead' END AS state,
              CAST(CASE WHEN i%4 IN (1,2) THEN i%3 + 1 ELSE i%3 END AS INT) AS retry_count,
              CAST(CASE WHEN i%4 IN (1,2) AND i%3 + 1 <= 2
                        THEN 5 + (1 << (i%3 + 1)) ELSE 5 END AS BIGINT) AS next_fetch_time,
              CAST(0 AS BIGINT) AS discovered_round
       FROM (SELECT unnest(generate_series(0, 299)) AS i)""",
)
def c7_state_machine(spark, sf_dir):
    """The REAL frontier.state_updates transition (typed err routing,
    exponential backoff, bounded retry budget) over a formula results
    batch, graded row-exactly."""
    from .frontier import state_updates

    results = spark.range(300).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.col("id").cast("long").alias("url_hash"),
        F.concat(F.lit("h"), F.col("id") % 10).alias("host"),
        F.lit(0).alias("priority"),
        F.lit(0).alias("depth"),
        (F.col("id") % 4).cast("int").alias("err_type"),
        (F.col("id") % 3).cast("int").alias("retry_count"),
        F.lit(0).cast("long").alias("discovered_round"),
    )
    return state_updates(results, 5, 2)


@q(
    "c8_merge_upsert",
    # MERGE ground truth: base keys 0..199, updates overwrite 150..199
    # and insert 200..249, then keys ending in 3 are deleted — the final
    # snapshot is a pure formula of the key ranges
    """SELECT k AS doc_id, src, val FROM (
         SELECT doc_id AS k, 'base' AS src, doc_id*10 AS val
         FROM documents WHERE doc_id < 150
         UNION ALL
         SELECT doc_id + 150, 'upd', (doc_id + 150)*10 + 1
         FROM documents WHERE doc_id < 100
       ) WHERE k % 10 <> 3""",
)
def c8_merge_upsert(spark, sf_dir):
    """S8/S9/S10 in one shot: the REAL TableStore.merge_upsert (MERGE
    INTO ... WHEN MATCHED UPDATE / NOT MATCHED INSERT / MATCHED-in-
    delete_keys DELETE as an atomic snapshot swap) — the Iceberg MERGE
    analog the crawl's frontier write-back runs every round — graded
    against the analytic final state."""
    from .storage import TableStore

    root = _scratch("c8_store", sf_dir)
    store = TableStore(spark, root)
    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").cast("long").alias("doc_id"))
    base = docs.filter(F.col("doc_id") < 200).select(
        "doc_id", F.lit("base").alias("src"), (F.col("doc_id") * 10).alias("val")
    )
    store.write("m", base)
    upd = docs.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 150).alias("doc_id"),
        F.lit("upd").alias("src"),
        ((F.col("doc_id") + 150) * 10 + 1).alias("val"),
    )
    dels = docs.filter((F.col("doc_id") < 250) & (F.col("doc_id") % 10 == 3)).select("doc_id")
    store.merge_upsert("m", upd, key="doc_id", delete_keys=dels)
    return store.read("m")


@q(
    "c9_compacted_partition_read",
    # five delta appends per bucket, compacted, then a pruned read of
    # buckets {2,5} — content must be exactly those buckets' rows no
    # matter how the files were rewritten
    """SELECT doc_id, CAST(doc_id % 8 AS INT) AS bucket
       FROM documents WHERE doc_id < 500 AND doc_id % 8 IN (2, 5)""",
)
def c9_compacted_partition_read(spark, sf_dir):
    """S18 + bucketed reads end-to-end: five appends fragment each
    bucket partition, compact() (the rewrite_data_files analog) rewrites
    the worst partitions, and read_partitions opens ONLY the requested
    buckets' members.  The entry raises if compaction never engaged, so
    the pruned read is provably over rewritten history."""
    from .storage import TableStore

    root = _scratch("c9_store", sf_dir)
    store = TableStore(spark, root)
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("doc_id") % 8).cast("int").alias("bucket"),
    )
    for lo in range(0, 500, 100):
        sl = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 100))
        if store.exists("t"):
            store.append("t", sl, partition_by=["bucket"])
        else:
            store.write("t", sl, partition_by=["bucket"])
    compacted = 0
    while store.compact("t", max_members=2) is not None:
        compacted += 1
    if compacted == 0:
        raise RuntimeError("compaction never engaged — the gate is vacuous")
    return store.read_partitions("t", [2, 5])


@q(
    "a10_approx_distinct",
    # the HLL sketch value itself is engine-specific; the gradable
    # invariants are the exact cardinality (cross-engine) and the
    # sketch's documented error bound on this data
    """SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
              CAST(1 AS BOOLEAN) AS within_5pct
       FROM lineitem""",
)
def a10_approx_distinct(spark, sf_dir):
    """approx_count_distinct (HLL) — the metrics-path cardinality sketch
    (distinct hosts per round, SURVEY.md §2.4 note): the exact count must
    match DuckDB and the sketch must sit within its 5% error bound."""
    return _t(spark, sf_dir, "lineitem").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        (
            F.abs(F.approx_count_distinct("l_partkey") - F.countDistinct("l_partkey"))
            / F.countDistinct("l_partkey")
            < 0.05
        ).alias("within_5pct"),
    )


@q(
    "c10_schema_evolution_scan",
    # round 1 commits doc_id-only rows (< 200); round 2 appends rows in
    # [200, 300) with an evolved gen = doc_id % 7 column.  The current
    # read must null-fill gen on the un-rewritten round-1 segment, and
    # the AS-OF round-1 read must still be the old two-hundred rows
    # (its snapshot-time schema has no gen at all — asserted in-function)
    """SELECT 'evolved' AS probe, doc_id, CAST(NULL AS BIGINT) AS gen
       FROM documents WHERE doc_id < 200
       UNION ALL
       SELECT 'evolved', doc_id, doc_id % 7
       FROM documents WHERE doc_id >= 200 AND doc_id < 300
       UNION ALL
       SELECT 'asof_r1', doc_id, CAST(NULL AS BIGINT)
       FROM documents WHERE doc_id < 200""",
)
def c10_schema_evolution_scan(spark, sf_dir):
    """Iceberg add-column evolution end-to-end through the REAL
    TableStore: commit a doc_id-only snapshot, evolve with
    append(allow_evolution=True) adding gen, then grade (a) the current
    read — old segment null-filled, never rewritten — and (b) the
    time-travel read AS OF round 1, which must serve the snapshot-time
    schema (no gen column; asserted here, value-graded via the twin)."""
    from .storage import TableStore

    root = _scratch("c10_store", sf_dir)
    store = TableStore(spark, root)
    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").cast("long").alias("doc_id"))
    store.append("evo", docs.filter(F.col("doc_id") < 200))
    store.commit_round(1)
    store.append(
        "evo",
        docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 300)).withColumn(
            "gen", F.col("doc_id") % 7
        ),
        allow_evolution=True,
    )
    store.commit_round(2)
    current = store.read("evo").select(F.lit("evolved").alias("probe"), "doc_id", "gen")
    asof = store.read_at("evo", round_id=1)
    if asof.columns != ["doc_id"]:
        raise AssertionError(
            f"read_at(round=1) must serve the snapshot-time schema, got {asof.columns}"
        )
    asof = asof.select(
        F.lit("asof_r1").alias("probe"), "doc_id", F.lit(None).cast("long").alias("gen")
    )
    return current.unionByName(asof)


@q(
    "c11_priority_refresh",
    # construct -> real-operator -> re-derivation oracle (the c3 pattern):
    # page i's in-links come from integer formulas (doc s links to
    # p[(7s)%300], p[(11s)%300], and p[(13s)%300] when s%3=0), so DuckDB
    # recounts the in-degree from the same formulas and restates
    # priority := depth - min(indeg, 3) exactly
    """WITH ids AS (SELECT doc_id AS i FROM documents WHERE doc_id < 300),
       links AS (
         SELECT (7 * i) % 300 AS t FROM ids
         UNION ALL SELECT (11 * i) % 300 FROM ids
         UNION ALL SELECT (13 * i) % 300 FROM ids WHERE i % 3 = 0),
       indeg AS (SELECT t, COUNT(*) AS d FROM links GROUP BY t)
       SELECT 'http://h' || CAST(i % 10 AS VARCHAR) || '.example/p' ||
              CAST(i AS VARCHAR) AS url,
              CAST(i % 4 - LEAST(COALESCE(d, 0), 3) AS INT) AS priority
       FROM ids LEFT JOIN indeg ON indeg.t = ids.i""",
)
def c11_priority_refresh(spark, sf_dir):
    """Frontier priority refresh through the REAL operator
    (frontier.link_indegree_priorities — the between-rounds scheduler
    policy Crawler.reprioritize_from_links merges back, parity-gated in
    tests/test_crawl_parity.py): a 300-row pending frontier plus
    documents whose link spans follow integer formulas; the operator's
    explode -> hash -> count -> join -> depth-min(indeg,cap) pipeline
    must reproduce the analytically restated priorities."""
    from .canon import url_hash_col
    from .frontier import link_indegree_priorities

    ids = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300).select(
        F.col("doc_id").alias("i")
    )
    url = F.concat(
        F.lit("http://h"), (F.col("i") % 10).cast("string"),
        F.lit(".example/p"), F.col("i").cast("string"),
    )
    pending = ids.select(
        url.alias("url"),
        url_hash_col(url).alias("url_hash"),
        (F.col("i") % 4).cast("int").alias("priority"),
        (F.col("i") % 4).cast("int").alias("depth"),
    )
    def link(k: int) -> str:
        t = f"mod({k} * i, 300)"
        return (
            "named_struct('kind', 'link', 'text', concat('http://h', "
            f"cast(mod({t}, 10) as string), '.example/p', "
            f"cast({t} as string)), 'media_ref', '', 'offset', 0)"
        )

    docs = ids.select(
        F.expr(
            f"filter(array({link(7)}, {link(11)}, {link(13)}), "
            "(s, j) -> j < 2 OR mod(i, 3) = 0)"
        ).alias("spans")
    )
    out = link_indegree_priorities(pending, docs, boost_cap=3)
    return out.select("url", "priority")


@q(
    "c12_seed_ingest",
    # ground truth: bootstrap seeds A (doc_id < 200, priority i%4) then a
    # mid-crawl batch B (100 <= j < 350, priority j%5, plus a lower-
    # priority duplicate row for every j%7==0 that the batch-dedup must
    # keep).  The [100,200) overlap is anti-joined out by the seen table;
    # only j >= 200 lands, fetchable next round (next_fetch_time = 1).
    """WITH a AS (SELECT doc_id AS i FROM documents WHERE doc_id < 200),
       b AS (SELECT doc_id AS j FROM documents WHERE doc_id >= 200 AND doc_id < 350)
       SELECT 'http://h' || CAST(i % 10 AS VARCHAR) || '.example/p' ||
              CAST(i AS VARCHAR) AS url,
              CAST(i % 4 AS INT) AS priority,
              'pending' AS state, CAST(0 AS BIGINT) AS next_fetch_time
       FROM a
       UNION ALL
       SELECT 'http://h' || CAST(j % 10 AS VARCHAR) || '.example/p' ||
              CAST(j AS VARCHAR) AS url,
              CAST(j % 5 - CASE WHEN j % 7 = 0 THEN 1 ELSE 0 END AS INT) AS priority,
              'pending' AS state, CAST(1 AS BIGINT) AS next_fetch_time
       FROM b""",
)
def c12_seed_ingest(spark, sf_dir):
    """Mid-crawl seed ingestion through the REAL engine path
    (Crawler.bootstrap -> Crawler.enqueue_seeds on a scratch TableStore —
    the exactly-once sink streaming/ingest.py drains micro-batches into;
    reference analog: new start IDs required a process restart,
    shixin_spider.py:299-312).  The ingested batch overlaps the
    bootstrapped seen set (anti-joined out), carries intra-batch
    duplicates (min-priority dedup), and the surviving rows must land as
    pending frontier rows fetchable next round.  The frontier parquet
    bytes on disk are what get graded."""
    from .crawl import Crawler
    from .round import CrawlConfig

    root = _scratch("c12_store", sf_dir)
    cfg = CrawlConfig(n_hosts=10, page_space=400, use_bloom=False, seen_buckets=4)
    crawler = Crawler(spark, root, cfg)

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("i"))
    url = F.concat(
        F.lit("http://h"), (F.col("i") % 10).cast("string"),
        F.lit(".example/p"), F.col("i").cast("string"),
    )
    seeds_a = ids.filter(F.col("i") < 200).select(
        url.alias("url"), (F.col("i") % 4).cast("int").alias("priority")
    )
    hosts = spark.createDataFrame(
        [(f"h{h}.example", 1, 5, []) for h in range(10)],
        "host string, crawl_delay int, max_concurrent int, disallow_prefixes array<string>",
    )
    crawler.bootstrap(seeds_a, hosts)

    overlap = ids.filter((F.col("i") >= 100) & (F.col("i") < 350))
    batch = overlap.select(
        url.alias("url"), (F.col("i") % 5).cast("int").alias("priority")
    ).unionByName(
        overlap.filter(F.col("i") % 7 == 0).select(
            url.alias("url"), (F.col("i") % 5 - 1).cast("int").alias("priority")
        )
    )
    n_new = crawler.enqueue_seeds(batch)
    if n_new != 150:
        raise AssertionError(f"expected 150 new seeds, enqueued {n_new}")
    return crawler.store.read("frontier").select(
        "url", "priority", "state", "next_fetch_time"
    )


@q(
    "c13_mor_delete_scan",
    # ground truth for the merge-on-read delete ladder: seg A (i%3=0,'a'),
    # append seg B (i%3=1,'b'), equality-delete keys i%5=0 (suppresses
    # only the two OLDER segments), then append seg C = i%3=2,'c' plus
    # re-inserts of the deleted i%15=0 keys as 'r' — newer than the
    # delete, so visible.  DuckDB restates the surviving rows directly.
    """WITH ids AS (SELECT doc_id AS i FROM documents WHERE doc_id < 300)
       SELECT i AS doc_id, 'a' AS gen FROM ids WHERE i % 3 = 0 AND i % 5 <> 0
       UNION ALL SELECT i, 'b' FROM ids WHERE i % 3 = 1 AND i % 5 <> 0
       UNION ALL SELECT i, 'c' FROM ids WHERE i % 3 = 2
       UNION ALL SELECT i, 'r' FROM ids WHERE i % 15 = 0""",
)
def c13_mor_delete_scan(spark, sf_dir):
    """Iceberg-v2 equality deletes end-to-end through the REAL TableStore
    (storage.delete_rows): the delete commits ONLY a key segment —
    no data member is read or rewritten (O(keys) at any table size, the
    GDPR-takedown / dedup-purge shape) — and readers apply it by the
    sequence rule, so keys re-inserted by a later append stay visible.
    The parquet bytes on disk are what get graded."""
    from .storage import TableStore

    root = _scratch("c13_store", sf_dir)
    store = TableStore(spark, root)
    ids = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    store.write("docs", ids.filter(F.col("doc_id") % 3 == 0).withColumn("gen", F.lit("a")))
    store.append("docs", ids.filter(F.col("doc_id") % 3 == 1).withColumn("gen", F.lit("b")))
    n_members_before = len(store._manifest("docs")["members"])
    store.delete_rows("docs", ids.filter(F.col("doc_id") % 5 == 0), "doc_id")
    if len(store._manifest("docs")["members"]) != n_members_before:
        raise AssertionError("delete must not touch data members (merge-on-read)")
    store.append(
        "docs",
        ids.filter(F.col("doc_id") % 3 == 2).withColumn("gen", F.lit("c")).unionByName(
            ids.filter(F.col("doc_id") % 15 == 0).withColumn("gen", F.lit("r"))
        ),
    )
    return store.read("docs").select("doc_id", "gen")


@q(
    "c14_stats_skip_scan",
    # ground truth: three range-clustered appends ([0,100), [100,200),
    # [200,300) tagged s0/s1/s2) then the range scan [110, 250] — only
    # the s1/s2 members intersect (the entry RAISES if the s0 member was
    # not skipped at the manifest level), and the exact filter restates
    """SELECT doc_id, 's1' AS gen FROM documents
       WHERE doc_id >= 110 AND doc_id < 200
       UNION ALL
       SELECT doc_id, 's2' FROM documents
       WHERE doc_id >= 200 AND doc_id <= 250""",
)
def c14_stats_skip_scan(spark, sf_dir):
    """Column-stats file skipping end-to-end through the REAL TableStore
    (storage.read_range): each range-clustered append records its
    member's [min, max] doc_id in the manifest (Iceberg column-stats
    analog) and the range scan opens only intersecting members — at
    100 TB a narrow id/time range touches O(1) members.  The parquet
    bytes on disk are what get graded."""
    from .storage import TableStore

    root = _scratch("c14_store", sf_dir)
    store = TableStore(spark, root)
    ids = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    for j in range(3):
        store.append(
            "docs",
            ids.filter(
                (F.col("doc_id") >= 100 * j) & (F.col("doc_id") < 100 * (j + 1))
            ).withColumn("gen", F.lit(f"s{j}")),
            stats_col="doc_id",
        )
    kept = store.range_members("docs", "doc_id", 110, 250)
    if len(kept) != 2:
        raise AssertionError(
            f"stats skipping did not engage: {len(kept)} members kept, expected 2"
        )
    return store.read_range("docs", "doc_id", 110, 250).select("doc_id", "gen")


@q(
    "f20_sitemap_parse",
    # construct -> parse identity: each doc becomes a sitemap with one
    # prioritized <url> (priority '0.{i%9}' -> rank round(10*(1-p))) and
    # one bare <url> (protocol default 0.5 -> rank 5), plus a malformed
    # block the parser must DROP, not error on
    """WITH ids AS (SELECT doc_id AS i FROM documents WHERE doc_id < 200)
       SELECT 'http://h' || CAST(i % 10 AS VARCHAR) || '.example/p' ||
              CAST(i AS VARCHAR) AS url,
              CAST(ROUND(10 * (1 - CAST('0.' || CAST(i % 9 AS VARCHAR) AS DOUBLE)))
                   AS INT) AS priority
       FROM ids
       UNION ALL
       SELECT 'http://h' || CAST((i + 1) % 10 AS VARCHAR) || '.example/p' ||
              CAST(i + 100 AS VARCHAR), 5
       FROM ids""",
)
def f20_sitemap_parse(spark, sf_dir):
    """sitemap.xml ingestion (robots.sitemap_seeds): the standards-based
    bulk seed channel feeding Crawler.enqueue_seeds — all-JVM block
    split + per-block loc/priority extraction, junk blocks dropped.
    Sitemap float priority maps onto the frontier's ascending integer
    rank; absent priority takes the protocol's 0.5 default."""
    from .robots import sitemap_seeds

    ids = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200).select(
        F.col("doc_id").alias("i")
    )
    # pretty-printed (newlines inside <url> blocks, whitespace padding
    # around the <loc> value): the standard real-world sitemap form —
    # exercises the (?s) DOTALL block split and the <loc> trim (ADVICE r4)
    xml = F.concat(
        F.lit("<urlset>\n  <url>\n    <loc> http://h"),
        (F.col("i") % 10).cast("string"),
        F.lit(".example/p"), F.col("i").cast("string"),
        F.lit(" </loc>\n    <priority>0."), (F.col("i") % 9).cast("string"),
        F.lit("</priority>\n  </url>\n  <url>\n    <loc>\n      http://h"),
        ((F.col("i") + 1) % 10).cast("string"),
        F.lit(".example/p"), (F.col("i") + 100).cast("string"),
        F.lit("\n    </loc>\n  </url>\n  "
              "<url><changefreq>daily</changefreq></url>\n</urlset>"),
    )
    return sitemap_seeds(ids.select(xml.alias("sitemap_xml")))


@q(
    "f23_sitemap_index",
    # construct -> expand -> parse identity: host i publishes a
    # <sitemapindex> listing 1 + i%2 child sitemaps; child (i, c) holds
    # one prioritized url (priority '0.{(i+c)%9}') and one bare url
    # (protocol default -> rank 5) — the expansion is ONE fetch hop, so
    # the twin enumerates (i, c) pairs directly
    """WITH ids AS (SELECT doc_id AS i FROM documents WHERE doc_id < 60),
       pairs AS (SELECT i, unnest(generate_series(0, 1 + i % 2)) AS c
                 FROM ids)
       SELECT 'http://h' || CAST(i AS VARCHAR) || '.example/c' ||
              CAST(c AS VARCHAR) || '_p0' AS url,
              CAST(ROUND(10 * (1 - CAST('0.' || CAST((i + c) % 9 AS VARCHAR)
                   AS DOUBLE))) AS INT) AS priority
       FROM pairs
       UNION ALL
       SELECT 'http://h' || CAST(i AS VARCHAR) || '.example/c' ||
              CAST(c AS VARCHAR) || '_p1', 5
       FROM pairs""",
)
def f23_sitemap_index(spark, sf_dir):
    """Two-level sitemap discovery (robots.sitemap_index_urls +
    sitemap_seeds): large sites publish a <sitemapindex> of child
    sitemaps (up to 50k each), so bulk seed discovery is index parse ->
    ONE fetch hop -> per-child <urlset> parse.  The protocol forbids
    nested indexes, so the expansion is a single equi-join, not a
    fixpoint — here the fetch hop IS the join between the expanded
    child URLs and the (constructed) child documents, and both parse
    stages run the real (?s)/trim/priority-coalesce ladder over
    pretty-printed XML with a malformed block per level that must be
    DROPPED, not errored on.  At 100 TB of sitemaps: two codegen'd
    regexp projections and one hash join, no python."""
    from .robots import sitemap_index_urls, sitemap_seeds

    ids = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60).select(
        F.col("doc_id").alias("i")
    )
    pairs = ids.select(
        "i", F.explode(F.sequence(F.lit(0), 1 + F.col("i") % 2)).alias("c")
    )
    child_url = F.concat(
        F.lit("http://h"), F.col("i").cast("string"),
        F.lit(".example/sm"), F.col("c").cast("string"), F.lit(".xml"),
    )
    child_xml = F.concat(
        F.lit("<urlset>\n  <url>\n    <loc> http://h"),
        F.col("i").cast("string"),
        F.lit(".example/c"), F.col("c").cast("string"),
        F.lit("_p0 </loc>\n    <priority>0."),
        ((F.col("i") + F.col("c")) % 9).cast("string"),
        F.lit("</priority>\n  </url>\n  <url>\n    <loc>\n      http://h"),
        F.col("i").cast("string"),
        F.lit(".example/c"), F.col("c").cast("string"),
        F.lit("_p1\n    </loc>\n  </url>\n  "
              "<url><changefreq>daily</changefreq></url>\n</urlset>"),
    )
    children = pairs.select(child_url.alias("url"), child_xml.alias("sitemap_xml"))
    index_block = F.concat(
        F.lit("  <sitemap>\n    <loc> "), child_url, F.lit(" </loc>\n"
              "    <lastmod>2026-01-01</lastmod>\n  </sitemap>"),
    )
    index_xml = pairs.select("i", index_block.alias("b")).groupBy("i").agg(
        F.concat(
            F.lit("<sitemapindex>\n"),
            F.concat_ws("\n", F.collect_list("b")),
            # a malformed index entry (no <loc>) the expander must drop
            F.lit("\n  <sitemap><lastmod>junk</lastmod></sitemap>\n"
                  "</sitemapindex>"),
        ).alias("sitemap_xml")
    )
    expanded = sitemap_index_urls(index_xml)  # the child-sitemap fetch list
    fetched = expanded.join(children, "url")  # the one fetch hop
    return sitemap_seeds(fetched.select("sitemap_xml"))


@q(
    "c17_foreign_sink_upsert",
    # first-wins keyed upsert is exactly GROUP BY key + MIN(payload):
    # the sink's job-level dedup picks the payload-minimal representative
    # and the store's unique-key skip makes re-sends no-ops, so the
    # operational store's final contents are SQL-expressible
    """SELECT doc_id % 200 AS k, MIN(doc_id) AS first_doc
       FROM documents WHERE doc_id < 1000 GROUP BY doc_id % 200""",
)
def c17_foreign_sink_upsert(spark, sf_dir):
    """S5/S10 as a CONNECTOR (sinks.write_foreign): push 1000 doc rows
    with colliding keys (doc_id % 200 — 5 contenders per key) through the
    per-partition batched keyed-upsert sink into a real cross-process
    unique-key store (O_EXCL file-per-key = the reference's INSERT IGNORE
    race, db_config.py:16-61 / phone_book.py:219-221), then read the
    store back and grade its contents against the first-wins SQL twin.
    Exercises the executor-side client lifecycle, batching, job-level
    dedup, and the idempotence accounting (written == distinct keys)."""
    from .sinks import FileBackedKeyStore, write_foreign

    root = _scratch("c17_sink", sf_dir)

    df = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 1000)
        .select(
            (F.col("doc_id") % 200).alias("k"),
            F.col("doc_id").alias("first_doc"),
        )
        .repartition(8)
    )
    n_written = write_foreign(
        df, lambda pid: FileBackedKeyStore(root, "k"), key="k", batch_size=64
    )
    rows = [
        (int(r["k"]), int(r["first_doc"]))
        for r in FileBackedKeyStore(root, "k").read_all()
    ]
    if n_written != len(rows):
        raise AssertionError(
            f"sink accounting broken: reported {n_written}, stored {len(rows)}"
        )
    return spark.createDataFrame(rows, "k long, first_doc long")


def _c18_sql() -> str:
    from .functions.zorder import z_sql

    return f"""WITH pts AS (
         SELECT doc_id, doc_id % 256 AS x, (7 * doc_id) % 256 AS y
         FROM documents)
       SELECT doc_id, x, y, {z_sql('x', 'y')} AS z
       FROM pts
       WHERE x BETWEEN 32 AND 95 AND y BETWEEN 64 AND 127"""


@q(
    "c18_zorder_scan",
    # ground truth is z-independent: the box filter restated over the
    # same (x, y) derivation, PLUS the z column itself re-derived by the
    # identical bit-interleave formula (z_sql) — grading both the Morton
    # math and that the pruned scan lost no box rows
    _c18_sql(),
)
def c18_zorder_scan(spark, sf_dir):
    """Z-order clustering + 2-D stats skipping end-to-end through the
    REAL TableStore (the Delta OPTIMIZE ZORDER analog): points
    (x, y) = (doc_id % 256, 7*doc_id % 256) get a Morton z-value
    (functions/zorder.py, pure JVM bit math), segments are appended
    range-clustered by z QUARTILE with stats_col="z", and the 2-D box
    query [32,95]x[64,127] scans only the segments whose z-interval
    intersects the box's conservative z-span [z(32,64), z(95,127)] =
    [9216, 15359] — which lies entirely inside quartile 0, so the entry
    RAISES unless exactly 1 of the 4 members survives the manifest
    prune.  One stats column serves both query dimensions; at 100 TB a
    box query opens O(box) segments instead of a full scan.  The exact
    box filter is re-applied after the pruned scan (stats prune, never
    answer).  The parquet bytes on disk are what get graded."""
    from .functions.zorder import z_box_bounds, z_value
    from .storage import TableStore

    root = _scratch("c18_store", sf_dir)
    store = TableStore(spark, root)
    pts = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("doc_id") % 256).cast("long").alias("x"),
        ((F.lit(7) * F.col("doc_id")) % 256).cast("long").alias("y"),
    )
    pts = pts.withColumn("z", z_value("x", "y", bits=8))
    quart = 1 << 14  # z < 2**16 for 8-bit coords
    for j in range(4):
        seg = pts.filter((F.col("z") >= j * quart) & (F.col("z") < (j + 1) * quart))
        if seg.isEmpty():
            raise AssertionError(f"z quartile {j} is empty — clustering vacuous")
        store.append("pts", seg, stats_col="z")
    zlo, zhi = z_box_bounds(32, 64, 95, 127, bits=8)
    kept = store.range_members("pts", "z", zlo, zhi)
    if len(kept) != 1:
        raise AssertionError(
            f"z-stats skipping did not engage: {len(kept)} members kept, expected 1"
        )
    return (
        store.read_range("pts", "z", zlo, zhi)
        .filter(F.col("x").between(32, 95) & F.col("y").between(64, 127))
        .select("doc_id", "x", "y", "z")
    )


@q(
    "c23_incremental_agg",
    # ground truth: a FULL recompute over the same slice — the maintained
    # aggregate (base snapshot agg + delta agg, combined) must equal it
    """SELECT o_orderstatus AS status,
              COUNT(*) AS n_orders,
              CAST(SUM(CAST(FLOOR(o_totalprice * 1000) AS BIGINT)) AS BIGINT)
                  AS total_mil
       FROM orders WHERE o_orderkey < 3000
       GROUP BY o_orderstatus""",
)
def c23_incremental_agg(spark, sf_dir):
    """Incremental materialized-aggregate maintenance — the lakehouse
    pattern that makes a 100 TB rollup affordable: instead of
    re-scanning every snapshot after each append, read the aggregate's
    BASE snapshot (time-travel to round 1) once, scan ONLY the rows
    appended since (read_changes = manifest member-set difference,
    O(delta) I/O), aggregate the delta, and COMBINE partials — count
    adds, sum adds.  The combine step touches |groups| x 2 rows
    regardless of history depth.  Store rebuilt per call in a scratch
    dir (c4 precedent); the parquet bytes on disk are what get graded.
    The summand is floor(price*1000) as BIGINT so the
    maintained sum is accumulation-order independent and hashes
    exactly against the full-recompute twin.  Reference analog: the
    crawler's per-status report tables are recomputed per run
    (check_spider.py report queries); this is the form that survives a
    10^10-row fact table."""
    from .storage import TableStore

    root = _scratch("c23_store", sf_dir)
    store = TableStore(spark, root)
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000).select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 1000).cast("long").alias("price_mil"),
    )
    for rnd in (1, 2, 3):
        store.append("fact", orders.filter(F.col("o_orderkey") % 3 == rnd - 1))
        store.commit_round(rnd)

    def agg(df):
        return df.groupBy(F.col("o_orderstatus").alias("status")).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_mil").alias("total_mil"),
        )

    base = agg(store.read_at("fact", round_id=1))
    delta = agg(store.read_changes("fact", since_round=1, until_round=3))
    return (
        base.unionByName(delta)
        .groupBy("status")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_mil").cast("long").alias("total_mil"),
        )
    )


@q(
    "c24_count_pushdown",
    # ground truth: a real COUNT over the same slice — the metadata
    # answer (summed member footer counts) must equal the scan
    """SELECT o_orderstatus AS status, COUNT(*) AS n_orders
       FROM orders WHERE o_orderkey < 4000
       GROUP BY o_orderstatus""",
)
def c24_count_pushdown(spark, sf_dir):
    """Iceberg COUNT-pushdown: a per-partition census answered ENTIRELY
    from manifest metadata — parquet footer counts recorded at write
    time, summed at read time; zero data pages opened, zero Spark jobs.
    The store is built with three partitioned appends so each status
    member accumulates across segments, then count_rows() answers per
    partition value and the twin recomputes by scanning — grading that
    the metadata never drifts from the bytes.  At 10^10 rows this is
    the difference between a JSON read and a full-table scan for every
    monitoring query the crawl dashboard issues per round (the
    reference re-SELECTs COUNT(*) from MySQL per status,
    check_spider.py report queries).  count_rows REFUSES when
    merge-on-read deletes are pending (metadata would overstate) —
    tests/test_count_pushdown.py gates the refusal and the
    compact()-restores-answerability path."""
    from .storage import TableStore

    root = _scratch("c24_store", sf_dir)
    store = TableStore(spark, root)
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 4000).select(
        "o_orderkey", "o_orderstatus"
    )
    for rnd in (1, 2, 3):
        store.append(
            "fact",
            orders.filter(F.col("o_orderkey") % 3 == rnd - 1),
            partition_by=["o_orderstatus"],
        )
    vals = sorted(
        {m["value"] for m in store._manifest("fact")["members"]},
        key=lambda v: (v is None, v),
    )
    rows = [(v, store.count_rows("fact", values=[v])) for v in vals]
    return spark.createDataFrame(rows, "status string, n_orders bigint")


@q(
    "c25_spec_evolution",
    # ground truth: the evolved table must serve exactly the documents
    # rows — a residual-filtered partition read of lang='es' and the
    # full read, regardless of which members predate the spec
    """SELECT 'part' AS probe, doc_id FROM documents WHERE lang = 'es'
       UNION ALL
       SELECT 'full' AS probe, doc_id FROM documents""",
)
def c25_spec_evolution(spark, sf_dir):
    """Iceberg partition-spec evolution on real store bytes: two
    UNPARTITIONED appends (even doc_ids), a METADATA-ONLY
    evolve_partition_spec('lang') commit (no file rewritten — the entry
    RAISES if the member set changes), then a partitioned append (odd
    doc_ids).  The graded reads mix both generations: read_partitions
    residual-filters the pre-spec members (their rows span every lang)
    while pruning the post-spec members at the manifest — the entry
    RAISES unless the file set read for lang='es' is exactly all
    pre-spec members + the one lang=es subdir.  This is how a 100 TB
    table adopts partitioning mid-life without the O(table) rewrite;
    compact() migrates the old generation incrementally
    (tests/test_spec_evolution.py gates the migration)."""
    from .storage import TableStore

    root = _scratch("c25_store", sf_dir)
    store = TableStore(spark, root)
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang"
    )
    store.append("docs", docs.filter(F.col("doc_id") % 4 == 0))
    store.append("docs", docs.filter(F.col("doc_id") % 4 == 2))
    before = {m["path"] for m in store._manifest("docs")["members"]}
    store.evolve_partition_spec("docs", "lang")
    after = {m["path"] for m in store._manifest("docs")["members"]}
    if after != before:
        raise RuntimeError("spec evolution rewrote data — must be metadata-only")
    store.append("docs", docs.filter(F.col("doc_id") % 2 == 1))
    files = store.partition_files("docs", ["es"])
    n_pre = sum(1 for f in files if "lang=" not in f)
    n_post = sum(1 for f in files if "lang=" in f)
    bad = [f for f in files if "lang=" in f and "lang=es" not in f]
    if n_pre != 2 or n_post != 1 or bad:
        raise RuntimeError(
            f"partition prune wrong: pre={n_pre} post={n_post} bad={bad}"
        )
    part = store.read_partitions("docs", ["es"]).select(
        F.lit("part").alias("probe"), "doc_id"
    )
    full = store.read("docs").select(F.lit("full").alias("probe"), "doc_id")
    return part.unionByName(full)


@q(
    "c26_table_history",
    # the audit trail of a 5-commit lifecycle, restated analytically:
    # history reports PHYSICAL metadata (footer row counts as written —
    # logically-deleted rows still count until compact materializes),
    # so every cell is a function of the documents census
    """WITH n AS (SELECT
         CAST(SUM(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(COUNT(*) AS BIGINT) AS total
       FROM documents)
       SELECT 0 AS version, 1 AS members, a AS rows, 0 AS deletes,
              0 AS current FROM n
       UNION ALL SELECT 1, 2, a + b, 0, 0 FROM n
       UNION ALL SELECT 2, 3, total, 0, 0 FROM n
       UNION ALL SELECT 3, 3, total, 1, 0 FROM n
       UNION ALL SELECT 4, 1, total - 5, 0, 1 FROM n""",
)
def c26_table_history(spark, sf_dir):
    """Snapshot-history introspection (storage.history — the Iceberg
    ``table.history``/``snapshots`` metadata-table analog): one record
    per manifest, METADATA-ONLY (JSON reads, zero parquet I/O) — the
    audit surface a compliance review reads before touching data.  The
    lifecycle graded: write, two appends, a merge-on-read equality
    delete (physical rows unchanged — history must NOT silently apply
    it), and a compaction that materializes the delete (rows drop by the
    5 deleted keys, the delete segment retires).  Every cell is
    re-derived by the twin from the documents census."""
    from .storage import TableStore

    root = _scratch("c26_store", sf_dir)
    store = TableStore(spark, root)
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang"
    )
    store.append("t", docs.filter(F.col("doc_id") % 4 == 0))
    store.append("t", docs.filter(F.col("doc_id") % 4 == 1))
    store.append("t", docs.filter(F.col("doc_id") % 4 >= 2))
    store.delete_rows(
        "t", spark.range(0, 5).select(F.col("id").alias("doc_id")), "doc_id"
    )
    store.compact("t", max_members=2)
    rows = [
        (h["version"], h["members"], h["rows"], h["deletes"], int(h["current"]))
        for h in store.history("t")
    ]
    return spark.createDataFrame(
        rows, "version int, members int, rows bigint, deletes int, current int"
    )


@q(
    "c30_files_metadata",
    # ground truth: two partitioned appends of doc_id slices (< 200,
    # then [200, 300)) by doc_id % 4, column stats attached to the
    # second — the files metadata table must report one member per
    # (append, partition) with the exact footer row count and stats
    # coverage, all re-derivable from the slice formulas
    """SELECT 'seg0000' || CAST(v AS VARCHAR) || '/part=' || CAST(p AS VARCHAR) AS path,
              CAST(v AS INT) AS seq,
              CAST(p AS VARCHAR) AS part,
              COUNT(*) AS n_rows,
              CASE WHEN v = 1 THEN 'doc_id' ELSE '' END AS stats_cols
       FROM (SELECT doc_id,
                    CASE WHEN doc_id < 200 THEN 0 ELSE 1 END AS v,
                    doc_id % 4 AS p
             FROM documents WHERE doc_id < 300)
       GROUP BY v, p""",
)
def c30_files_metadata(spark, sf_dir):
    """Data-file census as a queryable DataFrame (storage.files — the
    Iceberg ``t.files`` metadata-table analog): per member, its path,
    write sequence, partition value, footer row count, and stats
    coverage, built from manifest JSON with ZERO parquet I/O.  This is
    the planning surface maintenance queries run at 100 TB — small-file
    reports, compaction victim selection, stats-coverage audits — and
    grading it certifies the manifest's physical bookkeeping (footer
    counts, hive partition paths, stats attachment) against ground
    truth re-derived from the slice formulas."""
    from .storage import TableStore

    root = _scratch("c30_store", sf_dir)
    store = TableStore(spark, root)
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("doc_id") % 4).cast("long").alias("part"),
    )
    store.append("files_t", docs.filter(F.col("doc_id") < 200), partition_by=["part"])
    store.append(
        "files_t",
        docs.filter(F.col("doc_id") >= 200),
        partition_by=["part"],
        stats_col="doc_id",
    )
    return store.files("files_t").select(
        "path",
        "seq",
        "part",
        F.col("rows").alias("n_rows"),
        F.concat_ws(",", "stats_cols").alias("stats_cols"),
    )


@q(
    "c31_incremental_join_view",
    # ground truth: the maintained join view after two rounds must equal
    # the full A-join-B recompute — A covers doc_id < 300 (base < 200,
    # delta [200,300)), B covers [0,50) u [100,300) (base [100,250),
    # delta [250,300) u [0,50)) — so the view is exactly the id
    # intersection with each side's payload columns
    """SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars2
       FROM documents
       WHERE doc_id < 300 AND (doc_id < 50 OR doc_id >= 100)""",
)
def c31_incremental_join_view(spark, sf_dir):
    """Incremental maintenance of a materialized JOIN view over two
    independently-appending store tables — the delta-join identity
    d(A JOIN B) = dA JOIN B_new  UNION  A_old JOIN dB (every new pair
    contains a delta row from at least one side; pairs (dA, dB) land
    exactly once, in the first term).  The deltas come from the REAL
    read_changes incremental scan (O(delta) I/O) and the old snapshot
    from read_at, so maintaining the view after a round costs
    O(|dA| + |dB|) joins against indexed sides instead of re-joining
    two 100 TB tables — the derived-table refresh pattern every
    training-data pipeline runs between crawl rounds.  The entry RAISES
    unless the incrementally-maintained view is row-identical to the
    full recompute (exceptAll both directions), then grades the view's
    content against the slice-formula twin."""
    from .storage import TableStore

    root = _scratch("c31_store", sf_dir)
    store = TableStore(spark, root)
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    a_all = docs.select(F.col("doc_id").cast("long").alias("doc_id"), "lang")
    b_all = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length("text").cast("long").alias("n_chars2"),
    )
    # round 1: bases + the initial view
    store.append("a", a_all.filter(F.col("doc_id") < 200))
    store.append("b", b_all.filter(F.col("doc_id").between(100, 249)))
    store.append("view", store.read("a").join(store.read("b"), "doc_id"))
    store.commit_round(1)
    # round 2: both sides append independently
    store.append("a", a_all.filter(F.col("doc_id") >= 200))
    store.append(
        "b", b_all.filter((F.col("doc_id") >= 250) | (F.col("doc_id") < 50))
    )
    store.commit_round(2)
    # incremental refresh from the REAL change scans
    da = store.read_changes("a", since_round=1)
    db = store.read_changes("b", since_round=1)
    a_old = store.read_at("a", round_id=1)
    b_new = store.read("b")
    delta_view = da.join(b_new, "doc_id").unionByName(
        a_old.join(db, "doc_id").select(da.join(b_new, "doc_id").columns)
    )
    store.append("view", delta_view)
    view = store.read("view")
    full = store.read("a").join(store.read("b"), "doc_id")
    if view.exceptAll(full).count() != 0 or full.exceptAll(view).count() != 0:
        raise AssertionError("incremental view diverged from full recompute")
    return view.select("doc_id", "lang", "n_chars2")
