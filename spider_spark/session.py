"""SparkSession factory tuned for the crawl engine.

Local-mode settings mirror what we would set on a real cluster: AQE on
(runtime skew-join + partition coalescing), Arrow on (all Python UDFs are
vectorized), shuffle partitions sized to cores (not the 200 default),
UTC session timezone so results compare bit-for-bit with the DuckDB
oracle.

The settings live in one place, ``ENGINE_CONF``: ``get_spark`` adds the
master and the local sizing, and ``submit_spark`` (the spark-submit
driver, ``scripts/submit_crawl.py``) applies them under whatever master
spark-submit chose.

Codegen cache rule: one operation's generated classes must fit in
``spark.sql.codegen.cache.maxEntries`` (``CODEGEN_CACHE_ENTRIES``).
Measured with ``CodegenMetrics``: a warm perfbench ``wave_dedup`` op
needs ~110 cache entries and a crawl round ~105 (local mode caches each
class twice, once per driver and task classloader).  At Spark's default
LRU of 100 entries every op recompiled nearly all of them: 0.5-1.0 s of
Janino compile per op, plus cold un-JITted code.  Check the rule with
compile counts (``tests/test_session.py``), not timings.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Whole-stage codegen cache size (a static conf: it only takes effect
# when the first session starts).  Measured per-op working sets: ~110
# entries per warm wave_dedup op, ~105 per crawl round.  The cache is an
# LRU, and replaying a cyclic working set just above its capacity evicts
# each class shortly before it is needed again, so at Spark's default of
# 100 every op recompiled nearly all of its classes.
CODEGEN_CACHE_ENTRIES = 1000

# Every engine setting except the master and the local sizing.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # classic (non-ANSI) eval: permissive casts like the reference's
    # string-everything row model (SURVEY.md §1.4) and DuckDB's try-ish
    # behavior on the oracle side.
    "spark.sql.ansi.enabled": "false",
    "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
}


def local_slots(master: str) -> int | None:
    """Task slots of a ``local[N]`` / ``local[*]`` master; None for any
    other master (a cluster sizes its own parallelism)."""
    if not master.startswith("local["):
        return None
    inner = master[len("local[") : master.find("]")]
    return os.cpu_count() if inner == "*" else int(inner)


def get_spark(
    app_name: str = "spider_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPIDER_SPARK_MASTER", "local[4]")
    if shuffle_partitions is None:
        # match parallelism: local[N] -> N, local[*] -> cpu count
        shuffle_partitions = max(4, local_slots(master) or 4)
    conf = {
        **ENGINE_CONF,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.default.parallelism": str(shuffle_partitions),
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPIDER_SPARK_DRIVER_MEM", "8g"),
        **(extra_conf or {}),
    }
    spark = SparkSession.builder.master(master).appName(app_name).config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def submit_spark(app_name: str) -> SparkSession:
    """The engine's session in a spark-submit driver: ``ENGINE_CONF`` with
    no master, so spark-submit's ``--master``, driver memory and UI
    settings win.  Unless ``--conf`` sets it, a local master's shuffle is
    sized to its slots, like ``get_spark``; on a cluster AQE coalesces
    the deployment's shuffle partitions at runtime."""
    spark = SparkSession.builder.appName(app_name).config(map=ENGINE_CONF).getOrCreate()
    slots = local_slots(spark.sparkContext.master)
    if slots is not None and not spark.sparkContext.getConf().contains(
        "spark.sql.shuffle.partitions"
    ):
        spark.conf.set("spark.sql.shuffle.partitions", str(max(4, slots)))
    spark.sparkContext.setLogLevel("WARN")
    return spark
