"""The session factory: one set of engine settings, and a codegen cache
that holds an operation's working set of generated classes."""

from __future__ import annotations

import ast
import os

from pyspark.sql import functions as F

from spider_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _compiles(spark) -> int:
    """Classes Spark has compiled in this JVM (one per codegen-cache miss)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_working_set_above_100_classes(spark):
    """One pass of 120 distinct generated classes, run twice: the second
    pass must hit the cache.  At Spark's default of 100 entries the LRU
    misses on nearly every lookup of a cyclic working set just above its
    capacity, and the second pass recompiles about as much as the first.
    ``toRdd()`` generates and compiles the whole-stage code without
    running a job; the long literal is inlined into the generated Java,
    so each projection is its own class.  Counts only, never time."""

    def one_pass() -> int:
        c0 = _compiles(spark)
        for i in range(120):
            q = spark.range(1).select((F.col("id") + F.lit(7_000_000_000 + i)).alias("x"))
            q._jdf.queryExecution().toRdd()
        return _compiles(spark) - c0

    first = one_pass()
    second = one_pass()
    assert first >= 100, first
    assert second < first / 10, (first, second)


def test_live_session_carries_the_engine_settings(spark):
    assert session.CODEGEN_CACHE_ENTRIES >= 1000
    assert session.ENGINE_CONF["spark.sql.ansi.enabled"] == "false"
    assert session.ENGINE_CONF["spark.sql.session.timeZone"] == "UTC"
    assert session.ENGINE_CONF["spark.sql.codegen.cache.maxEntries"] == str(
        session.CODEGEN_CACHE_ENTRIES
    )
    conf = spark.sparkContext.getConf()
    for k, v in session.ENGINE_CONF.items():
        assert conf.get(k) == v, k


def test_submit_crawl_builds_its_session_through_the_factory(spark):
    """spark-submit's driver gets the engine settings from session.py
    (no second copy, no bare SparkSession.builder), with no master of
    its own.  ``submit_spark`` joins the running session here (no new
    SparkContext) and keeps a shuffle size that was already set."""
    assert session.submit_spark("submit_under_test") is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    with open(os.path.join(ROOT, "scripts", "submit_crawl.py")) as f:
        tree = ast.parse(f.read())
    imports = {
        (node.module, alias.name)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        for alias in node.names
    }
    assert ("spider_spark.session", "submit_spark") in imports
    calls = [
        n.func.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
    ]
    assert "submit_spark" in calls
    attrs = {n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)}
    assert not attrs & {"builder", "master", "config"}
    names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    assert "SparkSession" not in names


def test_local_slots():
    assert session.local_slots("local[3]") == 3
    assert session.local_slots("local[*]") == os.cpu_count()
    assert session.local_slots("yarn") is None
    assert session.local_slots("spark://h:7077") is None
