from __future__ import annotations

import os

SF_DIR = "/root/testdata/sf0.001"


def _events_dir(tmp_path) -> str:
    """Spark's file-stream source requires a DIRECTORY; stage the events
    parquet into one via symlink."""
    d = tmp_path / "events_src"
    d.mkdir(exist_ok=True)
    link = d / "events.parquet"
    if not link.exists():
        os.symlink(f"{SF_DIR}/events.parquet", link)
    return str(d)


def test_windowed_counts_stream_equals_batch(spark, tmp_path):
    from spider_spark.streaming.windows import (
        windowed_event_counts_batch,
        windowed_event_counts_stream,
    )

    path = _events_dir(tmp_path)
    got = windowed_event_counts_stream(spark, path, str(tmp_path))
    exp = windowed_event_counts_batch(spark, path)
    g = {(r["window_start"], r["event_type"]): r["n"] for r in got.collect()}
    e = {(r["window_start"], r["event_type"]): r["n"] for r in exp.collect()}
    assert g == e and len(g) > 0


def test_streaming_dedup_keeps_one_per_key(spark, tmp_path):
    from spider_spark.streaming.windows import streaming_dedup

    path = _events_dir(tmp_path)
    got = streaming_dedup(spark, path, str(tmp_path), keys=["user_id", "event_type"])
    n_keys = (
        spark.read.parquet(path).select("user_id", "event_type").distinct().count()
    )
    assert got.select("user_id", "event_type").distinct().count() == got.count()
    # availableNow over one static batch: every key appears exactly once
    assert got.count() == n_keys


def test_stream_static_join_equals_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from spider_spark.streaming.windows import stream_static_join_counts

    path = _events_dir(tmp_path)
    dim = (
        spark.read.parquet(f"{SF_DIR}/customer.parquet")
        .select(
            F.col("c_custkey").cast("long").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    got = stream_static_join_counts(spark, path, dim, str(tmp_path / "cp_ss"))
    exp = (
        spark.read.parquet(path)
        .join(dim, "user_id", "inner")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    g = {(r["segment"], r["n"]) for r in got.collect()}
    e = {(r["segment"], r["n"]) for r in exp.collect()}
    assert g == e and len(g) > 0


def test_stream_stream_join_equals_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from spider_spark.streaming.windows import stream_stream_join_pairs

    path = _events_dir(tmp_path)
    got = stream_stream_join_pairs(spark, path, str(tmp_path / "cp_ssj"))
    ev = spark.read.parquet(path).withColumn("ts", F.col("ts").cast("timestamp"))
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("l_id"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("l_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("r_id"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("r_ts"),
    )
    exp = v.join(
        c,
        (v["u"] == c["u"])
        & (c["r_ts"] >= v["l_ts"])
        & (c["r_ts"] <= v["l_ts"] + F.expr("interval 30 minutes")),
        "inner",
    ).select("l_id", "r_id")
    g = {(r["l_id"], r["r_id"]) for r in got.collect()}
    e = {(r["l_id"], r["r_id"]) for r in exp.collect()}
    assert g == e and len(g) > 0


def test_stateful_running_counts_match_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from spider_spark.streaming.windows import stateful_running_counts

    path = _events_dir(tmp_path)
    got = stateful_running_counts(spark, path, str(tmp_path / "cp"))
    # 'update' mode emits one row per key per micro-batch; the LAST row per
    # key is the final state
    final = {r["event_type"]: (r["n"], r["total"]) for r in got.collect()}
    exp = {
        r["event_type"]: (r["n"], r["total"])
        for r in spark.read.parquet(path)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .collect()
    }
    assert final == exp


def test_session_window_stream_equals_batch(spark, tmp_path):
    """Append-mode streaming session windows under the sentinel staging
    contract: two far-future single-row files advance the watermark so
    every real session is emitted exactly once; the result (minus the
    sentinel's own sessions) equals the batch session_window aggregate."""
    import datetime
    import time

    from pyspark.sql import functions as F

    from spider_spark.streaming.windows import session_window_stream

    path = _events_dir(tmp_path)
    ev = spark.read.parquet(path)
    mx = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    for days in (10, 20):
        row = [(int(-1), mx + datetime.timedelta(days=days), int(-1), "sentinel", 0.0, "{}")]
        spark.createDataFrame(row, ev.schema).coalesce(1).write.mode("append").parquet(path)
        time.sleep(0.05)
    got = session_window_stream(spark, path, str(tmp_path / "cp")).filter(
        F.col("user_id") >= 0
    )
    exp = (
        ev.filter(F.col("user_id") >= 0)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events")
    )
    g = {tuple(r) for r in got.collect()}
    e = {tuple(r) for r in exp.collect()}
    assert g == e and len(g) > 100


def test_stream_stream_outer_join_equals_batch_left_join(spark, tmp_path):
    """Left outer stream-stream join under the sentinel staging: the real
    events, then two far-future files each holding a view and a click
    sentinel (negative ids), drained one file per trigger.  The
    non-sentinel pairs, NULL r_ids included, equal a batch left join
    over the real events."""
    import datetime
    import time
    from collections import Counter

    from pyspark.sql import functions as F

    from spider_spark.streaming.windows import stream_stream_outer_join_pairs

    path = _events_dir(tmp_path)
    raw = spark.read.parquet(path)
    mx = raw.agg(F.max("ts")).collect()[0][0]
    for i, days in enumerate((10, 20)):
        ts = mx + datetime.timedelta(days=days)
        rows = [(-(2 * i + 1), ts, -1, "view", 0.0, "{}"),
                (-(2 * i + 2), ts, -1, "click", 0.0, "{}")]
        spark.createDataFrame(rows, raw.schema).coalesce(1).write.mode("append").parquet(path)
        time.sleep(0.05)
    got = stream_stream_outer_join_pairs(spark, path, str(tmp_path / "cp_ssoj")).filter(
        F.col("l_id") >= 0
    )
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("l_id"), F.col("user_id").alias("u"), F.col("ts").alias("l_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("r_id"), F.col("user_id").alias("cu"), F.col("ts").alias("r_ts")
    )
    exp = v.join(
        c,
        (v["u"] == c["cu"])
        & (c["r_ts"] >= v["l_ts"])
        & (c["r_ts"] <= v["l_ts"] + F.expr("interval 30 minutes")),
        "left",
    ).select("l_id", "r_id")
    g = Counter(tuple(r) for r in got.collect())
    e = Counter(tuple(r) for r in exp.collect())
    assert g == e
    assert {r is None for _, r in e} == {True, False}, "needs matched and unmatched views"
