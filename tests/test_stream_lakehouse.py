"""Exactly-once streaming -> TableStore ingest (streaming/lakehouse.py +
storage.append_txn): replayed micro-batches must be skipped via the
manifest-recorded transaction watermark, and the watermark must survive
every maintenance commit (append/delete/compact/driver-row append)."""

from __future__ import annotations

import os

import pytest

from spider_spark.storage import TableStore


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "store"))


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id % 3 AS k")


def test_append_txn_skips_replayed_and_stale_batches(spark, store):
    assert store.last_txn("t", "s1") == -1
    assert store.append_txn("t", _df(spark, 0, 10), "s1", 0) is not None
    assert store.last_txn("t", "s1") == 0
    # exact replay (the at-least-once crash case) and a stale id: skipped
    assert store.append_txn("t", _df(spark, 0, 10), "s1", 0) is None
    assert store.append_txn("t", _df(spark, 0, 10), "s1", -5) is None
    assert store.read("t").count() == 10
    # the next batch commits; an independent stream key is unaffected
    assert store.append_txn("t", _df(spark, 10, 15), "s1", 1) is not None
    assert store.append_txn("t", _df(spark, 15, 18), "other", 0) is not None
    assert store.read("t").count() == 18
    assert store.last_txn("t", "s1") == 1
    assert store.last_txn("t", "other") == 0


def test_txn_watermark_survives_maintenance_commits(spark, store):
    store.append_txn("t", _df(spark, 0, 10), "s1", 7)
    # plain append (no txn) inherits the map
    store.append("t", _df(spark, 10, 20))
    assert store.last_txn("t", "s1") == 7
    # merge-on-read delete inherits
    store.delete_rows("t", spark.range(0, 3).selectExpr("id"), "id")
    assert store.last_txn("t", "s1") == 7
    # compaction inherits (force it: many small appends, low threshold)
    for i in range(4):
        store.append("t", _df(spark, 20 + i, 21 + i))
    assert store.compact("t", max_members=3) is not None
    assert store.last_txn("t", "s1") == 7
    # a driver-row append inherits
    store.append_rows("t", {"id": [300], "k": [0]})
    assert store.last_txn("t", "s1") == 7
    # a replay AFTER all that maintenance is still recognized
    assert store.append_txn("t", _df(spark, 0, 10), "s1", 7) is None
    # a full rewrite is a new table generation: watermark resets
    store.write("t", _df(spark, 0, 5))
    assert store.last_txn("t", "s1") == -1


def test_stream_append_table_exactly_once(spark, store, tmp_path):
    from spider_spark.streaming.lakehouse import stream_append_table

    src = str(tmp_path / "src")
    cp = str(tmp_path / "cp")
    _df(spark, 0, 300).repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema

    n = stream_append_table(
        spark, src, schema, store, "sink", cp, txn_key="sA", max_files_per_trigger=1
    )
    assert n >= 2  # 3 staged files -> one micro-batch each
    assert store.read("sink").count() == 300
    assert sorted(r.id for r in store.read("sink").collect()) == list(range(300))

    # hand-replay batch 0 (at-least-once re-delivery): skipped
    assert store.append_txn("sink", spark.read.parquet(src), "sA", 0) is None
    # restart on the drained checkpoint: no new files, no appends
    assert stream_append_table(spark, src, schema, store, "sink", cp, txn_key="sA") == 0
    assert store.read("sink").count() == 300

    # NEW files after the restart drain incrementally, exactly once
    _df(spark, 300, 320).coalesce(1).write.mode("append").parquet(src)
    n2 = stream_append_table(
        spark, src, schema, store, "sink", cp, txn_key="sA", max_files_per_trigger=1
    )
    assert n2 >= 1
    assert store.read("sink").count() == 320


def test_stream_transform_runs_inside_batch(spark, store, tmp_path):
    from pyspark.sql import functions as F

    from spider_spark.streaming.lakehouse import stream_append_table

    src = str(tmp_path / "src")
    _df(spark, 0, 50).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream_append_table(
        spark, src, schema, store, "sink", str(tmp_path / "cp"),
        transform=lambda df: df.filter(F.col("id") % 2 == 0).withColumn(
            "double_id", F.col("id") * 2
        ),
    )
    rows = store.read("sink").collect()
    assert len(rows) == 25
    assert all(r.double_id == r.id * 2 for r in rows)


def test_stream_merge_table_cdc_exactly_once(spark, store, tmp_path):
    import time

    from pyspark.sql import functions as F

    from spider_spark.streaming.lakehouse import stream_merge_table

    src = str(tmp_path / "src")
    import os

    os.makedirs(src)

    def _file(df):
        df.coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)

    _file(spark.range(0, 10).select(F.col("id").alias("k"), F.lit("a").alias("v"),
                                    F.lit(False).alias("del")))
    _file(
        spark.range(5, 12).select(F.col("id").alias("k"), F.lit("b").alias("v"),
                                  F.lit(False).alias("del"))
        .unionByName(spark.range(0, 2).select(F.col("id").alias("k"),
                                              F.lit("x").alias("v"),
                                              F.lit(True).alias("del")))
    )
    schema = spark.read.parquet(src).schema
    n = stream_merge_table(
        spark, src, schema, store, "m", str(tmp_path / "cp"),
        key="k", delete_col="del", txn_key="t", max_files_per_trigger=1,
    )
    assert n == 2
    got = {r.k: r.v for r in store.read("m").collect()}
    # 0,1 deleted; 2..4 keep 'a'; 5..11 overwritten/inserted as 'b'
    assert got == {**{k: "a" for k in range(2, 5)}, **{k: "b" for k in range(5, 12)}}

    # crash-replay: fresh checkpoint, same txn key -> batch ids restart
    # at 0 and every batch must be skipped (a re-applied batch 0 would
    # resurrect keys 0,1 and downgrade 5..9 to 'a')
    n2 = stream_merge_table(
        spark, src, schema, store, "m", str(tmp_path / "cp2"),
        key="k", delete_col="del", txn_key="t", max_files_per_trigger=1,
    )
    assert n2 == 0
    assert {r.k: r.v for r in store.read("m").collect()} == got
