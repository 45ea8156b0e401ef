"""storage.files — the Iceberg t.files metadata-table analog: a
queryable per-member census (path, seq, partition, rows, stats
coverage, spec boundary) built from manifest JSON with zero parquet
I/O, pinnable to any snapshot version."""

from __future__ import annotations

from spider_spark.storage import TableStore


def _mk(spark, lo, hi):
    return spark.createDataFrame(
        [(i, i % 2, f"v{i}") for i in range(lo, hi)], "k long, p long, val string"
    )


def test_files_census_and_index_coverage(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    store.write("t", _mk(spark, 0, 10), partition_by=["p"])
    store.append("t", _mk(spark, 10, 16), partition_by=["p"], stats_col="k")
    rows = {r["path"]: r for r in store.files("t").collect()}
    assert set(rows) == {
        "seg00000/p=0", "seg00000/p=1", "seg00001/p=0", "seg00001/p=1",
    }
    assert rows["seg00000/p=0"]["rows"] == 5
    assert rows["seg00001/p=0"]["rows"] == 3
    assert rows["seg00000/p=0"]["seq"] == 0
    assert rows["seg00001/p=1"]["seq"] == 1
    # stats coverage is per member: only the second append has it
    assert rows["seg00000/p=0"]["stats_cols"] == []
    assert rows["seg00001/p=0"]["stats_cols"] == ["k"]
    # pinnable to an earlier snapshot
    assert store.files("t", version="v00000").count() == 2


def test_files_marks_pre_spec_members(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    store.write("t", _mk(spark, 0, 6))
    store.evolve_partition_spec("t", "p")
    store.append("t", _mk(spark, 6, 10), partition_by=["p"])
    by_seq = {r["seq"]: r for r in store.files("t").collect() if r["part"] != "1"}
    assert by_seq[0]["pre_spec"] is True and by_seq[0]["part"] is None
    assert by_seq[2]["pre_spec"] is False and by_seq[2]["part"] == "0"
