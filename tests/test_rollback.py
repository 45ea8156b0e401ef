"""Snapshot rollback (storage.rollback — the Delta RESTORE / Iceberg
rollback analog): restoring an earlier snapshot is a NEW history-
preserving commit that copies the target's members; rolled-past
snapshots stay time-travelable; streaming txn watermarks ride the
rollback (never rewind); staged targets are refused until published;
incremental scans across the rollback boundary raise instead of
answering wrong."""

from __future__ import annotations

import pytest

from spider_spark.storage import TableStore


def _mk(spark, lo, hi):
    return spark.createDataFrame([(i, f"v{i}") for i in range(lo, hi)], "k long, val string")


def _ks(df):
    return sorted(r["k"] for r in df.collect())


def test_rollback_restores_content_and_preserves_history(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    store.write("t", _mk(spark, 0, 5))          # v0
    v1 = store.append("t", _mk(spark, 5, 10))   # v1
    store.append("t", _mk(spark, 10, 15))       # v2 (the "bad" commit)
    v3 = store.rollback("t", version=v1)
    assert v3 not in ("v00000", v1, "v00002")
    # current content is exactly the v1 snapshot, with zero data I/O
    assert _ks(store.read("t")) == list(range(10))
    # the rolled-past commit remains auditable
    assert _ks(store.read_at("t", version="v00002")) == list(range(15))
    hist = store.history("t")
    assert [h["version"] for h in hist] == [0, 1, 2, 3]
    assert [h["current"] for h in hist] == [False, False, False, True]
    # appends continue on top of the restored content
    store.append("t", _mk(spark, 100, 102))
    assert _ks(store.read("t")) == list(range(10)) + [100, 101]


def test_rollback_by_round_id(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    store.write("t", _mk(spark, 0, 3))
    store.commit_round(1)
    store.append("t", _mk(spark, 3, 6))
    store.commit_round(2)
    store.rollback("t", round_id=1)
    assert _ks(store.read("t")) == [0, 1, 2]


def test_rollback_never_rewinds_txn_watermark(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    store.write("t", _mk(spark, 0, 3))          # v0: no txn marks
    v0 = store.current_version("t")
    store.append_txn("t", _mk(spark, 3, 6), "sinkA", 7)
    store.rollback("t", version=v0)
    # content went back, the exactly-once watermark did not
    assert _ks(store.read("t")) == [0, 1, 2]
    assert store.last_txn("t", "sinkA") == 7
    # a replayed micro-batch after the rollback is still skipped
    assert store.append_txn("t", _mk(spark, 3, 6), "sinkA", 7) is None
    assert _ks(store.read("t")) == [0, 1, 2]


def test_rollback_refuses_staged_target_and_noops_on_current(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    store.write("t", _mk(spark, 0, 3))
    staged = store.stage_append("t", _mk(spark, 3, 6))
    with pytest.raises(ValueError, match="staged"):
        store.rollback("t", version=staged)
    cur = store.current_version("t")
    assert store.rollback("t", version=cur) == cur  # no new manifest
    assert [h["version"] for h in store.history("t")] == [0, 1]
    with pytest.raises(ValueError, match="no snapshot"):
        store.rollback("t", version="v99999")


def test_rollback_to_published_snapshots(spark, tmp_path):
    """A published WAP snapshot and a fast-forwarded branch commit are
    ordinary history: rollback may target them and history stops
    reporting them as staged."""
    store = TableStore(spark, str(tmp_path))
    store.write("t", _mk(spark, 0, 3))
    pub = store.publish("t", store.stage_append("t", _mk(spark, 3, 6)))
    store.append("t", _mk(spark, 6, 9))
    store.rollback("t", version=pub)
    assert _ks(store.read("t")) == list(range(6))

    store.create_branch("t", "audit")
    mid = store.append_to_branch("t", "audit", _mk(spark, 10, 12))
    store.append_to_branch("t", "audit", _mk(spark, 12, 14))
    store.fast_forward("t", "audit")
    store.append("t", _mk(spark, 20, 22))
    store.rollback("t", version=mid)
    assert _ks(store.read("t")) == list(range(6)) + [10, 11]
    assert not any(h["staged"] for h in store.history("t"))


def test_rollback_restores_mor_deleted_rows(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    store.write("t", _mk(spark, 0, 10))
    v_full = store.current_version("t")
    store.delete_rows("t", spark.createDataFrame([(2,), (5,)], "k long"), "k")
    assert _ks(store.read("t")) == [0, 1, 3, 4, 6, 7, 8, 9]
    v_del = store.current_version("t")
    # restoring the pre-delete snapshot resurrects the rows...
    store.rollback("t", version=v_full)
    assert _ks(store.read("t")) == list(range(10))
    # ...and restoring the post-delete snapshot re-applies the delete
    store.rollback("t", version=v_del)
    assert _ks(store.read("t")) == [0, 1, 3, 4, 6, 7, 8, 9]


def test_incremental_scan_across_rollback_raises(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    store.write("t", _mk(spark, 0, 3))
    store.append("t", _mk(spark, 3, 6))
    store.commit_round(1)
    store.append("t", _mk(spark, 6, 9))
    store.rollback("t", round_id=1)
    store.append("t", _mk(spark, 9, 12))
    store.commit_round(2)
    # round 1 was committed BEFORE the bad append, so its members all
    # survive the rollback — the scan from round 1 is still sound
    assert _ks(store.read_changes("t", since_round=1)) == [9, 10, 11]
    # but a base snapshot that includes the rolled-past members is not
    store.commit_round(3)
    store.rollback("t", round_id=1)
    store.commit_round(4)
    with pytest.raises(ValueError, match="rewritten"):
        store.read_changes("t", since_round=3, until_round=4)


def test_rollback_keeps_partition_pruning(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(12)], "k long, p long, val string"
    )
    store.write("t", df, partition_by=["p"])
    v0 = store.current_version("t")
    store.append("t", spark.createDataFrame([(100, 1, "x")], "k long, p long, val string"),
                 partition_by=["p"])
    store.rollback("t", version=v0)
    got = store.read_partitions("t", [1])
    assert _ks(got) == [1, 4, 7, 10]
