from __future__ import annotations

import pytest

from spider_spark.storage import TableStore


def test_write_read_append_merge(spark, tmp_path):
    st = TableStore(spark, str(tmp_path))
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    st.write("t", df)
    assert st.read("t").count() == 2

    st.append("t", spark.createDataFrame([(3, "c")], ["k", "v"]))
    assert st.read("t").count() == 3

    # MERGE: update k=2, insert k=4
    st.merge_upsert("t", spark.createDataFrame([(2, "B"), (4, "d")], ["k", "v"]), key="k")
    rows = {r["k"]: r["v"] for r in st.read("t").collect()}
    assert rows == {1: "a", 2: "B", 3: "c", 4: "d"}


def test_manifest_restore(spark, tmp_path):
    st = TableStore(spark, str(tmp_path))
    st.write("t", spark.createDataFrame([(1,)], ["k"]))
    st.commit_round(1)
    v1 = st.current_version("t")
    # a crashed half-round: new version written, no manifest
    st.write("t", spark.createDataFrame([(1,), (2,)], ["k"]))
    assert st.current_version("t") != v1
    rid = st.restore_last_committed()
    assert rid == 1
    assert st.current_version("t") == v1
    assert st.read("t").count() == 1


def test_expire_snapshots_keeps_current(spark, tmp_path):
    st = TableStore(spark, str(tmp_path))
    for i in range(5):
        st.write("t", spark.createDataFrame([(i,)], ["k"]))
    st.expire_snapshots(keep=2)
    assert st.read("t").collect()[0]["k"] == 4


def test_expire_snapshots_sweeps_crashed_writer_debris(spark, tmp_path):
    """A crashed writer leaves bytes no manifest names: a claimed
    unpartitioned segment whose commit never landed, or a partition
    subdir inside a live partitioned segment.  ``expire_snapshots``
    sweeps both, and the current and a kept older snapshot read back
    exactly as before."""
    import os
    import shutil

    def df(rows):
        return spark.createDataFrame(rows, "k bigint, s string")

    st = TableStore(spark, str(tmp_path))
    for t, part in (("u", None), ("p", ["s"])):
        st.write(t, df([(1, "a"), (2, "b")]), partition_by=part)
        st.append(t, df([(3, "a")]))

    def snapshot(t):
        return (
            sorted(tuple(r) for r in st.read(t).collect()),
            sorted(tuple(r) for r in st.read_at(t, version="v00000").collect()),
        )

    before = {t: snapshot(t) for t in ("u", "p")}
    udir, live = st._tdir("u"), os.path.join(st._tdir("p"), "seg00001")
    shutil.copytree(os.path.join(udir, "seg00000"), os.path.join(udir, "seg09999"))
    shutil.copytree(os.path.join(live, "s=a"), os.path.join(live, "s=ghost"))

    st.expire_snapshots(keep=2)
    assert not os.path.exists(os.path.join(udir, "seg09999"))
    assert not os.path.exists(os.path.join(live, "s=ghost"))
    assert os.path.isdir(os.path.join(live, "s=a"))
    assert {t: snapshot(t) for t in ("u", "p")} == before


def _data_bytes(path):
    import os

    total = 0
    for root, _dirs, files in os.walk(path):
        if "_manifests" in root:
            continue
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def test_append_writes_only_delta(spark, tmp_path):
    """Iceberg-append semantics (VERDICT r1 #4): appending k rows to a
    large table must write O(k) bytes, not rewrite the table."""
    st = TableStore(spark, str(tmp_path))
    big = spark.range(200_000).selectExpr("id AS k", "repeat('x', 64) AS v")
    st.write("t", big)
    before = _data_bytes(tmp_path / "t")
    st.append("t", spark.createDataFrame([(10**9, "tiny")], ["k", "v"]))
    delta = _data_bytes(tmp_path / "t") - before
    assert st.read("t").count() == 200_001
    assert delta < before * 0.05, f"append rewrote the table: +{delta}B on {before}B"


def test_partitioned_merge_leaves_immutable_partitions_untouched(spark, tmp_path):
    """Partition-level MERGE: terminal partitions are carried by manifest
    reference — their files are not rewritten and their rows survive."""
    import os

    st = TableStore(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(1, "pending"), (2, "pending"), (3, "fetched"), (4, "dead")], ["k", "state"]
    )
    st.write("t", df, partition_by=["state"])
    seg0 = f"seg{st.current_version('t')[1:]}"
    fetched_dir = tmp_path / "t" / seg0 / "state=fetched"
    mtime_before = max(
        os.path.getmtime(os.path.join(fetched_dir, f)) for f in os.listdir(fetched_dir)
    )
    # k=1 transitions pending->fetched, k=5 inserted pending
    updates = spark.createDataFrame([(1, "fetched"), (5, "pending")], ["k", "state"])
    st.merge_upsert(
        "t", updates, key="k", partition_by=["state"],
        immutable_partitions=["fetched", "dead"],
    )
    rows = {r["k"]: r["state"] for r in st.read("t").collect()}
    assert rows == {1: "fetched", 2: "pending", 3: "fetched", 4: "dead", 5: "pending"}
    mtime_after = max(
        os.path.getmtime(os.path.join(fetched_dir, f)) for f in os.listdir(fetched_dir)
    )
    assert mtime_after == mtime_before, "immutable partition files were rewritten"


def test_merge_delete_branch(spark, tmp_path):
    """S9 WHEN MATCHED THEN DELETE (deleteErrItems,
    shixin_python_sql.py:80-94): resolved keys are removed in the same
    atomic snapshot swap as the upsert."""
    st = TableStore(spark, str(tmp_path))
    st.write("t", spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"]))
    st.merge_upsert(
        "t",
        spark.createDataFrame([(2, "B")], ["k", "v"]),
        key="k",
        delete_keys=spark.createDataFrame([(3,)], ["k"]),
    )
    rows = {r["k"]: r["v"] for r in st.read("t").collect()}
    assert rows == {1: "a", 2: "B"}


def test_restore_clears_tables_created_after_manifest(spark, tmp_path):
    """ADVICE r1 #2: a table first created during a crashed round must not
    keep its half-written version after restore — otherwise the resumed
    round re-appends onto it and duplicates rows."""
    st = TableStore(spark, str(tmp_path))
    st.write("t", spark.createDataFrame([(1,)], ["k"]))
    st.commit_round(1)
    # crashed round 2 creates a brand-new table, then dies pre-commit
    st.write("docs", spark.createDataFrame([(1,), (2,)], ["k"]))
    rid = st.restore_last_committed()
    assert rid == 1
    assert not st.exists("docs"), "half-written new table must be rolled back"
    # the re-run round recreates it from scratch -> no duplicated rows
    st.append("docs", spark.createDataFrame([(1,), (2,)], ["k"]))
    assert st.read("docs").count() == 2


def test_compact_merges_small_segments(spark, tmp_path):
    st = TableStore(spark, str(tmp_path))
    for i in range(10):
        st.append("t", spark.createDataFrame([(i, f"v{i}")], ["k", "v"]))
    before = st._manifest("t")
    assert len(before["members"]) == 10
    assert st.compact("t", max_members=4) is not None
    after = st._manifest("t")
    assert len(after["members"]) == 1
    rows = {r["k"]: r["v"] for r in st.read("t").collect()}
    assert rows == {i: f"v{i}" for i in range(10)}
    # below threshold now: no-op
    assert st.compact("t", max_members=4) is None


def test_compact_partitioned_only_touches_worst_partition(spark, tmp_path):
    st = TableStore(spark, str(tmp_path))
    st.write(
        "t",
        spark.createDataFrame([(0, "pending"), (100, "fetched")], ["k", "state"]),
        partition_by=["state"],
    )
    for i in range(1, 7):
        st.append(
            "t",
            spark.createDataFrame([(100 + i, "fetched")], ["k", "state"]),
            partition_by=["state"],
        )
    before = st._manifest("t")
    n_pending_before = sum(1 for m in before["members"] if m["value"] == "pending")
    assert st.compact("t", max_members=3) is not None
    after = st._manifest("t")
    fetched = [m for m in after["members"] if m["value"] == "fetched"]
    pending = [m for m in after["members"] if m["value"] == "pending"]
    assert len(fetched) == 1
    assert len(pending) == n_pending_before  # untouched, carried by reference
    rows = {r["k"]: r["state"] for r in st.read("t").collect()}
    assert rows == {0: "pending", **{100 + i: "fetched" for i in range(7)}}


def test_store_random_ops_match_model(spark, tmp_path):
    """Model-based check of the manifest-segment store: a seeded random
    sequence of write/append/merge/delete/compact/expire/commit/restore
    ops must leave the table equal to a plain dict model at every
    readback.  This is the regression net for the round-2 redesign."""
    import random

    rng = random.Random(1234)
    st = TableStore(spark, str(tmp_path))
    model: dict[int, str] = {}
    committed_model: dict[int, str] | None = None
    next_round = 1

    def rows(n):
        return [(rng.randrange(100), f"v{rng.randrange(1000)}") for _ in range(n)]

    def df_of(pairs):
        return spark.createDataFrame(pairs, "k int, v string") if pairs else (
            spark.createDataFrame([], "k int, v string")
        )

    def check():
        got = {r["k"]: r["v"] for r in st.read("t").collect()}
        assert got == model, f"store diverged from model: {got} != {model}"

    st.write("t", df_of(rows(5)))
    model = {}
    # write is last-wins per batch order only as a whole table; rebuild model
    # from the same pairs with dict semantics matching createDataFrame order
    # (later duplicate keys in one batch are separate rows!), so avoid dup
    # keys per batch instead:
    st.write("t", df_of([(i, f"init{i}") for i in range(5)]))
    model = {i: f"init{i}" for i in range(5)}
    check()

    for _step in range(25):
        op = rng.choice(["append", "merge", "delete", "compact", "expire", "commit_restore"])
        if op == "append":
            new_keys = [k for k in range(100, 200) if k not in model]
            picks = rng.sample(new_keys, 3)
            st.append("t", df_of([(k, f"a{k}") for k in picks]))
            model.update({k: f"a{k}" for k in picks})
        elif op == "merge":
            ups = {rng.randrange(200): f"m{_step}_{i}" for i in range(4)}
            st.merge_upsert("t", df_of(list(ups.items())), key="k")
            model.update(ups)
        elif op == "delete":
            if model:
                victims = rng.sample(sorted(model), min(2, len(model)))
                st.merge_upsert(
                    "t", df_of([]), key="k",
                    delete_keys=spark.createDataFrame([(k,) for k in victims], "k int"),
                )
                for k in victims:
                    del model[k]
        elif op == "compact":
            st.compact("t", max_members=3)
        elif op == "expire":
            st.expire_snapshots(keep=2)
        else:
            if committed_model is None or rng.random() < 0.7:
                st.commit_round(next_round)
                next_round += 1
                committed_model = dict(model)
            else:
                st.restore_last_committed()
                model = dict(committed_model)
        check()


def test_append_schema_mismatch_raises(spark, tmp_path):
    import pytest

    st = TableStore(spark, str(tmp_path))
    st.write("t", spark.createDataFrame([(1, "a")], ["k", "v"]))
    with pytest.raises(ValueError, match="schema mismatch"):
        st.append("t", spark.createDataFrame([(2, "b", 9)], ["k", "v", "extra"]))
    with pytest.raises(ValueError, match="schema mismatch"):
        st.merge_upsert("t", spark.createDataFrame([(2,)], ["k"]), key="k")
    # same names, different TYPE must also fail fast (ADVICE r3): a
    # string 'k' appended into a long column would otherwise surface as a
    # confusing parquet read error or silent coercion much later
    with pytest.raises(ValueError, match="type mismatch"):
        st.append("t", spark.createDataFrame([("2", "b")], ["k", "v"]))
    # matching column set in a different order is fine
    st.append("t", spark.createDataFrame([("b", 2)], ["v", "k"]).select("v", "k"))
    assert st.read("t").count() == 2


# ----------------------------------------- optimistic concurrency (Iceberg CAS)

_RACERS = {
    "append": lambda st, df: st.append("t", df([(4, "d")])),
    "merge_upsert": lambda st, df: st.merge_upsert("t", df([(1, "A"), (4, "d")]), key="k"),
    "delete_rows": lambda st, df: st.delete_rows("t", df([(1, "a")]).select("k"), key="k"),
    "compact": lambda st, df: st.compact("t", max_members=1),
    "evolve_partition_spec": lambda st, df: st.evolve_partition_spec("t", "v"),
    "append_rows": lambda st, df: st.append_rows("t", {"k": [4], "v": ["d"]}),
    "upsert_rows": lambda st, df: st.upsert_rows("t", {"k": [1], "v": ["A"]}, key="k"),
}


@pytest.mark.parametrize("method", sorted(_RACERS))
def test_stale_commit_raises_concurrent_commit_error(spark, tmp_path, method):
    """Handle B commits while handle A holds its version number (B runs
    inside A's ``_next_version``): every committing method of A must
    raise, and must never have written into B's committed segment — the
    table serves exactly A's base rows plus B's row."""
    from spider_spark.storage import ConcurrentCommitError

    def df(rows):
        return spark.createDataFrame(rows, "k bigint, v string")

    root = str(tmp_path / "cas")
    a, b = TableStore(spark, root), TableStore(spark, root)
    a.write("t", df([(1, "a"), (2, "b")]))
    a.append("t", df([(3, "c")]))
    base = [(1, "a"), (2, "b"), (3, "c")]
    orig = a._next_version

    def racing(table):
        v = orig(table)
        b.append_rows("t", {"k": [10], "v": ["z"]})  # B commits first
        return v

    a._next_version = racing
    try:
        with pytest.raises(ConcurrentCommitError, match="another writer"):
            _RACERS[method](a, df)
    finally:
        a._next_version = orig
    assert sorted(tuple(r) for r in a.read("t").collect()) == base + [(10, "z")]
    # the guarded write paths still work against the live pointer
    a.append("t", df([(5, "e")]))
    a.merge_upsert("t", df([(5, "E"), (6, "f")]), key="k")
    assert sorted(tuple(r) for r in a.read("t").collect()) == base + [
        (5, "E"), (6, "f"), (10, "z")
    ]


def test_interleaved_handles_conflict_via_append(spark, tmp_path):
    """Two store handles on the same root: handle B commits while handle
    A is mid-append (simulated by patching A's segment writer to slip in
    B's commit) -> A's commit must raise, not silently win."""
    import pytest as _pytest

    from spider_spark.storage import ConcurrentCommitError, TableStore

    root = str(tmp_path / "cas2")
    a, b = TableStore(spark, root), TableStore(spark, root)
    a.write("t", spark.range(2).select("id"))
    orig = a._write_segment

    def racing_write(table, version, df, partition_by, **kw):
        members = orig(table, version, df, partition_by, **kw)
        b.append("t", spark.range(10, 12).select("id"))  # B wins the race
        return members

    a._write_segment = racing_write
    try:
        with _pytest.raises(ConcurrentCommitError):
            a.append("t", spark.range(2, 4).select("id"))
    finally:
        a._write_segment = orig
    # B's rows survived; A's aborted rows are not in the table
    assert sorted(r["id"] for r in a.read("t").collect()) == [0, 1, 10, 11]


def test_commit_round_merges_extras(spark, tmp_path):
    """Re-committing the SAME round (enqueue_seeds, audit_lost,
    reprioritize all do this) must carry earlier extras forward, not drop
    them; numeric collisions accumulate (two seed batches in one round
    report their total).  ADVICE r4."""
    import json as _json
    import os as _os

    st = TableStore(spark, str(tmp_path / "extras"))
    st.write("t", spark.range(3).selectExpr("id", "id * 2 AS v"))
    st.commit_round(1, extra={"audit": 3})
    st.commit_round(1, extra={"seed_ingest": 5})
    st.commit_round(1, extra={"seed_ingest": 2, "note": "a"})
    with open(_os.path.join(str(tmp_path / "extras"), "rounds", "round_000001.json")) as f:
        m = _json.load(f)
    assert m["audit"] == 3
    assert m["seed_ingest"] == 7
    assert m["note"] == "a"
    assert "t" in m["tables"]


# ------------------------------------------ driver-row writes (pyarrow path)

def _job_ids(spark):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def _lineage_cols(rows):
    from spider_spark.schemas import LINEAGE

    return {c: [r[i] for r in rows] for i, c in enumerate(LINEAGE.fieldNames())}


def test_driver_rows_launch_no_spark_job_and_read_back_typed(spark, tmp_path):
    """append_rows/upsert_rows write one pyarrow file per commit and run
    no Spark job; Spark reads the rows back with the manifest's types
    (an int partition_id, all-NULL bigint columns).  upsert_rows replaces
    matched keys and, like merge_upsert's left-anti join, never matches
    a NULL key."""
    import os

    from spider_spark.schemas import HOST_STATE, LINEAGE

    st = TableStore(spark, str(tmp_path))
    st.write("lineage", spark.createDataFrame([(1, 0, 5, 4, 1, None, None, None)], LINEAGE))
    st.write(
        "host_state",
        spark.createDataFrame([("a", 1, False), ("b", 1, True), (None, 1, False)], HOST_STATE),
    )
    new_lineage = [(2, 0, 3, 3, 0, None, None, None), (2, 1, 4, 2, 2, None, None, None)]
    before = _job_ids(spark)
    st.append_rows("lineage", _lineage_cols(new_lineage))
    st.upsert_rows(
        "host_state",
        {"host": ["b", "c", None], "last_fetch_round": [2, 2, 2], "quarantined": [False, True, False]},
        key="host",
    )
    assert _job_ids(spark) == before
    for t in ("lineage", "host_state"):
        seg = f"seg{st.current_version(t)[1:]}"
        assert os.listdir(tmp_path / t / seg) == ["part-00000.parquet"]

    lin = st.read("lineage")
    assert [(f.name, f.dataType) for f in lin.schema.fields] == [
        (f.name, f.dataType) for f in LINEAGE.fields
    ]
    assert sorted(tuple(r) for r in lin.collect()) == [(1, 0, 5, 4, 1, None, None, None)] + new_lineage
    got = sorted((tuple(r) for r in st.read("host_state").collect()), key=str)
    want = [("a", 1, False), ("b", 2, False), ("c", 2, True), (None, 1, False), (None, 2, False)]
    assert got == sorted(want, key=str)


def test_driver_rows_reject_mismatch_partitioned_deletes_and_moved_base(spark, tmp_path):
    import pytest as _pytest

    from spider_spark.storage import ConcurrentCommitError

    st = TableStore(spark, str(tmp_path))
    st.write("t", spark.createDataFrame([(1, "a")], "k bigint, v string"))
    for call in (st.append_rows, lambda t, c: st.upsert_rows(t, c, key="k")):
        with _pytest.raises(ValueError, match=r"schema mismatch .*missing columns \['v'\]"):
            call("t", {"k": [2]})
        with _pytest.raises(ValueError, match=r"schema mismatch .*extra columns \['w'\]"):
            call("t", {"k": [2], "v": ["b"], "w": [1]})
        with _pytest.raises(ValueError, match="column type mismatch"):
            call("t", {"k": ["x"], "v": ["b"]})
        with _pytest.raises(ValueError, match="column type mismatch"):
            call("t", {"k": [1.5], "v": ["b"]})
    assert sorted(tuple(r) for r in st.read("t").collect()) == [(1, "a")]

    st.write("p", spark.createDataFrame([(1, "a")], "k bigint, v string"), partition_by=["v"])
    with _pytest.raises(ValueError, match="unpartitioned"):
        st.append_rows("p", {"k": [2], "v": ["b"]})
    st.write("arr", spark.createDataFrame([(1, [1])], "k bigint, a array<int>"))
    with _pytest.raises(ValueError, match="driver-row writes support"):
        st.append_rows("arr", {"k": [2], "a": [[2]]})

    # a writer whose base moved between its snapshot read and its commit
    a, b = TableStore(spark, str(tmp_path)), TableStore(spark, str(tmp_path))
    orig = a._rows_table

    def racing(*args, **kw):
        out = orig(*args, **kw)
        b.append_rows("t", {"k": [10], "v": ["z"]})  # B commits first
        return out

    a._rows_table = racing
    try:
        with _pytest.raises(ConcurrentCommitError):
            a.append_rows("t", {"k": [2], "v": ["b"]})
        with _pytest.raises(ConcurrentCommitError):
            a.upsert_rows("t", {"k": [1], "v": ["A"]}, key="k")
    finally:
        a._rows_table = orig
    assert sorted(tuple(r) for r in st.read("t").collect()) == [(1, "a"), (10, "z"), (10, "z")]

    st.delete_rows("t", spark.createDataFrame([(10,)], "k bigint"), key="k")
    with _pytest.raises(ValueError, match="equality deletes"):
        st.upsert_rows("t", {"k": [3], "v": ["c"]}, key="k")


def test_maintenance_over_mixed_spark_and_pyarrow_segments(spark, tmp_path):
    """compact, read_at, history and files treat a pyarrow-written member
    like any Spark-written one."""
    from spider_spark.schemas import LINEAGE

    st = TableStore(spark, str(tmp_path))
    st.write("lineage", spark.createDataFrame([], LINEAGE))
    rows = []
    for r in range(1, 5):
        row = (r, r % 2, r, r - 1, 1, None, None, None)
        if r % 2:
            st.append("lineage", spark.createDataFrame([row], LINEAGE))
        else:
            st.append_rows("lineage", _lineage_cols([row]))
        st.commit_round(r)
        rows.append(row)

    assert sorted(tuple(x) for x in st.read_at("lineage", round_id=2).collect()) == rows[:2]
    assert [h["rows"] for h in st.history("lineage")] == [0, 1, 2, 3, 4]
    files = st.files("lineage").collect()
    assert len(files) == 5 and sum(f["rows"] for f in files) == 4

    assert st.compact("lineage", max_members=2) is not None
    assert len(st.files("lineage").collect()) == 1
    assert sorted(tuple(x) for x in st.read("lineage").collect()) == rows
    assert sorted(tuple(x) for x in st.read_at("lineage", round_id=3).collect()) == rows[:3]


def test_create_is_metadata_only_and_serves_every_path(spark, tmp_path):
    """create() commits an empty table with no Spark job and no segment;
    the memberless table reads back with its exact schema and takes the
    driver-row writes and the maintenance calls like any other."""
    from spider_spark.schemas import HOST_STATE, LINEAGE

    st = TableStore(spark, str(tmp_path))
    before = _job_ids(spark)
    st.create("lineage", LINEAGE)
    st.create("host_state", HOST_STATE)
    assert _job_ids(spark) == before
    for t, schema in (("lineage", LINEAGE), ("host_state", HOST_STATE)):
        got = st.read(t)
        assert got.schema == schema
        assert got.count() == 0
        assert st.files(t).count() == 0
        assert st.compact(t, max_members=0) is None

    row = (1, 0, 5, 4, 1, None, None, None)
    st.append_rows("lineage", _lineage_cols([row]))
    st.upsert_rows("host_state", {"host": ["a"], "last_fetch_round": [1], "quarantined": [False]}, key="host")
    assert [tuple(r) for r in st.read("lineage").collect()] == [row]
    assert [tuple(r) for r in st.read("host_state").collect()] == [("a", 1, False)]
    assert [(h["members"], h["rows"]) for h in st.history("lineage")] == [(0, 0), (1, 1)]
    assert st.files("lineage").count() == 1
    st.append_rows("lineage", _lineage_cols([row]))
    assert st.compact("lineage", max_members=1) is not None
    st.commit_round(1)
    st.expire_snapshots(keep=1)
    assert [tuple(r) for r in st.read("lineage").collect()] == [row, row]
    assert len(st.history("lineage")) == 1
