"""Model-based random walk over the whole TableStore surface: a fixed-
seed sequence of append / merge_upsert / delete_rows / compact /
expire_snapshots / crashed-writer-debris ops, each checked against a
plain dict model.  Catches interaction bugs no single-feature test
shapes (e.g. a delete generation straddling a compaction straddling a
snapshot expiry)."""

from __future__ import annotations

import random

from spider_spark.storage import TableStore


def test_store_random_walk_matches_model(spark, tmp_path):
    rng = random.Random(42)
    store = TableStore(spark, str(tmp_path))
    model: dict[int, str] = {}
    next_k = 0

    def fresh(n):
        nonlocal next_k
        ks = list(range(next_k, next_k + n))
        next_k += n
        return ks

    def df_of(pairs):
        return spark.createDataFrame(pairs, "k long, val string")

    store.write("t", df_of([(k, f"w{k}") for k in fresh(8)]))
    model.update({k: f"w{k}" for k in range(8)})

    deleted: set[int] = set()
    round_id = 0
    snapshots: list[tuple[int, dict[int, str]]] = []

    for step in range(60):
        op = rng.choice(
            ["append", "merge", "delete", "compact", "reinsert", "expire",
             "snapshot", "orphan"]
        )
        if op == "append":
            ks = fresh(rng.randrange(1, 5))
            store.append("t", df_of([(k, f"a{k}") for k in ks]))
            model.update({k: f"a{k}" for k in ks})
        elif op == "reinsert" and deleted:
            ks = rng.sample(sorted(deleted), min(2, len(deleted)))
            deleted.difference_update(ks)
            store.append("t", df_of([(k, f"r{k}.{step}") for k in ks]))
            model.update({k: f"r{k}.{step}" for k in ks})
        elif op == "merge" and model:
            ks = rng.sample(sorted(model), min(3, len(model)))
            new = fresh(1)
            rows = [(k, f"m{k}.{step}") for k in ks] + [(k, f"m{k}.{step}") for k in new]
            store.merge_upsert("t", df_of(rows), key="k")
            model.update({k: v for k, v in rows})
        elif op == "delete" and model:
            ks = rng.sample(sorted(model), min(rng.randrange(1, 4), len(model)))
            store.delete_rows("t", df_of([(k, "") for k in ks]).select("k"), "k")
            for k in ks:
                del model[k]
            deleted.update(ks)
        elif op == "compact":
            store.compact("t", max_members=3)
        elif op == "expire":
            store.expire_snapshots(keep=3)
        elif op == "orphan":
            # crashed-writer debris: a copy of a live segment that no
            # manifest names, and a partition subdir of a partitioned
            # write whose commit never landed — expiry sweeps both and
            # nothing the model can see
            import os
            import shutil as _sh

            tdir = store._tdir("t")
            src = store._manifest("t")["members"][0]["path"].split("/")[0]
            ghosts = [f"seg9{step:04d}", f"seg8{step:04d}"]
            _sh.copytree(os.path.join(tdir, src), os.path.join(tdir, ghosts[0]))
            _sh.copytree(os.path.join(tdir, src), os.path.join(tdir, ghosts[1], "val=ghost"))
            store.expire_snapshots(keep=3)
            assert not any(os.path.exists(os.path.join(tdir, g)) for g in ghosts)
        elif op == "snapshot":
            round_id += 1
            store.commit_round(round_id)
            snapshots.append((round_id, dict(model)))

        got = {r["k"]: r["val"] for r in store.read("t").collect()}
        assert got == model, f"divergence after step {step} ({op})"

    # time-travel spot check: every committed snapshot still replays,
    # except where later snapshot expiry reclaimed its manifest
    checked = 0
    for rid, snap in snapshots[-3:]:
        try:
            got = {r["k"]: r["val"] for r in store.read_at("t", round_id=rid).collect()}
        except FileNotFoundError:
            continue  # manifest expired — acceptable for old snapshots
        assert got == snap, f"time travel to round {rid} diverged"
        checked += 1
    assert model and next_k > 30  # the walk actually generated churn
