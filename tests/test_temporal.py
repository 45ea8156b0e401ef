"""Unit + plan gates for the temporal join operators
(functions/temporal.py): as-of join semantics vs a naive in-Python
reference, bucketed interval join vs the naive theta join, the
over-span raise guard, and the no-cartesian plan shape of the catalog
entries (j8/j9's DuckDB twins check values; these check the physics)."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from spider_spark.functions.temporal import asof_join, bucketed_interval_join

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


# ------------------------------------------------------------- asof_join

LEFT = [
    # (key, lts, tag)
    ("a", 10, "L1"),  # exact-ts match -> inclusive
    ("a", 15, "L2"),  # between rights -> picks ts=10
    ("a", 5, "L3"),   # before all rights -> no match
    ("b", 50, "L4"),  # key with rights only after -> no match
    ("c", 99, "L5"),  # key with no rights at all
    ("d", 30, "L6"),  # tie on right ts -> deterministic winner
]
RIGHT = [
    # (key, rts, rv)
    ("a", 10, 100),
    ("a", 12, 120),
    ("b", 60, 600),
    ("d", 20, 201),
    ("d", 20, 207),  # same key+ts: larger rv must win (tie-break col)
]


def _asof_frames(spark):
    left = spark.createDataFrame(LEFT, "key string, lts long, tag string")
    right = spark.createDataFrame(RIGHT, "key string, rts long, rv long")
    return left, right


def _naive_asof():
    out = {}
    for key, lts, tag in LEFT:
        cands = [(rts, rv) for k, rts, rv in RIGHT if k == key and rts <= lts]
        out[tag] = max(cands) if cands else None
    return out


def test_asof_join_inner_matches_naive(spark):
    left, right = _asof_frames(spark)
    got = {
        r["tag"]: (r["asof_matched_ts"], r["rv"])
        for r in asof_join(
            left, right, on="key", left_ts="lts", right_ts="rts", right_cols=["rv"]
        ).collect()
    }
    want = {t: m for t, m in _naive_asof().items() if m is not None}
    assert got == want
    assert got["L1"] == (10, 100), "right_ts == left_ts must match (inclusive)"
    assert got["L6"] == (20, 207), "same-ts right rows: last by tie-break col wins"


def test_asof_join_left_keeps_unmatched(spark):
    left, right = _asof_frames(spark)
    rows = asof_join(
        left, right, on="key", left_ts="lts", right_ts="rts",
        right_cols=["rv"], how="left",
    ).collect()
    assert len(rows) == len(LEFT)
    unmatched = {r["tag"] for r in rows if r["rv"] is None}
    assert unmatched == {t for t, m in _naive_asof().items() if m is None}


def test_asof_join_keeps_null_right_values_of_the_matched_row(spark):
    """A NULL right column belongs to the matched row: it must come back
    NULL, never stitched from another right row's non-NULL value."""
    left = spark.createDataFrame(
        [("a", 25, "back"), ("a", 15, "fwd")], "key string, lts long, tag string"
    )
    right = spark.createDataFrame(
        [("a", 10, "x", 1), ("a", 20, None, 2), ("a", 30, "z", None)],
        "key string, rts long, rv string, rn long",
    )

    def run(direction):
        return {
            r["tag"]: (r["asof_matched_ts"], r["rv"], r["rn"])
            for r in asof_join(
                left, right, on="key", left_ts="lts", right_ts="rts",
                right_cols=["rv", "rn"], direction=direction,
            ).collect()
        }

    assert run("backward") == {"back": (20, None, 2), "fwd": (10, "x", 1)}
    assert run("forward") == {"back": (30, "z", None), "fwd": (20, None, 2)}


def test_asof_join_rejects_column_clash(spark):
    left, right = _asof_frames(spark)
    with pytest.raises(ValueError, match="collide"):
        asof_join(
            left, right.withColumnRenamed("rv", "tag"),
            on="key", left_ts="lts", right_ts="rts", right_cols=["tag"],
        )


def test_asof_join_is_single_shuffle_no_theta_join(spark):
    left, right = _asof_frames(spark)
    plan = _plan(
        asof_join(left, right, on="key", left_ts="lts", right_ts="rts", right_cols=["rv"])
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("hashpartitioning(") == 1, (
        "as-of join must cost exactly one key shuffle (union + window)"
    )


# -------------------------------------------------- bucketed_interval_join

IVS = [
    # (win, s, e)
    ("w1", 0, 10),     # 1 bucket at width 10 (tests p==s in, p==e out)
    ("w2", 5, 35),     # spans buckets 0..3
    ("w3", 90, 90),    # empty -> no matches
    ("w4", 91, 90),    # inverted -> no matches
    ("w5", 200, 203),  # zero points inside
]
PTS = [(p,) for p in [0, 5, 9, 10, 34, 35, 89, 90, 100, 202]]


def _naive_interval():
    return sorted(
        (w, p)
        for w, s, e in IVS
        for (p,) in PTS
        if s <= p < e
    )


def test_bucketed_interval_join_matches_naive(spark):
    pts = spark.createDataFrame(PTS, "p long")
    ivs = spark.createDataFrame(IVS, "win string, s long, e long")
    for width in (1, 7, 10, 1000):
        got = sorted(
            (r["win"], r["p"])
            for r in bucketed_interval_join(
                pts, ivs, point_col="p", start_col="s", end_col="e",
                bucket_width=width, max_span_buckets=256,
            ).collect()
        )
        assert got == _naive_interval(), f"width={width}"


def test_bucketed_interval_join_overspan_raises_not_truncates(spark):
    pts = spark.createDataFrame(PTS, "p long")
    ivs = spark.createDataFrame(IVS, "win string, s long, e long")
    joined = bucketed_interval_join(
        pts, ivs, point_col="p", start_col="s", end_col="e",
        bucket_width=10, max_span_buckets=2,
    )
    with pytest.raises(Exception, match="spans more than 2 buckets"):
        joined.collect()


def test_bucketed_interval_join_rejects_column_clash(spark):
    pts = spark.createDataFrame(PTS, "p long")
    ivs = spark.createDataFrame([("w", 0, 1)], "win string, p long, e long")
    with pytest.raises(ValueError, match="collide"):
        bucketed_interval_join(
            pts, ivs, point_col="p", start_col="p", end_col="e", bucket_width=10
        )


# ------------------------------------------------------ catalog plan gates

def test_j9_range_join_plan_is_equi_not_cartesian(spark):
    from spider_spark.catalog import QUERIES

    plan = _plan(QUERIES["j9_interval_count"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_j8_asof_plan_is_single_shuffle(spark):
    from spider_spark.catalog import QUERIES

    plan = _plan(QUERIES["j8_asof_last_click"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("hashpartitioning(") == 1, (
        "the union feeding the window must shuffle once on user_id"
    )


# ------------------------------------------- seeded randomized parity

import numpy as np


@pytest.mark.parametrize("seed", [7, 23, 101])
def test_asof_join_randomized_matches_naive(spark, seed):
    rng = np.random.default_rng(seed)
    keys = ["a", "b", "c", "d"]
    left = [
        (keys[int(rng.integers(4))], int(rng.integers(0, 50)), i)
        for i in range(40)
    ]
    right = [
        (keys[int(rng.integers(4))], int(rng.integers(0, 50)), int(rng.integers(0, 1000)))
        for _ in range(40)
    ]
    ldf = spark.createDataFrame(left, "key string, lts long, lid long")
    rdf = spark.createDataFrame(right, "key string, rts long, rv long")
    got = {
        r["lid"]: (r["asof_matched_ts"], r["rv"])
        for r in asof_join(
            ldf, rdf, on="key", left_ts="lts", right_ts="rts",
            right_cols=["rv"], how="left",
        ).collect()
    }
    for key, lts, lid in left:
        cands = [(rts, rv) for k, rts, rv in right if k == key and rts <= lts]
        want = max(cands) if cands else (None, None)
        assert got[lid] == want, (seed, lid)


@pytest.mark.parametrize("seed", [11, 47])
def test_bucketed_interval_join_randomized_matches_naive(spark, seed):
    rng = np.random.default_rng(seed)
    ivs = [
        (i, int(s), int(s) + int(rng.integers(0, 40)))
        for i, s in enumerate(rng.integers(0, 300, size=30))
    ]
    pts = [(int(p),) for p in rng.integers(0, 320, size=60)]
    ivdf = spark.createDataFrame(ivs, "win long, s long, e long")
    ptdf = spark.createDataFrame(pts, "p long")
    got = sorted(
        (r["win"], r["p"])
        for r in bucketed_interval_join(
            ptdf, ivdf, point_col="p", start_col="s", end_col="e",
            bucket_width=16, max_span_buckets=8,
        ).collect()
    )
    want = sorted((w, p) for w, s, e in ivs for (p,) in pts if s <= p < e)
    assert got == want, seed


# ------------------------------------------------------ forward as-of

def _naive_asof_forward():
    out = {}
    for key, lts, tag in LEFT:
        cands = [(rts, rv) for k, rts, rv in RIGHT if k == key and rts >= lts]
        out[tag] = min(cands) if cands else None
    return out


def test_asof_join_forward_matches_naive(spark):
    left, right = _asof_frames(spark)
    got = {
        r["tag"]: (r["asof_matched_ts"], r["rv"])
        for r in asof_join(
            left, right, on="key", left_ts="lts", right_ts="rts",
            right_cols=["rv"], direction="forward",
        ).collect()
    }
    want = {t: m for t, m in _naive_asof_forward().items() if m is not None}
    assert got == want
    assert got["L1"] == (10, 100), "right_ts == left_ts must match (inclusive)"
    assert got["L4"] == (60, 600), "forward finds rights strictly after"
    assert "L6" not in got, "rights strictly before the left row never match forward"
    # tie among same-ts right rows: FIRST by tie-break col wins
    tie_left = left.sparkSession.createDataFrame(
        [("d", 15, "T1")], "key string, lts long, tag string"
    )
    tie = asof_join(
        tie_left, right, on="key", left_ts="lts", right_ts="rts",
        right_cols=["rv"], direction="forward",
    ).collect()
    assert [(r["asof_matched_ts"], r["rv"]) for r in tie] == [(20, 201)]
    with pytest.raises(ValueError, match="direction"):
        asof_join(left, right, on="key", left_ts="lts", right_ts="rts",
                  right_cols=["rv"], direction="sideways")


@pytest.mark.parametrize("seed", [7, 23, 101])
def test_asof_join_forward_randomized_matches_naive(spark, seed):
    rng = np.random.default_rng(seed)
    keys = ["a", "b", "c", "d"]
    left = [
        (keys[int(rng.integers(4))], int(rng.integers(0, 50)), i)
        for i in range(40)
    ]
    right = [
        (keys[int(rng.integers(4))], int(rng.integers(0, 50)), int(rng.integers(0, 1000)))
        for _ in range(40)
    ]
    ldf = spark.createDataFrame(left, "key string, lts long, lid long")
    rdf = spark.createDataFrame(right, "key string, rts long, rv long")
    got = {
        r["lid"]: (r["asof_matched_ts"], r["rv"])
        for r in asof_join(
            ldf, rdf, on="key", left_ts="lts", right_ts="rts",
            right_cols=["rv"], how="left", direction="forward",
        ).collect()
    }
    for key, lts, lid in left:
        cands = [(rts, rv) for k, rts, rv in right if k == key and rts >= lts]
        want = min(cands) if cands else (None, None)
        assert got[lid] == want, (seed, lid)
