"""T3 quarantine rule, as a pure function of one round's per-host counts
(no Spark): a host with >= QUARANTINE_MIN fetches of which more than
QUARANTINE_RATE failed is quarantined."""

from __future__ import annotations

from spider_spark.politeness import quarantine_rows
from spider_spark.schemas import HOST_STATE


def test_quarantine_rule_boundaries():
    rows = quarantine_rows({"a": (5, 3), "b": (4, 4), "c": (10, 5), "d": (6, 0)}, 7)
    assert sorted(rows) == sorted(HOST_STATE.fieldNames())
    assert dict(zip(rows["host"], rows["quarantined"])) == {
        "a": True,   # 5 fetches, 3/5 = 0.6 > 0.5
        "b": False,  # every fetch failed, but 4 < QUARANTINE_MIN
        "c": False,  # 5/10 = 0.5 is not > 0.5
        "d": False,
    }
    assert rows["last_fetch_round"] == [7] * 4
    assert quarantine_rows({}, 3) == {"host": [], "last_fetch_round": [], "quarantined": []}
