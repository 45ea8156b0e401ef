"""functions/graph.k_core — synchronized peeling to the certified
fixpoint: hand-checkable cores, multi-round cascades, empty cores, and
the convergence bound that raises instead of truncating."""

from __future__ import annotations

import pytest

from spider_spark.functions.graph import k_core


def _run(spark, edges, k, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["deg"] for r in k_core(df, k, **kw).collect()}


def test_k4_survives_pendant_cascade_peels(spark):
    # K4 on {0,1,2,3}; pendant cascade 4-(0,1,5), 5-(4,6), 6-(5):
    # round 1 removes 6 (deg 1) and 5 (deg 2), round 2 removes 4
    # (deg 3 -> 2 after 5 left), round 3 is the certifying no-op
    k4 = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    pendant = [(4, 0), (4, 1), (4, 5), (5, 6)]
    assert _run(spark, k4 + pendant, 3) == {0: 3, 1: 3, 2: 3, 3: 3}


def test_direction_and_duplicate_edges_are_normalized(spark):
    # same K4 written with reversed and repeated edges — degree must
    # mean distinct undirected neighbors
    e = [(1, 0), (0, 1), (2, 0), (0, 3), (2, 1), (3, 1), (3, 2), (2, 3)]
    assert _run(spark, e, 3) == {0: 3, 1: 3, 2: 3, 3: 3}


def test_empty_core(spark):
    # k=3 on a path: everything peels, the fixpoint is the empty graph
    assert _run(spark, [(0, 1), (1, 2), (2, 3)], 3) == {}


def test_convergence_bound_raises(spark):
    # path of 7 with k=2 peels one layer per round from both ends
    # (3 removal rounds + the no-op) — a 2-round bound must refuse
    path = [(i, i + 1) for i in range(6)]
    with pytest.raises(RuntimeError, match="fixpoint"):
        _run(spark, path, 2, max_rounds=2)
    # with an adequate bound the 2-core of a path is empty
    assert _run(spark, path, 2, max_rounds=6) == {}


def test_g8_twin_fails_loudly_short_of_the_fixpoint(spark, tmp_path):
    # 400 doc ids: the g8 graph needs 4 peel rounds plus the certifying
    # no-op, so the 6-round twin is value-exact against the Spark entry
    # and a 4-round twin must raise instead of returning a truncation
    import duckdb

    import spider_spark.catalog  # noqa: F401  (registers the catalog in order)
    from spider_spark.catalog_extra import _kcore_twin_sql, g8_kcore

    spark.range(400).withColumnRenamed("id", "doc_id").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    twin = sorted(con.execute(_kcore_twin_sql()).fetchall())
    assert twin and twin == sorted(tuple(r) for r in g8_kcore(spark, str(tmp_path)).collect())
    with pytest.raises(duckdb.Error, match="fixpoint"):
        con.execute(_kcore_twin_sql(rounds=4)).fetchall()
