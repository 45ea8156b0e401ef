"""Catalog part 3: the top-orders report, temporal joins, rollups,
graph iterations, sketches and embedding statistics — all with DuckDB
oracles."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import _scratch, _t, q


@q(
    "q3_top_orders",
    """SELECT o.o_orderkey, ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
       FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       WHERE c.c_mktsegment = 'BUILDING'
       GROUP BY o.o_orderkey ORDER BY revenue DESC, o.o_orderkey LIMIT 10""",
)
def q3_top_orders(spark, sf_dir):
    """TPC-H-Q3 shape: 3-way join + top-k — the engine's 'heavy report'
    path (broadcast dim + shuffled fact join + TakeOrdered)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@q(
    "a9_rollup",
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
       FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""",
)
def a9_rollup(spark, sf_dir):
    """Grouping sets: ROLLUP over status×priority (subtotal rows)."""
    return (
        _t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@q(
    "s4_embedding_norms",
    """SELECT label, ROUND(AVG(sqrt(list_dot_product(embedding, embedding))), 4) AS avg_norm,
              COUNT(*) AS n
       FROM embeddings GROUP BY label""",
)
def s4_embedding_norms(spark, sf_dir):
    """Vector column statistics, JVM aggregate over array<float>."""
    from .functions.similarity import norm_col

    return (
        _t(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(
            F.round(F.avg(norm_col(F.col("embedding"))), 4).alias("avg_norm"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@q(
    "j8_asof_last_click",
    """WITH p AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase'),
            c AS (SELECT event_id, user_id, ts, value FROM events
                  WHERE event_type = 'click')
       SELECT p_id, user_id, c_id, c_value FROM (
         SELECT p.event_id AS p_id, p.user_id AS user_id,
                c.event_id AS c_id, ROUND(c.value, 6) AS c_value,
                ROW_NUMBER() OVER (PARTITION BY p.event_id
                                   ORDER BY c.ts DESC, c.event_id DESC) AS rn
         FROM p JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts) t
       WHERE rn = 1""",
)
def j8_asof_last_click(spark, sf_dir):
    """As-of (point-in-time) join: for each purchase, the latest click by
    the same user at or before it — the cache-aside "newest state before
    this moment" lookup (check_spider.py:64-96 picks the most recent
    crawl row) as a first-class operator.  One union + window pass
    (functions/temporal.py asof_join): a single key shuffle, no theta
    join, no row explosion; the DuckDB twin is the naive O(n^2-per-user)
    inequality join + ROW_NUMBER, which must agree exactly."""
    from .functions.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("c_id"), F.col("value").alias("c_value")
    )
    j = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["c_id", "c_value"], how="inner",
    )
    return j.select(
        "p_id", "user_id", "c_id", F.round("c_value", 6).alias("c_value")
    )


@q(
    "j9_interval_count",
    """WITH iv AS (SELECT event_id AS win_id, epoch_us(ts) AS s,
                          epoch_us(ts) + 60000000 * (1 + event_id % 30) AS e
                   FROM events WHERE event_type = 'error'),
            pt AS (SELECT epoch_us(ts) AS p, value FROM events
                   WHERE event_type = 'view')
       SELECT iv.win_id AS win_id, COUNT(pt.p) AS n_views,
              ROUND(COALESCE(SUM(pt.value), 0), 4) AS sum_value
       FROM iv LEFT JOIN pt ON pt.p >= iv.s AND pt.p < iv.e
       GROUP BY iv.win_id""",
)
def j9_interval_count(spark, sf_dir):
    """Range (point-in-interval) join: each error event opens an
    irregular blackout window [ts, ts + (1 + event_id % 30) minutes);
    count the view events falling inside each window regardless of user
    — the per-host quiet-window shape of the politeness gate, with NO
    equi key.  Naive Spark plans this as a nested-loop; the engine path
    (functions/temporal.py bucketed_interval_join, 30-min buckets)
    keeps it an ordinary equi-join; windows with zero views are kept at
    0 via the interval-side left join.  Session TZ is pinned to UTC so
    the NTZ->epoch cast matches DuckDB's epoch_us exactly (st1's
    pattern; analysis-time capture makes restoring the conf safe)."""
    from .functions.temporal import bucketed_interval_join

    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        base = _t(spark, sf_dir, "events").select(
            "event_id", "event_type", "value",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        iv = base.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("win_id"),
            F.col("us").alias("s"),
            (F.col("us") + F.lit(60000000) * (F.lit(1) + F.col("event_id") % 30)).alias("e"),
        )
        pt = base.filter(F.col("event_type") == "view").select(
            F.col("us").alias("p"), "value"
        )
        matched = bucketed_interval_join(
            pt, iv, point_col="p", start_col="s", end_col="e",
            bucket_width=30 * 60 * 1_000_000, max_span_buckets=8,
        )
        agg = matched.groupBy("win_id").agg(
            F.count("p").alias("mn"), F.sum("value").alias("mv")
        )
        return (
            iv.select("win_id")
            .join(agg, "win_id", "left")
            .select(
                "win_id",
                F.coalesce(F.col("mn"), F.lit(0)).cast("long").alias("n_views"),
                F.round(F.coalesce(F.col("mv"), F.lit(0.0)), 4).alias("sum_value"),
            )
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


@q(
    "g1_pagerank3",
    # 3 unrolled power iterations; every float literal is cast to DOUBLE
    # (DuckDB would otherwise run DECIMAL arithmetic and diverge); the
    # final score is PR * N (mean 1.0) so round(6) keeps real precision
    """WITH nn AS (SELECT COUNT(*) AS n FROM documents),
       edges AS (
         SELECT doc_id AS src, (7 * doc_id + 13) % (SELECT n FROM nn) AS dst
         FROM documents
         UNION ALL
         SELECT doc_id, (11 * doc_id + 29) % (SELECT n FROM nn) FROM documents),
       pr0 AS (SELECT doc_id AS v, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS pr
               FROM documents),
       pr1 AS (SELECT d.doc_id AS v,
                      CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
                      + CAST(0.85 AS DOUBLE) * COALESCE(SUM(p.pr / 2), 0) AS pr
               FROM documents d
               LEFT JOIN edges e ON e.dst = d.doc_id
               LEFT JOIN pr0 p ON p.v = e.src
               GROUP BY d.doc_id),
       pr2 AS (SELECT d.doc_id AS v,
                      CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
                      + CAST(0.85 AS DOUBLE) * COALESCE(SUM(p.pr / 2), 0) AS pr
               FROM documents d
               LEFT JOIN edges e ON e.dst = d.doc_id
               LEFT JOIN pr1 p ON p.v = e.src
               GROUP BY d.doc_id),
       pr3 AS (SELECT d.doc_id AS v,
                      CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
                      + CAST(0.85 AS DOUBLE) * COALESCE(SUM(p.pr / 2), 0) AS pr
               FROM documents d
               LEFT JOIN edges e ON e.dst = d.doc_id
               LEFT JOIN pr2 p ON p.v = e.src
               GROUP BY d.doc_id)
       SELECT v AS doc_id, ROUND(pr * (SELECT n FROM nn), 6) AS score FROM pr3""",
)
def g1_pagerank3(spark, sf_dir):
    """Fixed-iteration PageRank over a deterministic out-degree-2 link
    graph (dst = (7*id+13)%N and (11*id+29)%N) — the iterative
    join+agg DataFrame loop, the float sibling of the d6/d7 integer
    label-propagation fixpoints; 3 power iterations keep it exactly
    SQL-replicable.  Host-authority scoring is the crawl use (prioritize
    well-linked hosts); at scale each iteration is one shuffle on dst
    and the rank vector stays columnar (the production loop would
    localCheckpoint per iteration like connected_components does)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    edges = None
    for a, b in ((7, 13), (11, 29)):
        e = docs.select(
            F.col("doc_id").alias("src"),
            ((F.lit(a) * F.col("doc_id") + F.lit(b)) % F.lit(n)).alias("dst"),
        )
        edges = e if edges is None else edges.unionAll(e)
    ranks = docs.select(F.col("doc_id").alias("v"), F.lit(1.0 / n).alias("pr"))
    for _ in range(3):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["v"])
            .select("dst", (F.col("pr") / 2).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            docs.select(F.col("doc_id").alias("v"))
            .join(contrib, F.col("v") == F.col("dst"), "left")
            .select(
                "v",
                (
                    F.lit(0.15 / n)
                    + F.lit(0.85) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return ranks.select(
        F.col("v").alias("doc_id"), F.round(F.col("pr") * F.lit(n), 6).alias("score")
    )


@q(
    "w9_session_window",
    # gaps-and-islands twin: a new session opens when the gap from the
    # previous event is >= 30 min (Spark's half-open [start, last+gap)
    # semantics — an event landing exactly AT the close boundary starts
    # a NEW session, hence >= not >); session end = last event + gap
    """WITH m AS (SELECT user_id, ts,
                    CASE WHEN lag(ts) OVER w IS NULL
                           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                         THEN 1 ELSE 0 END AS new_s
                  FROM events
                  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       s AS (SELECT user_id, ts,
                    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
             FROM m)
       SELECT user_id,
              epoch_us(MIN(ts)) AS session_start,
              epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS session_end,
              COUNT(*) AS n_events
       FROM s GROUP BY user_id, sid""",
)
def w9_session_window(spark, sf_dir):
    """Sessionization via Spark's native session_window (dynamic-gap
    merge — the operator behind per-user dwell analysis and the
    politeness tier's host-quiet detection): events within 30 min of a
    session's moving end merge; bounds + integer counts only (no float
    aggregation, so the twin hashes exactly).  One exchange on user_id;
    the gaps-and-islands SQL restatement needs two windows + a
    re-aggregate — the Spark form is both terser AND cheaper.  Session
    TZ pinned to UTC for the NTZ->epoch casts (j9/st1 pattern)."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        ev = _t(spark, sf_dir, "events").select(
            "user_id", F.col("ts").cast("timestamp").alias("ts")
        )
        out = (
            ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.unix_micros(F.col("w.start")).alias("session_start"),
                F.unix_micros(F.col("w.end")).alias("session_end"),
                F.col("n_events").cast("long").alias("n_events"),
            )
        )
        return out
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


@q(
    "a13_heavy_hitters",
    # exact ground truth: the full groupBy top-10 with the same
    # deterministic Zipf-ish key construct (k = 65536 // (lcg(x)+1) has
    # P(k=j) ~ 1/(j(j+1)), so a bounded sketch must certify a real tail)
    """WITH keyed AS (
         SELECT 65536 // ((1103515245 * event_id + 12345) % 65536 + 1) AS k
         FROM events)
       SELECT k, COUNT(*) AS cnt FROM keyed
       GROUP BY k ORDER BY cnt DESC, k LIMIT 10""",
)
def a13_heavy_hitters(spark, sf_dir):
    """Heavy hitters with bounded memory (functions/sketch.py): one
    mapInPandas pass of per-partition Misra-Gries (192 counters) emits
    a candidate superset of every key with count > N/193, then ONLY the
    candidates are recounted exactly (broadcast semi-join + groupBy) —
    the shuffle carries O(candidates) rows, not O(distinct keys).  The
    operator RAISES unless the k-th count clears the MG bound, so the
    graded answer is certified-exact, never sketch-approximate.  At
    10^9 distinct URLs/tokens this is the difference between a metadata
    shuffle and shuffling every key ever seen.  The key is a
    deterministic Zipf-ish surrogate (P(k=j) ~ 1/(j(j+1))) so the
    frequency tail is real at every SF."""
    from .functions.sketch import heavy_hitters_topk

    keyed = _t(spark, sf_dir, "events").select(
        F.expr("65536 div ((1103515245 * event_id + 12345) % 65536 + 1)").alias("k")
    )
    return heavy_hitters_topk(keyed, "k", k=10, capacity=192)


def _kcore_twin_sql(k: int = 3, rounds: int = 6) -> str:
    """Unrolled synchronized-peeling twin (g1 pattern): each round
    recounts degrees among the previous round's survivors and keeps
    >= k.  ``rounds`` exceeds the measured peel depth at every SF (5 at
    sf0.1 including the final no-op), so the last alive set IS the
    fixpoint — and the twin certifies it like the Spark side does
    (k_core raises if the fixpoint needs more rounds than its bound):
    when the last round still peeled a node, the query fails with
    error() instead of returning a truncated core.  Each alive set is a
    MATERIALIZED CTE: inlined, round r would re-plan round r-1 twice, and
    the plan would grow as 2^rounds."""
    blocks = [
        "nn AS (SELECT COUNT(*) AS n FROM documents)",
        """e0 AS (
         SELECT doc_id AS src,
                (doc_id * doc_id + 13) % (SELECT n FROM nn) AS dst
         FROM documents
         UNION ALL
         SELECT doc_id,
                (doc_id * doc_id * doc_id + 29) % (SELECT n FROM nn)
         FROM documents)""",
        """ud AS (SELECT src AS a, dst AS b FROM e0 WHERE src <> dst
              UNION
              SELECT dst, src FROM e0 WHERE src <> dst)""",
        "a0 AS (SELECT DISTINCT a FROM ud)",
    ]
    for r in range(1, rounds + 1):
        blocks.append(
            f"""d{r} AS (SELECT u.a, COUNT(*) AS c FROM ud u
               JOIN a{r - 1} x ON u.a = x.a
               JOIN a{r - 1} y ON u.b = y.a GROUP BY u.a)"""
        )
        blocks.append(f"a{r} AS MATERIALIZED (SELECT a FROM d{r} WHERE c >= {k})")
    return (
        "WITH " + ",\n       ".join(blocks) + f"""
       SELECT u.a AS node, CAST(COUNT(*) AS BIGINT) AS deg
       FROM ud u
       JOIN a{rounds} x ON u.a = x.a
       JOIN a{rounds} y ON u.b = y.a
       WHERE (SELECT CASE WHEN (SELECT COUNT(*) FROM a{rounds})
                               = (SELECT COUNT(*) FROM a{rounds - 1}) THEN TRUE
                          ELSE error('g8 twin: no k-core fixpoint within {rounds} peel rounds')
                     END)
       GROUP BY u.a"""
    )


@q(
    "g8_kcore",
    # 3-core of a skewed graph (dst = id^2+13 / id^3+29 mod N —
    # varied degrees, so peeling genuinely cascades: 3 rounds at
    # sf0.001/0.01, 5 at sf0.1) — the twin unrolls 6 synchronized peel
    # rounds, past the fixpoint at every SF, and both sides CERTIFY
    # convergence (k_core raises, the twin calls error() otherwise), so
    # both compute the true k-core, not a truncation
    _kcore_twin_sql(),
)
def g8_kcore(spark, sf_dir):
    """k-core decomposition (functions/graph.k_core): iterated removal
    of vertices with < k surviving neighbors until fixpoint — the
    standard link-graph quality tier (spam tendrils and dead-end chains
    peel off; densely-linked regions survive) and the graph sibling of
    the dedup ladder's component fixpoints.  All-integer (degrees), so
    engine-exact; convergence is certified, not assumed — the helper
    RAISES if the peel does not stabilize within its round bound.
    Output: surviving vertices with their in-core degree."""
    from .functions.graph import k_core

    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").cast("long").alias("doc_id"))
    n = docs.count()
    d = F.col("doc_id")
    edges = docs.select(d.alias("src"), ((d * d + 13) % n).alias("dst")).unionAll(
        docs.select(d.alias("src"), ((d * d * d + 29) % n).alias("dst"))
    )
    return k_core(edges, k=3).select("node", F.col("deg").cast("long").alias("deg"))


@q(
    "j13_asof_next_purchase",
    # forward as-of: for each view, the EARLIEST same-user purchase at
    # or after it (ties broken by ascending purchase id) — j8's twin
    # mirrored with ASC ordering and the inequality flipped
    """WITH v AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'view'),
            p AS (SELECT event_id, user_id, ts, value FROM events
                  WHERE event_type = 'purchase')
       SELECT v_id, user_id, p_id, p_value FROM (
         SELECT v.event_id AS v_id, v.user_id AS user_id,
                p.event_id AS p_id, ROUND(p.value, 6) AS p_value,
                ROW_NUMBER() OVER (PARTITION BY v.event_id
                                   ORDER BY p.ts ASC, p.event_id ASC) AS rn
         FROM v JOIN p ON p.user_id = v.user_id AND p.ts >= v.ts) t
       WHERE rn = 1""",
)
def j13_asof_next_purchase(spark, sf_dir):
    """FORWARD as-of join (asof_join(direction='forward')): for each
    view, the first purchase by the same user at or after it — the
    time-to-convert / next-successful-fetch-after-error mode that j8's
    backward as-of cannot express.  Same physics as j8: one union + ONE
    key shuffle + a single window pass (first(ignorenulls) over the
    FOLLOWING frame, left rows sorting before right at equal ts so
    at-or-after is inclusive) — no inequality join, no row explosion;
    the DuckDB twin is the naive O(n^2-per-user) theta join +
    ROW_NUMBER, which must agree exactly."""
    from .functions.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"), "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("p_id"), F.col("value").alias("p_value")
    )
    j = asof_join(
        views, purchases, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["p_id", "p_value"], how="inner", direction="forward",
    )
    return j.select("v_id", "user_id", "p_id", F.round("p_value", 6).alias("p_value"))


@q(
    "a23_hll_sketch_store",
    # invariant oracle (the a10/c2 pattern): the graded rows are EXACT
    # per-slice and union cardinalities, SQL-restatable; the sketch
    # path — per-round HLL sketches persisted as binary store rows,
    # reread, merged with hll_union_agg — must estimate each within 5%
    # or the entry RAISES (lgConfigK=12 -> ~1.6% relative standard
    # error, so 5% is a >3-sigma band, not a tuned constant)
    """SELECT 'r1' AS probe,
              CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS exact_distinct
       FROM documents WHERE doc_id % 3 IN (0, 1)
       UNION ALL
       SELECT 'r2', CAST(COUNT(DISTINCT doc_id) AS BIGINT)
       FROM documents WHERE doc_id % 3 IN (1, 2)
       UNION ALL
       SELECT 'r3', CAST(COUNT(DISTINCT doc_id) AS BIGINT)
       FROM documents WHERE doc_id % 4 = 0
       UNION ALL
       SELECT 'union', CAST(COUNT(DISTINCT doc_id) AS BIGINT)
       FROM documents""",
)
def a23_hll_sketch_store(spark, sf_dir):
    """Mergeable distinct-count sketches as STORE STATE (Spark 4
    datasketches: hll_sketch_agg / hll_union_agg / hll_sketch_estimate):
    each crawl round appends its URL-universe HLL sketch as a BINARY
    row to a store table; any later consumer rereads the rows and
    unions them — cross-round distinct counting at sketch cost, never
    a re-scan of history (the mergeable-summaries property a13's
    Misra-Gries uses for heavy hitters, applied to cardinality).  The
    parquet round-trip matters: it proves the sketch binary survives
    storage, which is what makes per-round checkpointing of the
    estimator sound.  Estimates are engine-specific, so the graded
    output is the EXACT cardinalities; the sketch path gates them
    inside a 5% band and RAISES on miss."""
    from .storage import TableStore

    root = _scratch("a23_store", sf_dir)
    store = TableStore(spark, root)
    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").cast("long").alias("doc_id"))
    slices = {
        "r1": docs.filter(F.col("doc_id") % 3 < 2),
        "r2": docs.filter(F.col("doc_id") % 3 >= 1),
        "r3": docs.filter(F.col("doc_id") % 4 == 0),
    }
    for name, sl in slices.items():
        store.append(
            "sketches",
            sl.agg(F.hll_sketch_agg("doc_id", F.lit(12)).alias("sk")).select(
                F.lit(name).alias("probe"), "sk"
            ),
        )
    persisted = store.read("sketches")
    ests = {
        r["probe"]: r["est"]
        for r in persisted.select(
            "probe", F.hll_sketch_estimate("sk").alias("est")
        ).collect()
    }
    ests["union"] = persisted.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).collect()[0]["est"]
    exacts = {name: sl.distinct().count() for name, sl in slices.items()}
    exacts["union"] = docs.distinct().count()
    for name, exact in exacts.items():
        if abs(ests[name] - exact) * 20 > exact:
            raise AssertionError(
                f"HLL estimate for {name} out of band: est={ests[name]} exact={exact}"
            )
    return spark.createDataFrame(
        sorted(exacts.items()), "probe string, exact_distinct long"
    )


@q(
    "w14_gap_fill_ffill",
    # time-series resample: per user, one row per day from first to
    # last view day (gaps GENERATED, not observed), carrying the last
    # known value forward — day index is BIGINT epoch-microseconds div
    # 86400e6 (no timezone, no date type), summand milli-scaled,
    # per-day winner totalized by (ts DESC, event_id DESC)
    """WITH e AS (
         SELECT user_id,
                epoch_us(ts) // 86400000000 AS d,
                CAST(FLOOR(value * 1000) AS BIGINT) AS v,
                ROW_NUMBER() OVER (
                  PARTITION BY user_id, epoch_us(ts) // 86400000000
                  ORDER BY ts DESC, event_id DESC) AS rn
         FROM events WHERE event_type = 'view'),
       daily AS (SELECT user_id, d, v FROM e WHERE rn = 1),
       span AS (SELECT user_id, MIN(d) AS lo, MAX(d) AS hi
                FROM daily GROUP BY user_id),
       days AS (SELECT user_id, unnest(generate_series(lo, hi)) AS d
                FROM span)
       SELECT days.user_id AS user_id, days.d AS day_idx,
              CAST(last_value(daily.v IGNORE NULLS) OVER (
                PARTITION BY days.user_id ORDER BY days.d) AS BIGINT)
                AS filled_v,
              daily.v IS NULL AS was_gap
       FROM days LEFT JOIN daily
         ON daily.user_id = days.user_id AND daily.d = days.d""",
)
def w14_gap_fill_ffill(spark, sf_dir):
    """Gap-filling resample + forward fill — the time-series
    normalization every monitoring/feature pipeline runs (a metric
    sampled irregularly becomes one row per calendar bucket, last
    observation carried forward).  Missing buckets are GENERATED
    (sequence + explode over each user's [first, last] day span), then
    a last(ignorenulls) window carries values across them; the leading
    bucket always has a value by construction (the span starts at an
    observation).  Everything is BIGINT (epoch-us day index, milli-
    scaled values, struct-max day winner), so the fill is engine-exact.
    Plan shape: one (user, day) aggregate, a tiny span aggregate whose
    exploded output joins back on (user, day), one ordered window per
    user — generation never touches the raw event volume.  At 100 TB
    the explode emits rows proportional to user-days, not events."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "view").select(
            "user_id",
            F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            F.col("event_id").cast("long").alias("eid"),
            F.floor(F.col("value") * 1000).cast("long").alias("v"),
        )
        daily = ev.groupBy("user_id", "d").agg(
            F.max(F.struct("us", "eid", "v")).getField("v").alias("v")
        )
        span = daily.groupBy("user_id").agg(
            F.min("d").alias("lo"), F.max("d").alias("hi")
        )
        days = span.select(
            "user_id", F.explode(F.sequence("lo", "hi")).alias("d")
        )
        w = (
            Window.partitionBy("user_id")
            .orderBy("d")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            days.join(daily, ["user_id", "d"], "left")
            .select(
                "user_id",
                F.col("d").alias("day_idx"),
                F.last("v", ignorenulls=True).over(w).cast("long").alias("filled_v"),
                F.col("v").isNull().alias("was_gap"),
            )
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
