"""Catalog part 5: Structured Streaming entries under the oracle gate.

The reference crawler is a batch loop (flask_spider run_spider round
ticker); its streaming-analog semantics (SURVEY.md §2.8 T1-T5) are
graded through the crawl-engine entries (c5-c7).  These entries grade
the GENUINELY streaming surface (spider_spark/streaming/windows.py) in
the driver gate: with ``Trigger.AvailableNow`` over a static staged copy
of the events table, each streaming result equals a batch aggregate, so
DuckDB can state the expectation exactly.

Staging: Spark's file-stream source requires a DIRECTORY, so each entry
symlinks (or rewrites) the events parquet into an SF-keyed scratch dir.
The checkpoint dir is wiped per call — a reused availableNow checkpoint
would see zero new files and drain an empty batch.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import time

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import _scratch, _t, q


def _stage(spark, sf_dir: str, tag: str, transform=None) -> tuple[str, str]:
    root = _scratch(tag, sf_dir)
    src = os.path.join(root, "src")
    os.makedirs(src)
    if transform is None:
        os.symlink(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(src, "events.parquet"),
        )
    else:
        transform(_t(spark, sf_dir, "events")).write.mode("overwrite").parquet(src)
    return src, os.path.join(root, "cp")


def _add_file(df, src: str) -> None:
    """Append ``df`` to ``src`` as one newer file."""
    df.coalesce(1).write.mode("append").parquet(src)
    time.sleep(0.05)  # distinct mtimes: file source orders oldest-first


def _sentinels(spark, src: str, rows_at) -> None:
    """The two far-future sentinel files (+10d, +20d past the latest
    staged event): file ``i`` holds ``rows_at(i, ts)``, events-shaped."""
    ev = spark.read.parquet(src)
    mx = ev.agg(F.max("ts")).collect()[0][0]
    for i, days in enumerate((10, 20)):
        rows = rows_at(i, mx + datetime.timedelta(days=days))
        _add_file(spark.createDataFrame(rows, ev.schema), src)


@contextlib.contextmanager
def _utc(spark):
    """Pin the session timezone to UTC for the block, then restore it."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


@q(
    "st1_stream_window_counts",
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
              event_type, COUNT(*) AS n
       FROM events GROUP BY 1, 2""",
)
def st1_stream_window_counts(spark, sf_dir):
    """readStream(events) -> watermark -> 1-day tumbling-window counts,
    drained with availableNow into a memory sink (streaming/windows.py).
    Over one static batch the watermark drops nothing, so the
    complete-mode result equals the batch groupBy — the per-day crawl
    report the reference's round loop derives, restated by DuckDB."""
    from .streaming.windows import windowed_event_counts_stream

    src, cp = _stage(spark, sf_dir, "st1")
    # F.window() buckets are epoch/UTC-aligned while the NTZ cast and the
    # day formatting use the session timezone; pin it to UTC so the day
    # label always round-trips the parquet wall clock.  Timezone-aware
    # expressions capture the zone at analysis time, so restoring the
    # conf after the (eagerly analyzed) result frame is built is safe.
    with _utc(spark):
        out = windowed_event_counts_stream(spark, src, cp)
        return out.select(
            F.date_format("window_start", "yyyy-MM-dd").alias("day"),
            "event_type",
            F.col("n").cast("long").alias("n"),
        )


@q(
    "st2_stream_dedup_keys",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def st2_stream_dedup_keys(spark, sf_dir):
    """Streaming exact dedup (dropDuplicatesWithinWatermark) — the
    seen-set anti-join's streaming twin (J5).  Which physical row
    survives per key is engine-chosen, so the graded projection is the
    key set itself, which must be exactly the batch DISTINCT."""
    from .streaming.windows import streaming_dedup

    src, cp = _stage(spark, sf_dir, "st2")
    out = streaming_dedup(spark, src, cp, keys=["user_id", "event_type"])
    return out.select(F.col("user_id").cast("long").alias("user_id"), "event_type")


@q(
    "st4_stream_static_join",
    """SELECT c.c_mktsegment AS segment, COUNT(*) AS n
       FROM events e JOIN customer c ON e.user_id = c.c_custkey
       GROUP BY 1""",
)
def st4_stream_static_join(spark, sf_dir):
    """Stream-static broadcast join (the streaming twin of J1): each
    micro-batch joins the static customer dim, then aggregates counts
    per market segment; with one availableNow batch the result is the
    batch inner-join groupBy, which DuckDB restates."""
    from .streaming.windows import stream_static_join_counts

    src, cp = _stage(spark, sf_dir, "st4")
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    out = stream_static_join_counts(spark, src, dim, cp)
    return out.select("segment", F.col("n").cast("long").alias("n"))


@q(
    "st5_stream_stream_join",
    """SELECT v.event_id AS l_id, c.event_id AS r_id
       FROM events v JOIN events c
         ON v.user_id = c.user_id
        AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
       WHERE v.event_type = 'view' AND c.event_type = 'click'""",
)
def st5_stream_stream_join(spark, sf_dir):
    """Watermarked stream-stream inner join (streaming/windows.py):
    views pair with same-user clicks within 30 minutes.  Watermarks on
    both sides bound the join state (left rows evict once the watermark
    passes ts + 30min); over one availableNow batch nothing evicts
    early, so the appended pairs equal the batch interval join, which
    DuckDB restates.  Output is the two event-id columns only — instants
    never surface, so the session timezone is irrelevant."""
    from .streaming.windows import stream_stream_join_pairs

    src, cp = _stage(spark, sf_dir, "st5")
    out = stream_stream_join_pairs(spark, src, cp)
    return out.select(
        F.col("l_id").cast("long").alias("l_id"),
        F.col("r_id").cast("long").alias("r_id"),
    )


@q(
    "st3_stream_stateful_totals",
    """SELECT event_type, COUNT(*) AS n,
              SUM(FLOOR(value * 4) / 4) AS total
       FROM events GROUP BY event_type""",
)
def st3_stream_stateful_totals(spark, sf_dir):
    """applyInPandasWithState running totals — the streaming twin of the
    per-host politeness/token state (T2/T5: the GroupState row is a
    hosts-bucket shape).  Values are quantized to exact binary quarters
    at staging so the running float sum is order-independent and
    DuckDB's SUM is bit-equal (and the operator's round(total, 2) is the
    identity on quarters).  Update mode emits one cumulative row per key
    per micro-batch; the final state is the row with the highest n."""
    from .streaming.windows import stateful_running_counts

    src, cp = _stage(
        spark,
        sf_dir,
        "st3",
        transform=lambda e: e.select(
            "ts", "event_type", (F.floor(F.col("value") * 4) / 4).alias("value")
        ),
    )
    out = stateful_running_counts(spark, src, cp, key="event_type")
    last = Window.partitionBy("event_type").orderBy(F.desc("n"))
    return (
        out.withColumn("rk", F.row_number().over(last))
        .filter(F.col("rk") == 1)
        .select("event_type", "n", "total")
    )


@q(
    "st6_stream_session_window",
    # same gaps-and-islands twin as w9: the sentinel staging (below)
    # makes the append-mode availableNow drain emit every REAL session
    # exactly once — the sentinel user's own sessions are never emitted
    # (the watermark never passes them), so the streaming result IS the
    # batch session_window aggregate over the original events
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
def st6_stream_session_window(spark, sf_dir):
    """STREAMING sessionization (streaming/windows.session_window_stream)
    in APPEND mode — the only mode Spark supports for streaming session
    windows: each session emits exactly once, when the watermark passes
    its end.  Real events stage as the oldest file; two single-row
    sentinel files (+10d, +20d, user_id -1) follow with
    maxFilesPerTrigger=1, so sentinel #1 advances the watermark past
    every real session and sentinel #2's batch flushes them; the
    sentinel sessions stay in state unemitted.  Output therefore equals
    the batch aggregate the w9 gaps-and-islands SQL restates.  Session
    TZ pinned to UTC for the NTZ casts (st1 pattern)."""
    from .streaming.windows import session_window_stream

    src, cp = _stage(spark, sf_dir, "st6")
    with _utc(spark):
        _sentinels(spark, src, lambda i, ts: [(-1, ts, -1, "sentinel", 0.0, "{}")])
        out = session_window_stream(spark, src, cp)
        # the sentinel user's sessions are staging scaffolding (a final
        # no-data batch can flush sentinel #1 once #2 advances the
        # watermark) — real user_ids are non-negative
        return out.filter(F.col("user_id") >= 0).select(
            "user_id",
            F.unix_micros(F.col("session_start")).alias("session_start"),
            F.unix_micros(F.col("session_end")).alias("session_end"),
            F.col("n_events").cast("long").alias("n_events"),
        )


@q(
    "st7_stream_lakehouse_sink",
    # the sink table must hold EXACTLY one copy of every staged event —
    # a re-delivered micro-batch (the at-least-once contract this entry
    # replays by hand) would double the counts
    """SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
       FROM events GROUP BY event_type""",
)
def st7_stream_lakehouse_sink(spark, sf_dir):
    """Exactly-once streaming ingest into the REAL TableStore
    (streaming/lakehouse.py + storage.append_txn): the events table is
    staged as 3 parquet files, drained with availableNow +
    maxFilesPerTrigger=1 (3 micro-batches, one manifest commit each,
    batch id recorded as a transactional watermark IN the manifest).
    The entry then replays micro-batch 0 by hand — the at-least-once
    re-delivery foreachBatch permits after a crash — and RAISES unless
    the watermark skips it; a full restart on the same checkpoint must
    drain zero batches.  What gets graded is the store's parquet bytes:
    any double-append breaks the count twin.  Replaces the reference's
    unique-index IntegrityError retry (db_config.py:46-54) with a
    transactional watermark."""
    from .storage import TableStore
    from .streaming.lakehouse import stream_append_table

    src, cp = _stage(
        spark,
        sf_dir,
        "st7",
        transform=lambda df: df.select("event_id", "user_id", "event_type").repartition(3),
    )
    store = TableStore(spark, os.path.join(os.path.dirname(src), "store"))
    schema = spark.read.parquet(src).schema
    n1 = stream_append_table(
        spark, src, schema, store, "events_sink", cp,
        txn_key="st7", max_files_per_trigger=1,
    )
    if n1 < 2:
        raise RuntimeError(f"expected >=2 micro-batches from 3 staged files, got {n1}")
    replay = store.append_txn("events_sink", spark.read.parquet(src), "st7", 0)
    if replay is not None:
        raise RuntimeError("replayed micro-batch 0 was appended — exactly-once broken")
    n2 = stream_append_table(spark, src, schema, store, "events_sink", cp, txn_key="st7")
    if n2 != 0:
        raise RuntimeError(f"restart on a drained checkpoint re-appended {n2} batches")
    return (
        store.read("events_sink")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


@q(
    "st8_stream_cdc_merge",
    # the mirror table after three ordered CDC files: file 0 inserts
    # k 0..199 (v=k), file 1 upserts k 100..299 (v=1000+k), file 2
    # upserts k 200..399 (v=2000+k) and DELETES k 150..179 — so the
    # final value of every key is a pure function of which file touched
    # it last
    """WITH ks AS (SELECT unnest(generate_series(0, 399)) AS k)
       SELECT CAST(k AS BIGINT) AS k,
              CAST(CASE WHEN k < 100 THEN k
                   WHEN k < 200 THEN 1000 + k
                   ELSE 2000 + k END AS BIGINT) AS v
       FROM ks WHERE NOT (k BETWEEN 150 AND 179)""",
)
def st8_stream_cdc_merge(spark, sf_dir):
    """CDC apply into the REAL TableStore (streaming/lakehouse.py
    stream_merge_table): a change feed of three files drains with
    availableNow + maxFilesPerTrigger=1 (file order = batch order =
    last-writer-wins), each micro-batch applied as ONE merge_upsert
    whose snapshot swap carries the batch id (merge is NOT idempotent —
    a replay after a later batch would resurrect overwritten values, so
    the watermark must be transactional with the commit, not a side
    file).  Deletes ride the same batch as that file's MERGE DELETE
    branch.  The entry then restarts the drain on a FRESH checkpoint
    with the SAME txn key — batch ids replay from 0 and every one must
    be skipped (RAISES otherwise); the graded bytes are the final
    mirror table."""
    from .storage import TableStore
    from .streaming.lakehouse import stream_merge_table

    root = _scratch("st8", sf_dir)
    src = os.path.join(root, "src")
    os.makedirs(src)
    store = TableStore(spark, os.path.join(root, "store"))

    def kv(a, b, off=None):
        """Keys a..b-1 upserting v = k + off, or deleting when off is None."""
        v = F.lit(0).cast("long") if off is None else F.col("id") + off
        return spark.range(a, b).select(
            F.col("id").alias("k"), v.alias("v"), F.lit(off is None).alias("del")
        )

    _add_file(kv(0, 200, 0), src)
    _add_file(kv(100, 300, 1000), src)
    _add_file(kv(200, 400, 2000).unionByName(kv(150, 180)), src)
    schema = spark.read.parquet(src).schema
    n1 = stream_merge_table(
        spark, src, schema, store, "mirror", os.path.join(root, "cp"),
        key="k", delete_col="del", txn_key="st8", max_files_per_trigger=1,
    )
    if n1 < 2:
        raise RuntimeError(f"expected >=2 CDC micro-batches from 3 files, got {n1}")
    # crash-replay: a FRESH checkpoint re-delivers batch ids from 0 with
    # the same txn key — every batch must be skipped by the watermark
    n2 = stream_merge_table(
        spark, src, schema, store, "mirror", os.path.join(root, "cp2"),
        key="k", delete_col="del", txn_key="st8", max_files_per_trigger=1,
    )
    if n2 != 0:
        raise RuntimeError(f"replayed CDC batches were re-applied: {n2}")
    return store.read("mirror").select("k", "v")


@q(
    "st9_stream_outer_join",
    # batch restatement of the null-augmented join: a view with no
    # same-user click inside 30min gets a NULL r_id — the streaming form
    # reaches the same answer incrementally, emitting each null row only
    # when the watermark proves no future match can arrive
    """SELECT v.event_id AS l_id, c.event_id AS r_id
       FROM events v LEFT JOIN events c
         ON v.user_id = c.user_id AND c.event_type = 'click'
        AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
       WHERE v.event_type = 'view'""",
)
def st9_stream_outer_join(spark, sf_dir):
    """Watermarked stream-stream LEFT OUTER join
    (streaming/windows.stream_stream_outer_join_pairs) — the semantics
    st5's inner join cannot express: unmatched views emit with NULL
    click ids at watermark-driven state eviction.  Staging is the st6
    sentinel pattern, with one twist the watermark topology forces: a
    sentinel must carry each side's OWN event type (the watermark node
    sits above the type filter, and the global watermark is the min of
    both sides), so each far-future file holds a view row AND a click
    row; sentinel #1 advances both clocks past every real view's
    expiry, sentinel #2's batch runs the eviction pass that emits the
    null rows, and the sentinels themselves (negative event ids) stay
    in state, filtered here.  Output is id pairs only — no instants
    surface, so the session timezone is irrelevant."""
    from .streaming.windows import stream_stream_outer_join_pairs

    src, cp = _stage(spark, sf_dir, "st9")
    _sentinels(spark, src, lambda i, ts: [
        (-(2 * i + 1), ts, -1, "view", 0.0, "{}"),
        (-(2 * i + 2), ts, -1, "click", 0.0, "{}"),
    ])
    out = stream_stream_outer_join_pairs(spark, src, cp)
    return out.filter(F.col("l_id") >= 0).select(
        F.col("l_id").cast("long").alias("l_id"),
        F.col("r_id").cast("long").alias("r_id"),
    )
