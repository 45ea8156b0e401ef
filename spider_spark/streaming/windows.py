"""Structured Streaming surface.

The reference is a batch loop; its streaming-analog semantics (T1-T4,
SURVEY.md §2.8) map to discrete rounds in crawl.py.  This module provides
the genuinely-streaming equivalents for event tables: watermarked
windowed aggregation and streaming dedup, run with Trigger.AvailableNow
so each invocation processes exactly the available data — the 1:1
mapping of "one crawl round == one micro-batch".

Every query reads the events through ``_events`` and drains through
``_to_memory``, which hands its memory-sink writer to
``lakehouse._drain``, the package's one availableNow driver.  The memory
sink is the test/grade sink (results are small aggregates); a
production deployment points writeStream at a parquet/TableStore sink
with the same checkpoint dir — the state store, the watermark, and the
availableNow drain are sink-independent.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lakehouse import _drain, _parquet_stream

_QUERY_IDS = itertools.count(1)


def _events(spark: SparkSession, path: str, max_files: int | None = None) -> DataFrame:
    """The events stream under ``path``, ``ts`` cast from parquet NTZ to a
    session-TZ TIMESTAMP (watermarks require TIMESTAMP, not
    TIMESTAMP_NTZ)."""
    schema = spark.read.parquet(path).schema
    stream = _parquet_stream(spark, path, schema, max_files)
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def _to_memory(stream: DataFrame, prefix: str, mode: str, checkpoint_dir: str) -> DataFrame:
    """Drain ``stream`` into a fresh memory table ``{prefix}_{n}`` in
    output ``mode``, checkpointed at ``{checkpoint_dir}/{prefix}_{n}``,
    and return that table."""
    name = f"{prefix}_{next(_QUERY_IDS)}"
    writer = stream.writeStream.format("memory").queryName(name).outputMode(mode)
    _drain(writer, f"{checkpoint_dir}/{name}")
    return stream.sparkSession.table(name)


def _window_counts(events: DataFrame, window: str) -> DataFrame:
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def windowed_event_counts_stream(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str,
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """readStream(events) -> watermark -> tumbling-window counts per
    event_type, drained with availableNow into a memory sink.

    Late rows beyond the watermark are dropped by the engine; with
    availableNow over static files the result equals the batch groupBy
    (verified in tests)."""
    events = _events(spark, events_path).withWatermark("ts", watermark)
    return _to_memory(_window_counts(events, window), "win_counts", "complete", checkpoint_dir)


def windowed_event_counts_batch(spark: SparkSession, events_path: str, window: str = "1 day") -> DataFrame:
    events = spark.read.parquet(events_path).withColumn("ts", F.col("ts").cast("timestamp"))
    return _window_counts(events, window)


def streaming_dedup(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup with state TTL via watermark —
    the streaming twin of the seen-set anti-join (J5)."""
    keys = keys or ["user_id", "event_type"]
    events = _events(spark, events_path).withWatermark("ts", watermark)
    return _to_memory(events.dropDuplicatesWithinWatermark(keys), "dedup", "append", checkpoint_dir)


def stream_static_join_counts(
    spark: SparkSession,
    events_path: str,
    dim: DataFrame,
    checkpoint_dir: str,
    on: str = "user_id",
    label: str = "segment",
) -> DataFrame:
    """Stream-static join: each micro-batch of the event stream joins the
    (re-read-per-batch) static dim — the streaming twin of the broadcast
    enrich (J1).  Spark broadcasts the dim side per batch when it is
    small, exactly the hot path a per-host config or geo dim takes at
    cluster scale.  Aggregated counts per dim label, availableNow."""
    joined = _events(spark, events_path).join(F.broadcast(dim), on=on, how="inner")
    agg = joined.groupBy(label).agg(F.count(F.lit(1)).alias("n"))
    return _to_memory(agg, "ssjoin", "complete", checkpoint_dir)


def _interval_join(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str,
    left_type: str,
    right_type: str,
    within: str,
    watermark: str,
    how: str,
    max_files: int | None,
    prefix: str,
) -> DataFrame:
    """(l_id, r_id) pairs of a watermarked stream-stream ``how`` join:
    same-user ``right_type`` events inside [l_ts, l_ts + within] of each
    ``left_type`` event."""

    def _side(tag: str, ev_type: str) -> DataFrame:
        s = _events(spark, events_path, max_files)
        return s.filter(F.col("event_type") == ev_type).select(
            F.col("event_id").alias(f"{tag}_id"),
            F.col("user_id").alias(f"{tag}_user"),
            F.col("ts").alias(f"{tag}_ts"),
        ).withWatermark(f"{tag}_ts", watermark)

    joined = _side("l", left_type).join(
        _side("r", right_type),
        F.expr(
            f"l_user = r_user AND r_ts >= l_ts AND r_ts <= l_ts + interval {within}"
        ),
        how,
    ).select(F.col("l_id"), F.col("r_id"))
    return _to_memory(joined, prefix, "append", checkpoint_dir)


def stream_stream_join_pairs(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str,
    left_type: str = "view",
    right_type: str = "click",
    within: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join — the streaming twin of the
    range-bracketing join (J9): left events pair with right events of the
    same user that land inside [left.ts, left.ts + within].

    Both sides carry a watermark so the join state is bounded: once the
    watermark passes ts + within, buffered left rows are evicted — the
    property that keeps a 10^10-event join from accumulating unbounded
    state on a real cluster.  Drained with availableNow over static files
    nothing is evicted early, so the result equals the batch interval
    join and DuckDB can state it exactly.
    """
    return _interval_join(
        spark, events_path, checkpoint_dir, left_type, right_type, within, watermark,
        "inner", None, "ssj",
    )


def stateful_running_counts(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str,
    key: str = "event_type",
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-key running totals carried in explicit GroupState — the streaming
    twin of the per-host politeness/token state (T2/T5): the state schema
    is exactly a hosts-bucket row (count so far, last seen timestamp).

    Drained with availableNow; with static input the final state equals
    the batch groupBy (verified in tests)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key_tuple, pdfs, state: GroupState):
        n = 0
        total = 0.0
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        if state.exists:
            prev_n, prev_total = state.get
            n += prev_n
            total += prev_total
        state.update((n, total))
        yield pd.DataFrame({key: [key_tuple[0]], "n": [n], "total": [round(total, 2)]})

    out = _events(spark, events_path).groupBy(key).applyInPandasWithState(
        update,
        outputStructType=f"{key} string, n long, total double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _to_memory(out, "stateful", "update", checkpoint_dir)


def session_window_stream(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization: readStream(events) -> watermark ->
    per-user session_window (dynamic-gap merge), drained with
    availableNow in APPEND mode (the only output mode Spark supports for
    streaming session windows: a session is emitted exactly once, when
    the watermark passes its end and no future event can merge into it).

    Staging contract (st6 builds this): the real events sit in the
    OLDEST file(s) and two far-future sentinel rows sit in two newer
    single-row files; maxFilesPerTrigger=1 processes them oldest-first,
    so the first sentinel advances the watermark past every real
    session's end and the second triggers the emission pass.  The
    sentinel sessions themselves stay in state (the watermark never
    passes them) and are never emitted — the appended output is exactly
    the batch session_window aggregate over the real events."""
    agg = (
        _events(spark, events_path, max_files=1)
        .withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return _to_memory(agg, "sessions", "append", checkpoint_dir)


def stream_stream_outer_join_pairs(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str,
    left_type: str = "view",
    right_type: str = "click",
    within: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the semantics the
    inner form (stream_stream_join_pairs) cannot express: a left event
    with no right match inside [ts, ts + within] still emits, with a
    NULL right id, but only once the watermark proves no future match
    can arrive (Spark emits null-augmented rows at state eviction, a
    batch outer join's answer reached incrementally with bounded state).

    Staging contract (st9 builds this, the st6 sentinel pattern): real
    events in the oldest file(s); two far-future sentinel files each
    carrying one row PER SIDE's event type (the watermark node sits
    above the type filter, so a sentinel must survive its side's filter
    to advance that side's clock; the global watermark is the min of
    both).  maxFilesPerTrigger=1 drains oldest-first: sentinel #1
    advances both watermarks past every real left row's expiry, sentinel
    #2's batch performs the eviction pass that emits the null rows.  The
    sentinel rows themselves stay in state unemitted and carry negative
    ids the caller filters."""
    return _interval_join(
        spark, events_path, checkpoint_dir, left_type, right_type, within, watermark,
        "leftOuter", 1, "ssoj",
    )
