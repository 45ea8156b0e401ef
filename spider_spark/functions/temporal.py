"""Temporal join operators Spark lacks as built-ins: point-in-time
(as-of) join and point-in-interval (range) join.

Reference behavior being generalized: the crawler repeatedly answers
"what was the latest state at or before this moment" — cache-aside
lookups pick the most recent crawl result before a query
(check_spider.py:64-96 reads the newest row by date), and claw-log
throughput windows bracket fetches between round timestamps
(share_func.py clawLog).  Both are restated here as engine-grade
operators over arbitrary DataFrames.

Scale notes (the whole point of these shapes):
- A naive as-of join is a non-equi theta join -> Spark plans a
  BroadcastNestedLoopJoin or cartesian product, O(|L|*|R|) per key.
  ``asof_join`` instead unions both sides and runs ONE window pass:
  a single hash-shuffle on the key + per-partition sort, i.e. the
  same cost envelope as a sort-merge join, no row explosion.  Skewed
  keys hit the same limits as any window (salt upstream if one key
  dominates).
- A naive interval join likewise degenerates to a nested loop.
  ``bucketed_interval_join`` quantizes time into fixed-width buckets,
  explodes each interval onto the buckets it overlaps (bounded by
  ``max_span_buckets`` -- a too-wide interval RAISES rather than
  silently exploding or being dropped), maps each point to exactly one
  bucket, and equi-joins on the bucket id before re-applying the exact
  range predicate.  The plan is an ordinary shuffled equi-join that
  AQE can re-plan; each (interval, point) pair can meet in at most one
  bucket, so no post-join dedup is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_TS = "_asof_ts"
_SIDE = "_asof_side"
_RTS = "_asof_right_ts"
_ROW = "_asof_right_row"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    how: str = "inner",
    direction: str = "backward",
) -> DataFrame:
    """For every left row, attach ``right_cols`` from the matching right
    row with the same ``on`` key: ``direction='backward'`` (default)
    picks the LATEST right row with ``right_ts <= left_ts`` (inclusive);
    ``'forward'`` picks the EARLIEST right row with
    ``right_ts >= left_ts`` — the time-to-next-event mode (next
    conversion after a view, next successful fetch after an error).

    ``right`` must already be projected to ``[on, right_ts, *right_cols]``
    shape with ``right_cols`` disjoint from ``left``'s columns.  Among
    right rows sharing the same timestamp, backward keeps the one
    sorting LAST under ``(right_ts, *right_cols)`` and forward the one
    sorting FIRST — ties deterministic either way.  ``how='inner'``
    drops left rows with no match; ``'left'`` keeps them with nulls.
    """
    clash = set(right_cols) & set(left.columns)
    if clash:
        raise ValueError(f"right_cols collide with left columns: {sorted(clash)}")
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")

    # side ordering makes the boundary inclusive: backward sorts right
    # rows BEFORE left at equal ts (carry sees them), forward AFTER.
    # Each right row travels as ONE struct (_ROW: its ts as _RTS, then
    # right_cols), so a NULL right value is carried as part of its row,
    # never stitched from another row; left rows (and right rows with a
    # NULL ts, which match nothing) carry a NULL struct that ignorenulls
    # skips.
    l_side = 1 if direction == "backward" else 0
    out_cols = list(left.columns)
    row = F.when(
        F.col(right_ts).isNotNull(),
        F.struct(F.col(right_ts).alias(_RTS), *[F.col(c) for c in right_cols]),
    )
    r_tagged = right.select(
        *[
            F.col(on) if c == on else F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in out_cols
        ],
        F.col(right_ts).alias(_TS),
        F.lit(1 - l_side).alias(_SIDE),
        row.alias(_ROW),
    )
    l_tagged = left.select(
        *out_cols,
        F.col(left_ts).alias(_TS),
        F.lit(l_side).alias(_SIDE),
        F.lit(None).cast(r_tagged.schema[_ROW].dataType).alias(_ROW),
    )
    unioned = l_tagged.unionByName(r_tagged)

    # Backward: right rows sort before left rows at equal timestamps and
    # last(ignorenulls) over the PRECEDING frame carries the newest
    # match; forward mirrors it — left first at equal ts,
    # first(ignorenulls) over the FOLLOWING frame.  The struct's trailing
    # right_cols break ties among same-timestamp right rows
    # deterministically.
    base = Window.partitionBy(on).orderBy(_TS, _SIDE, _ROW)
    if direction == "backward":
        w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        carry = F.last
    else:
        w = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        carry = F.first
    carried = unioned.select(
        *out_cols, F.col(_SIDE), carry(_ROW, ignorenulls=True).over(w).alias(_ROW)
    )
    matched = carried.filter(F.col(_SIDE) == l_side).select(
        *out_cols,
        F.col(_ROW).getField(_RTS).alias("asof_matched_ts"),
        *[F.col(_ROW).getField(c).alias(c) for c in right_cols],
    )
    if how == "inner":
        matched = matched.filter(F.col("asof_matched_ts").isNotNull())
    return matched


def bucketed_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
    max_span_buckets: int = 256,
) -> DataFrame:
    """Join every point row to every interval row with
    ``start <= point < end`` via a bucket equi-join (no cartesian).

    ``point_col``/``start_col``/``end_col`` must be numeric (cast
    timestamps to epoch first); ``|value| / bucket_width`` must stay
    below 2**53.  Column sets of the two frames must be disjoint.
    Empty intervals (``end <= start``) match nothing; an interval
    overlapping more than ``max_span_buckets`` buckets raises at run
    time (raise, never silently truncate -- a capped bucket list would
    silently drop matches).
    """
    clash = set(points.columns) & set(intervals.columns)
    if clash:
        raise ValueError(f"point/interval columns collide: {sorted(clash)}")
    s, e, p = F.col(start_col), F.col(end_col), F.col(point_col)
    width = F.lit(int(bucket_width))
    lo = F.floor(s / width).cast("long")
    hi = F.floor((e - F.lit(1)) / width).cast("long")
    span = hi - lo + F.lit(1)
    hi_checked = (
        F.when(e <= s, F.lit(None).cast("long"))  # empty interval: no buckets
        .when(span <= F.lit(int(max_span_buckets)), hi)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"bucketed_interval_join: interval spans more than "
                        f"{max_span_buckets} buckets of width {bucket_width}; "
                        f"raise bucket_width (span="
                    ),
                    span.cast("string"),
                    F.lit(")"),
                )
            ).cast("long")
        )
    )
    iv = intervals.withColumn("_rj_bucket", F.explode(F.sequence(lo, hi_checked)))
    pts = points.withColumn("_rj_bucket", F.floor(p / width).cast("long"))
    return (
        pts.join(iv, "_rj_bucket")
        .filter((p >= s) & (p < e))
        .drop("_rj_bucket")
    )
