"""Continuous seed ingestion: a Structured Streaming front door for a
LIVE crawl.

The reference restarts its whole loop to pick up new start IDs (the
checkpoint file is read once at process start, shixin_spider.py:299-312);
here new seed files dropped into a directory flow into the running
crawl's frontier between rounds with exactly-once semantics:

- the file source + checkpoint guarantee each seed FILE is processed in
  exactly one micro-batch across restarts;
- Crawler.enqueue_seeds makes each micro-batch idempotent at the ROW
  level (canonicalize -> batch-dedup -> robots -> seen anti-join ->
  frontier MERGE -> manifest re-commit), so a batch replayed after a
  mid-batch crash — or the same URL appearing in two files — enqueues
  nothing twice.  See crawl.Crawler.enqueue_seeds for the crash matrix.

Run with Trigger.AvailableNow between crawl rounds: one invocation
drains every unprocessed seed file and returns; the crawl loop stays a
plain single-writer (no concurrent store mutation).  A deployment that
wants true always-on ingestion points the same code at
``trigger(processingTime=...)`` and pauses it around MERGE windows.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .lakehouse import _drain

SEED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("priority", T.IntegerType()),
    ]
)


def ingest_seed_stream(
    spark: SparkSession,
    crawler,
    seeds_dir: str,
    checkpoint_dir: str,
) -> int:
    """Drain all unprocessed seed files (JSON lines: {"url", "priority"})
    from ``seeds_dir`` into ``crawler``'s frontier.  Returns the number
    of genuinely new URLs enqueued by THIS invocation."""
    enqueued = [0]

    def _sink(batch_df, batch_id: int) -> None:
        # rows with a null url (malformed lines) are dropped here; a
        # malformed PRIORITY is null -> cast to int stays null -> treated
        # as lowest urgency by coalescing to a large value
        batch = batch_df.filter(F.col("url").isNotNull()).select(
            "url", F.coalesce(F.col("priority"), F.lit(1 << 20)).alias("priority")
        )
        enqueued[0] += crawler.enqueue_seeds(batch)

    stream = spark.readStream.schema(SEED_SCHEMA).json(seeds_dir)
    _drain(stream.writeStream.foreachBatch(_sink), checkpoint_dir)
    return enqueued[0]
