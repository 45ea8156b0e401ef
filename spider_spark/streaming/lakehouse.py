"""Exactly-once Structured Streaming ingest into the TableStore.

Structured Streaming's ``foreachBatch`` contract is at-least-once: after
a crash between the sink's side effect and the stream checkpoint commit,
the SAME micro-batch (same ``batch_id``) is re-delivered on restart.
The reference crawler absorbs re-delivered rows with a MySQL unique
index + IntegrityError retry (flask_spider share_func/db_config.py:46-54
insert loop); the lakehouse-native form is a transactional watermark:
``TableStore.append_txn`` records the batch id in the SAME manifest
write that commits the rows, so a replayed batch is recognized and
skipped.  at-least-once delivery x manifest watermark = exactly-once
table contents — no unique index, no read-before-write.

This is the missing half of streaming/ingest.py (which drains seed files
into the frontier): a general stream -> lakehouse TABLE path, the shape
a 100 TB training-data ingest runs continuously (fetcher output landing
in the documents table while readers time-travel behind the pointer).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter


def _drain(writer: DataStreamWriter, checkpoint_dir: str) -> None:
    """The one ``Trigger.AvailableNow`` driver of this package's streams:
    run the configured ``writer`` (a foreachBatch or memory sink) over
    every micro-batch its stream has now, checkpointed at
    ``checkpoint_dir``, and return once they are drained."""
    (
        writer.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
        .awaitTermination()
    )


def _parquet_stream(
    spark: SparkSession, src_dir: str, schema, max_files_per_trigger: int | None
) -> DataFrame:
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    return reader.parquet(src_dir)


def stream_append_table(
    spark: SparkSession,
    src_dir: str,
    schema,
    store,
    table: str,
    checkpoint_dir: str,
    transform=None,
    txn_key: str | None = None,
    max_files_per_trigger: int | None = None,
    partition_by: list[str] | None = None,
) -> int:
    """Drain all unprocessed files under ``src_dir`` (parquet) into
    ``store.table`` with ``Trigger.AvailableNow``, exactly once.  Returns
    the number of micro-batches that actually appended (replayed batches
    skip and do not count).

    ``txn_key`` defaults to a digest of the checkpoint path — the batch
    ids the watermark guards are per-checkpoint, so the key must change
    whenever the checkpoint lineage does (a wiped checkpoint restarts
    batch ids at 0; reusing the old key would silently skip the restarted
    stream's first batches — pass a fresh key or wipe the table too).

    ``transform`` (optional) maps each micro-batch DataFrame before the
    append; it runs inside foreachBatch, so it stays a single Spark job
    per batch and its output schema fixes the table schema on the first
    batch.
    """
    key = txn_key or "stream:" + hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]
    appended = [0]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        if store.append_txn(table, out, key, int(batch_id), partition_by) is not None:
            appended[0] += 1

    stream = _parquet_stream(spark, src_dir, schema, max_files_per_trigger)
    _drain(stream.writeStream.foreachBatch(_sink), checkpoint_dir)
    return appended[0]


def stream_merge_table(
    spark: SparkSession,
    src_dir: str,
    schema,
    store,
    table: str,
    checkpoint_dir: str,
    key: str,
    delete_col: str | None = None,
    transform=None,
    txn_key: str | None = None,
    max_files_per_trigger: int | None = None,
) -> int:
    """CDC apply: drain a change stream into ``store.table`` as
    keyed MERGE upserts, exactly once — the foreachBatch-MERGE recipe
    that turns an at-least-once change feed into a correct mirror table.
    Returns the number of micro-batches actually applied.

    Per micro-batch: rows whose ``delete_col`` (optional, boolean) is
    true become the MERGE's DELETE branch, the rest upsert on ``key``;
    the batch id lands in the SAME manifest commit (merge_upsert(txn=)),
    so a crash-replayed batch is recognized and skipped — re-applying a
    merge is NOT idempotent in general (a later batch may have
    overwritten the key), which is exactly why the watermark must be
    transactional with the snapshot swap rather than a side file.

    Batch boundaries follow file order (the file source lists
    oldest-mtime first), so last-writer-wins follows the feed's file
    order; rows WITHIN one batch must be key-unique — pre-aggregate in
    ``transform`` if the feed can repeat a key per file.  ``txn_key``
    defaults like stream_append_table's (per-checkpoint batch ids)."""
    tkey = txn_key or "cdc:" + hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]
    applied = [0]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if int(batch_id) <= store.last_txn(table, tkey):
            return
        out = transform(batch_df) if transform is not None else batch_df
        deletes = None
        if delete_col is not None:
            deletes = out.filter(F.col(delete_col)).select(key)
            out = out.filter(~F.col(delete_col)).drop(delete_col)
        store.merge_upsert(
            table, out, key, delete_keys=deletes, txn=(tkey, int(batch_id))
        )
        applied[0] += 1

    stream = _parquet_stream(spark, src_dir, schema, max_files_per_trigger)
    _drain(stream.writeStream.foreachBatch(_sink), checkpoint_dir)
    return applied[0]
