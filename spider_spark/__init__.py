"""spider_spark — a PySpark-native URL frontier + fetch scheduler.

A from-scratch rebuild of the capabilities of the reference crawler suite
(Byzhkc3/spider, a single-process Python-2 fetch-and-parse loop) as an
idiomatic Spark engine:

- partitioned priority frontier over versioned parquet tables (Iceberg
  stand-in, see ``storage.py``) of interleaved text+media documents,
- sharded Bloom URL-seen filter (broadcast + per-round delta merges),
- per-host politeness buckets (robots disallow cache, crawl-delay gates)
  enforced via salted host-hash repartitioning,
- URL canonicalization/hashing in vectorized Arrow/pandas UDFs,
- each crawl round is a chain of DataFrame ops run as several Spark jobs
  (about 30 with storage), MERGE-back with per-partition lineage rows,
  resumable from checkpoint.

Reference parity targets are documented per-module with ``file:line``
citations into /root/reference.
"""

__version__ = "0.1.0"
