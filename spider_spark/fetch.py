"""Fetch stage: salted host-hash repartition + ONE mapInPandas fetch
worker over a pluggable page source.

Reference analog: the gevent fan-out fetch loop
(shixin_spider.py:212-215 spawn ×50; basicRequest share_func.py:103-171).
Differences by design:
- retries are NOT in-task recursion: a failed fetch is DATA (an err_type
  row) that the frontier state machine re-schedules (SURVEY.md §4.1) —
  Spark task retries stay reserved for real task failures.
- per-partition session bootstrap replaces the per-group cookie jar
  (shixin_spider.py:190-216): one session object per partition per round,
  created inside the iterator (T5).

One worker, three page sources.  The worker, built only by
``fetch_batch``, owns everything a fetcher has in common: the
partition's session and its pinned proxy, the passthrough columns,
``partition_id``/``status``/``err_type``/``doc_id``, outlink
canonicalization and the ``body`` column.  A page source only says
where a page comes from: ``simnet_source`` (the default, the
deterministic simnet), ``transport.make_http_fetch_fn`` (the real-HTTP
retry ladder, S1) and ``transport.make_browser_fetch_fn`` (an external
renderer pool, S3).  A source is ``open(partition_id, proxy) -> pages``,
called once per partition on its first batch; ``pages(urls)`` maps a
batch's URL series to ``(status, err_type, flat, bodies)``: int32
arrays, the flat page columns (``title`` … ``link2``, outlinks as
found) and ``bodies(flat)``, the page HTML, which the worker calls only
when bodies are kept and only after it has canonicalized the outlinks.

Performance layout (the 100 TB-relevant part):
- the Python stage emits ONLY flat vectorized columns (numpy/pandas C
  ops — status mix, titles, texts, link URLs); it never builds per-row
  nested objects.
- the interleaved ``spans`` array is assembled JVM-side from those flat
  columns with higher-order functions (named_struct + filter + transform
  with index), inside whole-stage codegen.  With a real HTTP fetcher the
  same split holds: Python touches bytes, the JVM shapes rows.

Skew: the reference hand-tunes thread counts per source; we kill
hot-host skew generically with a salted repartition on
``(host, pmod(xxhash64(url), salt))`` — every host spreads over at most
``salt`` partitions, and since the per-host politeness cap was already
applied at dequeue, correctness is unaffected (SURVEY.md §4.3.1).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import canon, simnet
from .schemas import FETCH_RESULT
from .transport import err_type_of_status

_PASSTHROUGH = [
    "url",
    "url_hash",
    "host",
    "priority",
    "depth",
    "retry_count",
    "discovered_round",
]

_RAW_SCHEMA = (
    "url string, url_hash long, host string, priority int, depth int, "
    "retry_count int, discovered_round long, partition_id int, "
    "status int, err_type int, doc_id string, "
    "title string, text1 string, has_media boolean, media_ref string, "
    "has_text2 boolean, text2 string, n_links int, "
    "link0 string, link1 string, link2 string"
)

# spans assembled in the JVM (codegen) from the flat fetch columns;
# offsets strictly increasing by construction (the per-row invariant).
_SPANS_EXPR = """
CASE WHEN err_type = 0 THEN
  concat(
    array(named_struct('kind','title','text',title,'media_ref','','offset',0),
          named_struct('kind','text','text',text1,'media_ref','','offset',1)),
    filter(array(named_struct('kind','media','text','','media_ref',media_ref,'offset',2)),
           x -> has_media),
    filter(array(named_struct('kind','text','text',text2,'media_ref','',
                              'offset', 2 + if(has_media,1,0))),
           x -> has_text2),
    transform(slice(array(link0,link1,link2), 1, n_links),
              (l, i) -> named_struct('kind','link','text',l,'media_ref','',
                                     'offset', 2 + if(has_media,1,0) + if(has_text2,1,0) + i))
  )
ELSE cast(null as array<struct<kind:string,text:string,media_ref:string,offset:int>>)
END
"""


def salted_repartition(batch: DataFrame, num_partitions: int, salt: int) -> DataFrame:
    return batch.repartition(
        num_partitions, F.col("host"), F.pmod(F.xxhash64(F.col("url")), F.lit(salt))
    )


def simnet_source(n_hosts: int, page_space: int):
    """The default page source: the deterministic simnet, all numpy/Arrow
    (no per-row Python on the hot fields).  The simnet ignores the
    partition's proxy, as a healthy proxy is transparent."""

    def open_partition(pid: int, _proxy: str | None):
        # S4 session acquisition: solve the partition's captcha
        # challenge (render -> binarize -> template OCR, the
        # recogImage pipeline share_func.py:56-66, retry <=3) —
        # executor-local, never touches row results
        from .functions.ocr import acquire_session_token

        acquire_session_token(pid)

        def pages(urls: pd.Series):
            h, p = simnet.parse_url_np(urls)
            status = simnet.status_of_key_np(simnet.page_key(h, p))
            flat = simnet.fetch_flat_np(h, p, n_hosts, page_space)
            return status, err_type_of_status(status), flat, simnet.render_html_np

        return pages

    return open_partition


def fetch_batch(
    batch: DataFrame,
    n_hosts: int,
    page_space: int,
    num_partitions: int = 32,
    salt: int = 8,
    keep_body: bool = False,
    proxies: list[str] | None = None,
    source=None,
) -> DataFrame:
    """Fetch + parse a dequeued batch: salted repartition, ONE python
    stage (the fetch worker over ``source``) and the JVM span assembly.

    ``source``: a page source (module docstring); None is the simnet
    sized by ``n_hosts``/``page_space``, which no other source reads.
    ``proxies``: S2 proxy rotation — each partition's session pins ONE
    proxy from the refreshed pool (proxy_spider.py:15-66 validated list),
    deterministic per partition, so a replayed round rides the same
    identities (T5).  ``keep_body``: S14 raw-body retention
    (credit_person_web.py:234-249 saves response HTML for later
    re-parse) — a ``body`` column with the page HTML of every ok fetch,
    so a parser fix can re-run over old crawls without re-fetching.  Off
    by default: bodies dominate storage.  Everything downstream — span
    assembly, link extraction, dedup, MERGE-back — is source-agnostic."""
    if source is None:
        source = simnet_source(n_hosts, page_space)

    def fetch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        pages = None  # the partition's session (cookie-jar analog, T5)
        for pdf in batches:
            if pages is None:
                pages = source(pid, proxies[pid % len(proxies)] if proxies else None)
            status, err, flat, bodies = pages(pdf["url"])
            out = pdf[_PASSTHROUGH].copy()
            out["partition_id"] = np.int32(pid)
            out["status"] = status
            out["err_type"] = err
            ok = err == 0
            out["doc_id"] = np.where(ok, "doc:" + pdf["url"].astype(str), None)
            # canonicalize outlinks HERE, in the same worker: chaining a
            # second pandas UDF after this stage would run 2 python workers
            # per task and oversubscribe the executor ~2x (measured 10x
            # wall-clock blowup at 32 cores) — one python stage per
            # pipeline, everything after is JVM.
            for c in ("link0", "link1", "link2"):
                flat[c] = canon.canonicalize_series(
                    pd.Series(flat[c]), bases=pdf["url"].reset_index(drop=True)
                ).astype(object)
            for col, vals in flat.items():
                out[col] = vals
            if keep_body:
                # after canonicalization: a body the simnet renders from
                # the flat columns re-parses to the exact span sequence
                out["body"] = np.where(ok, bodies(flat), None)
            yield out

    salted = salted_repartition(batch.select(*_PASSTHROUGH), num_partitions, salt)
    schema = _RAW_SCHEMA + (", body string" if keep_body else "")
    raw = salted.mapInPandas(fetch_fn, schema)
    out_cols = [f.name for f in FETCH_RESULT.fields] + (["body"] if keep_body else [])
    return raw.withColumn("spans", F.expr(_SPANS_EXPR)).select(out_cols)
