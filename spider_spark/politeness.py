"""Per-host politeness: crawl-delay gates, robots filtering, quarantine.

Reference analogs (SURVEY.md §2.8 T2/T3):
- crawl-delay      <- sleep(uniform(..)) between groups
                      (phone_book.py:214, shixin_spider.py:209)
- per-host cap     <- bounded pools per source (zhixing_spider.py:264
                      60 threads; china_unicom.py:27 3 threads)
- quarantine       <- block_flag aborting the whole run
                      (shixin_spider.py:196-203) — improved: only the
                      failing host is quarantined, the job continues.
- robots disallow  <- (no analog; required by the north rule)

All gates are DataFrame expressions evaluated against broadcastable
host-level tables — politeness state is data, not a mutable service.
The quarantine rule itself is a pure function of one round's per-host
counts, which the round collects anyway (at most one row per host).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# quarantine rule (T3): a host with >= QUARANTINE_MIN fetches in a round
# of which > QUARANTINE_RATE failed is quarantined from the next round on.
QUARANTINE_MIN = 5
QUARANTINE_RATE = 0.5


def eligible_hosts(hosts: DataFrame, host_state: DataFrame | None, round_id: int) -> DataFrame:
    """Hosts allowed to be fetched this round -> (host, max_concurrent).

    A host is eligible unless quarantined or inside its crawl-delay
    window: last_fetch_round + crawl_delay > round_id.
    """
    if host_state is None:
        return hosts.select("host", "max_concurrent")
    joined = hosts.join(host_state, "host", "left")
    return (
        joined.filter(~F.coalesce(F.col("quarantined"), F.lit(False)))
        .filter(
            F.col("last_fetch_round").isNull()
            | (F.col("last_fetch_round") + F.col("crawl_delay") <= F.lit(round_id))
        )
        .select("host", "max_concurrent")
    )


def robots_allowed(urls: DataFrame, hosts: DataFrame, url_col: str = "url") -> DataFrame:
    """Drop URLs whose path starts with a disallowed prefix for its host.

    ``exists(disallow_prefixes, p -> startswith(path, p))`` is a JVM
    higher-order function — no Python in the filter.
    """
    with_path = urls.withColumn(
        "_path", F.regexp_extract(F.col(url_col), r"^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)?", 1)
    )
    joined = with_path.join(hosts.select("host", "disallow_prefixes"), "host", "left")
    allowed = joined.filter(
        F.col("disallow_prefixes").isNull()
        | ~F.exists("disallow_prefixes", lambda p: F.col("_path").startswith(p))
    )
    return allowed.drop("_path", "disallow_prefixes")


def quarantine_rows(host_counts: dict, round_id: int) -> dict[str, list]:
    """``host_state`` rows for this round's hosts, as columns for
    ``TableStore.upsert_rows``.  ``host_counts`` maps each fetched host to
    its (fetches, errors) this round; the rule is T3's."""
    hosts = sorted(host_counts)
    return {
        "host": hosts,
        "last_fetch_round": [round_id] * len(hosts),
        "quarantined": [
            n >= QUARANTINE_MIN and err / n > QUARANTINE_RATE
            for n, err in (host_counts[h] for h in hosts)
        ],
    }
