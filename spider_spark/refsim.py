"""Pure-Python reference-semantics simulator (the parity oracle).

A faithful ~150-LoC reimplementation of the reference's deterministic
ordered dequeue + politeness budget (getGroups-style ascending sweep,
shixin_spider.py:253-296, generalized to per-host priority queues), run
against the same deterministic simnet "network".  SURVEY.md §5 gate (b):
the Spark engine must reproduce this simulator's crawl ordering and
final URL-seen set under the same seed list + politeness budget.

Every rule here intentionally mirrors one engine module:
eligibility/quarantine <-> politeness.py, ranking <-> frontier.py,
fetch outcomes <-> fetch.py(simnet), link handling <-> crawl.py
(run_round, Crawler._admit).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from . import simnet
from .politeness import QUARANTINE_MIN, QUARANTINE_RATE


@dataclass
class SimConfig:
    n_hosts: int
    page_space: int
    global_cap: int | None = None
    max_retries: int = 3


@dataclass
class Row:
    url: str
    host: str
    priority: int
    depth: int
    state: str = "pending"
    retry_count: int = 0
    next_fetch: int = 0


@dataclass
class SimResult:
    crawl_order: list[list[str]] = field(default_factory=list)
    seen: set[str] = field(default_factory=set)
    docs: dict[str, list[dict]] = field(default_factory=dict)
    states: dict[str, Row] = field(default_factory=dict)


def _path_of(url: str) -> str:
    rest = url.split("://", 1)[-1]
    i = rest.find("/")
    return rest[i:] if i >= 0 else ""


def _host_of(url: str) -> str:
    rest = url.split("://", 1)[-1]
    return rest.split("/", 1)[0]


def _allowed(url: str, hosts: dict[str, dict]) -> bool:
    h = hosts.get(_host_of(url))
    if h is None:
        return True
    p = _path_of(url)
    return not any(p.startswith(pre) for pre in h["disallow_prefixes"])


def simulate(
    seeds: list[tuple[str, int]],
    hosts: dict[str, dict],  # host -> {crawl_delay, max_concurrent, disallow_prefixes}
    cfg: SimConfig,
    n_rounds: int,
    host_updates: dict[int, dict[str, dict]] | None = None,
    reprioritize: dict[int, int] | None = None,
    extra_seeds: dict[int, list[tuple[str, int]]] | None = None,
) -> SimResult:
    """``host_updates[r]`` patches the hosts config at the START of round
    r — the robots-refresh cycle (Crawler.update_hosts between
    run_rounds calls).  A refreshed disallow applies both to new-link
    enqueue AND to already-pending rows at dequeue time, mirroring the
    engine's dequeue-time robots recheck (frontier.dequeue).

    ``reprioritize[r]`` re-ranks pending rows at the START of round r by
    link in-degree over all documents fetched so far, with that round's
    boost cap — priority := depth - min(indeg, cap) — mirroring
    Crawler.reprioritize_from_links between run_rounds calls.

    ``extra_seeds[r]`` injects a seed batch at the START of round r —
    mirroring Crawler.enqueue_seeds called after round r-1 committed
    (next_fetch_time = r): batch-dedup on min priority, skip anything
    already seen, robots-filter against the hosts config as of round r
    (i.e. AFTER host_updates[r]), enqueue at depth 0."""
    res = SimResult()
    hosts = dict(hosts)
    frontier: dict[str, Row] = {}
    # bootstrap == Crawler.bootstrap: dedup min-priority, robots filter
    best: dict[str, int] = {}
    for url, prio in seeds:
        if url not in best or prio < best[url]:
            best[url] = prio
    for url, prio in best.items():
        if _allowed(url, hosts):
            frontier[url] = Row(url=url, host=_host_of(url), priority=prio, depth=0)
            res.seen.add(url)

    last_fetch: dict[str, int] = {}
    quarantined: set[str] = set()

    for r in range(1, n_rounds + 1):
        if host_updates and r in host_updates:
            hosts.update(host_updates[r])
        if extra_seeds and r in extra_seeds:
            batch_best: dict[str, int] = {}
            for url, prio in extra_seeds[r]:
                if url not in batch_best or prio < batch_best[url]:
                    batch_best[url] = prio
            for url, prio in batch_best.items():
                if url not in res.seen and _allowed(url, hosts):
                    frontier[url] = Row(
                        url=url, host=_host_of(url), priority=prio, depth=0,
                        next_fetch=r,
                    )
                    res.seen.add(url)
        if reprioritize and r in reprioritize:
            cap = reprioritize[r]
            indeg: dict[str, int] = {}
            for spans in res.docs.values():
                for s in spans:
                    if s["kind"] == "link":
                        indeg[s["text"]] = indeg.get(s["text"], 0) + 1
            for row in frontier.values():
                if row.state == "pending":
                    row.priority = row.depth - min(indeg.get(row.url, 0), cap)

        # ---- eligibility (politeness.eligible_hosts)
        def host_ok(h: str) -> bool:
            if h in quarantined or h not in hosts:
                return False
            lf = last_fetch.get(h)
            return lf is None or lf + hosts[h]["crawl_delay"] <= r

        cand = [
            row
            for row in frontier.values()
            if row.state in ("pending", "retry")
            and row.next_fetch <= r
            and host_ok(row.host)
            and _allowed(row.url, hosts)  # dequeue-time robots recheck
        ]
        # ---- per-host rank + cap, then global cap (frontier.dequeue)
        cand.sort(key=lambda x: (x.priority, x.next_fetch, x.url))
        taken: list[Row] = []
        per_host: dict[str, int] = {}
        for row in cand:
            cap = hosts[row.host]["max_concurrent"]
            if per_host.get(row.host, 0) < cap:
                per_host[row.host] = per_host.get(row.host, 0) + 1
                taken.append(row)
        if cfg.global_cap is not None:
            taken = taken[: cfg.global_cap]
        if not taken:
            # empty round advances the clock; stop only on a drained frontier
            if not any(x.state in ("pending", "retry") for x in frontier.values()):
                break
            continue
        res.crawl_order.append([row.url for row in taken])

        # ---- fetch + route (fetch.py / frontier.state_updates)
        host_stats: dict[str, list[int]] = {}
        discovered: dict[str, int] = {}  # url -> min child depth this round
        for row in taken:
            h_id = int(row.host[1:].split(".")[0])
            p_id = int(row.url.rsplit("/p", 1)[1])
            status, err, spans = simnet.fetch_one(h_id, p_id, cfg.n_hosts, cfg.page_space)
            st = host_stats.setdefault(row.host, [0, 0])
            st[0] += 1
            if err == 0:
                row.state = "fetched"
                res.docs[f"doc:{row.url}"] = spans
                for s in spans:
                    if s["kind"] == "link":
                        u = s["text"]
                        d = row.depth + 1
                        if u not in discovered or d < discovered[u]:
                            discovered[u] = d
            else:
                st[1] += 1
                if err in (1, 2):
                    row.retry_count += 1
                    if row.retry_count <= cfg.max_retries:
                        row.state = "retry"
                        row.next_fetch = r + (1 << min(row.retry_count, 6))
                    else:
                        row.state = "dead"
                else:
                    row.state = "dead"

        # ---- dedup vs seen + robots; enqueue (Crawler._admit)
        for url, depth in discovered.items():
            if url in res.seen or not _allowed(url, hosts):
                continue
            res.seen.add(url)
            frontier[url] = Row(
                url=url, host=_host_of(url), priority=depth, depth=depth,
                next_fetch=r + 1,
            )

        # ---- host state + quarantine (politeness.quarantine_rows)
        for h, (n, errs) in host_stats.items():
            last_fetch[h] = r
            if n >= QUARANTINE_MIN and errs / n > QUARANTINE_RATE:
                quarantined.add(h)

    res.states = frontier
    return res
