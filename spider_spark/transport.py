"""Real HTTP transport with the reference's typed retry ladder (S1), and
the two page sources built on it: real HTTP and an external renderer
pool (S3).

The engine's default page source is the deterministic simnet
(``fetch.simnet_source``) — this sandbox has no network, and every
correctness gate (crawl parity, span equality) needs replayable pages.
This module ships the REAL transport variant the reference actually runs
(``basicRequest``, flask_spider/spider/public/share_func.py:103-171),
re-expressed as an injectable, testable ladder:

    exception class        reference reaction           here
    ------------------     --------------------------   -----------------------------
    ConnectTimeout /       sleep, timeout += 1, retry    backoff sleep, timeout += 1,
    ReadTimeout / Timeout                                retry; exhausted -> ERR_TIMEOUT
    ProxyError             drop proxies, retry           drop proxy, retry;
                                                         exhausted -> ERR_REQUEST
    SSLError               verify = False, retry         verify=False, retry;
                                                         exhausted -> ERR_REQUEST
    other RequestException sleep, retry                  backoff sleep, retry;
                                                         exhausted -> ERR_UNKNOWN

plus HTTP-status mapping the reference leaves implicit (it checks
``response`` truthiness): 2xx -> ok, 5xx/429/408 -> ERR_REQUEST or
ERR_TIMEOUT (retryable — the frontier state machine re-schedules them
with backoff), other 4xx -> ERR_UNKNOWN (dead; the unknown-ID route).
``err_type_of_status`` is that mapping, and the simnet source uses it too.

Retries here are IN-LADDER only (transport-level, like the reference's
``resend_times``); scheduling retries stay DATA — an err_type row the
frontier re-queues (SURVEY.md §4.1).  The two budgets compose: the
ladder absorbs transient socket noise inside one task, the state machine
owns real re-scheduling.

The sources only map URLs to pages; the fetch worker (``fetch.fetch_batch``)
owns the partition session, the proxy, the worker columns and bodies.

``requests`` is imported lazily and only when no ``transport`` callable
is injected, so the module (and its tests) work in this no-network,
no-requests sandbox: tests inject mock transports raising each exception
class; the real network path is exercised only in a deployment that has
one.  Sleeps are injectable for the same reason (tests pass a recorder).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from . import parse
from .simnet import ERR_OK, ERR_REQUEST, ERR_TIMEOUT, ERR_UNKNOWN


class TransportTimeout(Exception):
    """ConnectTimeout / ReadTimeout / Timeout analog."""


class TransportProxyError(Exception):
    """requests.exceptions.ProxyError analog."""


class TransportSSLError(Exception):
    """requests.exceptions.SSLError analog."""


class TransportError(Exception):
    """Any other RequestException analog."""


@dataclass
class FetchOutcome:
    status: int          # HTTP status, or 0 when no response was obtained
    err_type: int        # ERR_* above
    body: str | None     # response text when err_type == ERR_OK
    attempts: int
    # ladder-state echoes, so callers (and tests) can see what the ladder did
    proxy_dropped: bool = False
    verify_disabled: bool = False
    log: list[str] = field(default_factory=list)


def _default_transport(url: str, timeout: float, proxy: str | None, verify: bool):
    """The real network call — requests-backed, lazily imported.  Maps
    requests' exception classes onto the module's transport exceptions so
    the ladder stays testable without requests installed."""
    import requests
    from requests import exceptions as rex

    try:
        resp = requests.get(
            url,
            timeout=timeout,
            proxies={"http": proxy, "https": proxy} if proxy else None,
            verify=verify,
        )
        return resp.status_code, resp.text
    except (rex.ConnectTimeout, rex.ReadTimeout, rex.Timeout) as e:
        raise TransportTimeout(str(e)) from e
    except rex.ProxyError as e:
        raise TransportProxyError(str(e)) from e
    except rex.SSLError as e:
        raise TransportSSLError(str(e)) from e
    except rex.RequestException as e:
        raise TransportError(str(e)) from e


def err_type_of_status(status):
    """HTTP status -> err_type, on an int or a numpy array: 2xx ok; 408
    timeout and 429/5xx request-failed (retryable server-side failures:
    the frontier state machine re-schedules them with backoff); any other
    status unknown (the unknown-ID dead route)."""
    s = np.asarray(status)
    return np.select(
        [(s >= 200) & (s < 300), s == 408, (s == 429) | (s >= 500)],
        [ERR_OK, ERR_TIMEOUT, ERR_REQUEST],
        ERR_UNKNOWN,
    ).astype(np.int32)


def fetch_with_ladder(
    url: str,
    transport: Callable[..., tuple[int, str]] | None = None,
    timeout: float = 3.0,
    resend_times: int = 1,
    proxy: str | None = None,
    verify: bool = True,
    sleep: Callable[[float], None] | None = None,
) -> FetchOutcome:
    """One URL through the typed retry ladder (basicRequest's semantics,
    deterministic: fixed backoff instead of random.uniform so a replayed
    round behaves identically).

    ``transport(url, timeout, proxy, verify) -> (status, body)`` raises
    TransportTimeout / TransportProxyError / TransportSSLError /
    TransportError; defaults to the requests-backed real call."""
    if transport is None:
        transport = _default_transport
    if sleep is None:
        import time as _time

        sleep = _time.sleep
    out = FetchOutcome(status=0, err_type=ERR_UNKNOWN, body=None, attempts=0)
    budget = max(0, int(resend_times))
    pending_err = ERR_UNKNOWN
    while True:
        out.attempts += 1
        try:
            status, body = transport(url, timeout, proxy, verify)
        except TransportTimeout:
            pending_err = ERR_TIMEOUT
            out.log.append(f"timeout@{timeout:g}")
            if budget > 0:
                budget -= 1
                sleep(0.5)          # ref: random.uniform(0,1) — fixed here
                timeout += 1.0      # ref: options['timeout'] += 1
                continue
        except TransportProxyError:
            pending_err = ERR_REQUEST
            out.log.append(f"proxyerror@{proxy}")
            if budget > 0:
                budget -= 1
                proxy = None        # ref: options['proxies'] = None
                out.proxy_dropped = True
                continue
        except TransportSSLError:
            pending_err = ERR_REQUEST
            out.log.append("sslerror")
            if budget > 0:
                budget -= 1
                verify = False      # ref: options['verify'] = False
                out.verify_disabled = True
                continue
        except TransportError:
            pending_err = ERR_UNKNOWN
            out.log.append("othererror")
            if budget > 0:
                budget -= 1
                sleep(2.0)          # ref: random.uniform(1,3) — fixed here
                continue
        else:
            out.status = status
            out.err_type = int(err_type_of_status(status))
            if out.err_type == ERR_OK:
                out.body = body
            return out
        out.err_type = pending_err
        return out


def make_http_fetch_fn(
    transport: Callable[..., tuple[int, str]] | None = None,
    timeout: float = 3.0,
    resend_times: int = 1,
    sleep: Callable[[float], None] | None = None,
):
    """The REAL transport as a page source for ``fetch.fetch_batch``:
    every URL goes through ``fetch_with_ladder``, and bodies parse
    through the SAME html_to_spans scanner the raw-body re-parse tests
    gate, flattened to the fetch stage's flat columns
    (``parse.flat_columns``).

    The partition's pinned proxy (T5) rides every request until the
    ladder drops it on a ProxyError; the partition then drops it too,
    exactly like the reference."""

    def open_partition(_pid: int, proxy: str | None):
        def pages(urls: pd.Series):
            nonlocal proxy
            outcomes = []
            for url in urls:
                o = fetch_with_ladder(
                    url, transport, timeout, resend_times, proxy, sleep=sleep
                )
                if o.proxy_dropped:
                    proxy = None
                outcomes.append(o)
            bodies = [o.body for o in outcomes]
            return (
                np.array([o.status for o in outcomes], dtype=np.int32),
                np.array([o.err_type for o in outcomes], dtype=np.int32),
                parse.flat_columns(bodies),
                lambda _flat: bodies,
            )

        return pages

    return open_partition


def make_browser_fetch_fn(render, renderer_pool: list[str] | None = None):
    """S3: JS-rendered fetch via an EXTERNAL renderer pool — the last §2
    row (the reference drives Chrome/PhantomJS for form login + cookie
    harvest, china_mobile_gd.py:76-148).  An executor cannot host a
    browser; the honest Spark-shaped form is a seam: ``render(url,
    endpoint) -> (status, html)`` speaks to a remote rendering service
    (CDP/Selenium grid/headless farm), and each PARTITION pins one pool
    endpoint (same affinity rule as proxies/T5 — a replayed round rides
    the same renderer, so cookie/session state is deterministic per
    partition).

    The source is the HTTP source over ``render`` with a zero retry
    budget: a render that raises a Transport* exception, or answers a
    non-2xx status, becomes the same typed err row as an exhausted
    ladder — renderer crashes are data, not task failures.  The rendered
    DOM (which may contain JS-materialized content absent from the raw
    response) parses like any other body.  Contract-tested with a
    scripted renderer; no browser runs in CI."""

    def open_partition(pid: int, proxy: str | None):
        endpoint = renderer_pool[pid % len(renderer_pool)] if renderer_pool else None
        return make_http_fetch_fn(
            lambda url, _t, _p, _v: render(url, endpoint), resend_times=0
        )(pid, proxy)

    return open_partition
