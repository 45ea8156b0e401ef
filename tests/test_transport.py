"""Real-transport retry ladder (transport.py) — injection-tested: mock
transports raise each exception class the reference's basicRequest
(share_func.py:103-171) handles, and the ladder must react exactly as it
does (timeout+=1 & retry / drop proxy / verify off / sleep & retry),
mapping exhausted budgets onto the engine's err_type 1/2/3 contract.
The real network is never touched (the sandbox has none); the simnet
fetcher remains the engine default."""

from __future__ import annotations

import pytest

from spider_spark.transport import (
    ERR_OK,
    ERR_REQUEST,
    ERR_TIMEOUT,
    ERR_UNKNOWN,
    TransportError,
    TransportProxyError,
    TransportSSLError,
    TransportTimeout,
    fetch_with_ladder,
)


class Recorder:
    """A scripted transport: pops one behavior per call and records the
    exact arguments the ladder passed."""

    def __init__(self, script):
        self.script = list(script)
        self.calls = []

    def __call__(self, url, timeout, proxy, verify):
        self.calls.append({"url": url, "timeout": timeout, "proxy": proxy,
                           "verify": verify})
        step = self.script.pop(0)
        if isinstance(step, Exception):
            raise step
        return step


def no_sleep(_s):
    pass


def test_ok_response_passes_through():
    t = Recorder([(200, "<html><title>x</title></html>")])
    o = fetch_with_ladder("http://a/", transport=t, sleep=no_sleep)
    assert (o.err_type, o.status, o.attempts) == (ERR_OK, 200, 1)
    assert o.body.startswith("<html>")


def test_timeout_bumps_timeout_and_retries_then_err2():
    # ref ladder: sleep, timeout += 1, retry; budget exhausted -> timeout err
    t = Recorder([TransportTimeout("t1"), TransportTimeout("t2")])
    slept = []
    o = fetch_with_ladder("http://a/", transport=t, timeout=3.0,
                          resend_times=1, sleep=slept.append)
    assert o.err_type == ERR_TIMEOUT and o.attempts == 2
    assert [c["timeout"] for c in t.calls] == [3.0, 4.0], "timeout must bump +1"
    assert slept == [0.5]


def test_timeout_then_success_recovers():
    t = Recorder([TransportTimeout("t"), (200, "ok")])
    o = fetch_with_ladder("http://a/", transport=t, resend_times=1, sleep=no_sleep)
    assert (o.err_type, o.attempts) == (ERR_OK, 2)


def test_proxy_error_drops_proxy_then_err1():
    t = Recorder([TransportProxyError("p"), (200, "ok")])
    o = fetch_with_ladder("http://a/", transport=t, proxy="p1:3128",
                          resend_times=1, sleep=no_sleep)
    assert o.err_type == ERR_OK and o.proxy_dropped
    assert [c["proxy"] for c in t.calls] == ["p1:3128", None], (
        "retry must run proxy-less, like options['proxies'] = None"
    )
    # exhausted budget -> request-failed (retryable by the state machine)
    t2 = Recorder([TransportProxyError("p"), TransportProxyError("p")])
    o2 = fetch_with_ladder("http://a/", transport=t2, proxy="p1:3128",
                           resend_times=1, sleep=no_sleep)
    assert o2.err_type == ERR_REQUEST


def test_ssl_error_disables_verify_then_err1():
    t = Recorder([TransportSSLError("s"), (200, "ok")])
    o = fetch_with_ladder("http://a/", transport=t, resend_times=1, sleep=no_sleep)
    assert o.err_type == ERR_OK and o.verify_disabled
    assert [c["verify"] for c in t.calls] == [True, False], (
        "retry must run verify=False, like options['verify'] = False"
    )
    t2 = Recorder([TransportSSLError("s"), TransportSSLError("s")])
    assert fetch_with_ladder("http://a/", transport=t2, resend_times=1,
                             sleep=no_sleep).err_type == ERR_REQUEST


def test_other_error_sleeps_retries_then_err3():
    t = Recorder([TransportError("x"), TransportError("x")])
    slept = []
    o = fetch_with_ladder("http://a/", transport=t, resend_times=1,
                          sleep=slept.append)
    assert o.err_type == ERR_UNKNOWN and o.attempts == 2
    assert slept == [2.0]


def test_zero_budget_fails_immediately():
    t = Recorder([TransportTimeout("t")])
    o = fetch_with_ladder("http://a/", transport=t, resend_times=0, sleep=no_sleep)
    assert o.err_type == ERR_TIMEOUT and o.attempts == 1


@pytest.mark.parametrize(
    "status,expected",
    [(200, ERR_OK), (204, ERR_OK), (404, ERR_UNKNOWN), (403, ERR_UNKNOWN),
     (408, ERR_TIMEOUT), (429, ERR_REQUEST), (500, ERR_REQUEST), (503, ERR_REQUEST),
     (529, ERR_REQUEST)],
)
def test_http_status_mapping(status, expected):
    """One status rule: the ladder, the renderer source and (on the
    simnet's own statuses) the simnet source all map a status to the
    same err_type, and the simnet source agrees with refsim's scalar
    reference ``simnet.err_type_of_status``."""
    import pandas as pd

    from spider_spark import simnet
    from spider_spark.fetch import simnet_source
    from spider_spark.transport import make_browser_fetch_fn

    o = fetch_with_ladder("http://a/", transport=Recorder([(status, "b")]),
                          sleep=no_sleep)
    assert o.err_type == expected, f"status {status}"
    rendered = make_browser_fetch_fn(lambda url, ep: (status, "b"))(0, None)
    st, err, _flat, _bodies = rendered(pd.Series(["http://a/"]))
    assert (st[0], err[0]) == (status, expected)
    if status in (200, 529, 408, 404):
        page = next(p for p in range(1000)
                    if simnet.status_of_key(simnet.page_key(0, p)) == status)
        pages = simnet_source(1, 1000)(0, None)
        st, err, _flat, _bodies = pages(pd.Series([simnet.url_of(0, page)]))
        assert (st[0], err[0]) == (status, simnet.err_type_of_status(status))


def test_mixed_ladder_composes():
    """timeout -> proxyerror -> ssl -> success, all in one ladder walk,
    each rung applying its own remedy."""
    t = Recorder([
        TransportTimeout("t"), TransportProxyError("p"),
        TransportSSLError("s"), (200, "ok"),
    ])
    o = fetch_with_ladder("http://a/", transport=t, proxy="p1:3128",
                          timeout=3.0, resend_times=3, sleep=no_sleep)
    assert o.err_type == ERR_OK and o.attempts == 4
    assert o.proxy_dropped and o.verify_disabled
    last = t.calls[-1]
    assert last["timeout"] == 4.0 and last["proxy"] is None and last["verify"] is False


def test_http_fetch_fn_pluggable_into_fetch_batch(spark):
    """make_http_fetch_fn is a page source for fetch_batch in place of the
    simnet: JVM span assembly still applies, err rows route
    by type — driven through a real Spark stage with a scripted
    transport (no network)."""
    from spider_spark.fetch import fetch_batch
    from spider_spark.transport import make_http_fetch_fn

    def scripted(url, timeout, proxy, verify):
        if url.endswith("/p1"):
            return 200, ("<html><title>T1</title><p>alpha beta</p>"
                         "<img src='http://h0.example/i.png'/>"
                         "<p>gamma</p><a href='http://h0.example/p2'>x</a></html>")
        if url.endswith("/p2"):
            raise TransportTimeout("slow")
        return 404, "nope"

    rows = [
        ("http://h0.example/p1", 1, "h0.example", 0, 0, 0, 0),
        ("http://h0.example/p2", 2, "h0.example", 0, 0, 0, 0),
        ("http://h0.example/p3", 3, "h0.example", 0, 0, 0, 0),
    ]
    batch = spark.createDataFrame(
        rows,
        "url string, url_hash long, host string, priority int, depth int, "
        "retry_count int, discovered_round long",
    )
    fn = make_http_fetch_fn(transport=scripted, resend_times=1, sleep=lambda s: None)
    raw = fetch_batch(batch, n_hosts=0, page_space=0, num_partitions=2, salt=2, source=fn)
    got = {r["url"]: r for r in raw.collect()}
    ok = got["http://h0.example/p1"]
    assert ok["err_type"] == 0 and ok["status"] == 200
    kinds = [s["kind"] for s in ok["spans"]]
    assert kinds == ["title", "text", "media", "text", "link"]
    assert ok["spans"][0]["text"] == "T1"
    assert [s["offset"] for s in ok["spans"]] == [0, 1, 2, 3, 4]
    assert got["http://h0.example/p2"]["err_type"] == ERR_TIMEOUT
    assert got["http://h0.example/p3"]["err_type"] == ERR_UNKNOWN
    assert got["http://h0.example/p2"]["spans"] is None


def test_browser_fetch_fn_renderer_pool_and_js_content(spark):
    """S3 seam: the renderer-pool fetcher (a) pins one pool endpoint per
    partition (deterministic affinity, like proxies), (b) parses the
    RENDERED DOM — content a raw HTTP fetch would never see — into the
    same span pipeline, (c) routes renderer failures to typed err rows."""
    from spider_spark.fetch import fetch_batch
    from spider_spark.transport import TransportTimeout, make_browser_fetch_fn

    def scripted_render(url, endpoint):
        assert endpoint in ("cdp://r1:9222", "cdp://r2:9222")
        if url.endswith("/p2"):
            raise TransportTimeout("render deadline")
        # JS-materialized content: the title exists only post-render
        return 200, (
            f"<html><title>rendered-by-{endpoint[-7]}1</title>"
            "<p>hydrated text</p>"
            "<a href='http://h0.example/next'>n</a></html>"
        )

    rows = [
        ("http://h0.example/p1", 1, "h0.example", 0, 0, 0, 0),
        ("http://h0.example/p2", 2, "h0.example", 0, 0, 0, 0),
    ]
    batch = spark.createDataFrame(
        rows,
        "url string, url_hash long, host string, priority int, depth int, "
        "retry_count int, discovered_round long",
    )
    fn = make_browser_fetch_fn(
        scripted_render, renderer_pool=["cdp://r1:9222", "cdp://r2:9222"]
    )
    raw = fetch_batch(batch, n_hosts=0, page_space=0, num_partitions=2, salt=2, source=fn)
    got = {r["url"]: r for r in raw.collect()}
    ok = got["http://h0.example/p1"]
    assert ok["err_type"] == 0
    kinds = [s["kind"] for s in ok["spans"]]
    # anchor inner text is its own text span, so: title, p-text, a-text, link
    assert kinds == ["title", "text", "text", "link"]
    assert ok["spans"][0]["text"].startswith("rendered-by-")
    assert [s["text"] for s in ok["spans"] if s["kind"] == "link"] == [
        "http://h0.example/next"
    ]
    assert got["http://h0.example/p2"]["err_type"] == 2  # timeout -> retry route


def test_http_transport_drives_full_crawl(spark, tmp_path):
    """End-to-end S1-real: a complete multi-round Crawler run where EVERY
    fetch goes through the typed retry ladder against a scripted site —
    discovery (links parsed out of real HTML reach the frontier and get
    fetched next round), error routing (a timeout URL enters the retry
    state; a 404 goes dead and is never re-fetched), and the documents
    table carries spans parsed from the rendered bodies.  Proves
    CrawlConfig.fetch_fn is a true drop-in: dequeue, dedup, MERGE-back,
    and lineage all run unchanged around the real transport."""
    from spider_spark import synth
    from spider_spark.crawl import Crawler
    from spider_spark.round import CrawlConfig
    from spider_spark.transport import TransportTimeout, make_http_fetch_fn

    def site_transport(url, timeout, proxy, verify):
        host = url.split("//")[1].split("/")[0]
        page = url.rsplit("/", 1)[1]
        if page == "p2":
            raise TransportTimeout("always down")
        if page == "p9":
            return 404, "not found"
        links = {
            "p0": [f"http://{host}/p1", f"http://{host}/p2",
                   f"http://{host}/p9"],
            "p1": [f"http://{host}/p3"],
        }.get(page, [])
        return 200, (
            f"<html><title>{host}/{page}</title><p>body of {page}</p>"
            + "".join(f"<a href='{u}'>x</a>" for u in links)
            + "</html>"
        )

    cfg = CrawlConfig(
        n_hosts=2, page_space=100, max_retries=1, fetch_partitions=2,
        use_bloom=True, bloom_shards=2, bloom_bits=1 << 12,
        fetch_fn=make_http_fetch_fn(
            transport=site_transport, resend_times=0, sleep=lambda s: None
        ),
    )
    seeds = spark.createDataFrame(
        [("http://h0.example/p0", 0), ("http://h1.example/p0", 0)],
        "url string, priority int",
    )
    hosts = synth.hosts_config(
        spark, 2, uniform_delay=0, uniform_cap=50, with_robots=False
    )
    crawler = Crawler(spark, str(tmp_path / "httpcrawl"), cfg)
    crawler.bootstrap(seeds, hosts)
    crawler.run_rounds(4)

    docs = {
        r["url"]: r for r in crawler.store.read("documents").collect()
    }
    pages = sorted(u.rsplit("/", 1)[1] for u in docs)
    # p0 seeds, p1/p3 discovered through real HTML on both hosts;
    # p2 (timeout) and p9 (404) never produce documents
    assert pages == ["p0", "p0", "p1", "p1", "p3", "p3"]
    spans = docs["http://h0.example/p1"]["spans"]
    assert spans[0]["kind"] == "title"
    assert spans[0]["text"] == "h0.example/p1"
    assert [s["text"] for s in spans if s["kind"] == "link"] == [
        "http://h0.example/p3"
    ]

    fr = {r["url"]: r for r in crawler.store.read("frontier").collect()}
    assert fr["http://h0.example/p9"]["state"] == "dead"      # 404 route
    p2 = fr["http://h0.example/p2"]
    assert p2["state"] in ("retry", "dead") and p2["retry_count"] >= 1
    assert "http://h1.example/p3" in crawler.seen_urls()


def _small_http_crawl(spark, path, cfg_kw, transport):
    from spider_spark import synth
    from spider_spark.crawl import Crawler
    from spider_spark.round import CrawlConfig
    from spider_spark.transport import make_http_fetch_fn

    cfg = CrawlConfig(
        n_hosts=2, page_space=100, fetch_partitions=2, bloom_shards=2,
        bloom_bits=1 << 12,
        fetch_fn=make_http_fetch_fn(transport=transport, resend_times=0,
                                    sleep=lambda s: None),
        **cfg_kw,
    )
    seeds = spark.createDataFrame(
        [(f"http://h{h}.example/p{p}", 0) for h in range(2) for p in range(4)],
        "url string, priority int",
    )
    hosts = synth.hosts_config(spark, 2, uniform_delay=0, uniform_cap=50,
                               with_robots=False)
    crawler = Crawler(spark, str(path), cfg)
    crawler.bootstrap(seeds, hosts)
    crawler.run_rounds(1)
    return crawler


def _page(url):
    return f"<html><title>{url}</title><p>text of {url}</p></html>"


def test_http_source_keeps_raw_body(spark, tmp_path):
    """keep_raw_body applies to every page source: the documents of a
    crawl through the HTTP ladder carry the fetched HTML."""
    crawler = _small_http_crawl(
        spark, tmp_path / "c", {"keep_raw_body": True},
        lambda url, timeout, proxy, verify: (200, _page(url)),
    )
    docs = crawler.store.read("documents").select("url", "body").collect()
    assert len(docs) == 8
    assert all(r["body"] == _page(r["url"]) for r in docs)


def test_http_source_rides_the_partition_proxy(spark, tmp_path):
    """CrawlConfig.proxies applies to every page source: each fetch
    partition's requests go out through the proxy pinned to it."""
    import os

    pool = ["10.0.0.1:8080", "10.0.0.2:8080"]
    log_dir = tmp_path / "log"
    log_dir.mkdir()

    def recorder(url, timeout, proxy, verify):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        with open(os.path.join(log_dir, f"p{pid}"), "a") as f:
            f.write(f"{proxy}\n")
        return 200, _page(url)

    _small_http_crawl(spark, tmp_path / "c", {"proxies": pool}, recorder)
    logs = {int(n[1:]): (log_dir / n).read_text().split() for n in os.listdir(log_dir)}
    assert sum(map(len, logs.values())) == 8
    assert {pid: set(p) for pid, p in logs.items()} == {pid: {pool[pid % 2]} for pid in logs}
    assert len(logs) == 2, "both fetch partitions fetched"
