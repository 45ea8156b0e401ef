"""Deterministic synthetic web — the stand-in for the network.

Every test and benchmark "fetch" is a pure function of the URL, so crawl
runs are bit-for-bit replayable (SURVEY.md §7 hard-part (c)).  This mirrors
the reference's captured-response fixtures under /root/reference/html/
(e.g. html/person_unicom/called_info.html) which let its parsers run
without the network, and the fixed status-code taxonomy of
share_func.py:291-304 / shixin_spider.py:140-153.

URL space: ``http://h{H}.example/p{P}`` for host id H in [0, n_hosts) and
page id P in [0, page_space).  The page graph, status mix, and span bodies
are all arithmetic on (H, P):

- ~4% retryable server error (status 529, err_type 1),
  ~1% timeout (status 408, err_type 2),
  ~1% permanent not-found (status 404, err_type 3), rest 200 —
  matching the reference's observed error mix knobs (FIXTURES.md §3).
- 200 pages carry 0–3 outlinks plus interleaved title/text/media spans
  with strictly increasing offsets (the per-row invariant).

Two implementations share the same arithmetic: scalar (used by the pure-
Python reference simulator ``refsim.py``) and numpy-vectorized (used by
the Spark fetch stage inside mapInPandas — no per-row Python on the hot
fields).
"""

from __future__ import annotations

import numpy as np

MASK31 = 0x7FFFFFFF
# err_type, the fetch output's contract with frontier.state_updates: 0 ok,
# 1 request-failed and 2 timeout (retried with backoff), 3 unknown (dead)
ERR_OK, ERR_REQUEST, ERR_TIMEOUT, ERR_UNKNOWN = 0, 1, 2, 3


def url_of(host_id: int, page_id: int) -> str:
    return f"http://h{host_id}.example/p{page_id}"


def host_of(host_id: int) -> str:
    return f"h{host_id}.example"


def page_key(h, p):
    """Deterministic per-page key; works on ints and numpy arrays."""
    return (h * 1_000_003 + p * 7_919 + 12_345) & MASK31


def status_of_key(k):
    """Works on ints; see status_of_key_np for the vectorized twin."""
    m = k % 1000
    if m < 40:
        return 529
    if m < 50:
        return 408
    if m < 60:
        return 404
    return 200


def err_type_of_status(s: int) -> int:
    if s == 200:
        return 0
    if s == 529:
        return ERR_REQUEST
    if s == 408:
        return ERR_TIMEOUT
    return ERR_UNKNOWN


def status_of_key_np(k: np.ndarray) -> np.ndarray:
    m = k % 1000
    out = np.full(k.shape, 200, dtype=np.int32)
    out[m < 60] = 404
    out[m < 50] = 408
    out[m < 40] = 529
    return out


def n_links_of_key(k):
    return (k >> 8) % 4


def link_target(h: int, p: int, j: int, n_hosts: int, page_space: int) -> tuple[int, int]:
    """j-th outlink of page (h, p) -> (host_id, page_id)."""
    k = page_key(h, p)
    th = (h + 1 + ((k >> (4 * j)) % 7)) % n_hosts
    tp = (p * 31 + j * 13 + h + 1) % page_space
    return th, tp


WORDS = (
    "the data spark crawl frontier queue host page link fetch parse span "
    "merge shuffle filter bloom hash table row batch round seed depth"
).split()


def _words_of_key(k: int, n: int) -> str:
    return " ".join(WORDS[(k >> (i * 3)) % len(WORDS)] for i in range(n))


def spans_of(h: int, p: int, n_hosts: int, page_space: int) -> list[dict]:
    """Interleaved span body of a 200 page (input_hint shape).

    kind ∈ {title, text, link, media}; offsets strictly increasing;
    media spans carry media_ref and empty text, link spans carry the
    target URL in text (FIXTURES.md §2).
    """
    k = page_key(h, p)
    spans = [
        {"kind": "title", "text": f"Page {h}/{p}", "media_ref": "", "offset": 0},
        {"kind": "text", "text": _words_of_key(k, 5 + k % 4), "media_ref": "", "offset": 1},
    ]
    off = 2
    if k % 3 == 0:
        spans.append(
            {"kind": "media", "text": "", "media_ref": f"media://h{h}/p{p}/img0", "offset": off}
        )
        off += 1
    if k % 5 == 0:
        spans.append(
            {"kind": "text", "text": _words_of_key(k >> 7, 4), "media_ref": "", "offset": off}
        )
        off += 1
    for j in range(n_links_of_key(k)):
        th, tp = link_target(h, p, j, n_hosts, page_space)
        spans.append({"kind": "link", "text": url_of(th, tp), "media_ref": "", "offset": off})
        off += 1
    return spans


def fetch_one(h: int, p: int, n_hosts: int, page_space: int) -> tuple[int, int, list[dict]]:
    """(status, err_type, spans) — the scalar 'network'."""
    k = page_key(h, p)
    s = status_of_key(k)
    if s != 200:
        return s, err_type_of_status(s), []
    return s, 0, spans_of(h, p, n_hosts, page_space)


def parse_url_np(urls) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized `http://h{H}.example/p{P}` -> (H, P) int64 arrays.

    Arrow compute kernels (slice + split + cast — one C pass each);
    falls back to a pandas regex extract for malformed input.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    try:
        arr = pa.array(urls, type=pa.string())
        rest = pc.utf8_slice_codeunits(arr, 8, 1 << 30)  # strip 'http://h'
        parts = pc.split_pattern(rest, ".example/p")
        ok = pc.equal(pc.list_value_length(parts), 2)
        if not pc.all(ok).as_py():
            raise ValueError("malformed url in batch")
        h = pc.list_element(parts, 0).cast(pa.int64()).to_numpy(zero_copy_only=False)
        p = pc.list_element(parts, 1).cast(pa.int64()).to_numpy(zero_copy_only=False)
        return h, p
    except Exception:
        import pandas as pd

        s = pd.Series(urls, dtype="string")
        ext = s.str.extract(r"^http://h(\d+)\.example/p(\d+)$")
        h = pd.to_numeric(ext[0], errors="coerce").fillna(-1).astype("int64").to_numpy()
        p = pd.to_numeric(ext[1], errors="coerce").fillna(-1).astype("int64").to_numpy()
        return h, p


def fetch_flat_np(h: np.ndarray, p: np.ndarray, n_hosts: int, page_space: int) -> dict:
    """Vectorized flat page fields (Arrow compute kernels, no per-row Python).

    Produces exactly the content of ``spans_of`` as flat columns; the
    span array itself is assembled JVM-side (fetch.assemble_spans_expr),
    so the Python stage never builds per-row nested objects.
    ``binary_join_element_wise`` / ``if_else`` / ``cast`` are single
    C passes — ~8x faster than the numpy.char equivalent.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    W = len(WORDS)
    k = page_key(h, p)
    words_np = np.array(WORDS)

    hs = pc.cast(pa.array(h), pa.string())
    ps = pc.cast(pa.array(p), pa.string())
    title = pc.binary_join_element_wise("Page ", hs, "/", ps, "")

    # text1: 5 + k%4 words, word i = WORDS[(k >> 3i) % W]
    w = [pa.array(words_np[((k >> (i * 3)) % W).astype(np.int64)]) for i in range(8)]
    joins = {m: pc.binary_join_element_wise(*w[:m], " ") for m in (5, 6, 7, 8)}
    n_words = 5 + (k % 4)
    text1 = joins[8]
    for m in (7, 6, 5):
        text1 = pc.if_else(pa.array(n_words == m), joins[m], text1)

    has_media = (k % 3) == 0
    media_ref = pc.binary_join_element_wise("media://h", hs, "/p", ps, "/img0", "")

    k2 = k >> 7
    has_text2 = (k % 5) == 0
    w2 = [pa.array(words_np[((k2 >> (i * 3)) % W).astype(np.int64)]) for i in range(4)]
    text2 = pc.binary_join_element_wise(*w2, " ")

    n_links = n_links_of_key(k).astype(np.int32)
    links = []
    for j in range(3):
        th = (h + 1 + ((k >> (4 * j)) % 7)) % n_hosts
        tp = (p * 31 + j * 13 + h + 1) % page_space
        links.append(
            pc.binary_join_element_wise(
                "http://h", pc.cast(pa.array(th), pa.string()),
                ".example/p", pc.cast(pa.array(tp), pa.string()), ""
            )
        )

    def _s(a):  # arrow -> pandas string series (no python loop)
        return a.to_pandas()

    return {
        "title": _s(title),
        "text1": _s(text1),
        "has_media": has_media,
        "media_ref": _s(media_ref),
        "has_text2": has_text2,
        "text2": _s(text2),
        "n_links": n_links,
        "link0": _s(links[0]),
        "link1": _s(links[1]),
        "link2": _s(links[2]),
    }


def render_html_np(flat: dict) -> pd.Series:
    """Deterministic raw HTML body from the flat page fields (S14 raw-body
    retention, credit_person_web.py:234-249 analog).

    The markup is the exact inverse of parse.html_to_spans: scanning the
    rendered body yields the same interleaved span sequence the JVM
    assembles from the flat columns (anchor texts are empty so no stray
    text spans appear).  Arrow binary_join_element_wise/if_else — single
    C passes, no per-row Python."""
    import pyarrow as pa
    import pyarrow.compute as pc

    empty = pa.scalar("", pa.string())
    j = pc.binary_join_element_wise
    media = pc.if_else(
        pa.array(flat["has_media"]),
        j('<img src="', pa.array(flat["media_ref"], pa.string()), '">', ""),
        empty,
    )
    text2 = pc.if_else(
        pa.array(flat["has_text2"]),
        j("<p>", pa.array(flat["text2"], pa.string()), "</p>", ""),
        empty,
    )
    n_links = np.asarray(flat["n_links"])
    anchors = [
        pc.if_else(
            pa.array(n_links > k),
            j('<a href="', pa.array(flat[f"link{k}"], pa.string()), '"></a>', ""),
            empty,
        )
        for k in range(3)
    ]
    body = j(
        "<html><head><title>", pa.array(flat["title"], pa.string()),
        "</title></head><body><p>", pa.array(flat["text1"], pa.string()), "</p>",
        media, text2, anchors[0], anchors[1], anchors[2],
        "</body></html>", "",
    )
    return body.to_pandas()
