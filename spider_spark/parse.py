"""Span-array utilities + HTML→spans parsing (F3, SURVEY.md §2.7).

The interleaved document model (input_hint): one row per document,
``spans: array<struct<kind,text,media_ref,offset>>`` with strictly
increasing offsets.  The reference's XPath extraction (share_func.py:
174-191 xpathText; shixin_search.py:149-155 findIDs) becomes a
vectorized pandas UDF turning raw HTML bodies into span arrays; link
extraction is a JVM-side ``explode`` over link spans.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .schemas import SPAN

_TAG_RE = re.compile(
    r"<title[^>]*>(?P<title>.*?)</title>"
    r"|<a\s[^>]*href=[\"'](?P<href>[^\"']+)[\"'][^>]*>"
    r"|<img\s[^>]*src=[\"'](?P<src>[^\"']+)[\"'][^>]*>"
    r"|<[^>]*>"  # consume other tags so their names don't leak as text
    r"|(?P<text>[^<>]+)",
    re.IGNORECASE | re.DOTALL,
)


def html_to_spans(html: str) -> list[dict]:
    """One HTML body -> ordered interleaved spans.

    Minimal regex scanner (title / a@href / img@src / bare text) — the
    structural equivalent of the reference's lxml-XPath harvest of mixed
    text+image pages (e.g. the captcha <img id="imgrc">,
    credit_report/person_credit.py:71).  Offsets = document order.
    """
    spans: list[dict] = []
    off = 0
    if not html:
        return spans
    for m in _TAG_RE.finditer(html):
        if m.group("title") is not None:
            txt = m.group("title").strip()
            if txt:
                spans.append({"kind": "title", "text": txt, "media_ref": "", "offset": off})
                off += 1
        elif m.group("href") is not None:
            spans.append({"kind": "link", "text": m.group("href"), "media_ref": "", "offset": off})
            off += 1
        elif m.group("src") is not None:
            spans.append({"kind": "media", "text": "", "media_ref": m.group("src"), "offset": off})
            off += 1
        elif m.group("text") is None:
            continue  # consumed tag
        else:
            txt = re.sub(r"\s+", " ", m.group("text")).strip()
            if txt:
                spans.append({"kind": "text", "text": txt, "media_ref": "", "offset": off})
                off += 1
    return spans


# the fetch stage's flat page columns, from which the JVM assembles spans
FLAT_COLUMNS = (
    "title", "text1", "has_media", "media_ref", "has_text2", "text2",
    "n_links", "link0", "link1", "link2",
)


def flat_columns(bodies: list[str | None]) -> pd.DataFrame:
    """HTML bodies -> the fetch stage's flat page columns: the first
    title, first two texts, first media and first three links, the
    simnet page shape (real pages simply truncate to it).  A missing
    body is an empty page."""
    rows = []
    for body in bodies:
        spans = html_to_spans(body)
        texts = [s["text"] for s in spans if s["kind"] == "text"][:2]
        media = next((s["media_ref"] for s in spans if s["kind"] == "media"), None)
        links = [s["text"] for s in spans if s["kind"] == "link"][:3]
        rows.append({
            "title": next((s["text"] for s in spans if s["kind"] == "title"), ""),
            "text1": texts[0] if texts else "",
            "has_media": media is not None,
            "media_ref": media or "",
            "has_text2": len(texts) > 1,
            "text2": texts[1] if len(texts) > 1 else "",
            "n_links": len(links),
            **{f"link{j}": links[j] if j < len(links) else "" for j in range(3)},
        })
    return pd.DataFrame(rows, columns=FLAT_COLUMNS).astype(
        {"has_media": bool, "has_text2": bool, "n_links": "int32"}
    )


def _html_to_spans_vec(bodies: pd.Series) -> pd.Series:
    return bodies.map(lambda b: html_to_spans(b) if isinstance(b, str) else [])


def html_to_spans_udf(body: "F.Column") -> "F.Column":
    return pandas_udf(
        _html_to_spans_vec, "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )(body)


def extract_links(docs: DataFrame, url_col: str = "url") -> DataFrame:
    """Explode link spans -> (parent url, depth?, link) rows — JVM only."""
    cols = [c for c in docs.columns if c != "spans"]
    return (
        docs.select(*cols, F.explode("spans").alias("span"))
        .filter(F.col("span.kind") == "link")
        .select(*cols, F.col("span.text").alias("link"))
    )


def span_invariant_violations(docs: DataFrame) -> DataFrame:
    """Rows violating the per-row invariant: offsets strictly increasing.

    ``forall(zip_with(...))`` — higher-order JVM functions, no UDF."""
    offs = F.expr("transform(spans, s -> s.offset)")
    ok = F.expr(
        "forall(zip_with(slice(transform(spans, s -> s.offset), 1, size(spans)-1), "
        "slice(transform(spans, s -> s.offset), 2, size(spans)-1), (a,b) -> b > a), x -> x)"
    )
    return docs.filter(F.size("spans") > 1).withColumn("_offs", offs).filter(~F.coalesce(ok, F.lit(True)))


# ---------------------------------------------------------------- tables
# Table-structure extraction (F3's missing half, VERDICT r1): the
# reference's positional XPath harvest — "table 7, tbody rows 3..-1"
# (credit_report/claw_report.py:14-58) — needs tables as indexed
# row/cell structure, not a flat span stream.  Documented subset:
# non-nested tables, <td>/<th> cells, tags inside cells stripped.

_TABLE_RE = re.compile(r"<table[^>]*>(.*?)</table>", re.IGNORECASE | re.DOTALL)
_TR_RE = re.compile(r"<tr[^>]*>(.*?)</tr>", re.IGNORECASE | re.DOTALL)
_CELL_RE = re.compile(r"<t[dh][^>]*>(.*?)</t[dh]>", re.IGNORECASE | re.DOTALL)
_ANYTAG_RE = re.compile(r"<[^>]+>")

TABLE_ROW_DDL = "array<struct<table_idx:int,row_idx:int,cells:array<string>>>"


def html_to_table_rows(html: str) -> list[dict]:
    """One HTML body -> [(table_idx, row_idx, cells)] in document order."""
    rows: list[dict] = []
    if not html:
        return rows
    for ti, tm in enumerate(_TABLE_RE.finditer(html)):
        for ri, rm in enumerate(_TR_RE.finditer(tm.group(1))):
            cells = [
                re.sub(r"\s+", " ", _ANYTAG_RE.sub("", c.group(1))).strip()
                for c in _CELL_RE.finditer(rm.group(1))
            ]
            rows.append({"table_idx": ti, "row_idx": ri, "cells": cells})
    return rows


def _html_to_table_rows_vec(bodies: pd.Series) -> pd.Series:
    return bodies.map(lambda b: html_to_table_rows(b) if isinstance(b, str) else [])


def html_table_rows_udf(body: "F.Column") -> "F.Column":
    return pandas_udf(_html_to_table_rows_vec, TABLE_ROW_DDL)(body)


def html_list_items(body: "F.Column") -> "F.Column":
    """<li> item texts — pure JVM (regexp_extract_all), no UDF.
    Reference analog: the <ol class="p olstyle">/li credit-card lines
    (claw_report.py:62-69)."""
    return F.regexp_extract_all(body, F.lit(r"(?si)<li[^>]*>(.*?)</li>"), 1)
