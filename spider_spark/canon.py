"""URL canonicalization + hashing — vectorized Arrow UDFs (no per-row Python).

The reference absolutizes hrefs by naive string concat
(flask_spider/spider/phone_book/phone_book.py:95: ``_host + href if _host
not in href``) and dedups on exact DB keys; at web scale we need a real
canonical form + a 64-bit hash.  Canonicalization rules (a documented,
deterministic subset of RFC 3986 normalization):

1. trim whitespace
2. resolve scheme-relative / path-relative refs against the base URL
3. lowercase scheme and host
4. drop default ports (:80 http, :443 https)
5. strip fragments (#...)
6. collapse duplicate slashes in the path
7. drop any trailing run of '?' / '/' (empty queries, bare trailing
   slashes on non-root paths) — in one pass to its fixpoint, so
   canonicalization is idempotent

``url_hash`` is Spark's builtin ``xxhash64`` (seed 42) on the canonical
string — JVM-side, whole-stage-codegen'd, zero Python cost.  The reference
has no hashing (exact integer IDs); hashing is our scale adaptation
(SURVEY.md §2.7 F15/F16).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


# already-canonical: lowercase scheme://host, no default port, no fragment,
# no '//' in path, no trailing '?' or slash — the overwhelmingly common case
# on a real crawl, so it gets a single-regex fast path.
_CANONICAL_RE = r"^https?://[a-z0-9.-]+(/[^?#/]+(/[^?#/]+)*(\?[^#]*[^#?])?)?$"


def canonicalize_series(urls: pd.Series, bases: pd.Series | None = None) -> pd.Series:
    """Pure-pandas canonicalizer (C-level str ops throughout).

    Fast path: rows matching ``_CANONICAL_RE`` (and needing no base
    resolution) pass through untouched; only the rest pay the full
    normalization pipeline."""
    s0 = urls.astype("string")
    fast = s0.str.match(_CANONICAL_RE, na=False)
    if bool(fast.all()) and len(s0):
        return s0
    slow = _canonicalize_slow(s0[~fast], None if bases is None else bases[~fast])
    out = s0.copy()
    out[~fast] = slow
    return out


def _canonicalize_slow(urls: pd.Series, bases: pd.Series | None = None) -> pd.Series:
    s = urls.astype("string").str.strip()
    if bases is not None:
        b = bases.astype("string").str.strip()
        # base origin = scheme://host[:port]
        origin = b.str.extract(r"^([a-z][a-z0-9+.-]*://[^/]+)", expand=False)
        scheme = b.str.extract(r"^([a-z][a-z0-9+.-]*):", expand=False)
        # RFC 3986 merge: path-relative refs resolve against the base
        # URL's DIRECTORY (base http://h/a/b + 'c' -> http://h/a/c), not
        # the origin root.  basedir = base minus query/fragment, minus
        # the last path segment, with a guaranteed trailing slash.
        basedir = b.str.replace(r"[?#].*$", "", regex=True)
        basedir = basedir.str.replace(r"^([a-z][a-z0-9+.-]*://[^/]+)$", r"\1/", regex=True)
        basedir = basedir.str.replace(r"/[^/]*$", "/", regex=True)
        basedir = basedir.where(origin.notna(), other=pd.NA)
        is_abs = s.str.contains(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", na=False)
        is_scheme_rel = s.str.startswith("//").fillna(False)
        is_root_rel = s.str.startswith("/").fillna(False) & ~is_scheme_rel
        s = s.where(is_abs | is_scheme_rel | is_root_rel | s.isna(),
                    basedir.fillna("") + s)               # path-relative
        s = s.where(~is_root_rel, origin.fillna("") + s)  # root-relative
        s = s.where(~is_scheme_rel, scheme.fillna("http") + ":" + s)
    # lowercase scheme + host (authority part only)
    parts = s.str.extract(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)(.*)$")
    good = parts[0].notna()
    rest = parts[2].fillna("")
    rest = rest.str.replace(r"#.*$", "", regex=True)       # strip fragment
    rest = rest.str.replace(r"/{2,}", "/", regex=True)     # collapse //
    # Trailing junk = any run of '?' / '/' at the end (empty queries,
    # non-root trailing slashes).  One pass must reach the fixpoint —
    # stripping '?'-runs and slashes as separate sequential rules is NOT
    # idempotent ('/?/' -> '/?' -> '/', hypothesis-found): strip the whole
    # run when a real path/query char precedes it, else reduce the
    # junk-only rest to '/' (root) or '' (bare '?').
    rest = rest.str.replace(r"(?<=[^/?])[/?]+$", "", regex=True)
    rest = rest.str.replace(r"^\?[/?]*$", "", regex=True)
    rest = rest.str.replace(r"^/[/?]*$", "/", regex=True)
    host = parts[1].str.lower()
    scheme_lc = parts[0].str.lower()
    host = host.where(~(scheme_lc.eq("http") & host.str.endswith(":80")), host.str.replace(r":80$", "", regex=True))
    host = host.where(~(scheme_lc.eq("https") & host.str.endswith(":443")), host.str.replace(r":443$", "", regex=True))
    canon = scheme_lc + "://" + host + rest
    return canon.where(good, s).astype("string")


def _canon1(urls: pd.Series) -> pd.Series:
    return canonicalize_series(urls).astype(object)


def canonicalize_udf(url: Column) -> Column:
    """Vectorized canonicalizer (UDF registered lazily — needs a session)."""
    return pandas_udf(_canon1, "string")(url)


def host_col(url: Column) -> Column:
    """Host of a canonical URL — pure JVM expression (codegen'd)."""
    return F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://([^/?#:]*)", 1)


def url_hash_col(url: Column) -> Column:
    """64-bit stable hash of the canonical URL (JVM xxhash64, seed 42)."""
    return F.xxhash64(url)


def bucket_col(hash_col: Column, n_buckets: int) -> Column:
    """Storage bucket of a 64-bit key: pmod(hash, N) — the partition
    column of the seen/media tables, so exact-dedup anti-joins prune to
    candidate buckets at the manifest level (storage.read_partitions)."""
    return F.pmod(hash_col, F.lit(n_buckets)).cast("int")
