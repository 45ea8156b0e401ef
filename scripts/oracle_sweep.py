"""Value-exact sweep of the 50-entry graded window at a given SF —
the post-swap re-verification CLAUDE.md requires before any
GRADED_WINDOW change ships.

Runs every window entry on Spark AND DuckDB, compares (a) the exact
sorted row multiset (floats rounded to 6, Decimals coerced — DuckDB
returns Decimal for literal numeric columns, which would false-fail a
string compare) and (b) an emulation of the driver's canonicalizer:
columns sorted by name, each column's values sorted independently
(pandas sort_values), then hashed.

Usage:  python scripts/oracle_sweep.py [sf0.1] [out.json]
        python scripts/oracle_sweep.py sf0.01 --names a17_x,w10_y
(--names sweeps the given entries instead of the graded window —
the validator for new tail entries at every SF.)  A name without both
a query and an oracle (unknown, or a rows-only entry) exits 2 before
Spark starts.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 2**53:
            return int(v)
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        [tuple(_norm_cell(r[i]) for i in order) for r in rows],
        key=lambda t: tuple(str(x) for x in t),
    )


def _driver_hash(cols, rows):
    """Driver canonicalizer emulation: per-column independent
    sort_values over name-sorted columns, then one hash."""
    h = hashlib.md5()
    for i in sorted(range(len(cols)), key=lambda i: cols[i]):
        col = sorted((str(_norm_cell(r[i])) for r in rows))
        h.update(("\x1f".join([cols[i], *col]) + "\x1e").encode())
    return h.hexdigest()


def main() -> int:
    argv = list(sys.argv[1:])
    names = None
    if "--names" in argv:
        i = argv.index("--names")
        names = argv[i + 1].split(",")
        del argv[i : i + 2]
    sf = argv[0] if len(argv) > 0 else "sf0.1"
    out_path = argv[1] if len(argv) > 1 else None
    sf_dir = f"/root/testdata/{sf}"

    from spider_spark.catalog import GRADED_WINDOW, ORACLES, QUERIES

    names = names if names is not None else GRADED_WINDOW
    unknown = [n for n in names if n not in QUERIES or n not in ORACLES]
    if unknown:
        print(
            "no query + oracle pair (unknown or rows-only): " + ",".join(unknown),
            file=sys.stderr,
        )
        return 2

    from spider_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.conf.set("spark.sql.ansi.enabled", "true")  # driver semantics
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    detail, bad = [], []
    for name in names:
        sdf = QUERIES[name](spark, sf_dir)
        scols = [c.lower() for c in sdf.columns]
        srows = [tuple(r) for r in sdf.collect()]
        rel = con.sql(ORACLES[name])
        ocols = [c.lower() for c in rel.columns]
        orows = rel.fetchall()
        ok = (
            sorted(scols) == sorted(ocols)
            and len(srows) == len(orows)
            and _rowset(scols, srows) == _rowset(ocols, orows)
            and _driver_hash(scols, srows) == _driver_hash(ocols, orows)
        )
        detail.append({"name": name, "rows": len(srows), "value_exact": ok})
        if not ok:
            bad.append(name)
        print(f"{name:32s} rows={len(srows):7d} {'OK' if ok else 'MISMATCH'}", flush=True)

    result = {
        "sf": float(sf[2:]),
        "n": len(detail),
        "all_value_exact": not bad,
        "bad": bad,
        "detail": detail,
    }
    if out_path:
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1)
    print(json.dumps({k: v for k, v in result.items() if k != "detail"}))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
