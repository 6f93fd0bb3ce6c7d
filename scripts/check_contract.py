"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql() twin
on DuckDB over the same parquet dir, comparing row count, column names, and
an order-insensitive value hash (values canonicalized: floats rounded to 9
significant-ish decimals, arrays/maps stringified, timestamps ISO).
Usage: python scripts/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]


def canon(v):
    import datetime
    import decimal

    if v is None:
        return "∅"
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.9g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from mvt_wrangler_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        df = fn(spark, sf_dir)
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
        t1 = time.time()
        if name not in osql:
            print(f"{name:20s} rows={len(rows):6d} (rows-only, no oracle) {t1-t0:5.1f}s")
            continue
        cur = con.execute(osql[name])
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        ok_n = len(rows) == len(orows)
        ok_c = sorted(cols) == sorted(ocols)
        hv_s = value_hash(rows, cols)
        hv_o = value_hash(orows, ocols)
        ok_v = hv_s == hv_o
        status = "OK " if (ok_n and ok_c and ok_v) else "FAIL"
        print(f"{name:20s} {status} rows={len(rows)}/{len(orows)} cols={'=' if ok_c else (cols, ocols)} "
              f"hash={'=' if ok_v else (hv_s, hv_o)} {t1-t0:5.1f}s")
        if status == "FAIL":
            failures.append(name)
            if not ok_v and ok_n and ok_c:
                # show first differing canonical lines
                order = sorted(range(len(cols)), key=lambda i: cols[i])
                ls = sorted("|".join(canon(r[i]) for i in order) for r in rows)
                oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
                lo = sorted("|".join(canon(r[i]) for i in oorder) for r in orows)
                for a, b in zip(ls, lo):
                    if a != b:
                        print(f"   spark: {a}\n   duck : {b}")
                        break
    print("FAILURES:", failures or "none")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
