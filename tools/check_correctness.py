#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs each ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, schema shape,
and an order-insensitive value hash (columns sorted by name, rows sorted,
values canonicalized). Usage::

    python tools/check_correctness.py [query ...] [--sf DIR]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time
from datetime import date, datetime

# the checkout this file belongs to: perfbench imports this module, and a
# benchmark run must import the storm_spark package of its own checkout
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.10g}"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            f = float(v)
            return canon(f)
    except ImportError:
        pass
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    import duckdb

    from storm_spark.queries import ORACLES, QUERIES
    from storm_spark.session import get_spark

    spark = get_spark("correctness_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    names = args.queries or list(QUERIES)
    n_pass = n_fail = 0
    for name in names:
        qfn = QUERIES[name]
        t0 = time.time()
        try:
            sdf = qfn(spark, args.sf)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name:20s} spark error: {e}")
            n_fail += 1
            continue
        finally:
            spark.catalog.clearCache()  # drop per-query persisted indexes
        t_spark = time.time() - t0
        sql = ORACLES.get(name)
        if sql is None:
            print(f"rows  {name:20s} {len(s_rows):>8} rows  (no oracle; rows-only) {t_spark:5.1f}s")
            n_pass += 1
            continue
        t0 = time.time()
        try:
            # Fetch via Arrow, NOT fetchall(): the driver's harness goes
            # through Arrow, where DuckDB HUGEINT becomes decimal128 and
            # canonicalizes as Decimal rather than int. fetchall() was
            # Python-int-lenient and masked the r6 HUGEINT hash failures
            # for a full round (VERDICT r6 directive #4).
            res = con.sql(sql)
            atbl = res.fetch_arrow_table()
            d_cols = atbl.column_names
            wide = [
                f"{f.name}:{f.type}"
                for f in atbl.schema
                if str(f.type).startswith("decimal")
            ]
            d_rows = [tuple(r[c] for c in d_cols) for r in atbl.to_pylist()]
        except Exception as e:
            print(f"FAIL  {name:20s} duckdb error: {e}")
            n_fail += 1
            continue
        t_duck = time.time() - t0
        problems = []
        if wide:
            # decimal128 output = driver canonicalization hazard even when
            # values match — treat as a hard failure, same as the driver.
            problems.append(f"oracle emits wide-decimal column(s) {wide}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount {len(s_rows)} vs {len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"schema {sorted(s_cols)} vs {sorted(d_cols)}")
        if not problems:
            hs, hd = table_hash(s_cols, s_rows), table_hash(d_cols, d_rows)
            if hs != hd:
                problems.append(f"value-hash {hs} vs {hd}")
                # show a few differing rows for debugging
                order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                set_s = {"|".join(canon(r[i]) for i in order_s) for r in s_rows}
                set_d = {"|".join(canon(r[i]) for i in order_d) for r in d_rows}
                for x in list(set_s - set_d)[:3]:
                    print(f"        spark-only: {x}")
                for x in list(set_d - set_s)[:3]:
                    print(f"        duck-only : {x}")
        if problems:
            print(f"FAIL  {name:20s} {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS  {name:20s} {len(s_rows):>8} rows  spark {t_spark:5.1f}s duck {t_duck:5.1f}s")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
