#!/usr/bin/env python3
"""Core-scaling probe at replicated scale (r14, VERDICT r13 #4): time the
given queries against an ALREADY-REPLICATED table dir (built by
tools/scale_check.py) under the session core count from $SPARK_GRAFT_CPUS.
Run once with 32 and once with 8 and compare: a query whose 8c/32c ratio
is ≳2 at the replicated scale is parallelism-bound (healthy); ~1.0 means
its wall is still fixed overhead at that scale.

Usage::

    SPARK_GRAFT_CPUS=32 python tools/core_ratio_check.py --dir /tmp/storm_spark_scale_100x --queries a,b
    SPARK_GRAFT_CPUS=8  python tools/core_ratio_check.py --dir /tmp/storm_spark_scale_100x --queries a,b
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--queries", required=True)
    args = ap.parse_args()
    names = args.queries.split(",")

    from storm_spark.queries import QUERIES
    from storm_spark.session import get_spark

    spark = get_spark("core_ratio_check")
    cores = spark.sparkContext.defaultParallelism
    print(f"# cores={cores} dir={args.dir}")
    for warm in (False, True):
        for name in names:
            t0 = time.time()
            try:
                QUERIES[name](spark, args.dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as exc:  # noqa: BLE001
                print(f"{name} cores={cores} ERROR {type(exc).__name__}: {exc}"[:300])
                spark.catalog.clearCache()
                continue
            dt = round(time.time() - t0, 2)
            if warm:
                print(f"{name} cores={cores} warm={dt}s")
            spark.catalog.clearCache()


if __name__ == "__main__":
    main()
