#!/usr/bin/env python3
"""Measured-scaling harness: replicate the sf0.1 tables N× (fresh ids so
dedup/join keys stay distinct) and time selected gate queries at 1× vs N×.

A query whose wall time grows ≤ ~N× is scaling at-or-below linearly in input
size — no super-linear shuffle, no driver bottleneck. Usage::

    python tools/scale_check.py [--factor 16] [--queries q1,dedup_exact,...]

Writes the replicated tables under /tmp (reused across runs if present).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
# id column to re-key per replica (None = copy unchanged; dims stay fixed).
# ONE shared offset across all tables: keys that join across tables
# (o_orderkey = l_orderkey) must shift identically in every replica, or the
# replicated joins go empty and the "scaling" measurement is fiction.
REKEY = {
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "documents": "doc_id",
    "embeddings": "vec_id",
    "events": "event_id",
}
REKEY_OFFSET = 10_000_000  # > any base key at any supported factor
DEFAULT_QUERIES = [
    "q1", "wordcount", "dedup_exact", "simhash", "text_profile",
    "chunk_tokens", "pack_chunks", "dataset_split", "ann_lsh",
    "minhash_lsh", "bucketed_join", "asof_join",
]


def replicate(spark, factor: int, out_dir: str) -> None:
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        dst = f"{out_dir}/{t}.parquet"
        if os.path.exists(dst):
            continue
        # events ships TIMESTAMP(NANOS); copy it through the legacy long path
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{SF_DIR}/{t}.parquet")
        key = REKEY.get(t)
        if key is None:
            df.write.mode("overwrite").parquet(dst)
            continue
        n = df.count()
        reps = spark.range(factor).withColumnRenamed("id", "__rep__")
        out = (
            df.crossJoin(reps)
            .withColumn(key, F.col(key) + F.col("__rep__") * F.lit(REKEY_OFFSET))
            .drop("__rep__")
        )
        out.repartition(32).write.mode("overwrite").parquet(dst)
        print(f"replicated {t}: {n} -> {n * factor}", file=sys.stderr)


def time_queries(spark, sf_dir: str, names: list[str]) -> dict[str, float]:
    """Two passes; report the second (warm steady-state — the first pass
    absorbs JIT, code cache, and file-listing effects that would otherwise
    swamp the growth ratio)."""
    from storm_spark.queries import QUERIES

    out = {}
    for warm in (False, True):
        for name in names:
            t0 = time.time()
            # fault isolation (bench.py convention): one broken query at
            # one scale must not erase the whole sweep
            try:
                QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                out[name] = float("nan")
                print(f"  {name}: ERROR {type(exc).__name__}: {exc}"[:300], file=sys.stderr)
                spark.catalog.clearCache()
                continue
            if warm:
                out[name] = round(time.time() - t0, 2)
                print(f"  {name}: {out[name]}s", file=sys.stderr)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=16)
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    args = ap.parse_args()
    names = args.queries.split(",")

    from storm_spark.session import get_spark

    spark = get_spark("scale_check", cpus=32)
    big_dir = f"/tmp/storm_spark_scale_{args.factor}x"
    replicate(spark, args.factor, big_dir)

    print(f"== 1x ({SF_DIR})", file=sys.stderr)
    base = time_queries(spark, SF_DIR, names)
    print(f"== {args.factor}x ({big_dir})", file=sys.stderr)
    big = time_queries(spark, big_dir, names)

    print(f"{'query':24s} {'1x':>8s} {args.factor:>6d}x  growth")
    for n in names:
        b1, bN = base.get(n, float("nan")), big.get(n, float("nan"))
        g = bN / b1 if b1 else float("inf")
        print(f"{n:24s} {b1:7.2f}s {bN:7.2f}s  {g:5.1f}x")


if __name__ == "__main__":
    main()
