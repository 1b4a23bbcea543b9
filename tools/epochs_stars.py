#!/usr/bin/env python3
"""Hot-bucket epoch-cost harness (r10 — the measurement behind the
star-edge directive, VERDICT r9 #1; extended r11 with the SALTED
two-level star, VERDICT r10 #9): stream a deliberately degenerate
corpus — every epoch adds `--delta` docs whose text is the SAME
boilerplate page (one band bucket absorbs them all) plus `--delta`
normal docs — through IncrementalLSHIndex in the selected emission
modes and record per-epoch wall time and emitted row count.

Expected shape: emit="pairs" emits ~delta x (stored hot members) rows in
epoch t (linear growth per epoch, QUADRATIC total — the crawl-scale
failure mode); emit="edges" stays ~flat at O(delta) rows per epoch; the
salted mode keeps the same O(delta) rows while splitting the hot
bucket's window partition across ~salt tasks — the single-task
straggler is the one cost the unsalted star still pays on a monster
bucket. Final clusterings are asserted identical across all modes run.

Usage::

    python tools/epochs_stars.py [--delta 500] [--epochs 8]
        [--modes pairs,edges,edges_salted] [--salt 32]

The r11 single-giant-bucket measurement (one epoch, 10^6-member hot
bucket; pairs mode would materialize ~10^12 rows, so it is skipped)::

    python tools/epochs_stars.py --delta 1000000 --epochs 1 \
        --modes edges,edges_salted --salt 32
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--delta", type=int, default=500)
    ap.add_argument("--epochs", type=int, default=8)
    ap.add_argument("--modes", default="pairs,edges,edges_salted")
    ap.add_argument("--salt", type=int, default=32)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from storm_spark.functions.dedup import IncrementalLSHIndex, near_dup_clusters
    from storm_spark.session import get_spark

    spark = get_spark("epochs_stars", cpus=32)
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warmup

    hot = "exactly the same boilerplate footer text on every crawled page"

    def batch(epoch: int):
        # executor-side generation (spark.range) so a 10^6-doc hot batch
        # never funnels through the driver
        base = epoch * 2 * args.delta
        return spark.range(base, base + 2 * args.delta).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") < base + args.delta, F.lit(hot))
            .otherwise(
                F.concat(
                    F.lit("unique document body "),
                    F.col("id").cast("string"),
                    F.lit(" with its own words "),
                    F.col("id").cast("string"),
                )
            )
            .alias("text"),
        )

    finals = {}
    modes = args.modes.split(",")
    valid = ("pairs", "edges", "edges_salted")
    unknown = [m for m in modes if m not in valid]
    if unknown:
        raise SystemExit(f"unknown --modes entries {unknown!r} — valid: "
                         f"{', '.join(valid)} (a typo must not be "
                         "silently measured as unsalted edges)")
    for mode in modes:
        emit = "pairs" if mode == "pairs" else "edges"
        salted = mode == "edges_salted"
        idx = IncrementalLSHIndex(
            "doc_id", "text", n=3, num_perm=12, bands=4,
            emit=emit, enforce_unique=False,
            salt_buckets=args.salt if salted else None, salt=salted,
        )
        print(f"--- mode={mode} ---")
        for e in range(args.epochs):
            t0 = time.time()
            out = idx.add_docs(batch(e))
            n = out.count()
            print(f"epoch {e}: {time.time() - t0:6.2f}s  emitted {n:>9} rows")
        t0 = time.time()
        finals[mode] = {
            (r.id, r.cluster_id) for r in near_dup_clusters(idx.pairs()).collect()
        }
        print(f"clustering: {time.time() - t0:6.2f}s  {len(finals[mode])} docs")
    vals = list(finals.values())
    assert all(v == vals[0] for v in vals[1:]), "clusterings diverged!"
    print("final clusterings identical across modes:", len(vals[0]), "labeled docs")


if __name__ == "__main__":
    main()
