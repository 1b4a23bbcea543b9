#!/usr/bin/env python3
"""Per-epoch cost of IncrementalSurvivorship (r9) — the SCALE_EPOCHS
measurement for the survivorship stage, committed (the r8 epoch harnesses
lived in /tmp): drive the full incremental pipeline (sign → collide →
cluster → survivorship) over N epochs of replicated sf0.1 documents and
time the ``surv.absorb`` stage alone per epoch. The claim under test:
absorb cost stays FLAT while accumulated cluster state grows ~N×, because
the fold-map merge touches only relabeled/newly-touched clusters'
summary rows. Ends with the equals-batch check over all docs.

Usage::

    python tools/epochs_survivorship.py [--epochs 10] [--factor 10]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--epochs", type=int, default=10)
    ap.add_argument("--factor", type=int, default=10)
    args = ap.parse_args()

    from storm_spark.functions.dedup import (
        IncrementalLSHIndex,
        IncrementalSurvivorship,
        canonicalize_clusters,
        near_dup_clusters,
    )
    from storm_spark.functions.mining import IncrementalComponents
    from storm_spark.session import get_spark

    spark = get_spark("epochs_surv", cpus=32)
    base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
        "doc_id", "text", "n_chars"
    )
    docs = base
    for i in range(1, args.factor):
        docs = docs.unionByName(
            base.select(
                (F.col("doc_id") + i * 10_000_000).alias("doc_id"), "text", "n_chars"
            )
        )
    docs = docs.localCheckpoint()
    n = docs.count()
    print(
        f"== IncrementalSurvivorship: {n} docs ({args.factor}x sf0.1 replicas) "
        f"over {args.epochs} hash epochs; absorb() timed alone =="
    )
    idx = IncrementalLSHIndex("doc_id", "text", n=3, num_perm=12, bands=4)
    cc = IncrementalComponents()
    surv = IncrementalSurvivorship("doc_id", "n_chars")
    chunk = F.pmod(F.hash("doc_id"), F.lit(args.epochs))
    for b in range(args.epochs):
        batch = docs.filter(chunk == b).localCheckpoint()
        pairs = idx.add_docs(batch.select("doc_id", "text"))
        cc.add_edges(pairs)
        t0 = time.time()
        surv.absorb(batch, cc.labels(), cc.last_fold())
        dt = time.time() - t0
        n_clusters = surv._stats.count()  # plain count probe, checkpointed frame
        print(f"  epoch {b + 1:2d}: absorb {dt:5.2f}s  ({n_clusters} live clusters)")
    t0 = time.time()
    expect = canonicalize_clusters(
        docs, near_dup_clusters(idx.pairs()), "doc_id", "n_chars"
    )
    diff = expect.exceptAll(surv.canonical()).count() + surv.canonical().exceptAll(
        expect
    ).count()
    print(f"  batch from-scratch canonicalize: {time.time() - t0:.2f}s")
    print(f"  incremental == batch (symmetric diff rows): {diff}")


if __name__ == "__main__":
    main()
