#!/usr/bin/env python3
"""Serial-vs-parallel ``compact_index`` measurement (VERDICT r12 #3).

r13 replaced the ``coalesce(1)`` single-task generation rewrite in
``IncrementalLSHIndex.compact_index`` with an n_buckets-way parallel
repartition write (one task per bucket, same one-file-per-bucket
invariant). This harness measures that seam in isolation: build ONE
bucketed index over the replicated ``documents`` table (the
``tools/scale_check.py`` layout), then alternate ``compact_index()``
calls between the SHIPPED parallel write and a serial emulation that
restores the pre-r13 behavior by monkeypatching the int-first
``DataFrame.repartition`` inside the compact body back to
``coalesce(1)`` (the column-first ``repartition("__idb__")`` in the ids
write is untouched — it predates nothing; the emulation only serializes
the index-generation write, which is what changed). Every compact reads
the previous generation and rewrites identical content (no tombstones),
so the timed work is the same each call; modes alternate
parallel/serial twice each to expose ambient noise. Usage::

    python tools/compact_parallel_check.py [--factor 100] [--epochs 4]
"""

from __future__ import annotations

import argparse
import glob
import os
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=100)
    ap.add_argument("--epochs", type=int, default=4)
    args = ap.parse_args()

    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql import functions as F

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    big = f"/tmp/storm_spark_scale_{args.factor}x"
    if not os.path.isdir(big):
        from tools.scale_check import replicate

        replicate(spark, args.factor, big)
    docs = spark.read.parquet(f"{big}/documents.parquet").select(
        "doc_id", "text"
    )
    n_docs = docs.count()

    from storm_spark.functions.dedup import IncrementalLSHIndex

    root = tempfile.mkdtemp(prefix="storm_spark_compact_par_")
    table = "cpar_" + uuid.uuid4().hex[:8]
    idx = IncrementalLSHIndex(
        "doc_id",
        "text",
        n=3,
        num_perm=12,
        bands=4,
        index_table=table,
        index_path=os.path.join(root, "idx"),
        emit="edges",
        enforce_unique=False,
    )
    ep = F.pmod(F.col("doc_id"), F.lit(args.epochs))
    t0 = time.time()
    for e in range(args.epochs):
        idx.add_docs(docs.filter(ep == e))
    print(
        f"built: {n_docs} docs, {args.epochs} epochs, "
        f"{time.time() - t0:.1f}s",
        file=sys.stderr,
    )

    orig_rep = DataFrame.repartition

    def serial_rep(self, *a, **k):
        if a and isinstance(a[0], int):
            return self.coalesce(1)  # the pre-r13 write path
        return orig_rep(self, *a, **k)

    idx.compact_index()  # warmup (untimed): JIT, file listing, codegen
    rows = []
    for mode in ("parallel", "serial", "parallel", "serial"):
        if mode == "serial":
            DataFrame.repartition = serial_rep
        try:
            t0 = time.time()
            idx.compact_index()
            dt = time.time() - t0
        finally:
            DataFrame.repartition = orig_rep
        files = len(
            glob.glob(os.path.join(idx._store.path("index"), "part-*.parquet"))
        )
        rows.append((mode, dt, files))
        print(
            f"compact_index {mode:8s} wall {dt:7.2f}s  "
            f"index files {files}",
            flush=True,
        )
    par = sum(d for m, d, _ in rows if m == "parallel") / 2
    ser = sum(d for m, d, _ in rows if m == "serial") / 2
    print(
        f"mean parallel {par:.2f}s  mean serial {ser:.2f}s  "
        f"speedup {ser / par:.2f}x"
    )


if __name__ == "__main__":
    main()
