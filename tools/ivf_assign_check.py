#!/usr/bin/env python3
"""IVF cell-assignment shape harness (r9, committed — the measurement
behind SCALE.md §r9): times `_ivf_assign_probe`'s two assignment shapes
("hashagg" — production — vs "window" — the pre-r9 shape kept ONLY for
this comparison) on id-shifted replicas of the sf0.1 embeddings, and
verifies the assignments are identical. This is the committed caller of
``assign_shape="window"``; if that branch is ever dropped, drop this
harness with it.

Usage::

    python tools/ivf_assign_check.py [--factors 10,100] [--n-lists 16]
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
    ap.add_argument("--factors", default="10,100")
    ap.add_argument("--n-lists", type=int, default=16)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from storm_spark.functions.similarity import (
        _ivf_assign_probe,
        _ivf_default_centroids,
    )
    from storm_spark.session import get_spark

    spark = get_spark("ivf_assign_check", cpus=32)
    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")

    for factor in (int(x) for x in args.factors.split(",")):
        corpus = emb
        for i in range(1, factor):
            corpus = corpus.unionByName(
                emb.select(
                    (F.col("vec_id") + i * 1_000_000).alias("vec_id"),
                    "embedding",
                    "label",
                )
            )
        corpus = corpus.localCheckpoint()
        queries = corpus.limit(100).localCheckpoint()
        cents = _ivf_default_centroids(
            corpus, "vec_id", "embedding", args.n_lists
        ).localCheckpoint()
        rows = corpus.count()
        results = {}
        for shape in ("window", "hashagg"):
            times = []
            for _ in range(args.reps):
                t0 = time.time()
                assigned, _ = _ivf_assign_probe(
                    corpus, queries, cents, "vec_id", "embedding", 4,
                    assign_shape=shape,
                )
                assigned.count()
                times.append(time.time() - t0)
            results[shape] = assigned
            print(
                f"ASSIGN rows={rows} shape={shape} "
                f"best={min(times):.2f}s all={[round(t, 2) for t in times]}",
                flush=True,
            )
        diff = (
            results["window"].select("neighbor_id", "__cell__")
            .exceptAll(results["hashagg"].select("neighbor_id", "__cell__"))
            .count()
        )
        print(f"ASSIGN rows={rows} window-vs-hashagg exceptAll diff={diff}", flush=True)
        assert diff == 0, "assignment shapes disagree"


if __name__ == "__main__":
    main()
