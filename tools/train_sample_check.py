#!/usr/bin/env python3
"""Sampled-quantizer-training measurement (r12 — VERDICT r11 #2): time
``IVFPQIndex.retrain()`` with full-corpus Lloyd passes vs a bounded
``train_sample``, on a corpus replicated well past gate scale, and
verify the sampled-trained index's recall against brute-force cosine.

Why this matters at 100 TB: ``pq_codebooks``/``kmeans_centroids`` run
``n_iters`` assign+mean passes over their input; build()/retrain()
called them on the WHOLE live corpus, so at 10⁹ vectors the training
passes dominate the index lifecycle. The FAISS convention trains on a
bounded sample (~max(256·ksub, 64·n_lists)); ``train_sample`` is that
knob, md5-ordered so it is SQL-expressible and the exact oracles
reproduce it as one CTE (the ``ann_ivf_sampled``/``ann_pq_sampled``
gates).

Usage::

    python tools/train_sample_check.py [--factor 10] [--queries 40] [--k 10]

Output lines are appended to SCALE.md by hand (TRAIN_SAMPLE_r12.txt).
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--queries", type=int, default=40)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--train-sample", type=int, default=1024)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from storm_spark.functions import similarity
    from storm_spark.session import get_spark

    spark = get_spark("train_sample_check", cpus=32, driver_memory="32g")
    base = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    n_base = base.count()
    # replicate with fresh ids (the scale_check convention)
    corpus = base
    for r in range(1, args.factor):
        corpus = corpus.unionByName(
            base.select(
                (F.col("vec_id") + F.lit(r * 10_000_000)).alias("vec_id"),
                "embedding",
            )
        )
    corpus = corpus.repartition(32).localCheckpoint()
    n = corpus.count()
    print(f"corpus: {n_base} x {args.factor} = {n} vectors")

    queries = corpus.filter(F.col("vec_id") < args.queries).localCheckpoint()

    # exact brute-force truth for recall
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(
            corpus, queries, "vec_id", "embedding", k=args.k
        ).collect()
    }

    results = []
    for label, ts in (("full", None), (f"sample={args.train_sample}", args.train_sample)):
        path = os.path.join(
            tempfile.mkdtemp(prefix=f"storm_spark_ts_{label.split('=')[0]}_"), "idx"
        )
        idx = similarity.IVFPQIndex(path, "vec_id", "embedding")
        t0 = time.time()
        idx.build(
            corpus, m=8, ksub=16, n_lists=32, n_iters=2, train_sample=ts
        )
        build_s = time.time() - t0
        t0 = time.time()
        idx.retrain(n_iters=2)  # default reproduces the build's sampling choice
        retrain_s = time.time() - t0
        t0 = time.time()
        got = idx.search(queries, k=args.k, n_probe=8, shortlist=4 * args.k).collect()
        probe_s = time.time() - t0
        hits = sum((r["query_id"], r["neighbor_id"]) in truth for r in got)
        recall = hits / max(len(truth), 1)
        results.append((label, build_s, retrain_s, recall))
        print(
            f"training={label:>12}  build {build_s:6.1f}s  retrain {retrain_s:6.1f}s"
            f"  probe {probe_s:5.1f}s  recall@{args.k} {recall:.3f}"
        )
    full, samp = results
    print(
        f"speedup: build {full[1] / samp[1]:.2f}x  retrain {full[2] / samp[2]:.2f}x"
        f"  recall {full[3]:.3f} -> {samp[3]:.3f}"
    )


if __name__ == "__main__":
    main()
