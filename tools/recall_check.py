#!/usr/bin/env python3
"""ANN recall harness (r9, committed this time — the r8 version lived in
a scratch buffer): recall@10 vs brute-force cosine for every ANN path, on
TWO fixtures:

- **uniform** — the sf0.1 synthetic embeddings (uniform-random vectors):
  the structureless ADVERSARIAL floor for any quantizer; no cell or code
  structure to exploit, so recall tracks the scanned fraction.
- **clustered** — a seeded mixture of Gaussians (20 unit-norm centers,
  per-cluster noise): the shape real embedding corpora have, where IVF's
  cell prune and PQ's codebooks actually earn their keep.

Ground truth: :func:`cosine_topk` (exact brute force). Queries are
held-out draws (ids offset by 10^6) so self-matches never skew recall.

Usage::

    python tools/recall_check.py [--fixture uniform|clustered|both]
        [--corpus N] [--queries N] [--k K]

Output lines are the RECALL_r{N}.txt format. Parameter grids cover the
knobs `choose_pq_params` maps targets onto; keep the two in sync.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def fixtures(spark, which, n_corpus, n_queries, dim=64):
    """Yield (name, corpus_df, queries_df) for the requested fixtures."""
    if which in ("uniform", "both"):
        emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        n = emb.count()
        corpus = emb.limit(min(n_corpus, n))
        # held-out queries: the LAST n_queries vectors, re-idd out of range
        qrows = (
            emb.orderBy(F.col("vec_id").desc())
            .limit(n_queries)
            .select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
        )
        yield "uniform", corpus.select("vec_id", "embedding"), qrows
    if which in ("clustered", "both"):
        rng = np.random.default_rng(20260815)
        n_clusters = 20
        centers = rng.normal(size=(n_clusters, dim))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        assign = rng.integers(0, n_clusters, size=n_corpus + n_queries)
        noise = rng.normal(scale=0.25 / np.sqrt(dim), size=(n_corpus + n_queries, dim))
        vecs = centers[assign] + noise
        rows = [
            (int(i if i < n_corpus else i - n_corpus + 1_000_000), [float(x) for x in vecs[i]])
            for i in range(n_corpus + n_queries)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        yield (
            "clustered",
            df.filter(F.col("vec_id") < 1_000_000),
            df.filter(F.col("vec_id") >= 1_000_000),
        )


def recall_at_k(truth, got, k):
    """Mean over queries of |ann ∩ true| / k."""
    t, g = {}, {}
    for r in truth:
        t.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in got:
        g.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return sum(len(t[q] & g.get(q, set())) / k for q in t) / len(t)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--fixture", default="both", choices=["uniform", "clustered", "both"])
    ap.add_argument("--corpus", type=int, default=2000)
    ap.add_argument("--queries", type=int, default=100)
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args()

    from storm_spark.functions.similarity import (
        choose_pq_params,
        cosine_topk,
        ivf_pq_topk,
        ivf_topk,
        kmeans_centroids,
        lsh_bucket_topk,
        pq_codebooks,
        pq_topk,
        quantized_rescore_topk,
    )
    from storm_spark.session import get_spark

    spark = get_spark("recall_check", cpus=32)
    k = args.k
    print(
        f"recall@{k} vs brute-force cosine | {args.queries} queries x "
        f"{args.corpus} corpus (uniform = sf0.1 embeddings; clustered = "
        f"seeded 20-Gaussian mixture, sigma 0.25/sqrt(dim))"
    )
    for name, corpus, queries in fixtures(spark, args.fixture, args.corpus, args.queries):
        corpus = corpus.localCheckpoint()
        queries = queries.localCheckpoint()
        # EVERY family searches `corpus` only, same as the ground truth —
        # r9 review fix: the first cut searched corpus∪queries for the
        # LSH/int8 rows, so query-query hits (never in truth) displaced
        # true neighbors and deflated exactly those two families' numbers
        truth = cosine_topk(corpus, queries, k=k).collect()
        print(f"--- fixture: {name} ---")
        t0 = time.time()
        cents = kmeans_centroids(corpus, k=16, n_iters=3).localCheckpoint()
        cb = pq_codebooks(corpus, m=4, ksub=16, n_iters=3).localCheckpoint()
        print(f"# trained 16 cents + 4x16 codebooks in {time.time() - t0:.0f}s")

        def run(label, df):
            r = recall_at_k(truth, df.collect(), k)
            print(f"  {label:<42} {r:.3f}", flush=True)
            return r

        run(
            "lsh 12 planes x 8 tables",
            lsh_bucket_topk(corpus, queries, k=k, n_planes=12, n_tables=8, dim=64),
        )
        for probe in (1, 2, 4, 8):
            run(
                f"ivf 16 lists, probe {probe} (trained)",
                ivf_topk(corpus, queries, k=k, n_lists=16, n_probe=probe, centroids=cents),
            )
        run(
            "int8 rescore, coarse 50",
            quantized_rescore_topk(corpus, queries, k=k, coarse_m=50),
        )
        for sl in (20, 50, 100, 200):
            run(f"pq adc m4 ksub16, shortlist {sl}", pq_topk(corpus, queries, cb, k=k, shortlist=sl))
        for sl in (20, 50, 100, 200):
            run(
                f"ivf-pq 16/probe4 ksub16, shortlist {sl}",
                ivf_pq_topk(
                    corpus, queries, cb, k=k, n_lists=16, n_probe=4,
                    shortlist=sl, centroids=cents,
                ),
            )
        # the auto-sizer's pick, end-to-end (the ≥0.9-on-clustered claim)
        p = choose_pq_params(args.corpus, dim=64, k=k)
        cents_a = kmeans_centroids(corpus, k=p["n_lists"], n_iters=3).localCheckpoint()
        cb_a = pq_codebooks(corpus, m=p["m"], ksub=p["ksub"], n_iters=3).localCheckpoint()
        run(
            f"AUTO choose_pq_params -> {p}",
            ivf_pq_topk(
                corpus, queries, cb_a, k=k, n_lists=p["n_lists"],
                n_probe=p["n_probe"], shortlist=p["shortlist"], centroids=cents_a,
            ),
        )


if __name__ == "__main__":
    main()
