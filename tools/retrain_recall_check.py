#!/usr/bin/env python3
"""Quantizer-drift recall harness (r11 — the evidence behind
IVFPQIndex.retrain): the ``ann_index_retrain`` gate proves retrain ==
fresh-full-build EXACTLY; this harness measures WHY a serving index
needs it — recall decay when the corpus drifts away from the frozen
training distribution, and its recovery after retrain.

Scenario (seeded, deterministic):
1. Clustered corpus, 20 unit-norm Gaussian centers. Quantizers (k-means
   coarse centroids + PQ codebooks) are trained on vectors from the
   FIRST 10 centers only — the "launch-day" distribution.
2. The other 10 centers' vectors arrive later via add_vectors (frozen
   quantizers — the serving contract).
3. recall@10 vs brute-force cosine AND scan volume (avg probed-cell
   rows per query) for held-out queries drawn from the NEW centers.
4. retrain() with k-means quantizers trained on the live corpus; same
   queries re-measured.

The shortlist is sized past the planted cluster (250 > ~200 members) so
the exact re-rank absorbs within-cluster ADC noise and the measurement
isolates what drift actually breaks: cell assignment quality — missed
neighbors in unprobed cells, and oversized cells that inflate every
probe's scan. (A shortlist inside the cluster size measures ADC noise
on near-identical vectors for ANY quantizer — first cut made that
mistake and "showed" retrain hurting.)

Usage::

    python tools/retrain_recall_check.py [--corpus-half 2000]
        [--queries 60] [--k 10]

Output lines are the RECALL_r{N}.txt format.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus-half", type=int, default=2000)
    ap.add_argument("--queries", type=int, default=60)
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args()

    from storm_spark.functions import similarity
    from storm_spark.session import get_spark

    spark = get_spark("retrain_recall", cpus=32)
    dim, n_clusters = 64, 20
    rng = np.random.default_rng(20260816)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def draw(center_ids, n, id_base):
        assign = rng.choice(center_ids, size=n)
        noise = rng.normal(scale=0.25 / np.sqrt(dim), size=(n, dim))
        vecs = centers[assign] + noise
        return spark.createDataFrame(
            [(int(id_base + i), [float(x) for x in vecs[i]]) for i in range(n)],
            "vec_id bigint, embedding array<double>",
        )

    old = draw(range(10), args.corpus_half, 0)
    new = draw(range(10, 20), args.corpus_half, args.corpus_half)
    queries = draw(range(10, 20), args.queries, 1_000_000)
    corpus = old.unionByName(new).localCheckpoint()

    exact = {
        q: set()
        for q in (r.vec_id for r in queries.select("vec_id").collect())
    }
    for r in similarity.cosine_topk(corpus, queries, k=args.k).collect():
        exact[r.query_id].add(r.neighbor_id)

    kw = dict(m=8, ksub=16, n_lists=32)
    cents_old = similarity.kmeans_centroids(old, k=32, n_iters=3)
    cbs_old = similarity.pq_codebooks(old, "vec_id", "embedding", m=8, ksub=16, n_iters=3)
    path = os.path.join(tempfile.mkdtemp(), "idx")
    idx = similarity.IVFPQIndex(path, "vec_id", "embedding").build(
        old, centroids=cents_old, codebooks=cbs_old, **kw
    )
    idx.add_vectors(new)

    def measure(tag, n_probe=6, shortlist=250):
        import math

        got = {}
        res = idx.search(queries, k=args.k, n_probe=n_probe, shortlist=shortlist)
        for r in res.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        rec = sum(
            len(exact[q] & got.get(q, set())) / args.k for q in exact
        ) / len(exact)
        # scan volume: avg probed-cell rows per query (cell sizes from the
        # codes table; probe ranking mirrors search's cosine-desc shape)
        codes = spark.read.parquet(idx._store.path("codes")).select(
            "neighbor_id", "__cell__"
        ).distinct()
        sizes = {
            r["__cell__"]: r["c"]
            for r in codes.groupBy("__cell__").agg(F.count(F.lit(1)).alias("c")).collect()
        }
        crows = [(r["cent_id"], list(r["__cent__"]))
                 for r in spark.read.parquet(idx._store.path("centroids")).collect()]
        qrows = [(r.vec_id, list(r.embedding)) for r in queries.collect()]

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return d / max(na * nb, 1e-12)

        tot = 0
        for _, qv in qrows:
            ranked = sorted(((cos(qv, cv), -cid) for cid, cv in crows),
                            reverse=True)[:n_probe]
            tot += sum(sizes.get(-c, 0) for _, c in ranked)
        scanned = tot / len(qrows)
        print(f"{tag}: recall@{args.k} = {rec:.3f}  "
              f"avg-scanned = {scanned:.0f}/{2 * args.corpus_half} rows/query  "
              f"(queries {len(exact)}, m=8 ksub=16 n_lists=32 "
              f"n_probe={n_probe} shortlist={shortlist})")
        return rec, scanned

    r_stale, s_stale = measure("frozen-stale quantizers (trained on the OLD half)")
    cents_live = similarity.kmeans_centroids(corpus, k=32, n_iters=3)
    cbs_live = similarity.pq_codebooks(corpus, "vec_id", "embedding", m=8, ksub=16, n_iters=3)
    idx.retrain(centroids=cents_live, codebooks=cbs_live)
    r_fresh, s_fresh = measure("after retrain() (k-means on the LIVE corpus)")
    print(f"recovery: recall {r_stale:.3f} -> {r_fresh:.3f}, "
          f"scan {s_stale:.0f} -> {s_fresh:.0f} rows/query")


if __name__ == "__main__":
    main()
