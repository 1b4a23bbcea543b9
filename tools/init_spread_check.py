#!/usr/bin/env python3
"""k-means init study at large k (r13, VERDICT r12 #7): does a bounded
k-means||-style init beat the smallest-md5 init on RECALL?

Candidate init ("spread"): take the 2k vectors with the smallest
``md5(id)`` (the same seedless total order the md5 init and
``train_sample`` use), then FARTHEST-FIRST select k of them — start from
the smallest-md5 vector, repeatedly add the sample vector whose maximum
cosine to the already-chosen set is LOWEST (ties by id). Deterministic,
driver-side over a 2k-vector sample (k·2k·dim flops — trivial), and the
md5 oversample keeps it oracle-compatible in principle (the selection
itself would need k unrolled SQL layers — only worth writing if recall
moves).

Baseline: the shipped ``kmeans_centroids`` init (smallest-md5 k vectors),
same Lloyd iterations after either init.

Measures recall@10 of ivf_topk with trained centroids under both inits,
at k ≥ 64 on both recall_check fixtures. Output is committed as
INIT_SPREAD_r13.txt either way (the ship gate is "moves recall").

Usage::

    python tools/init_spread_check.py [--corpus 20000] [--queries 200]
        [--k 10] [--lists 64] [--iters 3] [--probe 8]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from recall_check import fixtures, recall_at_k  # noqa: E402


def _cos(a, b):
    num = sum(x * y for x, y in zip(a, b))
    da = sum(x * x for x in a) ** 0.5
    db = sum(x * x for x in b) ** 0.5
    return num / (da * db) if da and db else 0.0


def spread_init(corpus, id_col, vec_col, k, oversample=2):
    """Farthest-first over the 2k smallest-md5 sample — the candidate."""
    rows = (
        corpus.select(
            F.col(id_col).alias("__id__"),
            F.col(vec_col).cast("array<double>").alias("__cv__"),
        )
        .orderBy(F.md5(F.col("__id__").cast("string")).asc(), F.col("__id__").asc())
        .limit(oversample * k)
        .collect()
    )
    sample = [(r["__id__"], list(r["__cv__"])) for r in rows]
    chosen = [sample[0]]
    rest = sample[1:]
    # max-cosine of each remaining sample vector to the chosen set,
    # maintained incrementally (one pass per added centroid)
    best = [_cos(v, chosen[0][1]) for _, v in rest]
    while len(chosen) < k and rest:
        # most-spread next pick: minimal max-cosine, ties by id
        i = min(range(len(rest)), key=lambda j: (best[j], rest[j][0]))
        chosen.append(rest.pop(i))
        best.pop(i)
        cv = chosen[-1][1]
        for j, (_, v) in enumerate(rest):
            c = _cos(v, cv)
            if c > best[j]:
                best[j] = c
    return [v for _, v in chosen]


def lloyd(spark, corpus, id_col, vec_col, cents, n_iters):
    """The shipped trainer's Lloyd loop, re-run from an arbitrary init
    (mirrors kmeans_centroids' assign/recompute shape)."""
    from storm_spark.functions.similarity import _cos as scos

    c = corpus.select(
        F.col(id_col).alias("__id__"),
        F.col(vec_col).cast("array<double>").alias("__cv__"),
    )
    dim = len(cents[0])
    for _ in range(n_iters):
        cent_df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(cents)],
            "cent_id bigint, __cent__ array<double>",
        )
        assigned = (
            c.crossJoin(F.broadcast(cent_df))
            .withColumn("__cc__", scos(F.col("__cv__"), F.col("__cent__")))
            .groupBy("__id__")
            .agg(
                F.max(
                    F.struct(
                        F.col("__cc__").alias("cc"),
                        (-F.col("cent_id")).alias("neg"),
                        F.col("__cv__").alias("v"),
                    )
                ).alias("__best__")
            )
            .select(
                (-F.col("__best__.neg")).alias("cent_id"),
                F.col("__best__.v").alias("__cv__"),
            )
        )
        means = assigned.groupBy("cent_id").agg(
            *[F.round(F.avg(F.col("__cv__")[i]), 9).alias(f"m{i}") for i in range(dim)]
        ).collect()
        new_cents = list(cents)
        for r in means:
            new_cents[r["cent_id"]] = [r[f"m{i}"] for i in range(dim)]
        cents = new_cents
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(cents)],
        "cent_id bigint, __cent__ array<double>",
    )


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", type=int, default=20000)
    ap.add_argument("--queries", type=int, default=200)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--lists", type=int, default=64)
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--probe", type=int, default=8)
    args = ap.parse_args()

    from storm_spark import get_spark
    from storm_spark.functions.similarity import cosine_topk, ivf_topk

    spark = get_spark("init_spread_check", cpus=16, driver_memory="24g")
    print(
        f"# init study: lists={args.lists} iters={args.iters} "
        f"probe={args.probe} corpus={args.corpus} queries={args.queries} "
        f"recall@{args.k}"
    )
    for name, corpus, queries in fixtures(
        spark, "both", args.corpus, args.queries
    ):
        corpus = corpus.localCheckpoint()
        queries = queries.localCheckpoint()
        truth = cosine_topk(
            corpus, queries, "vec_id", "embedding", k=args.k
        ).collect()
        # md5 init = the first k of the same order the spread oversample
        # uses; reuse spread_init's fetch at oversample=1 to keep the
        # comparison exactly init-only
        for init_name in ("md5", "spread"):
            t0 = time.time()
            if init_name == "md5":
                cents0 = spread_init(
                    corpus, "vec_id", "embedding", args.lists, oversample=1
                )
            else:
                cents0 = spread_init(
                    corpus, "vec_id", "embedding", args.lists, oversample=2
                )
            cents = lloyd(
                spark, corpus, "vec_id", "embedding", cents0, args.iters
            )
            got = ivf_topk(
                corpus, queries, "vec_id", "embedding",
                k=args.k, n_lists=args.lists, n_probe=args.probe,
                centroids=cents,
            ).collect()
            r = recall_at_k(truth, got, args.k)
            print(
                f"{name:10s} init={init_name:7s} recall@{args.k} "
                f"{r:.3f}   wall {time.time() - t0:6.1f}s"
            )
    spark.stop()


if __name__ == "__main__":
    main()
