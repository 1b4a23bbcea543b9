"""Measure IVFPQIndex.compact()'s effect on a delta-grown index.

A long-lived serving index absorbs many add_vectors deltas; each append
adds files to vectors/ and to every touched cell partition of codes/, so
the probe-side read accretes per-file open/footer overhead (the same
streaming-table ailment IncrementalLSHIndex.compact_index exists for).
This harness grows an index in N_DELTAS small absorbs, times the probe
before and after compact(), and verifies the answer is unchanged.

Run: python tools/ann_compact_check.py [sf_dir] [n_deltas]
Output: file counts + warm search timings, appended nowhere (paste into
SCALE.md by hand).
"""

import glob
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from storm_spark.functions import similarity  # noqa: E402
from storm_spark.session import get_spark  # noqa: E402


def count_files(path):
    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_deltas = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    spark = get_spark("ann_compact_check")
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = emb.count()
    tmp = tempfile.mkdtemp(prefix="ann_compact_")
    path = os.path.join(tmp, "idx")
    try:
        cbs = similarity.pq_codebooks(emb, "vec_id", "embedding", m=4, ksub=4, n_iters=1)
        cents = similarity._ivf_default_centroids(emb, "vec_id", "embedding", 16)
        mod = F.pmod(F.col("vec_id"), F.lit(n_deltas + 1))
        idx = similarity.IVFPQIndex(path, "vec_id", "embedding").build(
            emb.filter(mod == 0), m=4, ksub=4, n_lists=16,
            centroids=cents, codebooks=cbs,
        )
        for d in range(1, n_deltas + 1):
            idx.add_vectors(emb.filter(mod == d))
        q = emb.filter(F.col("vec_id") < 20)

        def probe():
            t0 = time.time()
            rows = idx.search(q, k=5, n_probe=4, shortlist=20).collect()
            return time.time() - t0, sorted(map(tuple, rows))

        probe()  # warmup
        pre_runs = [probe() for _ in range(3)]
        pre_times, pre_rows = [t for t, _ in pre_runs], pre_runs[-1][1]
        pre_files = count_files(path)

        t0 = time.time()
        idx.compact()
        t_compact = time.time() - t0

        probe()  # warmup on the rewritten generation
        post_runs = [probe() for _ in range(3)]
        post_times, post_rows = [t for t, _ in post_runs], post_runs[-1][1]
        # compact lands in a NEW generation dir behind the pointer flip
        # and the old files survive until the next sweep — count only the
        # serving generation's files
        post_files = count_files(os.path.join(path, f"g{idx.generation}"))

        assert pre_rows == post_rows, "compact changed the answer"
        print(
            f"corpus={n} deltas={n_deltas} "
            f"files {pre_files} -> {post_files} "
            f"search warm min {min(pre_times):.2f}s -> {min(post_times):.2f}s "
            f"(compact itself {t_compact:.2f}s; answers identical)"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
