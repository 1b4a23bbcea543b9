#!/usr/bin/env python3
"""Noise-immune execution-shape evidence: run declared queries and report
the number of Spark JOBS, STAGES and TASKS each one executes end-to-end
(construction + one noop-sink action), via the status tracker.

Wall-clock on this sandbox swings ±40% with neighbor load; job/stage/task
counts are deterministic for a fixed plan, so before/after counts are the
honest way to show an optimization removed work. Usage::

    python tools/job_count.py [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    from storm_spark.queries import QUERIES
    from storm_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("storm_spark_job_count")
    sc = spark.sparkContext
    spark.range(1000).selectExpr("sum(id)").collect()

    if not names:
        import bench

        names = list(bench.HEADLINE)

    print(f"{'query':32s} {'jobs':>6} {'stages':>7} {'tasks':>8}")
    for name in names:
        tracker = sc.statusTracker()
        before_jobs = set(tracker.getJobIdsForGroup(None) or [])
        # job ids are global and monotonically increasing; snapshot the max
        jsc = sc._jsc.sc()
        before_next_job = int(str(jsc.dagScheduler().nextJobId()))
        before_next_stage = int(str(jsc.dagScheduler().nextStageId()))
        try:
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001
            print(f"{name:32s} ERROR {type(exc).__name__}: {exc}"[:200])
            spark.catalog.clearCache()
            continue
        after_next_job = int(str(jsc.dagScheduler().nextJobId()))
        after_next_stage = int(str(jsc.dagScheduler().nextStageId()))
        # task counts: sum over the stages created in this window
        n_tasks = 0
        for sid in range(before_next_stage, after_next_stage):
            info = tracker.getStageInfo(sid)
            if info is not None:
                n_tasks += info.numTasks
        print(
            f"{name:32s} {after_next_job - before_next_job:>6} "
            f"{after_next_stage - before_next_stage:>7} {n_tasks:>8}"
        )
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
