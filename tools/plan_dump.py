#!/usr/bin/env python3
"""Dump `.explain("formatted")` for declared queries to plans/<tag>/<q>.txt.

Usage::

    python tools/plan_dump.py --tag r13/before [--sf DIR] [query ...]

Also prints a one-line plan summary per query (Exchange count, join
strategies, Python-eval nodes, scans without pushed filters) so hot spots
can be triaged without opening every file.
"""

from __future__ import annotations

import argparse
import io
import os
import re
import sys
from contextlib import redirect_stdout

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def summarize(txt: str) -> str:
    n_ex = len(re.findall(r"\bExchange\b", txt))
    joins = re.findall(
        r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)\b",
        txt,
    )
    py = re.findall(r"\b(BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas)\b", txt)
    from collections import Counter

    jc = Counter(joins)
    pc = Counter(py)
    parts = [f"ex={n_ex}"]
    if jc:
        parts.append("joins=" + ",".join(f"{k}:{v}" for k, v in sorted(jc.items())))
    if pc:
        parts.append("py=" + ",".join(f"{k}:{v}" for k, v in sorted(pc.items())))
    scans = len(re.findall(r"Scan parquet", txt))
    parts.append(f"scans={scans}")
    return " ".join(parts)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--tag", default="r13")
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--skip-lifecycle", action="store_true")
    args = ap.parse_args()

    from storm_spark.queries import QUERIES
    from storm_spark.session import get_spark

    import bench

    names = args.queries or list(bench.HEADLINE)
    if args.skip_lifecycle:
        names = [n for n in names if n not in set(bench.LIFECYCLE)]

    out_dir = os.path.join(_REPO, "plans", args.tag.replace("/", os.sep))
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("storm_spark_plan_dump")
    for name in names:
        try:
            df = QUERIES[name](spark, args.sf)
            txt = plan_text(df)
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: ERROR {type(exc).__name__}: {exc}"[:300])
            continue
        with open(os.path.join(out_dir, f"{name}{args.suffix}.txt"), "w") as fh:
            fh.write(txt)
        print(f"{name}: {summarize(txt)}")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
