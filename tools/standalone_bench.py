"""Standalone per-query measurement (optimization guide §1.4): run the
named catalog queries in isolation, N laps each against the noop sink,
on the SAME session confs the bench uses — so before/after numbers for
a single optimization are not polluted by the other ~196 queries'
shuffle/cache debris or by lap ordering.

Usage:  python tools/standalone_bench.py q1 q2 ... [--laps 4] [--sf DIR]
        [--explain]   (writes plans/r14/<q>_standalone.txt)

Prints one JSON line per query: {"query": name, "laps": [...], "median": s}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_spark, force_gc, run_df, warm_up  # noqa: E402
from starryskyqueryengine_spark import catalog  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--laps", type=int, default=4)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--explain-dir", default=None,
                    help="write .explain('formatted') per query here")
    ap.add_argument("--suffix", default="",
                    help="filename suffix for explain output (_before/_after)")
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = bench_spark("ssqe-standalone", cpus)
    queries = catalog.get_queries()
    # same warm-ups as bench.py so lap 1 is comparable
    warm_up(spark, args.sf, cpus)

    for name in args.queries:
        fn = queries[name]
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(
                    args.explain_dir, f"{name}{args.suffix}.txt"), "w") as fh:
                fh.write(plan)
            spark.catalog.clearCache()
        laps, builds = [], []
        for _ in range(args.laps):
            force_gc(spark)
            spark.sparkContext.setJobDescription(f"standalone:{name}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            t1 = time.perf_counter()
            run_df(df)
            t2 = time.perf_counter()
            builds.append(round(t1 - t0, 3))
            laps.append(round(t2 - t0, 3))
            spark.catalog.clearCache()
        med = sorted(laps)[len(laps) // 2] if laps else None
        print(json.dumps({"query": name, "laps": laps, "median": med,
                          "build": builds}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
