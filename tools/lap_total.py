"""One full catalog lap (same methodology as bench.py: noop sink,
adaptive GC, flagship last) printing ONE line: {"lap_total": s,
"queries": {...}}.  For interleaved same-boot A/B runs between two
trees — not a replacement for bench.py's 4-lap medians.

Usage: python tools/lap_total.py [label]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_spark, run_lap, warm_up  # noqa: E402
from starryskyqueryengine_spark import catalog  # noqa: E402


def main() -> None:
    label = sys.argv[1] if len(sys.argv) > 1 else "lap"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = bench_spark("ssqe-lap", cpus)

    import __spark_entry__ as entrymod

    queries = dict(catalog.get_queries())
    warm_up(spark, sf_dir, cpus)
    # warm lap (uncounted): absorb codegen/first-touch costs so the
    # measured lap compares steady state between trees
    run_lap(spark, sf_dir, queries, entrymod.entry)
    results = run_lap(spark, sf_dir, queries, entrymod.entry)
    spark.stop()
    print(json.dumps({"label": label,
                      "lap_total": round(sum(results.values()), 2),
                      "queries": results}), flush=True)


if __name__ == "__main__":
    main()
