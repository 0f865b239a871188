"""A/B timing harness for optimization work (guide §1): time named
registry queries N times inside one warm session, bench-style
(clearCache + collect), print min/median/max per query.

Each query runs once untimed first: a synth pcap query's first call
writes its capture (seconds), and that is not the query's cost. The
lineitem warm-up runs only where the --sf directory holds lineitem, so
pcap-only timing works without any table data.

Usage: python tools/ab_time.py name1,name2 [--n 5] [--sf DIR] [--noop]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wireduck_spark.registry import load_all_queries
from wireduck_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names")
    ap.add_argument("--n", type=int, default=5)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--noop", action="store_true",
                    help="time via noop sink instead of collect")
    args = ap.parse_args()

    queries = load_all_queries()
    spark = get_spark("wireduck-ab")
    lineitem = f"{args.sf}/lineitem.parquet"
    if os.path.exists(lineitem):
        spark.read.parquet(lineitem).groupBy("l_returnflag").count().collect()

    def run(spec) -> float:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = spec.fn(spark, args.sf)
        if args.noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.collect()
        return time.perf_counter() - t0

    for name in args.names.split(","):
        spec = queries[name.strip()]
        run(spec)  # untimed: first-call input writes, plan caches
        runs = [run(spec) for _ in range(args.n)]
        print(f"{name}: min={min(runs):.3f} med={statistics.median(runs):.3f}"
              f" max={max(runs):.3f}  runs={[round(r, 3) for r in runs]}")


if __name__ == "__main__":
    main()
