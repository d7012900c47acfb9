"""Ad-hoc per-query timing harness for optimization work (bench.py is FROZEN
for driver measurement — this file is where extra numbers come from).

Usage: python bench_extra.py QUERY [QUERY...] [--sf DIR] [--repeats N]
Times each query exactly like bench.py's headline phase: one warm collect,
then min of N timed collects, on local[$SPARK_GRAFT_CPUS] with the same
session config. Prints one JSON line per query plus a total.

The session is built by hand, not through ``session.tuned_session``: it
mirrors the frozen bench.py's builder exactly, so its timings compare
with bench.py's.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names (default: all headline)")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--explain", action="store_true",
                    help="also print explain('formatted') per query")
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("dqa-bench-extra")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", "24g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from dataqualityassistant_spark.session import stop_spark_hard

    queries = entrymod.queries()
    names = args.names or list(queries)
    out = {}
    for name in names:
        fn = queries[name]
        spark.sparkContext.setJobDescription(f"warm:{name}")
        fn(spark, args.sf).collect()
        if args.explain:
            print(f"===== {name} =====")
            fn(spark, args.sf).explain("formatted")
        best = None
        for i in range(args.repeats):
            spark.sparkContext.setJobDescription(f"timed:{name}:{i}")
            t0 = time.time()
            fn(spark, args.sf).collect()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 4)
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"total": round(sum(out.values()), 4), "queries": out, "sf": args.sf}))
    stop_spark_hard(spark.stop, getattr(spark.sparkContext._gateway, "proc", None))


if __name__ == "__main__":
    main()
