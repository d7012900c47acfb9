"""Subprocess worker for the scaling benchmark: runs the full quality-filter
pipeline on a pre-generated pages parquet at a given core count in a fresh
JVM (taskset-pinned by bench.py), printing one JSON line with compute and
end-to-end docs/sec. Invoked at two parallelism levels (N and 4N cores,
default 4 vs 16 — see bench.py for why not 8 vs 32 on this box) as the
sandbox stand-in for the N vs 4N executor cluster-size check (BASELINE.md)."""

from __future__ import annotations

import argparse
import json
import tempfile
import time


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--pages", required=True)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--compute-repeats", type=int, default=3)
    ap.add_argument("--skip-e2e", action="store_true",
                    help="compute-only invocation (bench.py re-runs each "
                         "scaling leg to reject host-level noise windows)")
    args = ap.parse_args()

    from dataqualityassistant_spark.plans.quality_filter import QualityFilterPipeline
    from dataqualityassistant_spark.session import stop_session_hard, tuned_session

    # The timed path is scan → score → sink with no shuffle: parallelism
    # comes from input splits, and an 8 MB split over the ~6 MB fixture
    # files gives one split per file at every core count, so both scaling
    # legs run the same plan.
    spark = tuned_session(
        f"dqa-bench-{args.cores}",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.cores,
        driver_memory="24g",  # local mode: driver is the executor
        extra_conf={"spark.ui.enabled": "false",
                    "spark.sql.files.maxPartitionBytes": str(8 << 20)},
    )
    spark.sparkContext.setLogLevel("ERROR")

    pages = spark.read.parquet(args.pages)
    n = pages.count()
    pipe = QualityFilterPipeline(n_buckets=args.buckets)

    # Warm-up: spin up one Python worker per core (module imports + model
    # table builds happen once per worker and would otherwise be billed to
    # the timed run — a cluster amortizes them over hours), and JIT the same
    # noop-write plan shape the timed runs use.
    warm = pages.limit(args.cores * 8).repartition(args.cores)
    pipe.score(warm).write.format("noop").mode("overwrite").save()

    # Compute throughput: the distributed scoring path (fused Arrow UDF +
    # verdict + scrub) materialized through the noop sink — everything
    # except local-disk file IO and the single-node commit, i.e. the part
    # whose scaling transfers to a multi-executor cluster. Best of 3 (JIT /
    # GC variance on a shared box is ±30%).
    t_compute = min(
        _timed(lambda: pipe.score(pages).write.format("noop").mode("overwrite").save())
        for _ in range(args.compute_repeats)
    )

    # End-to-end: full run() with partitioned output, observe-metrics and
    # lineage (includes local-disk write + commit — fixed cost on this box).
    # Best-of-2 on the full-machine leg only: the single-shot e2e varies
    # ±30% with disk/page-cache state and it is the headline e2e number;
    # the lo/hi scaling legs keep one shot each (they feed e2e_speedup,
    # which is informational).
    import os as _os

    t_e2e = None
    if not args.skip_e2e:
        e2e_runs = 2 if args.cores >= (_os.cpu_count() or args.cores) else 1
        with tempfile.TemporaryDirectory() as d:
            for i in range(e2e_runs):
                t0 = time.time()
                pipe.run(spark, pages, f"{d}/out{i}", run_id="bench", waves=1)
                t = time.time() - t0
                t_e2e = t if t_e2e is None else min(t_e2e, t)

    print(json.dumps({
        "cores": args.cores, "rows": n,
        "compute_sec": t_compute, "compute_docs_per_sec": n / t_compute,
        "e2e_sec": t_e2e,
        "e2e_docs_per_sec": (n / t_e2e) if t_e2e else None,
    }))
    # a lost stop() reply here would burn the parent's whole 1800s
    # subprocess timeout and then crash the bench via TimeoutExpired —
    # the result line is already printed, so a hard stop loses nothing
    stop_session_hard(spark)


if __name__ == "__main__":
    main()
