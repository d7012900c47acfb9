"""Benchmark entry point.

    python3 perfbench/run.py --workload filter_crawl --seed 1 --seconds 12 --trace 0

Runs one workload (see ``perfbench/workloads.py``) in one process on
``local[<cores>]``: starts the session, generates or reuses the seeded
input, warms up with full-size operations, then runs operations back to
back (a closed loop, one caller) for ``--seconds`` and checks each one's
output. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it holds the workload's further figures.
Works from any directory; exits non-zero without a result when the engine's
sources are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import harness  # noqa: E402

MIN_TRACE_ROUNDS = 2
# units of the figures printed beside the result that BENCHMARK.json omits
EXTRA_UNITS = {"ops": "count", "ops_failed": "count", "dedup.survivors": "count"}


class Run:
    """One workload's operations in this process, with their counts, times
    and the peak memory of the Python workers they used."""

    def __init__(self, wl, tracer):
        self.wl = wl
        self.tracer = tracer
        self.jvm_pid = harness.jvm_pid(wl.spark)
        # workers that exist now (the input generator's) are not measured
        self.old_workers = set(harness.python_workers(self.jvm_pid))
        self.attempted = 0
        self.failed = 0
        self.times: list[float] = []
        self.rates: list[float] = []
        self.worker_rss_mb = 0.0

    def _record(self, t: float | None, errors: list[str]) -> None:
        """Count one operation, and keep its time unless a check failed or
        it has none (a traced one)."""
        self.attempted += 1
        if errors:
            self.failed += 1
            print(f"check failed: {'; '.join(errors)}", file=sys.stderr)
        elif t is not None:
            self.times.append(t)
            self.rates.append(self.wl.n_docs / t)

    def _read_workers(self) -> None:
        hwm = [kib for pid, kib in harness.python_workers(self.jvm_pid).items()
               if pid not in self.old_workers]
        self.worker_rss_mb = max([self.worker_rss_mb] + [kib / 1024 for kib in hwm])

    def op(self, i: int, check: bool = True) -> None:
        try:
            t, errors = self.wl.op(i, check)
        except Exception:  # noqa: BLE001 — a failing operation is counted, not fatal
            traceback.print_exc()
            t, errors = None, ["operation raised"]
        self._read_workers()
        self._record(t, errors)

    def warm_up(self) -> None:
        for i in range(self.wl.warmup_ops):
            self.op(-1 - i, check=False)
        self.attempted = self.failed = 0
        self.times.clear()
        self.rates.clear()

    def measure(self, seconds: float) -> None:
        end = time.perf_counter() + seconds
        i = 0
        while i < self.wl.min_ops or time.perf_counter() < end:
            self.op(i)
            i += 1

    def trace(self, seconds: float, stats) -> dict:
        """Rounds of (untraced op, traced prefixes) for ``seconds``, then
        the workload's once-per-run layers, counted as one operation. Those
        run in worker pools of their own or in this process, so they do not
        move the workers' peak memory."""
        rounds: list[dict] = []
        end = time.perf_counter() + seconds
        i = 0
        while i < MIN_TRACE_ROUNDS or time.perf_counter() < end:
            self.op(i)
            try:
                r = self.wl.trace_round(stats, self.tracer, i)
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                r = {"errors": ["traced round raised"]}
            # counted as an operation; its time is not an untraced sample
            self._read_workers()
            self._record(None, r["errors"])
            if "run_s" in r:
                rounds.append(r)
            i += 1
        try:
            layers, errors = self.wl.trace_once(stats, self.tracer)
        except Exception:  # noqa: BLE001
            traceback.print_exc()
            layers, errors = {}, ["trace_once raised"]
        self._record(None, errors)
        if rounds:
            layers.update(self.wl.layers(rounds))
            traced = harness.median([r["run_s"] for r in rounds])
            if self.times and traced:
                layers["trace.overhead_ratio"] = harness.median(self.times) / traced
        return layers


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=None,
                    help="measured time (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not harness.PACKAGE.is_dir() or not (harness.ROOT / "BENCHMARK.json").is_file():
        print(f"engine sources not found under {harness.ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    bench = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"] if args.seconds is None else args.seconds
    run_dir = harness.WORK / "run" / f"{args.workload}-{os.getpid()}"
    harness.prepare_environment(run_dir)
    tracer = harness.Tracer(bool(args.trace))
    spark = None
    try:
        with tracer.span("session.start") as s_start:
            spark = harness.start_session(run_dir)
        wl = WORKLOADS[args.workload](spark, run_dir, args.seed)
        with tracer.span("prepare"):
            wl.prepare()
        harness.use_worker_pool(spark, "measured")
        run = Run(wl, tracer)
        with tracer.span("session.warmup") as s_warm:
            run.warm_up()
        canary = harness.canary_s()
        if args.trace:
            with tracer.span("trace"):
                values = run.trace(seconds, harness.SparkStats(spark))
        else:
            with tracer.span("measure"):
                run.measure(seconds)
            values = {}
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    values.update({
        "docs_per_s": harness.median(run.rates),
        "setup_s": s_start["seconds"] + s_warm["seconds"],
        "session.start_s": s_start["seconds"],
        "session.warmup_s": s_warm["seconds"],
        "host.canary_s": canary,
        "workers.peak_rss_mb": run.worker_rss_mb,
        "ops": run.attempted,
        "ops_failed": run.failed,
        **wl.summary(),
    })

    if args.trace:
        trace_dir = harness.WORK / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        (trace_dir / f"{args.workload}-s{args.seed}.json").write_text(
            json.dumps(tracer.spans, indent=1))
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    units.update(EXTRA_UNITS)
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    # every figure of the run, including those BENCHMARK.json does not gate
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "docs_per_op": wl.n_docs,
        "op_seconds": [round(t, 4) for t in run.times],
        "figures": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    print(json.dumps({"correct": run.failed == 0 and bool(run.times),
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
