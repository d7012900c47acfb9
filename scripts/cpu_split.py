"""Core-seconds of the JVM and of the PySpark Python workers per scoring
prefix, where wall time alone hides a layer that shares its stage with
another.

    python scripts/cpu_split.py --pages 12000 --seed 1 --ops 7

Generates ``--pages`` pages with ``fixtures.write_pages_fixture`` in a
temporary directory, then runs each cumulative prefix of the pipeline's
scoring path into the ``noop`` sink:

- ``scan``: the pages without ``html``;
- ``arrow``: ``text`` through a pandas UDF that returns it unchanged (the
  cost of the Arrow boundary alone);
- ``scores``: ``functions.scoring.with_text_scores`` (the fused UDF);
- ``score()``: ``QualityFilterPipeline().score()`` (the fused UDF, the rule
  verdict and the scrub chain).

Each operation reads ``utime + stime`` from ``/proc/<pid>/stat`` of the
session's JVM, and ``utime + stime + cutime + cstime`` of the Python
processes descended from it (the daemon and its forked workers; a worker
that exits is counted through its parent's ``cutime``/``cstime``), before
and after. After two warm-up rounds the prefixes run ``--ops`` rounds in
rotating order; the table holds the median wall time and core-seconds of
each prefix. Linux only.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import tempfile
import time

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[bytes]:
    """The fields of ``/proc/<pid>/stat`` after the parenthesised command
    name (which may hold spaces): field 4 (``ppid``) is index 1."""
    with open(f"/proc/{pid}/stat", "rb") as f:
        stat = f.read()
    return stat[stat.rindex(b")") + 2:].split()


def _python_workers(jvm: int) -> list[int]:
    """The PySpark Python processes descended from ``jvm``."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                kids.setdefault(int(_stat(int(d))[1]), []).append(int(d))
            except OSError:
                continue
    todo, out = list(kids.get(jvm, [])), []
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark" in f.read():
                    out.append(pid)
        except OSError:
            continue
    return out


def cpu_seconds(jvm: int) -> tuple[float, float]:
    """(JVM, Python workers) core-seconds used so far."""
    s = _stat(jvm)
    jvm_s = (int(s[11]) + int(s[12])) / TICK  # utime, stime
    py_s = 0.0
    for pid in _python_workers(jvm):
        try:
            s = _stat(pid)
        except OSError:
            continue
        py_s += sum(int(x) for x in s[11:15]) / TICK  # utime, stime, cutime, cstime
    return jvm_s, py_s


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--pages", type=int, default=12000)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--ops", type=int, default=7, help="timed rounds per prefix")
    ap.add_argument("--master", default=f"local[{len(os.sched_getaffinity(0))}]")
    args = ap.parse_args(argv)

    # the Python workers are separate interpreters: they find the package
    # through PYTHONPATH, not through this process's sys.path
    sys.path.insert(0, REPO)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    from dataqualityassistant_spark.fixtures import write_pages_fixture
    from dataqualityassistant_spark.functions.scoring import with_text_scores
    from dataqualityassistant_spark.plans.quality_filter import QualityFilterPipeline
    from dataqualityassistant_spark.session import stop_spark_hard, tuned_session

    # perfbench's driver heap: in local mode the driver is the executor
    spark = tuned_session("cpu_split", args.master, driver_memory="4g", extra_conf={
        "spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    proc = spark.sparkContext._gateway.proc

    @pandas_udf(T.StringType())
    def identity(texts: pd.Series) -> pd.Series:
        return texts

    prefixes = {
        "scan": lambda p: p,
        "arrow": lambda p: p.withColumn("text", identity("text")),
        "scores": with_text_scores,
        "score()": lambda p: QualityFilterPipeline().score(p),
    }
    samples: dict[str, list[tuple[float, float, float]]] = {k: [] for k in prefixes}
    try:
        with tempfile.TemporaryDirectory() as d:
            write_pages_fixture(spark, d + "/pages", args.pages, seed=args.seed)
            for rnd in range(2 + args.ops):
                names = list(prefixes)[rnd % len(prefixes):] + list(prefixes)[:rnd % len(prefixes)]
                for name in names:
                    df = prefixes[name](spark.read.parquet(d + "/pages").drop("html"))
                    jvm0, py0 = cpu_seconds(proc.pid)
                    t0 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    wall = time.perf_counter() - t0
                    jvm1, py1 = cpu_seconds(proc.pid)
                    if rnd >= 2:
                        samples[name].append((wall, jvm1 - jvm0, py1 - py0))
    finally:
        stop_spark_hard(spark.stop, proc)

    print(f"{args.pages} pages, seed {args.seed}, {args.master}, "
          f"median of {args.ops} ops after 2 warm-up rounds")
    print("| prefix | wall s | JVM core-s | Python core-s | total core-s |")
    print("|---|---|---|---|---|")
    for name, rows in samples.items():
        wall, jvm, py = (statistics.median(col) for col in zip(*rows))
        print(f"| {name} | {wall:.2f} | {jvm:.2f} | {py:.2f} | {jvm + py:.2f} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
