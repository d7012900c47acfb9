"""Measurement plumbing shared by the workloads: the work directory, the
cached inputs, the Spark session, spans, Spark stage statistics, Python
worker memory and the host canary.

Nothing here changes how the engine runs: the session comes from
``session.tuned_session`` and every number is read from outside the calls
that do the work.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import subprocess
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
PACKAGE = ROOT / "dataqualityassistant_spark"
# the generator's own sources: a change to either changes the pages
FIXTURE_SOURCES = (PACKAGE / "fixtures.py", PACKAGE / "functions" / "corpus.py")


def prepare_environment(run_dir: Path) -> None:
    """Point every writer of temporary files into ``run_dir`` and let the
    PySpark Python workers import the package: putting the repo on
    ``sys.path`` is not enough, the workers are separate interpreters that
    read ``PYTHONPATH``. ``JAVA_TOOL_OPTIONS`` reaches both JVMs that
    ``spark-submit`` starts (its launcher and the driver)."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def local_cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(run_dir: Path):
    """``tuned_session`` on ``local[<cores>]`` with its tuning defaults,
    shuffle partitions sized to the cores (its docstring's advice for local
    runs) and a 4 GiB driver heap: in local mode the driver is the executor,
    and with the 1 GiB default, collections took a visible and varying share
    of every operation. The extra settings only keep the session's files
    inside the run directory and leave the UI off (statistics come from the
    status store)."""
    from dataqualityassistant_spark.session import tuned_session

    cores = local_cores()
    spark = tuned_session(
        app="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        driver_memory="4g",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then end the gateway JVM (it outlives ``stop()``
    until its stdin closes) and wait for it."""
    from dataqualityassistant_spark.session import stop_session_hard

    proc = getattr(spark.sparkContext._gateway, "proc", None)
    stop_session_hard(spark)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def fixture_digest() -> str:
    h = hashlib.sha256()
    for p in FIXTURE_SOURCES:
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def pages_input(spark, n_rows: int, seed: int) -> Path:
    """Path of the generated pages table for (seed, size, generator source),
    written by ``fixtures.write_pages_fixture`` with its default mixture and
    layout on a cache miss. The cache sits outside every timed region, so a
    parent and a change read identical bytes."""
    from dataqualityassistant_spark.fixtures import write_pages_fixture

    path = WORK / "inputs" / f"pages-s{seed}-n{n_rows}-{fixture_digest()}"
    if not (path / "_SUCCESS").exists():
        tmp = path.with_name(path.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        write_pages_fixture(spark, str(tmp), n_rows, seed=seed)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    return path


def parquet_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*.parquet"))


def parquet_files(path: Path) -> int:
    return sum(1 for _ in Path(path).rglob("*.parquet"))


def noop(df) -> None:
    """Materialise every column of ``df`` without writing anything."""
    df.write.format("noop").mode("overwrite").save()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def canary_s() -> float:
    """A fixed pure-Python CPU burn. It does not touch the engine, so its
    time moves only with the host (clock, contention); reported, never used
    to drop a run."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


# ------------------------------------------------------------------ spans

class Tracer:
    """In-memory spans (name, start, end, parent) written out at the end of
    a traced run. A disabled tracer still times its spans (the callers need
    the durations) but records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.perf_counter() - self._t0, "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        if self.enabled:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
            self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            rec["seconds"] = rec["end"] - rec["start"]
            if self.enabled:
                self._stack.pop()


# ------------------------------------------------------- Spark statistics

class SparkStats:
    """Per-operation Spark counters from the driver's status store (present
    with the UI off). Jobs are attributed to an operation by the job group
    set around it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        # stageData(stageId, details, taskStatus, withSummaries, quantiles):
        # py4j cannot fill Scala default arguments
        self._no_tasks = self.sc._jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)
        self._n = 0

    @contextmanager
    def group(self, label: str):
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        out: dict = {}
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            out.update(self._summarise(gid))

    def _summarise(self, gid: str) -> dict:
        # jobs and stage figures reach the status store through the
        # asynchronous listener bus: wait until its last events are in
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(gid))
        stage_ids: set[int] = set()
        for j in job_ids:
            seq = self.store.job(j).stageIds()
            stage_ids.update(int(seq.apply(k)) for k in range(seq.size()))
        tot = {"jobs": len(job_ids), "max_stage_tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
               "gc_s": 0.0, "shuffle_write_mb": 0.0}
        for s in sorted(stage_ids):
            attempts = self.store.stageData(s, False, self._no_tasks, False,
                                           self._no_quantiles)
            for k in range(attempts.size()):
                st = attempts.apply(k)
                status = str(st.status())
                if status == "SKIPPED":
                    continue
                if status != "COMPLETE":
                    raise RuntimeError(f"stage {s} of {gid} is {status} after its jobs ended")
                tot["run_s"] += st.executorRunTime() / 1e3
                tot["cpu_s"] += st.executorCpuTime() / 1e9
                tot["gc_s"] += st.jvmGcTime() / 1e3
                tot["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                tot["max_stage_tasks"] = max(tot["max_stage_tasks"], st.numCompleteTasks())
        tot["task_wait_s"] = max(tot["run_s"] - tot["cpu_s"], 0.0)
        return tot


# ---------------------------------------------------- Python worker memory

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may contain spaces
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def python_workers(jvm_pid: int | None) -> dict[int, int]:
    """``{pid: VmHWM in KiB}`` of the PySpark Python processes (daemons and
    workers) descended from this run's JVM."""
    if jvm_pid is None:
        return {}
    kids = _children()
    todo, out = list(kids.get(jvm_pid, [])), {}
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1])
        except OSError:
            continue
    return out


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc else None


def use_worker_pool(spark, name: str) -> None:
    """Make the UDFs built from here on run in the pool of Python workers
    called ``name``. Spark keys its worker pools by the UDF's environment,
    so one variable keeps the workers that generated the input out of the
    measurement (and a run that reused a cached input warms up exactly like
    one that generated it), and keeps one stage's workers apart from
    another's."""
    spark.sparkContext.environment["PERFBENCH_WORKER_POOL"] = name
