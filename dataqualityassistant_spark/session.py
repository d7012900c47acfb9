"""The SparkSession factory every caller builds through (the CLI, the bench
legs, the tests, library users), the watchdogged stop, and the explicit
shuffle width for per-key operators."""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession


def stop_spark_hard(stop_fn, jvm_proc, timeout=60.0):
    """Stop Spark with a watchdog: ``spark.stop()``'s py4j reply can be lost
    (observed twice in round-5 bench runs: jstack showed the context fully
    torn down and both gateway threads idle in waitForCommands while
    Python's main thread polled the reply socket forever — a 29-minute
    silent hang). Run ``stop_fn`` in a daemon thread; if it hasn't returned
    after ``timeout`` seconds, kill the gateway JVM directly — the context
    is already (or will be) down and a dead JVM is strictly better than a
    wedged process. Call as::

        stop_spark_hard(spark.stop,
                        getattr(spark.sparkContext._gateway, "proc", None))

    (grab ``_gateway.proc`` BEFORE calling — a torn-down context may not
    expose it after). Returns True when stop() returned normally, False
    when the watchdog had to kill the JVM (or stop() raised — a stop that
    errored, e.g. Py4JNetworkError from an already-dead gateway, is treated
    as failed so the JVM is never silently leaked)."""
    import threading

    failed: list[BaseException] = []

    def _run():
        try:
            stop_fn()
        except BaseException as e:  # noqa: BLE001 — report, don't propagate
            failed.append(e)

    t = threading.Thread(target=_run, daemon=True)
    t.start()
    t.join(timeout)
    if not t.is_alive() and not failed:
        return True
    reason = (f"raised {failed[0]!r}" if failed
              else f"reply lost after {timeout}s")
    print(f"spark.stop() {reason}; killing gateway JVM", file=sys.stderr)
    if jvm_proc is not None:
        try:
            jvm_proc.kill()
        except OSError:
            pass
    return False


def stop_session_hard(spark, timeout=60.0):
    """:func:`stop_spark_hard` convenience wrapper for a live session."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return stop_spark_hard(spark.stop, proc, timeout)


def tuned_session(
    app: str = "dataqualityassistant-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session with the engine's settings.

    It sets only what differs from Spark's defaults. ``getOrCreate()``
    applies every builder option to a session that already exists, so
    restating a default here would silently reset a value the user (or
    ``spark-submit --conf``) chose: a second ``tuned_session()`` call must
    leave e.g. ``spark.sql.files.maxPartitionBytes`` alone. The four
    settings it does make:

    - Arrow on: ``toPandas`` and ``createDataFrame(pandas_df)`` (fixtures,
      samples, metric rows) move columnar batches instead of pickled rows;
    - session time zone UTC: ``warc_ts`` watermarks, checkpoint records and
      metric timestamps must not depend on the host's zone;
    - zstd parquet: the scored corpus is mostly text, which zstd compresses
      tighter than the snappy default;
    - Kryo serialization: Spark's tuning guide's advice for the RDD-level
      records (DataFrame shuffles keep their own row format either way).

    Shuffle partitions stay Spark's 200 unless ``shuffle_partitions`` says
    otherwise (local runs: the cores; on a cluster ≈2-3× total cores). The
    input split stays the session's ``spark.sql.files.maxPartitionBytes``
    (default 128 MB); inputs made of a few large files with many row groups
    want ``--conf spark.sql.files.maxPartitionBytes=8m`` so the Arrow scoring
    stage gets several tasks per core.
    """
    b = SparkSession.builder.appName(app)
    if master:
        b = b.master(master)
    if driver_memory:
        b = b.config("spark.driver.memory", driver_memory)
    conf = {
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    }
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(extra_conf or {})
    for k, v in conf.items():
        b = b.config(k, v)
    # the log level is the session owner's: only a call that starts the
    # session sets it, so a second call leaves the caller's level alone
    fresh = SparkSession.getActiveSession() is None
    spark = b.getOrCreate()
    if fresh:
        spark.sparkContext.setLogLevel("WARN")
    return spark


def shuffle_parallelism(df) -> int:
    """Partition count for an EXPLICIT repartition placed to satisfy a
    downstream per-key operator (window sort, distinct, groupBy) — r6.

    Why explicit: AQE's partition coalescing targets
    ``advisoryPartitionSizeInBytes`` (64 MB default — sized for cluster-scale
    exchanges), so a small-but-CPU-heavy shuffle (a window sort over a few
    tens of MB, a collect_list bucket agg) coalesces to ONE task and
    serializes on a single core. A user-specified ``repartition(n, keys)``
    is exempt from coalescing, satisfies the operator's distribution
    requirement (no extra exchange), and cannot change results — only
    placement. ``max(defaultParallelism, spark.sql.shuffle.partitions)``
    keeps cluster semantics: on a real cluster this equals the configured
    shuffle partitioning, locally it pins minimum parallelism to the cores.
    """
    sess = df.sparkSession
    try:
        sp = int(sess.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        sp = 0  # e.g. "auto" under some AQE configurations
    return max(sess.sparkContext.defaultParallelism, sp)
