"""Custom stateful streaming operator: running per-domain quality stats.

``applyInPandasWithState`` is the Structured Streaming seam for operators
the built-in windowed aggregates can't express — here a RUNNING per-host
keep-rate that survives across micro-batches (state lives in the streaming
state store, checkpointed with the query):

    readStream(pages) → score (stateless Arrow/codegen projections)
    → groupBy(domain) → applyInPandasWithState(accumulate rows/kept)
    → changelog sink (one upsert row per touched domain per batch)

Scale shape: state is keyed by host domain (bounded by the web's host count,
~10^8 — far smaller than rows), each micro-batch shuffles only its own rows
onto their domain's state partition, and the emitted changelog is one row
per *touched* domain per batch. The batch analog (`domain_stats` in
plans/quality_filter.py) needs salting because it aggregates the full
corpus at once; here the state store holds the running totals so each batch
is incremental work.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from dataqualityassistant_spark.fixtures import PAGES_SCHEMA
from dataqualityassistant_spark.plans.quality_filter import QualityFilterPipeline

_OUTPUT_TYPE = T.StructType([
    T.StructField("domain", T.StringType()),
    T.StructField("rows", T.LongType()),
    T.StructField("kept", T.LongType()),
    T.StructField("keep_rate", T.DoubleType()),
    T.StructField("evicted", T.BooleanType()),
])
_STATE_TYPE = T.StructType([
    T.StructField("rows", T.LongType()),
    T.StructField("kept", T.LongType()),
])


def _out_row(domain, rows: int, kept: int, evicted: bool) -> pd.DataFrame:
    return pd.DataFrame({
        "domain": [domain],
        "rows": [rows],
        "kept": [kept],
        "keep_rate": [kept / rows if rows else 0.0],
        "evicted": [evicted],
    })


def _make_update_fn(idle_timeout_ms: int | None):
    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # idle domain: emit its final totals flagged evicted=True and
            # drop the state — if the domain reappears later its running
            # totals restart from zero (the changelog keeps the history)
            rows, kept = state.get if state.exists else (0, 0)
            state.remove()
            yield _out_row(key[0], rows, kept, True)
            return
        rows, kept = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            rows += int(len(pdf))
            kept += int(pdf["kept"].sum())
        state.update((rows, kept))
        if idle_timeout_ms is not None:
            # processing-time timers must be re-armed every batch the key
            # is seen; the timestamp persists in the state store across
            # restarts, so eviction fires on the first batch after expiry
            state.setTimeoutDuration(idle_timeout_ms)
        yield _out_row(key[0], rows, kept, False)

    return update


def domain_running_stats(scored_stream: DataFrame,
                         idle_timeout_ms: int | None = None) -> DataFrame:
    """scored page stream → running (domain, rows, kept, keep_rate, evicted)
    upserts. Pure transformation on a streaming DataFrame; attach your own
    sink.

    ``idle_timeout_ms`` bounds state for domains never seen again (without
    it state grows monotonically with the distinct-domain count): a domain
    idle for that long is evicted on the next processed batch with one final
    ``evicted=True`` changelog row carrying its last totals, and its state
    is removed — a later reappearance restarts from zero."""
    # unparseable URLs keep a NULL domain — the SAME grouping the batch
    # analog (QualityFilterPipeline.domain_stats) uses, so the streaming
    # changelog and batch stats agree row-for-row; Spark groups null keys
    # into one state group like any other key
    keyed = scored_stream.select(
        F.parse_url(F.col("url"), F.lit("HOST")).alias("domain"),
        F.col("verdict").cast("long").alias("kept"),
    )
    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if idle_timeout_ms is not None else GroupStateTimeout.NoTimeout)
    return keyed.groupBy("domain").applyInPandasWithState(
        _make_update_fn(idle_timeout_ms),
        outputStructType=_OUTPUT_TYPE,
        stateStructType=_STATE_TYPE,
        outputMode="update",
        timeoutConf=timeout,
    )


def start_domain_stats_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    pipeline: QualityFilterPipeline | None = None,
    trigger_once: bool = False,
    idle_timeout_ms: int | None = None,
):
    """File-landing pages → running domain stats changelog.

    The sink appends one row per touched domain per micro-batch, partitioned
    by batch_id with dynamic partition overwrite — the same idempotent-replay
    contract as the scoring stream (stream_filter.py): a replayed batch
    replaces its own changelog partition. The LATEST batch_id row per domain
    is the current running total."""
    if trigger_once and idle_timeout_ms is not None:
        # availableNow + ProcessingTimeTimeout never self-terminates (Spark
        # ticks empty micro-batches forever to service future timers) — a
        # caller awaiting termination would wedge. Timed eviction belongs to
        # continuously-running deployments that poll and stop explicitly.
        raise ValueError(
            "trigger_once=True cannot be combined with idle_timeout_ms: "
            "availableNow plus processing-time timers never self-terminates; "
            "run continuously (trigger_once=False) and stop the query "
            "explicitly, or drop the idle timeout for drain-and-stop runs")
    pipe = pipeline or QualityFilterPipeline()
    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(input_path)
    updates = domain_running_stats(pipe.score(pages), idle_timeout_ms=idle_timeout_ms)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # batch_df's plan is the OUTPUT of the stateful operator: each
        # action re-runs scoring + shuffle + state-store work, so the write
        # is the only action. An empty batch writes no partition and leaves
        # the existing ones alone.
        (batch_df.withColumn("batch_id", F.lit(batch_id))
         .coalesce(1)  # changelog rows per batch are few (≤ touched domains)
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id")
         .parquet(output_path))

    writer = (updates.writeStream
              .outputMode("update")
              .foreachBatch(sink)
              .option("checkpointLocation", checkpoint_path))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
