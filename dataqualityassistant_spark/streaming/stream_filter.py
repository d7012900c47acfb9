"""Structured Streaming ingestion for the quality filter.

The reference (and the north rule) are batch — checkpointed bucket waves in
``plans/quality_filter.py`` are the primary resume mechanism. This module is
the *continuous-ingestion* variant for deployments where pages land as
files (e.g. a WARC-extraction job dropping parquet into a landing zone):

    readStream(file source) → foreachBatch(score + partitioned write)

``foreachBatch`` reuses the exact batch scoring plan per micro-batch, so
semantics (features, verdict, scrub) are identical to the batch pipeline.

**Delivery semantics**: Spark's streaming checkpoint makes micro-batch
*delivery* at-least-once into ``foreachBatch`` (a crash between the sink
write and the checkpoint commit replays the batch). End-to-end exactly-once
therefore comes from making the sink IDEMPOTENT: output and metrics are
partitioned by ``batch_id`` and written with dynamic partition overwrite, so
a replayed batch REPLACES its own partitions instead of appending duplicates
— the same mechanism the batch pipeline uses for bucket waves.

Per-batch rule metrics ride an ``Observation`` attached to the scored frame
before the write, so each micro-batch is scored exactly once (no second
evaluation of the Arrow scoring stage for metrics). The rule suite is
compiled once per processor, not per micro-batch, and the metrics rows (one
per expectation) are written on the driver by ``write_partition``, the same
writer and table layout as the batch pipeline's metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from dataqualityassistant_spark.fixtures import PAGES_SCHEMA
from dataqualityassistant_spark.operators.engine import metric_aggs, metric_rows
from dataqualityassistant_spark.plans.quality_filter import (
    QualityFilterPipeline,
    metrics_table,
    shuffle_to_buckets,
    write_partition,
)


def make_batch_processor(
    pipe: QualityFilterPipeline,
    output_path: str,
    metrics_path: str | None = None,
):
    """The foreachBatch callback, exposed for direct testing: calling it twice
    with the same ``batch_id`` (simulating a replayed micro-batch after a
    crash-before-checkpoint-commit) must leave exactly one copy of the
    batch's rows and metrics."""
    # compile the rule suite ONCE per processor, not per micro-batch: its
    # masks are deterministic for the pipeline
    expectations = pipe._expectation_metric_masks()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            # availableNow triggers can deliver an empty final batch; writing
            # it is a no-op and Observation.get on a zero-task write cannot
            # produce a metrics row
            return
        scored = pipe._score(batch_df, expectations)
        obs = None
        if metrics_path:
            # metrics ride the write via observe(): scored exactly once.
            # anonymous Observation: names are registered once per session,
            # so a REPLAYED batch_id would collide with its first attempt
            obs = Observation()
            scored = scored.observe(obs, *metric_aggs(expectations))
        # batch_id partitioning + dynamic overwrite = idempotent replay:
        # a re-delivered micro-batch overwrites ONLY its own partitions
        (shuffle_to_buckets(scored.drop("text"), range(pipe.n_buckets))
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id", "part_bucket")
         .parquet(output_path))
        if obs is not None:
            rows = metric_rows(obs.get, expectations, batch_id=batch_id)
            if rows:
                write_partition(batch_df.sparkSession, metrics_path,
                                {"batch_id": batch_id}, metrics_table(rows))

    return process_batch


def start_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    pipeline: QualityFilterPipeline | None = None,
    metrics_path: str | None = None,
    trigger_once: bool = False,
    max_files_per_trigger: int | None = None,
):
    """Start (and return) the streaming query. ``trigger_once`` drains all
    available input then stops — the incremental-batch deployment mode
    (cron-scheduled catch-up runs with streaming's checkpoint bookkeeping +
    idempotent batch sinks, no always-on cluster)."""
    pipe = pipeline or QualityFilterPipeline()
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(input_path)

    writer = (
        pages.writeStream
        .foreachBatch(make_batch_processor(pipe, output_path, metrics_path))
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
