"""Structured Streaming ingestion for the quality filter.

The reference (and the north rule) are batch — checkpointed bucket waves in
``plans/quality_filter.py`` are the primary resume mechanism. This module is
the *continuous-ingestion* variant for deployments where pages land as
files (e.g. a WARC-extraction job dropping parquet into a landing zone):

    readStream(file source) → foreachBatch(score + commit)

``foreachBatch`` reuses the batch pipeline's scoring plan AND its commit
(``plans/quality_filter.commit_wave``) per micro-batch, so semantics
(features, verdict, scrub, output layout, metrics) are identical to a batch
wave's.

**Delivery semantics**: Spark's streaming checkpoint makes micro-batch
*delivery* at-least-once into ``foreachBatch`` (a crash between the sink
write and the checkpoint commit replays the batch). End-to-end exactly-once
therefore comes from making the sink IDEMPOTENT: a micro-batch is committed
as a wave into its own ``batch_id=<id>`` output directory and metrics
partition, with dynamic partition overwrite, so a replayed batch REPLACES
its own partitions instead of appending duplicates — the same mechanism the
batch pipeline uses for bucket waves.

Per-batch rule metrics ride the write's ``observe()``, so each micro-batch
is scored exactly once. The rule suite is compiled once per processor, not
per micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dataqualityassistant_spark.fixtures import PAGES_SCHEMA
from dataqualityassistant_spark.plans.quality_filter import QualityFilterPipeline, commit_wave


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
        # an empty batch (availableNow can deliver one last) is committed
        # like an empty wave: it writes no data file and its metrics rows
        # hold zero counts
        commit_wave(pipe._score(batch_df, expectations), expectations,
                    range(pipe.n_buckets), f"{output_path}/batch_id={batch_id}",
                    {"batch_id": batch_id}, metrics_path=metrics_path)

    return process_batch


def start_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    pipeline: QualityFilterPipeline | None = None,
    metrics_path: str | None = None,
    trigger_once: bool = False,
):
    """Start (and return) the streaming query. ``trigger_once`` drains all
    available input then stops — the incremental-batch deployment mode
    (cron-scheduled catch-up runs with streaming's checkpoint bookkeeping +
    idempotent batch sinks, no always-on cluster)."""
    pipe = pipeline or QualityFilterPipeline()
    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(input_path)

    writer = (
        pages.writeStream
        .foreachBatch(make_batch_processor(pipe, output_path, metrics_path))
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
