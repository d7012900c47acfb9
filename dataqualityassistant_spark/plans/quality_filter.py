"""The web-text quality-filter pipeline — the engine's flagship plan.

Recasts the reference's rule-execution core (declarative expectation suites
with ``mostly`` thresholds, per-rule metrics, suite verdicts — reference
``quality_engine.py:99-155``) as a distributed keep/drop pipeline over
Common-Crawl-style pages ``(url, warc_ts, html, text, lang)``:

1. **Feature stage** — every derived column (Gopher/C4 heuristics,
   repetition, langid, char-trigram perplexity) comes from ONE fused
   Arrow-batched UDF (``functions/scoring.py``). The ``html`` binary column
   is pruned out before it (never deserialized).
2. **Rule stage** — the web-text rule suite is ordinary expectations over
   the derived feature columns, compiled by the same registry as every
   other rule; per-row verdict = AND of rule masks (row-granular analog of
   rule success = AND of expectations, reference ``:445-446``). Only
   ROW-LOCAL expectations (``CompiledExpectation.row_local``) judge a row,
   and the same list is the metrics table; uniqueness, window
   (``increasing``) and z-score expectations are suite-level only
   (``run_suite``). The verdict column, the metric aggregates and their
   arithmetic come from ``operators/engine.py``; this module observes and
   writes.
3. **Scrub stage** — ordered JVM ``regexp_replace`` PII/toxicity chain,
   byte-identical to the Python-re oracle.
4. **Outputs** — scored table (parquet, partitioned by url-hash bucket;
   Iceberg-ready layout), per-rule×expectation ``metrics`` rows collected
   via ``DataFrame.observe`` during the output write (ZERO extra scans),
   per-bucket ``lineage`` rows, salted per-domain stats, and checkpoint
   watermarks for idempotent resume.

Scale design (10^12 docs, 1000 executors):
- the hot path is scan → project (codegen + the fused Arrow UDF stage) →
  ONE shuffle onto ``min(buckets, shuffle_parallelism)`` write tasks → write;
- metrics, row/kept counts and the watermark ride the write via ``observe``;
- lineage is one groupBy of the wave's bucket-shuffled frame, persisted for
  the write and released after it (no read-back of the written buckets);
- the metadata-scale tables (metrics, lineage: rows per wave, not per page)
  are written on the driver by :func:`write_partition`, not by a Spark job;
- host-domain skew never concentrates work because per-domain aggregation
  is two-phase (salt → partial agg → final agg);
- resume is per-bucket: dynamic partition overwrite + watermark records.
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Sequence
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from dataqualityassistant_spark.rules import Rule
from dataqualityassistant_spark.session import shuffle_parallelism
from dataqualityassistant_spark.operators.compiler import CompiledExpectation
from dataqualityassistant_spark.operators.engine import (
    SuiteEngine,
    failed_rules_column,
    metric_aggs,
    metric_rows,
)
from dataqualityassistant_spark.functions.scoring import with_text_scores
from dataqualityassistant_spark.functions.scrub import scrub_text_column
from dataqualityassistant_spark.streaming.checkpoint import CheckpointStore


def shuffle_to_buckets(df: DataFrame, buckets: Sequence[int]) -> DataFrame:
    """Shuffle rows for a ``partitionBy("part_bucket")`` write: the k-th of
    ``buckets`` goes to task k mod ``min(len(buckets), shuffle_parallelism)``,
    so each bucket is one task's (one file per bucket, no fan-out writer).
    Not ``part_bucket mod n``: a resumed or multi-wave run holds a strided
    subset (0, 2, 4, …) that would leave half the tasks empty."""
    n = min(len(buckets), shuffle_parallelism(df))
    slot = F.array_position(F.array(*map(F.lit, buckets)), F.col("part_bucket")) - 1
    return df.repartitionById(n, slot.cast("int"))


# parquet types of the metrics tables' data columns (the partition keys
# run_id/wave or batch_id live in the path). Files hold them in sorted name
# order: the order Spark's dict-row inference gave these tables.
_METRIC_TYPES = {
    "column": pa.string(), "element_count": pa.int64(),
    "expectation_type": pa.string(), "rule_name": pa.string(),
    "run_ts": pa.string(), "success": pa.bool_(),
    "unexpected_count": pa.int64(), "unexpected_percent": pa.float64(),
}
# the lineage table's data columns; a UTC-adjusted watermark, so Spark reads
# it as ``timestamp``, never ``timestamp_ntz``
_LINEAGE_SCHEMA = pa.schema([
    ("part_bucket", pa.int32()), ("rows", pa.int64()), ("kept", pa.int64()),
    ("watermark", pa.timestamp("us", tz="UTC")),
])


def metrics_table(rows: list[dict]) -> pa.Table:
    """The data columns of :func:`operators.engine.metric_rows` as an
    Arrow table for :func:`write_partition`."""
    names = sorted(k for k in rows[0] if k in _METRIC_TYPES)
    return pa.Table.from_pylist(rows, schema=pa.schema([(k, _METRIC_TYPES[k]) for k in names]))


def write_partition(spark: SparkSession, path: str, partition: dict, table: pa.Table) -> None:
    """Replace partition ``partition`` (ordered ``{column: value}``) of the
    parquet table at ``path`` with ``table``, written on the driver: one
    file, no Spark job. For metadata-scale tables only (a wave's metrics
    and lineage, a micro-batch's metrics).

    The bytes go through the path's Hadoop ``FileSystem``, so any filesystem
    Spark writes to works. The file is staged as ``_staging-*`` under
    ``path`` (a name Spark's readers skip), then the partition directory is
    replaced by it: a re-run replaces its partition, as a dynamic partition
    overwrite does, and a crash or a failed write leaves at worst an
    invisible staging file."""
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    root = Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink, compression="zstd")
    name = f"part-00000-{uuid.uuid4()}.zstd.parquet"
    staged = Path(root, f"_staging-{name}")
    escape = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    target = Path(root, "/".join(escape.getPartitionPathString(k, str(v))
                                 for k, v in partition.items()))
    out = fs.create(staged, True)
    try:
        out.write(sink.getvalue().to_pybytes())
    finally:
        out.close()
    fs.delete(target, True)
    fs.mkdirs(target)
    if not fs.rename(staged, Path(target, name)):
        raise OSError(f"could not move {staged.toString()} to {target.toString()}")


def default_webtext_rules() -> list[Rule]:
    """Gopher/C4-style web-text rule suite over the derived feature columns.
    Thresholds calibrated once on the seed fixture mixture and frozen;
    `mostly` values express how much table-level violation each rule
    tolerates before the *suite* (not the row) is flagged unhealthy."""
    B = "expect_column_values_to_be_between"
    return [
        Rule(id=101, name="text_present", rule_config=[
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "text", "mostly": 0.9}},
            {"expectation_type": B,
             "kwargs": {"column": "n_chars", "min_value": 1, "mostly": 0.9}},
        ]),
        Rule(id=102, name="gopher_words", rule_config=[
            {"expectation_type": B,
             "kwargs": {"column": "word_count", "min_value": 50, "max_value": 100000, "mostly": 0.5}},
            {"expectation_type": B,
             "kwargs": {"column": "mean_word_length", "min_value": 2.0, "max_value": 12.0, "mostly": 0.8}},
            {"expectation_type": B,
             "kwargs": {"column": "alpha_word_ratio", "min_value": 0.7, "mostly": 0.7}},
            {"expectation_type": B,
             "kwargs": {"column": "stopword_ratio", "min_value": 0.05, "mostly": 0.5}},
        ]),
        Rule(id=103, name="gopher_symbols_layout", rule_config=[
            {"expectation_type": B,
             "kwargs": {"column": "symbol_word_ratio", "max_value": 0.1, "mostly": 0.8}},
            {"expectation_type": B,
             "kwargs": {"column": "bullet_line_frac", "max_value": 0.9, "mostly": 0.9}},
            {"expectation_type": B,
             "kwargs": {"column": "ellipsis_line_frac", "max_value": 0.3, "mostly": 0.9}},
            {"expectation_type": B,
             "kwargs": {"column": "mean_line_length", "min_value": 10.0, "max_value": 5000.0, "mostly": 0.7}},
        ]),
        Rule(id=104, name="repetition", rule_config=[
            {"expectation_type": B,
             "kwargs": {"column": "dup_line_frac", "max_value": 0.30, "mostly": 0.9}},
            {"expectation_type": B,
             "kwargs": {"column": "top_2gram_char_frac", "max_value": 0.20, "mostly": 0.85}},
            {"expectation_type": B,
             "kwargs": {"column": "top_3gram_char_frac", "max_value": 0.18, "mostly": 0.85}},
            {"expectation_type": B,
             "kwargs": {"column": "dup_5gram_char_frac", "max_value": 0.15, "mostly": 0.85}},
        ]),
        Rule(id=105, name="language", rule_config=[
            {"expectation_type": "expect_column_values_to_be_in_set",
             "kwargs": {"column": "detected_lang", "value_set": ["en"], "mostly": 0.6}},
        ]),
        Rule(id=106, name="fluency", rule_config=[
            # calibrated on the seed mixture: clean prose ≤ ~2.1, gibberish ≥ ~3.2
            {"expectation_type": B,
             "kwargs": {"column": "log_ppl", "max_value": 2.5, "mostly": 0.7}},
        ]),
    ]


# salt fan-out for the per-domain aggregation in domain_stats
DOMAIN_SALT = 16


@dataclass
class QualityFilterPipeline:
    """Pre-stages (``html_to_text_column``, ``canonicalize_url``,
    ``stratified_hash_sample``) are applied by the caller to ``pages``
    before :meth:`score` / :meth:`run`; each rides the scan."""

    rules: list[Rule] = field(default_factory=default_webtext_rules)
    n_buckets: int = 64          # url-hash partition groups (resume granularity)

    # ------------------------------------------------------------- scoring

    def score(self, df: DataFrame) -> DataFrame:
        """Pure transformation: pages → scored rows. Lazy; no jobs run.
        Drops `html` immediately — the binary payload must never cross the
        Arrow boundary (input_hint: carried through but unscanned)."""
        return self._score(df, self._expectation_metric_masks())

    def _score(self, df: DataFrame, expectations) -> DataFrame:
        """:meth:`score` with the suite already compiled
        (:meth:`_expectation_metric_masks`), for callers that compile it once."""
        scored = df.select(*[c for c in df.columns if c != "html"])
        # ALL derived columns (Gopher features, repetition, langid,
        # perplexity) come from ONE fused Arrow UDF stage: HOF-lambda SQL
        # expressions fall out of whole-stage codegen and stopped scaling
        # (see functions/scoring.py); the fused Python loop is faster and
        # bit-identical to the label oracle.
        scored = with_text_scores(scored)

        scored = scored.withColumn("failed_rules", failed_rules_column(expectations))
        scored = scored.withColumn("verdict", F.size("failed_rules") == 0)
        scored = scored.withColumn("scrubbed_text", scrub_text_column("text"))
        scored = scored.withColumn(
            "part_bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(self.n_buckets)).cast("int")
        )
        return scored

    def _expectation_metric_masks(self) -> list[tuple[str, CompiledExpectation]]:
        """(rule_name, compiled expectation) for every row-local expectation:
        the verdict set of :meth:`score` and the observe() metric set. Window
        masks would sort inside the Arrow scoring stage and are illegal
        inside observe() aggregates."""
        return [(rule.name, ce)
                for rule, ces in SuiteEngine().compile_rules(self.rules)
                for ce in ces if ce.row_local]

    # ------------------------------------------------------------- execution

    def run(
        self,
        spark: SparkSession,
        pages: DataFrame,
        output_path: str,
        metrics_path: str | None = None,
        lineage_path: str | None = None,
        checkpoint_path: str | None = None,
        run_id: str = "run-0",
        run_ts: str = "",
        waves: int = 1,
        max_buckets: int | None = None,
    ) -> dict:
        """Execute the pipeline with per-bucket checkpointed waves.

        Each wave: score pending buckets → shuffle onto write tasks (persisted
        only with ``lineage_path``) → write output partitions (dynamic
        overwrite ⇒ idempotent re-run), whose observe() yields the rule
        metrics, row/kept counts and watermark → metrics → lineage (a groupBy
        of the persisted wave) → persist released → watermark record
        committed last. ``max_buckets`` processes only a prefix of pending
        buckets (the kill-and-resume test's mid-run crash).
        """
        # dynamic partition overwrite is set PER WRITER below, never on the
        # session: a session-wide conf.set would silently change overwrite
        # semantics (stale partitions kept) for every later partitioned
        # write in the same session
        store = CheckpointStore(checkpoint_path) if checkpoint_path else None
        done = store.completed_buckets(run_id) if store else set()
        pending = [b for b in range(self.n_buckets) if b not in done]
        if max_buckets is not None:
            pending = pending[:max_buckets]

        t0 = time.time()
        expectations = self._expectation_metric_masks()
        scored = self._score(pages, expectations)
        all_metrics: list[dict] = []
        n_rows_total = 0
        # wave keys continue from completed waves so a resume never reuses a
        # (run_id, wave) partition of the lineage/metrics tables
        wave_base = len(store.records(run_id)) if store else 0

        wave_groups = [pending[i::waves] for i in range(waves)] if pending else []
        wave_groups = [w for w in wave_groups if w]
        for wave_idx, buckets in enumerate(wave_groups):
            wave_key = wave_base + wave_idx
            partition = {"run_id": run_id, "wave": wave_key}
            obs = Observation(f"metrics-{run_id}-{wave_idx}")
            observed = scored.filter(F.col("part_bucket").isin(buckets)).observe(
                obs, *metric_aggs(expectations),
                F.sum(F.col("verdict").cast("long")).alias("kept"),
                F.max("warc_ts").alias("watermark"))
            # raw text is scored but not written: the output corpus is the
            # scrubbed text, and the input table already holds the raw bytes.
            # The shuffled wave is cached for the lineage groupBy below (only
            # when there is a lineage table to feed); the observation still
            # resolves through the cached plan.
            wave = shuffle_to_buckets(observed.drop("text"), buckets)
            if lineage_path:
                wave.persist()
            try:
                (wave.write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("part_bucket")
                 .parquet(output_path))

                # a wave without rows (its buckets are empty) leaves an empty
                # shuffle, after which AQE drops the observed node: the
                # observation then holds a row with no fields, which obs.get
                # cannot convert. Such a wave observed nothing: zero counts.
                row = obs.get if obs._jo.getRow().length() else {}
                element_count = int(row.get("element_count") or 0)
                n_rows_total += element_count
                wave_metrics = metric_rows(row, expectations, run_id=run_id,
                                           run_ts=run_ts, wave=wave_key)
                all_metrics.extend(wave_metrics)
                # both tables are replaced per (run_id, wave) partition: a
                # wave re-run after a crash before its checkpoint replaces
                # its rows instead of duplicating them, and the rows of
                # completed waves survive a mid-run crash
                if metrics_path and wave_metrics:
                    write_partition(spark, metrics_path, partition, metrics_table(wave_metrics))
                # lineage: per-bucket counts + warc_ts watermark of the
                # cached wave. An empty wave has no buckets to report.
                if lineage_path and element_count:
                    lineage = (wave.groupBy("part_bucket")
                               .agg(F.count(F.lit(1)).alias("rows"),
                                    F.sum(F.col("verdict").cast("long")).alias("kept"),
                                    F.max("warc_ts").alias("watermark"))
                               .toArrow())
                    write_partition(spark, lineage_path, partition,
                                    lineage.cast(_LINEAGE_SCHEMA))
            finally:
                wave.unpersist()

            if store:
                watermark = row.get("watermark")
                store.mark_completed(run_id, wave_key, buckets, {
                    "rows": element_count, "kept": int(row.get("kept") or 0),
                    "watermark": watermark.isoformat() if watermark else None,
                })

        return {
            "run_id": run_id,
            "buckets_processed": sum(len(w) for w in wave_groups),
            "buckets_skipped": len(done),
            "rows": n_rows_total,
            "duration_sec": time.time() - t0,
            "metrics": all_metrics,
        }

    # ------------------------------------------------------------- analytics

    def domain_stats(self, scored: DataFrame) -> DataFrame:
        """Per-host-domain keep rates with two-phase salted aggregation.
        Web host-domain frequency is power-law (a handful of hosts own ~30%
        of rows); a naive groupBy(domain) puts those hosts' rows on single
        reducers. Salting fans each domain across `DOMAIN_SALT` partial
        groups; the final reduce sees ≤ salt rows per domain."""
        domain = F.parse_url(F.col("url"), F.lit("HOST")).alias("domain")
        salt = F.pmod(F.xxhash64(F.col("url")), F.lit(DOMAIN_SALT))
        partial = (
            scored.select(domain, salt.alias("__salt"), F.col("verdict"))
            .groupBy("domain", "__salt")
            .agg(F.count(F.lit(1)).alias("rows"), F.sum(F.col("verdict").cast("long")).alias("kept"))
        )
        return (
            partial.groupBy("domain")
            .agg(F.sum("rows").alias("rows"), F.sum("kept").alias("kept"))
            .withColumn("keep_rate", F.col("kept") / F.col("rows"))
        )
