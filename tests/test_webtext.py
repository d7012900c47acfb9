"""Webtext pipeline tests: feature parity Spark↔pandas, langid/perplexity
behavior, golden-label F1, byte-identical scrub, and checkpointed resume."""

import math
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataqualityassistant_spark.fixtures import pages_batch, pages_spark_df, PAGES_SCHEMA
from dataqualityassistant_spark.functions.corpus import LANG_SENTENCES
from dataqualityassistant_spark.functions.langid import classify_text
from dataqualityassistant_spark.functions.perplexity import log_perplexity
from dataqualityassistant_spark.functions.scoring import with_text_scores
from dataqualityassistant_spark.functions.scrub import scrub_text_column, scrub_text_python
from dataqualityassistant_spark.functions.text_features import (
    FEATURE_COLUMNS,
    pandas_text_features,
)
from dataqualityassistant_spark.plans.quality_filter import QualityFilterPipeline, default_webtext_rules
from dataqualityassistant_spark.webtext_oracle import oracle_score_pages


@pytest.fixture(scope="module")
def pages_pdf():
    return pages_batch(0, 600)


@pytest.fixture(scope="module")
def pages_sdf(spark, pages_pdf):
    return spark.createDataFrame(pages_pdf, schema=PAGES_SCHEMA)


# ----------------------------------------------------------- feature parity

def test_spark_features_match_pandas_mirror(spark, pages_pdf, pages_sdf):
    got = (
        with_text_scores(pages_sdf.select("url", "text"))
        .orderBy("url")
        .toPandas()
        .set_index("url")
    )
    want = pandas_text_features(pages_pdf["text"])
    want.index = pages_pdf["url"]
    want = want.sort_index()
    for col in FEATURE_COLUMNS:
        g = got[col].astype(float)
        w = want[col].astype(float)
        both_nan = g.isna() & w.isna()
        close = g == w  # bit-identical: the UDF runs kernels pinned to the spec
        ok = (both_nan | close).all()
        assert ok, f"feature {col} mismatch: {got[col][~(both_nan | close)].head()} vs {w[~(both_nan | close)].head()}"


# ----------------------------------------------------------------- langid

def test_langid_identifies_corpus_languages():
    for lang, sentences in LANG_SENTENCES.items():
        for s in sentences:
            assert classify_text(s)[0] == lang, (lang, s)


def test_langid_short_text_unknown():
    assert classify_text(None)[0] == "zz"
    assert classify_text("hi")[0] == "zz"


# -------------------------------------------------------------- perplexity

def test_perplexity_orders_clean_below_gibberish():
    clean = "The river carried the small boat past the old mill before the rain began."
    gibberish = "xqzrt plovng krzwfy qquualk jxobrn tlkxq zrtplo vngkrz"
    assert log_perplexity(clean) < log_perplexity(gibberish) - 0.5
    assert math.isnan(log_perplexity(None))
    assert math.isnan(log_perplexity(""))


# -------------------------------------------------------------------- scrub

def test_scrub_patterns():
    t = ("Write to john.doe@example.com or call +1 212-555-1234. "
         "SSN 123-45-6789, card 4111 1111 1111 1111, host 10.0.0.1, a frakking mess.")
    s = scrub_text_python(t)
    assert "[EMAIL]" in s and "[PHONE]" in s and "[SSN]" in s
    assert "[CARD]" in s and "[IP]" in s and "[REDACTED]" in s
    assert "john.doe" not in s and "4111" not in s and "frakking" not in s


def test_scrub_byte_identical_jvm_vs_python(spark, pages_pdf, pages_sdf):
    got = (
        pages_sdf.select("url", scrub_text_column("text").alias("scrubbed"))
        .orderBy("url")
        .toPandas()
    )
    want = pages_pdf.sort_values("url")["text"].map(scrub_text_python).reset_index(drop=True)
    for g, w in zip(got["scrubbed"], want):
        assert g == w or (g is None and w is None), f"scrub mismatch: {g!r} vs {w!r}"


# ------------------------------------------------------------ golden labels

def test_keep_drop_f1_vs_oracle(spark, pages_pdf, pages_sdf):
    rules = default_webtext_rules()
    want = oracle_score_pages(pages_pdf, rules).set_index("url")

    pipe = QualityFilterPipeline(rules=rules)
    got = pipe.score(pages_sdf).select("url", "verdict", "scrubbed_text").toPandas().set_index("url")

    merged = got.join(want, how="inner", lsuffix="_spark", rsuffix="_oracle")
    assert len(merged) == len(pages_pdf)
    tp = ((merged["verdict_spark"]) & (merged["verdict_oracle"])).sum()
    fp = ((merged["verdict_spark"]) & (~merged["verdict_oracle"])).sum()
    fn = ((~merged["verdict_spark"]) & (merged["verdict_oracle"])).sum()
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, f"F1 {f1}: fp={fp} fn={fn}"
    # byte-identical scrubbed text per url (north_rule invariant)
    mismatch = merged[
        merged["scrubbed_text_spark"].fillna("\0") != merged["scrubbed_text_oracle"].fillna("\0")
    ]
    assert mismatch.empty, mismatch.head()


def test_verdict_and_metrics_share_the_row_local_expectations(spark, pages_pdf, pages_sdf):
    """A window (`increasing`), a set-level (`unique`) and a two-pass
    (z-score) expectation have no row-local verdict: score() must judge
    rows by exactly the expectations the oracle and the metrics table use,
    and no window may enter the scoring plan."""
    from dataqualityassistant_spark.rules import Rule

    default = default_webtext_rules()
    rules = default + [Rule(id=107, name="suite_level", rule_config=[
        {"expectation_type": "expect_column_values_to_be_increasing",
         "kwargs": {"column": "word_count", "order_by": "url", "partition_by": "lang"}},
        {"expectation_type": "expect_column_values_to_be_unique",
         "kwargs": {"column": "detected_lang"}},
        {"expectation_type": "expect_column_value_z_scores_to_be_less_than",
         "kwargs": {"column": "log_ppl", "threshold": 1.0}},
    ])]
    pipe = QualityFilterPipeline(rules=rules)
    scored = pipe.score(pages_sdf)
    got = dict(scored.select("url", "verdict").collect())
    want = oracle_score_pages(pages_pdf, rules).set_index("url")["verdict"].to_dict()
    assert len(got) == len(pages_pdf)
    drift = [u for u in want if got[u] != bool(want[u])]
    assert not drift, f"{len(drift)} verdicts differ from the oracle, e.g. {drift[:3]}"
    assert len(pipe._expectation_metric_masks()) == sum(len(r.expectations) for r in default)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan


# -------------------------------------------------------- pipeline run/resume

def test_pipeline_run_with_metrics_lineage_checkpoint(spark, tmp_path):
    pages = pages_spark_df(spark, 400, partitions=4)
    pipe = QualityFilterPipeline(n_buckets=8)
    out = str(tmp_path / "out")
    stats = pipe.run(
        spark, pages, out,
        metrics_path=str(tmp_path / "metrics"),
        lineage_path=str(tmp_path / "lineage"),
        checkpoint_path=str(tmp_path / "ckpt"),
        run_id="t1", waves=2,
    )
    assert stats["rows"] == 400
    assert stats["buckets_processed"] == 8

    written = spark.read.parquet(out)
    assert written.count() == 400
    assert {"url", "verdict", "scrubbed_text", "failed_rules", "part_bucket"} <= set(written.columns)
    assert "html" not in written.columns

    metrics = spark.read.parquet(str(tmp_path / "metrics"))
    # one row per (wave, row-local expectation)
    n_exp = len(pipe._expectation_metric_masks())
    assert metrics.count() == 2 * n_exp
    assert {"rule_name", "unexpected_count", "unexpected_percent", "success"} <= set(metrics.columns)

    lineage = spark.read.parquet(str(tmp_path / "lineage"))
    assert lineage.count() == 8  # one row per bucket
    agg = lineage.agg(F.sum("rows")).collect()[0][0]
    assert agg == 400


def test_pipeline_resume_is_idempotent(spark, tmp_path):
    pages = pages_spark_df(spark, 300, partitions=4)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pipe = QualityFilterPipeline(n_buckets=6)

    # simulate a crash: only 3 of 6 buckets complete
    s1 = pipe.run(spark, pages, out, checkpoint_path=ckpt, run_id="r", max_buckets=3)
    assert s1["buckets_processed"] == 3
    partial = spark.read.parquet(out).count()
    assert partial < 300

    # resume: processes only the remaining buckets
    s2 = pipe.run(spark, pages, out, checkpoint_path=ckpt, run_id="r")
    assert s2["buckets_skipped"] == 3
    assert s2["buckets_processed"] == 3

    final = spark.read.parquet(out)
    assert final.count() == 300  # no duplicates, no gaps
    assert final.select("url").distinct().count() == 300

    # re-run once more: everything checkpointed, nothing to do
    s3 = pipe.run(spark, pages, out, checkpoint_path=ckpt, run_id="r")
    assert s3["buckets_processed"] == 0
    assert spark.read.parquet(out).count() == 300


def test_domain_stats_salted(spark):
    pages = pages_spark_df(spark, 300, partitions=4)
    pipe = QualityFilterPipeline()
    stats = pipe.domain_stats(pipe.score(pages))
    rows = stats.collect()
    assert sum(r["rows"] for r in rows) == 300
    assert all(0 <= r["keep_rate"] <= 1 for r in rows)
    # zipf skew: top domain should carry >10% of rows
    assert max(r["rows"] for r in rows) > 30


def test_scrub_byte_parity_on_adversarial_corpus(spark):
    """JVM regexp_replace chain vs Python re on adversarial strings: regex
    metacharacters, unicode, newlines, partial PII shapes, replacement-token
    lookalikes. Byte-identical is the north-rule invariant."""
    import random
    rng = random.Random(99)
    atoms = [
        "a@b.co", "x@y", "@", "user.name+tag@sub.domain.org", "1.2.3.4",
        "999.999.999.999", "123-45-6789", "123-456-789", "4111 1111 1111 1111",
        "+1 212-555-0000", "555-0000", "(212) 555 0000", "frakking", "FRAKKING",
        "belgium!", "xbelgium", "[EMAIL]", "$1", "\\1", "…", "naïve café",
        "line\nbreak", "tab\there", "a" * 50, "12345678901234567", "#", "...",
        "e@e.ee e@e.ee", "dots...", "中文文本", "", " ",
    ]
    texts = [" ".join(rng.choice(atoms) for _ in range(rng.randint(1, 12)))
             for _ in range(300)] + [None]
    sdf = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i: long, text: string")
    got = (sdf.select("i", scrub_text_column("text").alias("s"))
           .orderBy("i").toPandas()["s"].tolist())
    want = [scrub_text_python(t) for t in texts]
    for i, (g, w) in enumerate(zip(got, want)):
        assert g == w, f"row {i}: {texts[i]!r}\n jvm={g!r}\n  py={w!r}"


def test_pipeline_observe_metrics_equal_engine_metrics(spark, tmp_path):
    """The observe()-collected per-wave metrics summed across waves must
    equal a SuiteEngine pass over the same scored frame — the two metric
    paths (streaming-during-write vs dedicated aggregate) may never drift.
    A one-wave run sees the whole table, so its unexpected_percent and
    success must equal the engine's exactly."""
    from dataqualityassistant_spark.operators.engine import SuiteEngine

    pages = pages_spark_df(spark, 300, partitions=4)
    pipe = QualityFilterPipeline(n_buckets=4)
    suite = SuiteEngine(collect_samples=False).execute(
        pipe.score(pages), pipe.rules)
    engine = {}
    for rr in suite["results"]:
        for er in rr["results"]:
            if "result" not in er or er["kwargs"].get("column") is None:
                continue
            k = (rr["rule_name"], er["expectation_type"], er["kwargs"]["column"])
            engine[k] = {**er["result"], "success": er["success"]}

    for waves in (2, 1):
        stats = pipe.run(spark, pages, str(tmp_path / f"out{waves}"), run_id=f"m{waves}",
                         waves=waves)
        by_key = {}
        for m in stats["metrics"]:
            k = (m["rule_name"], m["expectation_type"], m["column"])
            agg = by_key.setdefault(k, {"unexpected": 0, "element": 0})
            agg["unexpected"] += m["unexpected_count"]
            agg["element"] += m["element_count"]
            if waves == 1:
                assert m["unexpected_percent"] == engine[k]["unexpected_percent"], k
                assert m["success"] == engine[k]["success"], k
        for k, er in engine.items():
            if k in by_key:
                assert by_key[k]["unexpected"] == er["unexpected_count"], k
                assert by_key[k]["element"] == er["element_count"], k


def test_scored_features_match_mirror_on_unicode_whitespace(spark):
    # non-breaking space / thin space / NEL split words like the mirror's
    # Unicode White_Space class
    texts = ["foo\u00a0bar\u2009baz", "a\u00a0b", "tab\there", "nl\u0085end", None]
    sdf = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i: long, text: string")
    got = with_text_scores(sdf).orderBy("i").toPandas()
    want = pandas_text_features(pd.Series(texts))
    for col in ("word_count", "mean_word_length", "alpha_word_ratio"):
        g, w = got[col].astype(float), want[col].astype(float)
        assert ((g.isna() & w.isna()) | (g == w)).all(), (col, g.tolist(), w.tolist())


def test_pipeline_empty_text_scores_are_null_not_nan(spark):
    # NaN from the scoring UDF must arrive as NULL so `between` masks treat
    # it like the pandas oracle (NaN passes value checks)
    sdf = spark.createDataFrame(
        [("u1", ""), ("u2", None), ("u3", "some real text here")],
        "url: string, text: string")
    from dataqualityassistant_spark.functions.scoring import with_text_scores
    row = {r["url"]: r for r in with_text_scores(sdf).collect()}
    assert row["u1"]["log_ppl"] is None          # empty text: NaN -> NULL
    assert row["u2"]["log_ppl"] is None
    assert row["u3"]["log_ppl"] is not None
    assert row["u1"]["top_2gram_char_frac"] is None


def test_resume_lineage_metrics_no_duplicates(spark, tmp_path):
    pages = pages_spark_df(spark, 200, partitions=4)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    lin, met = str(tmp_path / "lineage"), str(tmp_path / "metrics")
    pipe = QualityFilterPipeline(n_buckets=4)
    pipe.run(spark, pages, out, lineage_path=lin, metrics_path=met,
             checkpoint_path=ckpt, run_id="r", max_buckets=2)
    pipe.run(spark, pages, out, lineage_path=lin, metrics_path=met,
             checkpoint_path=ckpt, run_id="r")
    lineage = spark.read.parquet(lin)
    # exactly one lineage row per bucket across both runs
    assert lineage.count() == 4
    assert lineage.select("part_bucket").distinct().count() == 4
    assert lineage.agg(F.sum("rows")).collect()[0][0] == 200
    metrics = spark.read.parquet(met)
    n_exp = len(pipe._expectation_metric_masks())
    # one metrics row per (wave, expectation); 2 waves total, no dupes
    assert metrics.count() == 2 * n_exp
    assert metrics.select("wave").distinct().count() == 2


def test_checkpoint_stats_reconcile_with_lineage(spark, tmp_path):
    """Checkpoint records take rows/kept/watermark from the write's observe();
    on a crashed-then-resumed multi-wave run each wave's record must equal
    the lineage table's sums and max for that wave, and the totals must
    equal run()'s rows and every metric's element_count."""
    from dataqualityassistant_spark.streaming.checkpoint import CheckpointStore

    pages = pages_spark_df(spark, 400, partitions=4)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    lin, met = str(tmp_path / "lineage"), str(tmp_path / "metrics")
    pipe = QualityFilterPipeline(n_buckets=8)
    kw = dict(lineage_path=lin, metrics_path=met, checkpoint_path=ckpt, run_id="r")
    s1 = pipe.run(spark, pages, out, max_buckets=3, **kw)
    s2 = pipe.run(spark, pages, out, waves=2, **kw)

    records = CheckpointStore(ckpt).records("r")
    assert [r["wave"] for r in records] == [0, 1, 2]
    lineage = {
        r["wave"]: r for r in spark.read.parquet(lin).groupBy("wave").agg(
            F.sum("rows").alias("rows"), F.sum("kept").alias("kept"),
            F.max("watermark").alias("watermark")).collect()
    }
    for rec in records:
        got = lineage[rec["wave"]]
        assert rec["rows"] == got["rows"] and rec["kept"] == got["kept"], (rec, got)
        assert rec["watermark"] == got["watermark"].isoformat(), (rec, got)
    assert sum(r["rows"] for r in records) == s1["rows"] + s2["rows"] == 400
    rows_by_wave = {rec["wave"]: rec["rows"] for rec in records}
    metric_rows = spark.read.parquet(met).select("wave", "element_count").collect()
    assert {r["wave"] for r in metric_rows} == set(rows_by_wave)
    for m in metric_rows + s1["metrics"] + s2["metrics"]:
        assert m["element_count"] == rows_by_wave[m["wave"]], m
    kept = spark.read.parquet(out).agg(F.sum(F.col("verdict").cast("long"))).first()[0]
    assert sum(r["kept"] for r in records) == kept


def test_run_commits_empty_waves(spark, tmp_path):
    """A wave whose buckets hold no rows commits zero-count metrics rows and
    its checkpoint record (rows 0, kept 0, no watermark) and writes no
    lineage rows: an empty input, and a 3-row table spread over more waves
    than it has non-empty buckets, crashed halfway and then resumed."""
    from dataqualityassistant_spark.streaming.checkpoint import CheckpointStore

    pipe = QualityFilterPipeline(n_buckets=16)
    n_exp = len(pipe._expectation_metric_masks())

    def run(pages, name, **kw):
        d = {k: str(tmp_path / name / k) for k in ("out", "metrics", "lineage", "ckpt")}
        stats = pipe.run(spark, pages, d["out"], metrics_path=d["metrics"],
                         lineage_path=d["lineage"], checkpoint_path=d["ckpt"],
                         run_id="e", **kw)
        return stats, d

    s, d = run(spark.createDataFrame([], PAGES_SCHEMA), "empty")
    assert (s["rows"], s["buckets_processed"]) == (0, 16)
    records = CheckpointStore(d["ckpt"]).records("e")
    assert [(r["rows"], r["kept"], r["watermark"]) for r in records] == [(0, 0, None)]
    metrics = spark.read.parquet(d["metrics"]).collect()
    assert len(metrics) == n_exp
    assert all((m["element_count"], m["unexpected_count"], m["unexpected_percent"], m["success"])
               == (0, 0, 0.0, True) for m in metrics)
    assert not os.path.exists(d["lineage"])

    src = str(tmp_path / "three")
    spark.createDataFrame(pages_batch(0, 3), PAGES_SCHEMA).write.parquet(src)
    pages = spark.read.parquet(src)
    s1, d = run(pages, "sparse", waves=8, max_buckets=8)
    s2, _ = run(pages, "sparse", waves=8)
    assert s1["buckets_processed"] == s2["buckets_processed"] == 8
    records = CheckpointStore(d["ckpt"]).records("e")
    assert [r["wave"] for r in records] == list(range(16))
    assert sum(r["rows"] for r in records) == s1["rows"] + s2["rows"] == 3
    assert spark.read.parquet(d["out"]).count() == 3
    lineage = {
        r["wave"]: r for r in spark.read.parquet(d["lineage"]).groupBy("wave").agg(
            F.sum("rows").alias("rows"), F.sum("kept").alias("kept"),
            F.max("watermark").alias("watermark")).collect()
    }
    assert set(lineage) == {r["wave"] for r in records if r["rows"]}
    for rec in records:
        if rec["rows"]:
            got = lineage[rec["wave"]]
            assert (rec["rows"], rec["kept"], rec["watermark"]) == (
                got["rows"], got["kept"], got["watermark"].isoformat()), (rec, got)
        else:
            assert (rec["kept"], rec["watermark"]) == (0, None), rec
    rows_by_wave = {rec["wave"]: rec["rows"] for rec in records}
    metrics = spark.read.parquet(d["metrics"]).select("wave", "element_count").collect()
    assert len(metrics) == 16 * n_exp
    assert all(m["element_count"] == rows_by_wave[m["wave"]] for m in metrics)


def test_streaming_filter_exactly_once(spark, tmp_path):
    """readStream -> foreachBatch(score+write): drain with availableNow,
    then add more files and drain again — streaming checkpoint must process
    each input file exactly once (no reprocessing of batch 1's files)."""
    from dataqualityassistant_spark.streaming.stream_filter import start_stream
    from dataqualityassistant_spark.fixtures import pages_batch, PAGES_SCHEMA

    inp = str(tmp_path / "landing")
    out = str(tmp_path / "scored")
    ckpt = str(tmp_path / "stream_ckpt")

    spark.createDataFrame(pages_batch(0, 80), PAGES_SCHEMA).write.mode("append").parquet(inp)
    q = start_stream(spark, inp, out, ckpt, trigger_once=True)
    q.awaitTermination(120)
    first = spark.read.parquet(out).count()
    assert first == 80

    spark.createDataFrame(pages_batch(80, 120), PAGES_SCHEMA).write.mode("append").parquet(inp)
    q = start_stream(spark, inp, out, ckpt, trigger_once=True)
    q.awaitTermination(120)
    final = spark.read.parquet(out)
    assert final.count() == 120                       # 40 new rows, no dupes
    assert final.select("url").distinct().count() == 120
    assert {"verdict", "scrubbed_text", "batch_id"} <= set(final.columns)


def test_streaming_replayed_batch_is_idempotent(spark, tmp_path):
    """At-least-once delivery × idempotent sink = exactly-once output: calling
    the foreachBatch processor twice with the SAME batch_id (a replayed
    micro-batch after a crash-before-checkpoint-commit) must leave exactly
    one copy of the rows and metrics; a different batch_id appends."""
    from dataqualityassistant_spark.streaming.stream_filter import make_batch_processor

    out = str(tmp_path / "scored")
    met = str(tmp_path / "metrics")
    pipe = QualityFilterPipeline(n_buckets=4)
    process = make_batch_processor(pipe, out, metrics_path=met)

    batch0 = spark.createDataFrame(pages_batch(0, 60), PAGES_SCHEMA)
    process(batch0, 0)
    process(batch0, 0)  # replay of batch 0
    final = spark.read.parquet(out)
    assert final.count() == 60                       # no duplicates
    assert final.select("url").distinct().count() == 60
    n_exp = len(pipe._expectation_metric_masks())
    assert spark.read.parquet(met).count() == n_exp  # metrics not duplicated

    batch1 = spark.createDataFrame(pages_batch(60, 100), PAGES_SCHEMA)
    process(batch1, 1)                               # new batch appends
    assert spark.read.parquet(out).count() == 100
    assert spark.read.parquet(met).count() == 2 * n_exp

    # empty micro-batch (availableNow edge case): no output rows, and
    # zero-count metrics rows for its batch_id, as an empty wave commits
    empty = spark.createDataFrame([], PAGES_SCHEMA)
    process(empty, 2)
    assert spark.read.parquet(out).count() == 100
    empty_met = spark.read.parquet(met).where("batch_id = 2").collect()
    assert len(empty_met) == n_exp
    assert all(r["element_count"] == 0 and r["unexpected_count"] == 0 and r["success"]
               for r in empty_met)


def test_streaming_metrics_match_batch_run(spark, tmp_path):
    """The foreachBatch sink and a one-wave run() decode their observed
    metrics through the same helper: the same pages give the same
    per-expectation counts, percentages and verdicts in both tables."""
    from dataqualityassistant_spark.streaming.stream_filter import make_batch_processor

    pages = spark.createDataFrame(pages_batch(0, 60), PAGES_SCHEMA)
    pipe = QualityFilterPipeline(n_buckets=4)
    stream_met = str(tmp_path / "stream_metrics")
    make_batch_processor(pipe, str(tmp_path / "stream_out"), metrics_path=stream_met)(pages, 0)
    batch_met = str(tmp_path / "batch_metrics")
    pipe.run(spark, pages, str(tmp_path / "batch_out"), metrics_path=batch_met, run_id="m")

    cols = ["rule_name", "expectation_type", "column", "unexpected_count",
            "unexpected_percent", "success"]

    def decoded(path):
        return {tuple(r) for r in spark.read.parquet(path).select(*cols).collect()}

    batch = decoded(batch_met)
    assert len(batch) == len(pipe._expectation_metric_masks())
    assert decoded(stream_met) == batch

    # the micro-batch and the wave write the same output rows; the stream
    # adds only its batch_id partition (except is NaN- and null-safe)
    batch_out = spark.read.parquet(str(tmp_path / "batch_out"))
    stream_out = spark.read.parquet(str(tmp_path / "stream_out"))
    assert set(stream_out.columns) == set(batch_out.columns) | {"batch_id"}
    stream_out = stream_out.select(*batch_out.columns)
    assert stream_out.count() == batch_out.count() == 60
    assert stream_out.exceptAll(batch_out).isEmpty()
    assert batch_out.exceptAll(stream_out).isEmpty()


def test_metadata_table_schemas_are_pinned(spark, tmp_path):
    """The driver-written metrics, lineage and streaming metrics tables
    read back with the layout Spark's own writes gave them, on a resumed
    multi-wave run: sorted metric columns, bigint counts, an int bucket and
    a ``timestamp`` (never ``timestamp_ntz``) watermark."""
    from dataqualityassistant_spark.streaming.stream_filter import make_batch_processor

    pages = pages_spark_df(spark, 300, partitions=4)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    lin, met = str(tmp_path / "lineage"), str(tmp_path / "metrics")
    pipe = QualityFilterPipeline(n_buckets=6)
    kw = dict(lineage_path=lin, metrics_path=met, checkpoint_path=ckpt, run_id="r", waves=2)
    pipe.run(spark, pages, out, max_buckets=3, **kw)
    pipe.run(spark, pages, out, **kw)
    stream_met = str(tmp_path / "stream_metrics")
    process = make_batch_processor(pipe, str(tmp_path / "stream_out"), metrics_path=stream_met)
    process(pages, 0)
    process(pages, 1)

    metric_cols = ("column:string,element_count:bigint,expectation_type:string,"
                   "rule_name:string,{}success:boolean,unexpected_count:bigint,"
                   "unexpected_percent:double")
    assert spark.read.parquet(met).schema.simpleString() == (
        "struct<" + metric_cols.format("run_ts:string,") + ",run_id:string,wave:int>")
    assert spark.read.parquet(lin).schema.simpleString() == (
        "struct<part_bucket:int,rows:bigint,kept:bigint,watermark:timestamp,"
        "run_id:string,wave:int>")
    assert spark.read.parquet(stream_met).schema.simpleString() == (
        "struct<" + metric_cols.format("") + ",batch_id:int>")
    assert spark.read.parquet(lin).count() == 6
    assert spark.read.parquet(met).select("wave").distinct().count() == 4


_SCORED = ("url:string,warc_ts:timestamp,{}lang:string,n_chars:bigint,word_count:bigint,"
           "mean_word_length:double,stopword_ratio:double,symbol_word_ratio:double,"
           "alpha_word_ratio:double,n_lines:bigint,mean_line_length:double,"
           "max_line_length:bigint,bullet_line_frac:double,ellipsis_line_frac:double,"
           "dup_line_frac:double,top_2gram_char_frac:double,top_3gram_char_frac:double,"
           "dup_5gram_char_frac:double,detected_lang:string,langid_margin:double,"
           "log_ppl:double,failed_rules:array<string>,verdict:boolean,scrubbed_text:string,"
           "{}part_bucket:int")


def test_scored_schemas_are_pinned(spark, tmp_path):
    """``score()``, the ``run()`` output and the stream output keep their
    columns, types and order; the scrub guards the fused UDF computes for
    the scrub never reach them."""
    from dataqualityassistant_spark.streaming.stream_filter import make_batch_processor

    pages = pages_spark_df(spark, 40, partitions=2)
    pipe = QualityFilterPipeline(n_buckets=4)
    scored = pipe.score(pages)
    assert scored.schema.simpleString() == "struct<" + _SCORED.format("text:string,", "") + ">"
    pipe.run(spark, pages, str(tmp_path / "out"))
    assert spark.read.parquet(str(tmp_path / "out")).schema.simpleString() == (
        "struct<" + _SCORED.format("", "") + ">")
    make_batch_processor(pipe, str(tmp_path / "stream"))(pages, 0)
    assert spark.read.parquet(str(tmp_path / "stream")).schema.simpleString() == (
        "struct<" + _SCORED.format("", "batch_id:int,") + ">")


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_run_releases_the_wave_cache(spark, tmp_path):
    """run() persists each wave's shuffled frame for its lineage and
    releases it, also when the wave's write raises. The shared test session
    may hold other tests' persisted RDDs, so the check is that run() adds
    none."""
    from py4j.protocol import Py4JJavaError

    pages = pages_spark_df(spark, 200, partitions=4)
    pipe = QualityFilterPipeline(n_buckets=4)
    before = _persistent_rdds(spark)
    pipe.run(spark, pages, str(tmp_path / "out"), lineage_path=str(tmp_path / "lineage"),
             metrics_path=str(tmp_path / "metrics"), waves=2)
    assert _persistent_rdds(spark) == before
    blocked = tmp_path / "blocked"
    blocked.write_text("an existing file where the output directory should go")
    with pytest.raises(Py4JJavaError, match="not a directory"):
        pipe.run(spark, pages, str(blocked), lineage_path=str(tmp_path / "lineage2"))
    assert _persistent_rdds(spark) == before


def _data_files(path):
    return sorted(os.path.relpath(os.path.join(d, f), path)
                  for d, _, files in os.walk(path) for f in files
                  if not f.startswith((".", "_")))


def test_write_partition_replaces_the_partition(spark, tmp_path):
    """Writing one partition twice leaves one data file holding the second
    content; other partitions are untouched."""
    import pyarrow as pa

    from dataqualityassistant_spark.plans.quality_filter import write_partition

    path = str(tmp_path / "t")
    write_partition(spark, path, {"run_id": "r", "wave": 0}, pa.table({"x": [1, 2]}))
    write_partition(spark, path, {"run_id": "r", "wave": 1}, pa.table({"x": [7]}))
    write_partition(spark, path, {"run_id": "r", "wave": 0}, pa.table({"x": [3]}))
    files = _data_files(path)
    assert [os.path.dirname(f) for f in files] == ["run_id=r/wave=0", "run_id=r/wave=1"]
    got = {(r["wave"], r["x"]) for r in spark.read.parquet(path).collect()}
    assert got == {(0, 3), (1, 7)}


def test_staging_leftover_is_invisible_to_readers(spark, tmp_path):
    """A ``_staging-*`` file left by a crash mid-write is skipped by
    spark.read.parquet and by the report's metrics reader."""
    import pyarrow.parquet as pq

    from dataqualityassistant_spark.plans.quality_filter import metrics_table, write_partition
    from dataqualityassistant_spark.report import metrics_trend

    def rows(n, unexpected):
        return [{"run_id": "r", "run_ts": "2026-01-01", "wave": 0, "rule_name": "rule",
                 "expectation_type": "expect_column_values_to_not_be_null", "column": "text",
                 "element_count": n, "unexpected_count": unexpected,
                 "unexpected_percent": unexpected / n * 100, "success": True}]

    path = str(tmp_path / "metrics")
    write_partition(spark, path, {"run_id": "r", "wave": 0}, metrics_table(rows(10, 1)))
    want = [r.asDict() for r in metrics_trend(spark, path).collect()]
    pq.write_table(metrics_table(rows(1000, 999)),
                   str(tmp_path / "metrics" / "_staging-part-00000-crashed.zstd.parquet"))
    assert spark.read.parquet(path).count() == 1
    assert [r.asDict() for r in metrics_trend(spark, path).collect()] == want
    assert want[0]["element_count"] == 10


def test_output_drops_raw_text_by_default(spark, tmp_path):
    """The persisted output is the scrubbed corpus: raw `text` is scored but
    not written (the input table already holds it; duplicating doubles output
    volume at scale)."""
    pages = pages_spark_df(spark, 100, partitions=2)
    out = str(tmp_path / "out")
    QualityFilterPipeline(n_buckets=2).run(spark, pages, out, run_id="d")
    cols = set(spark.read.parquet(out).columns)
    assert "text" not in cols and {"scrubbed_text", "verdict", "url"} <= cols


def test_stateful_domain_stats_accumulate_across_batches(spark, tmp_path):
    """applyInPandasWithState: the per-domain running totals must persist in
    the streaming state store across separate drains (new files between
    availableNow triggers), and the latest changelog row per domain must
    equal the batch-mode domain_stats on the union of all input."""
    from dataqualityassistant_spark.streaming.stateful import start_domain_stats_stream

    inp, out, ckpt = (str(tmp_path / d) for d in ("landing", "stats", "ckpt"))
    pipe = QualityFilterPipeline()

    spark.createDataFrame(pages_batch(0, 120), PAGES_SCHEMA).write.mode("append").parquet(inp)
    q = start_domain_stats_stream(spark, inp, out, ckpt, pipeline=pipe, trigger_once=True)
    q.awaitTermination(120)

    spark.createDataFrame(pages_batch(120, 200), PAGES_SCHEMA).write.mode("append").parquet(inp)
    q = start_domain_stats_stream(spark, inp, out, ckpt, pipeline=pipe, trigger_once=True)
    q.awaitTermination(120)

    log = spark.read.parquet(out).toPandas()
    # unparseable URLs keep a NULL domain on BOTH sides now (stream ==
    # batch); normalize null to "" identically, purely for the merge key
    latest = (log.sort_values("batch_id")
              .groupby("domain", dropna=False).last().reset_index())
    latest["domain"] = latest["domain"].fillna("")

    pages = spark.createDataFrame(pages_batch(0, 200), PAGES_SCHEMA)
    want = pipe.domain_stats(pipe.score(pages)).toPandas()
    want["domain"] = want["domain"].fillna("")
    merged = latest.merge(want, on="domain", suffixes=("_stream", "_batch"))
    assert len(merged) == len(want)
    assert (merged["rows_stream"] == merged["rows_batch"]).all()
    assert (merged["kept_stream"] == merged["kept_batch"]).all()
    assert int(latest["rows"].sum()) == 200  # state accumulated, not reset


def test_stateful_idle_timeout_evicts_drained_domain(spark, tmp_path):
    """idle_timeout_ms bounds state for domains never seen again: after the
    timer expires, the next processed micro-batch emits one final
    evicted=True changelog row carrying the domain's last totals and removes
    its state, so a later reappearance restarts from zero.

    Runs domain_running_stats directly on pre-scored rows. availableNow +
    processing-time timers never self-terminates (Spark keeps ticking empty
    micro-batches to service future timers), so the test polls the changelog
    for the expected rows and stops the query explicitly."""
    import time

    from pyspark.sql import functions as SF_
    from dataqualityassistant_spark.streaming.stateful import domain_running_stats

    inp, out, ckpt = (str(tmp_path / d) for d in ("landing", "stats", "ckpt"))
    schema = "url string, verdict boolean"

    def rows(domain, start, n):
        return [(f"https://{domain}/p/{i:06d}", True) for i in range(start, start + n)]

    def start_query():
        stream = spark.readStream.schema(schema).parquet(inp)
        updates = domain_running_stats(stream, idle_timeout_ms=2000)

        def sink(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            (batch_df.withColumn("batch_id", SF_.lit(batch_id)).coalesce(1)
             .write.mode("append").parquet(out))

        return (updates.writeStream.outputMode("update").foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start())

    def poll_until(predicate, q, seconds=90):
        deadline = time.time() + seconds
        while time.time() < deadline:
            try:
                log = spark.read.parquet(out).toPandas()
            except Exception:
                log = None
            if log is not None and predicate(log):
                return log
            time.sleep(1)
        q.stop()
        raise AssertionError("condition not reached within the poll window")

    # run 1: both domains get data, then (no further files) both time out
    spark.createDataFrame(rows("a.example", 0, 5) + rows("b.example", 0, 3),
                          schema).write.mode("append").parquet(inp)
    q = start_query()
    log = poll_until(lambda l: l["evicted"].sum() >= 2, q)
    q.stop()
    a = log[log["domain"] == "a.example"].sort_values("batch_id")
    b = log[log["domain"] == "b.example"].sort_values("batch_id")
    # eviction rows carry the FINAL totals, after the normal data rows
    assert list(a["rows"]) == [5, 5] and list(a["evicted"]) == [False, True], a
    assert list(b["rows"]) == [3, 3] and list(b["evicted"]) == [False, True], b

    # run 2 (same checkpoint): b returns — its state was removed, so totals
    # restart from zero instead of resuming at 3
    n_rows_run1 = len(log)
    spark.createDataFrame(rows("b.example", 100, 4), schema) \
        .write.mode("append").parquet(inp)
    q = start_query()
    log = poll_until(lambda l: len(l) > n_rows_run1, q)
    q.stop()
    b2 = log[log["domain"] == "b.example"].sort_values("batch_id").iloc[-1]
    assert b2["rows"] == 4 and not b2["evicted"], log


def test_html_extraction_byte_parity(spark):
    """JVM html→text chain vs Python re on adversarial html: nested/unclosed
    tags, scripts/styles with angle brackets inside, entities (incl. the
    &amp;lt; double-encode trap), unicode, invalid UTF-8 bytes, null."""
    from dataqualityassistant_spark.functions.html_text import (
        html_to_text_column, html_to_text_python)

    samples = [
        b"<html><body>plain prose here</body></html>",
        b"<SCRIPT>var x = '<div>' < 3;</SCRIPT>visible<style a=b>h1 {x}</style>",
        b"<!-- c --><p>a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</p>",
        b"&amp;lt; stays as &lt; literal",
        "café <b>naïve</b> 中文".encode(),
        b"broken <unclosed and > stray < solo",
        b"ws\t\n  collapse\xc2\xa0nbsp-byte",
        b"invalid \xff\xfe bytes",
        # truncated pages: unterminated script/style must NOT leak the block
        # body as visible text (stripped to end-of-input)
        b"before <script>var leaked = 'should not appear'",
        b"before <style type=text/css>body { hidden: true }",
        b"<script>closed()</script> kept <script>trunc",
        b"",
        None,
    ]
    sdf = spark.createDataFrame([(i, s) for i, s in enumerate(samples)], "i: long, html: binary")
    got = (sdf.select("i", html_to_text_column("html").alias("t"))
           .orderBy("i").toPandas()["t"].tolist())
    want = [html_to_text_python(s) for s in samples]
    for i, (g, w) in enumerate(zip(got, want)):
        assert g == w, f"row {i}: {samples[i]!r}\n jvm={g!r}\n  py={w!r}"
    # not just parity: the truncated blocks' bodies must actually be gone
    assert "leaked" not in want[-5] and want[-5] == "before"
    assert "hidden" not in want[-4] and want[-4] == "before"
    assert want[-3] == "kept"


def test_pipeline_extracts_text_from_html_when_missing(spark):
    from dataqualityassistant_spark.functions.html_text import (
        html_to_text_column,
        html_to_text_python,
    )

    rows = [
        ("https://a.example/x", None, b"<html><body>Recovered body text that is "
         b"long enough to score like a document.</body></html>", None, "en"),
        ("https://a.example/y", None, b"<p>second &amp; done</p>", "given text wins", "en"),
    ]
    pdf = spark.createDataFrame(
        [(u, None, bytearray(h), t, l) for u, _, h, t, l in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    # the pre-stage is the caller's: fill missing text from the html payload
    filled = pdf.withColumn("text", F.coalesce("text", html_to_text_column("html")))
    got = {r["url"]: r for r in QualityFilterPipeline().score(filled)
           .select("url", "scrubbed_text", "n_chars").collect()}
    extracted = html_to_text_python(rows[0][2])
    assert got["https://a.example/x"]["n_chars"] == len(extracted)
    assert got["https://a.example/y"]["scrubbed_text"] == "given text wins"
    # without the pre-stage, missing text stays missing
    got_off = {r["url"]: r for r in QualityFilterPipeline().score(pdf).select("url", "n_chars").collect()}
    assert got_off["https://a.example/x"]["n_chars"] is None


def test_pipeline_optin_sampling_and_canonical_urls(spark):
    from dataqualityassistant_spark.fixtures import pages_spark_df
    from dataqualityassistant_spark.ops.sampling import stratified_hash_sample
    from dataqualityassistant_spark.ops.urltools import canonicalize_url
    from dataqualityassistant_spark.plans.quality_filter import QualityFilterPipeline
    from pyspark.sql import functions as F

    def pre_stages(df):
        # canonical urls first, so sampling and bucketing key on them
        df = df.withColumn("url", canonicalize_url("url"))
        return stratified_hash_sample(df, {"en": 0.5}, strata_col="lang",
                                      default_fraction=0.1, key_expr=F.col("url"))

    pages = pages_spark_df(spark, 2000)
    pipe = QualityFilterPipeline()
    full = pipe.score(pages)
    sampled = pipe.score(pre_stages(pages))
    n_full, n_sampled = full.count(), sampled.count()
    assert 0 < n_sampled < n_full
    # deterministic: a second plan over the same input keeps the exact rows
    again = {r["url"] for r in pipe.score(pre_stages(pages)).select("url").collect()}
    assert {r["url"] for r in sampled.select("url").collect()} == again
    # canonicalization really ran: no uppercase scheme/host, no utm params
    assert sampled.where(F.col("url").rlike("^HTTPS|utm_")).count() == 0
    # score() is purely row-level, and sampling/canonicalization must ride
    # the scan: NO exchange anywhere in the whole scored plan
    plan = sampled._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_stateful_stream_rejects_trigger_once_with_idle_timeout(spark, tmp_path):
    """availableNow + processing-time timers never self-terminates (Spark
    ticks empty batches forever to service timers) — the combination must
    be rejected up front instead of wedging awaitTermination."""
    from dataqualityassistant_spark.streaming.stateful import start_domain_stats_stream

    with pytest.raises(ValueError, match="idle_timeout_ms"):
        start_domain_stats_stream(
            spark, str(tmp_path / "in"), str(tmp_path / "out"),
            str(tmp_path / "ckpt"), trigger_once=True, idle_timeout_ms=1000)


def test_feature_parity_on_control_and_unicode_whitespace(spark):
    """JVM (?U)\\s == Unicode White_Space; Python \\s additionally matches
    \\x1c-\\x1f. The mirror uses the exact Java set (PY_WS_RE), so CRLF,
    NBSP, NEL, and C0-separator text must produce identical features in the
    scoring UDF and the mirror — these are exactly the inputs the fixture
    corpus lacks."""
    from dataqualityassistant_spark.functions.html_text import (
        html_to_text_column,
        html_to_text_python,
    )

    texts = [
        "hello world\r\nsecond line\r\n",     # CRLF: \r must trim from lines
        "one\n\r\ntwo",                        # '\r'-only line is empty
        "x\n\xa0\ny",                          # NBSP-only line is empty
        "a\x1cb word",                         # C0 FS: NOT whitespace (Java)
        "pad ded words",             # unicode spaces split words
        "tab\tand\x85nel",                     # NEL splits on both sides
        " \x1c lead\x1d trail \x1e ",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text: string")
    got = with_text_scores(df).toPandas()
    want = pandas_text_features(pd.Series(texts))
    for col in FEATURE_COLUMNS:
        g = got[col].astype(float)
        w = want[col].astype(float).reset_index(drop=True)
        ok = ((g.isna() & w.isna()) | (g == w)).all()
        assert ok, f"{col}: spark={list(g)} mirror={list(w)}"
    # html collapse byte parity on the same adversarial set
    hdf = spark.createDataFrame([(t.encode(),) for t in texts], "html: binary")
    hg = [r[0] for r in hdf.select(html_to_text_column("html")).collect()]
    hw = [html_to_text_python(t.encode()) for t in texts]
    assert hg == hw, list(zip(hg, hw))
