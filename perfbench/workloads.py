"""The workloads. Both run the quality-filter pipeline over one generated
crawl, drive only public entry points, rebuild every DataFrame per
operation (collecting one DataFrame object twice reuses its shuffle
outputs) and check every operation's output.

- ``filter_crawl``: ``QualityFilterPipeline().run()`` — the fused scoring UDF,
  the JVM rules/scrub projection and the partitioned write and commit.
- ``filter_score``: ``score()`` into the ``noop`` sink — the same scoring
  path without the commit.

The traced ``filter_score`` run also splits the two stages beside the
filter in a crawl pipeline, which are too unsteady to be workloads
(README.md): validating the pages with a rule suite, and MinHash
near-duplicate removal.

An operation returns its wall time and a list of failed checks. The traced
round of a workload times cumulative prefixes of its operation into the
``noop`` sink, so a layer's time is the difference of two prefixes.
"""

from __future__ import annotations

import math
import shutil
import time
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from perfbench.harness import (
    jvm_pid,
    median,
    noop,
    pages_input,
    parquet_bytes,
    parquet_files,
    python_workers,
    use_worker_pool,
)

# the largest generated table whose runs fit the benchmark's time budget;
# at this size the fused UDF and rules/scrub are over half of filter_crawl
# and most of filter_score (README.md, "Expected interplay")
PAGES = 12000
# every SUBSET_STRIDE-th page is checked against the pandas oracle and
# timed through the serial kernels
SUBSET_STRIDE = 20
# suite calls before and during the timing of one call
SUITE_WARMUP_CALLS = 3
SUITE_CALLS = 5
# near-duplicate removal runs over the pages with the lowest ids
DEDUP_PAGES = 750


def _identity_udf():
    """An Arrow round trip of ``text`` with no work inside: the cost of the
    Python UDF boundary alone."""

    @pandas_udf(T.StringType())
    def identity(texts: pd.Series) -> pd.Series:
        return texts

    return identity


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _serial_us_per_doc(fn, docs: list, repeats: int = 3) -> tuple[float, object]:
    """Median µs per doc of ``fn(docs)`` over ``repeats`` calls."""
    times, out = [], None
    for _ in range(repeats):
        t, out = _timed(lambda: fn(docs))
        times.append(t)
    return median(times) / max(len(docs), 1) * 1e6, out


def _same_float(a, b) -> bool:
    a_missing = a is None or (isinstance(a, float) and math.isnan(a))
    b_missing = b is None or (isinstance(b, float) and math.isnan(b))
    return (a_missing and b_missing) or a == b


def _doc_id(url):
    return F.substring_index(url, "/", -1).cast("long")


class FilterCrawl:
    """The product's main path: score, filter, scrub and write a crawl."""

    name = "filter_crawl"
    # full-size operations before timing (README.md, "Noise"), and the
    # fewest operations a run measures
    warmup_ops = 3
    min_ops = 2
    # cumulative prefixes of the operation, and the layer the operation
    # adds after the last one
    PREFIXES = ("functions.arrow", "functions.scores", "functions.rules_scrub")
    LAST_LAYER = "plans.commit_s"

    def __init__(self, spark, run_dir: Path, seed: int):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.out_ratios: list[float] = []

    def prepare(self) -> None:
        """Untimed: generate or reuse the input and compute the oracle."""
        from dataqualityassistant_spark.plans.quality_filter import default_webtext_rules
        from dataqualityassistant_spark.webtext_oracle import oracle_score_pages

        self.input = pages_input(self.spark, PAGES, self.seed)
        self.in_bytes = parquet_bytes(self.input)
        self.table = pq.read_table(self.input, columns=["url", "text", "lang"]).to_pandas()
        self.n_docs = len(self.table)
        self.subset = self.table.iloc[::SUBSET_STRIDE].reset_index(drop=True)
        oracle = oracle_score_pages(self.subset, default_webtext_rules())
        self.expected = {
            r.url: (bool(r.verdict), r.scrubbed_text, r.detected_lang, r.log_ppl)
            for r in oracle.itertuples()
        }

    def pages(self):
        return self.spark.read.parquet(str(self.input))

    def _run(self, i: int):
        from dataqualityassistant_spark.plans.quality_filter import QualityFilterPipeline

        d = self.run_dir / f"crawl-{i}"
        shutil.rmtree(d, ignore_errors=True)
        pages = self.pages()
        t, res = _timed(lambda: QualityFilterPipeline().run(
            self.spark, pages, str(d / "out"),
            metrics_path=str(d / "metrics"), lineage_path=str(d / "lineage"),
            checkpoint_path=str(d / "checkpoint"), run_id="perfbench"))
        return t, res, d

    def _check(self, res: dict, d: Path) -> list[str]:
        out = self.spark.read.parquet(str(d / "out"))
        n_out = out.count()
        lineage_rows = (self.spark.read.parquet(str(d / "lineage"))
                        .agg(F.sum("rows")).first()[0])
        elements = {m["element_count"] for m in res["metrics"]}
        errors = self._oracle_errors(out)
        if not (n_out == self.n_docs == res["rows"] == lineage_rows) or elements != {self.n_docs}:
            errors.append(f"row counts differ: input {self.n_docs}, output {n_out}, "
                          f"run() {res['rows']}, lineage {lineage_rows}, "
                          f"metrics element_count {sorted(elements)}")
        self.out_ratios.append(parquet_bytes(d / "out") / self.in_bytes)
        return errors

    def _oracle_errors(self, scored) -> list[str]:
        """Scored rows of the oracle subset that differ from the oracle."""
        got = {
            r["url"]: (r["verdict"], r["scrubbed_text"], r["detected_lang"], r["log_ppl"])
            for r in scored.where(F.col("url").isin(list(self.expected)))
            .select("url", "verdict", "scrubbed_text", "detected_lang", "log_ppl").collect()
        }
        bad = [u for u, want in self.expected.items()
               if u not in got or got[u][:3] != want[:3]
               or not _same_float(got[u][3], want[3])]
        if bad:
            return [f"{len(bad)} of {len(self.expected)} oracle pages differ, e.g. {bad[0]}"]
        return []

    def op(self, i: int, check: bool = True) -> tuple[float, list[str]]:
        """Run operation ``i``; returns its wall time and the failed output
        checks (none when ``check`` is off, as in the warm-up)."""
        t, res, d = self._run(i)
        errors = self._check(res, d) if check else []
        shutil.rmtree(d, ignore_errors=True)
        return t, errors

    def _prefixes(self, stats, tracer) -> dict:
        from dataqualityassistant_spark.functions.scoring import with_text_scores
        from dataqualityassistant_spark.plans.quality_filter import QualityFilterPipeline

        with tracer.span("sources.scan"), stats.group("scan") as st:
            t, _ = _timed(lambda: noop(self.pages().drop("html")))
        out = {"sources.scan_s": t, "sources.scan_tasks": st["max_stage_tasks"]}
        identity = _identity_udf()
        prefix_frames = {
            "functions.arrow": lambda p: p.withColumn("text", identity("text")),
            "functions.scores": with_text_scores,
            "functions.rules_scrub": lambda p: QualityFilterPipeline().score(p),
        }
        for name in self.PREFIXES:
            with tracer.span(name + "_prefix"):
                out[name + "_s"], _ = _timed(
                    lambda: noop(prefix_frames[name](self.pages().drop("html"))))
        return out

    def trace_round(self, stats, tracer, i: int) -> dict:
        """One pass over the cumulative prefixes and one traced operation;
        returns layer samples."""
        out = self._prefixes(stats, tracer)
        with tracer.span("plans.run"), stats.group("run") as st:
            t, res, d = self._run(i)
        files = parquet_files(d / "out")
        errors = self._check(res, d)
        shutil.rmtree(d, ignore_errors=True)
        return {
            **out, "run_s": t, "errors": errors,
            "plans.spark_jobs": st["jobs"], "plans.output_files": files,
            "plans.shuffle_write_mb": st["shuffle_write_mb"],
            "spark.gc_s": st["gc_s"], "spark.task_wait_s": st["task_wait_s"],
        }

    def layers(self, rounds: list[dict]) -> dict:
        """Layer times as differences of the median cumulative prefixes;
        they telescope to the median traced operation."""
        m = {k: median([r[k] for r in rounds]) for k in rounds[0] if k != "errors"}
        chain = ["sources.scan_s"] + [p + "_s" for p in self.PREFIXES] + ["run_s"]
        out = {k: v for k, v in m.items() if k not in chain[1:]}
        for prev, cur in zip(chain, chain[1:]):
            out[self.LAST_LAYER if cur == "run_s" else cur] = m[cur] - m[prev]
        return out

    def trace_once(self, stats, tracer) -> tuple[dict, list[str]]:
        """Layers measured once per traced run beyond the rounds, and the
        failed checks: the serial scoring kernels on the oracle subset, each
        batch kernel checked against its scalar form."""
        from dataqualityassistant_spark.functions.langid import classify_batch, classify_text
        from dataqualityassistant_spark.functions.perplexity import (
            log_perplexity,
            log_perplexity_batch,
        )
        from dataqualityassistant_spark.functions.text_features import pandas_text_features

        texts = list(self.subset["text"])
        feats_us, _ = _serial_us_per_doc(lambda d: pandas_text_features(pd.Series(d)), texts)
        lang_us, langs = _serial_us_per_doc(classify_batch, texts)
        ppl_us, ppls = _serial_us_per_doc(log_perplexity_batch, texts)
        errors = []
        if list(langs) != [classify_text(t) for t in texts]:
            errors.append("classify_batch differs from classify_text")
        if not all(_same_float(a, log_perplexity(t)) for a, t in zip(ppls, texts)):
            errors.append("log_perplexity_batch differs from log_perplexity")
        return {"functions.features_us_per_doc": feats_us,
                "functions.langid_us_per_doc": lang_us,
                "functions.perplexity_us_per_doc": ppl_us}, errors

    def summary(self) -> dict:
        """Figures of the whole run beyond docs/s."""
        return {"plans.out_bytes_per_in_byte": median(self.out_ratios)}


class FilterScore(FilterCrawl):
    """The pipeline's compute path, ``QualityFilterPipeline().score()`` into
    the ``noop`` sink: scan, fused scoring UDF and rules/scrub without the
    commit. A commit change should show no change here."""

    name = "filter_score"
    warmup_ops = 4
    PREFIXES = ("functions.arrow", "functions.scores")
    LAST_LAYER = "functions.rules_scrub_s"

    def op(self, i: int, check: bool = True) -> tuple[float, list[str]]:
        from pyspark.sql import Observation

        from dataqualityassistant_spark.plans.quality_filter import QualityFilterPipeline

        obs = Observation(f"score-{i}")
        scored = QualityFilterPipeline().score(self.pages()).observe(
            obs, F.count(F.lit(1)).alias("rows"))
        t, _ = _timed(lambda: noop(scored))
        if not check:
            return t, []
        errors = self._oracle_errors(QualityFilterPipeline().score(self.pages()))
        if obs.get["rows"] != self.n_docs:
            errors.append(f"scored rows {obs.get['rows']} != input {self.n_docs}")
        return t, errors

    def trace_round(self, stats, tracer, i: int) -> dict:
        out = self._prefixes(stats, tracer)
        with tracer.span("functions.score"), stats.group("score") as st:
            t, errors = self.op(i)
        return {**out, "run_s": t, "errors": errors,
                "spark.gc_s": st["gc_s"], "spark.task_wait_s": st["task_wait_s"]}

    def trace_once(self, stats, tracer) -> tuple[dict, list[str]]:
        """The serial kernels, then the suite and near-duplicate stages."""
        layers, errors = super().trace_once(stats, tracer)
        for stage in (suite_layers, dedup_layers):
            with tracer.span(stage.__name__):
                more, more_errors = stage(self, stats, tracer)
            layers.update(more)
            errors += more_errors
        return layers, errors

    def summary(self) -> dict:
        return {}


# ---------------------------------------------- stages beside the filter

def suite_rules():
    """A fixed multi-rule suite over the pages. The ``lang`` set leaves out
    the mislabelled ``zz`` rows and the length floor catches short pages, so
    two expectations fail and their sample jobs run."""
    from dataqualityassistant_spark.rules import Rule

    return [
        Rule(id=1, name="presence", rule_config=[
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "text", "mostly": 0.95}},
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "url"}},
        ]),
        Rule(id=2, name="labels", rule_config=[
            {"expectation_type": "expect_column_values_to_be_in_set",
             "kwargs": {"column": "lang", "value_set": ["en", "de", "fr", "es"]}},
        ]),
        Rule(id=3, name="identity", rule_config=[
            {"expectation_type": "expect_column_values_to_be_unique",
             "kwargs": {"column": "url"}},
            {"expectation_type": "expect_column_values_to_match_regex",
             "kwargs": {"column": "url",
                        "regex": r"^https://site[0-9]{2}\.example\.(com|org|net)/p/[0-9]{10}$"}},
        ]),
        Rule(id=4, name="length", rule_config=[
            {"expectation_type": "expect_column_value_lengths_to_be_between",
             "kwargs": {"column": "text", "min_value": 200, "max_value": 200000,
                        "mostly": 0.95}},
        ]),
    ]


def suite_layers(wl: FilterCrawl, stats, tracer) -> tuple[dict, list[str]]:
    """A request/response validation call, ``run_suite`` with samples over
    the pages: after warm-up calls, the median of whole calls and the
    split into compile, the fused aggregate and the sample jobs. Every
    call's ``unexpected_count`` must equal ``oracle.oracle_expectation`` on
    the same pandas table."""
    from dataqualityassistant_spark.operators.engine import SuiteEngine, run_suite
    from dataqualityassistant_spark.oracle import oracle_expectation

    rules = suite_rules()
    expected = [
        [oracle_expectation(wl.table, e.expectation_type, e.kwargs)["unexpected_count"]
         for e in rule.expectations]
        for rule in rules
    ]
    if not any(c for counts in expected for c in counts):
        raise RuntimeError("suite has no failing expectation: samples would not run")

    def call(samples: bool = True) -> tuple[float, list[str]]:
        df = wl.pages()
        t, res = _timed(lambda: run_suite(df, rules, table_name="pages",
                                          collect_samples=samples))
        got = [[e.get("result", {}).get("unexpected_count") for e in r["results"]]
               for r in res["results"]]
        totals = {r["statistics"]["total_rows"] for r in res["results"]}
        errors = []
        if got != expected:
            errors.append(f"unexpected_count {got} != oracle {expected}")
        if totals != {wl.n_docs}:
            errors.append(f"total_rows {sorted(totals)} != {wl.n_docs}")
        if samples and any(e["result"]["unexpected_count"] and not e["sample_rows"]
                           for r in res["results"] for e in r["results"] if "result" in e):
            errors.append("a failing expectation has no sample rows")
        return t, errors

    for _ in range(SUITE_WARMUP_CALLS):
        call()
    times, errors = [], []
    for _ in range(SUITE_CALLS):
        t, errs = call()
        times.append(t)
        errors += errs
    engine = SuiteEngine()
    with tracer.span("operators.compile"):
        t_compile, compiled = _timed(lambda: engine.compile_rules(rules))
    df = wl.pages()
    with tracer.span("operators.agg"):
        t_agg, _ = _timed(lambda: engine.agg_frame(df, compiled).collect())
    with tracer.span("operators.execute_no_samples"):
        t_plain, errs = call(samples=False)
    with tracer.span("operators.execute"), stats.group("suite") as st:
        t_full, errs_full = call()
    return {
        "operators.suite_p50_s": median(times),
        "operators.compile_ms": t_compile * 1e3, "operators.agg_s": t_agg,
        "operators.samples_s": t_full - t_plain, "operators.spark_jobs": st["jobs"],
    }, errors + errs + errs_full


def dedup_layers(wl: FilterCrawl, stats, tracer) -> tuple[dict, list[str]]:
    """MinHash near-duplicate removal over the non-null texts of the first
    ``DEDUP_PAGES`` pages, split into signatures, candidate pairs and
    clusters after one untimed operation. Its Arrow UDF runs in a pool of
    Python workers of its own, whose peak memory is reported apart from the
    scoring UDF's. Survivors plus removed rows must equal the input, the
    survivor count must repeat, and the Spark signatures must equal
    ``minhash_signature_batch``."""
    from dataqualityassistant_spark.ops.dedup import (
        dedup_clusters,
        drop_near_duplicates,
        minhash_candidate_pairs,
        minhash_signature_batch,
        minhash_signatures,
    )

    def texts():
        return (wl.pages().where(F.col("text").isNotNull() & (_doc_id("url") < DEDUP_PAGES))
                .select(_doc_id("url").alias("doc_id"), "text"))

    def pairs_of(df):
        return minhash_candidate_pairs(minhash_signatures(df), n_hashes=128, materialize=True)

    def run():
        df = texts()
        pairs = pairs_of(df)
        return pairs, drop_near_duplicates(df, pairs).count()

    ids = wl.table["url"].str.rsplit("/", n=1).str[1].astype(int)
    sample = wl.table[wl.table["text"].notna() & (ids < DEDUP_PAGES)]
    sample_ids = [int(u.rsplit("/", 1)[1]) for u in sample["url"]]

    pid = jvm_pid(wl.spark)
    old_workers = set(python_workers(pid))
    use_worker_pool(wl.spark, "dedup")
    _, n_first = run()
    with tracer.span("dedup.signatures_prefix"):
        t_sig, _ = _timed(lambda: noop(minhash_signatures(texts())))
    with tracer.span("dedup.pairs_prefix"):
        t_pairs, pairs = _timed(lambda: pairs_of(texts()))
    with tracer.span("dedup.run"), stats.group("dedup") as st:
        t_full, (pairs_full, n_surv) = _timed(run)
    removed = (dedup_clusters(pairs_full).where(F.col("doc_id") != F.col("cluster_id"))
               .count())
    got = {r["doc_id"]: r["signature"] and list(r["signature"]) for r in
           minhash_signatures(texts()).collect()}
    worker_kib = [kib for p, kib in python_workers(pid).items() if p not in old_workers]

    us, sigs = _serial_us_per_doc(minhash_signature_batch, list(sample["text"]))
    errors = []
    if n_surv + removed != len(sample):
        errors.append(f"dedup: survivors {n_surv} + removed {removed} != input {len(sample)}")
    if n_surv != n_first:
        errors.append(f"dedup: survivor count {n_surv} != {n_first} before")
    # texts shorter than one shingle have no signature (None)
    if [got.get(i) for i in sample_ids] != sigs:
        errors.append("Spark minhash signatures differ from minhash_signature_batch")
    return {
        "dedup.signatures_s": t_sig, "dedup.pairs_s": t_pairs - t_sig,
        "dedup.clusters_s": t_full - t_pairs, "dedup.candidate_pairs": pairs.count(),
        "dedup.survivors": n_surv, "dedup.shuffle_write_mb": st["shuffle_write_mb"],
        "dedup.minhash_us_per_doc": us,
        "dedup.worker_peak_rss_mb": max(worker_kib, default=0) / 1024,
    }, errors


WORKLOADS = {w.name: w for w in (FilterCrawl, FilterScore)}
