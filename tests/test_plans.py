"""Plan-shape regression tests: the physical plans that make this engine
hold up at 100 TB. If one of these starts failing after a refactor, the
change probably reintroduced a scan, a shuffle, or a pruning regression."""

import io
import contextlib
import re

import pytest
from pyspark.sql import functions as F

from dataqualityassistant_spark import Rule
from dataqualityassistant_spark.operators.engine import SuiteEngine
from dataqualityassistant_spark.plans.quality_filter import QualityFilterPipeline, shuffle_to_buckets
from dataqualityassistant_spark.fixtures import pages_batch, pages_spark_df, PAGES_SCHEMA
from dataqualityassistant_spark.session import shuffle_parallelism

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def tree_of(df) -> str:
    """Just the operator tree (formatted explain repeats nodes in the
    detail section, which would double every count)."""
    return plan_of(df).split("\n\n")[0]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_suite_agg_is_one_scan_one_aggregate(spark, docs):
    rules = [
        Rule(id=1, name="a", rule_config=[
            {"expectation_type": "expect_column_values_to_not_be_null", "kwargs": {"column": "text"}},
            {"expectation_type": "expect_column_values_to_be_in_set",
             "kwargs": {"column": "lang", "value_set": ["en"]}},
            {"expectation_type": "expect_column_values_to_be_between",
             "kwargs": {"column": "n_chars", "min_value": 1, "max_value": 10**6}},
            {"expectation_type": "expect_column_values_to_match_regex",
             "kwargs": {"column": "source", "regex": "src"}},
        ]),
    ]
    eng = SuiteEngine()
    frame = eng.agg_frame(docs, eng.compile_rules(rules))
    tree = tree_of(frame)
    assert tree.count("Scan parquet") == 1  # four expectations, ONE scan
    # partial + final hash aggregate, nothing else between scan and result
    assert tree.count("HashAggregate") == 2
    # scan pruned to exactly the referenced columns
    read = [l for l in plan_of(frame).splitlines() if "ReadSchema" in l][0]
    for col in ("text", "lang", "n_chars", "source"):
        assert col in read
    assert "doc_id" not in read


def test_suite_agg_with_uniqueness_stays_one_scan(spark, docs):
    rules = [Rule(id=1, name="u", rule_config=[
        {"expectation_type": "expect_column_values_to_be_unique", "kwargs": {"column": "doc_id"}},
        {"expectation_type": "expect_column_values_to_not_be_null", "kwargs": {"column": "text"}},
    ])]
    eng = SuiteEngine()
    tree = tree_of(eng.agg_frame(docs, eng.compile_rules(rules)))
    assert tree.count("Scan parquet") == 1  # count_distinct rides the same scan


def test_pipeline_score_has_no_shuffle_and_prunes_html(spark):
    pdf = pages_batch(0, 50)
    # write/read parquet so scan pruning is observable
    import tempfile, os
    d = tempfile.mkdtemp()
    spark.createDataFrame(pdf, PAGES_SCHEMA).write.mode("overwrite").parquet(f"{d}/p")
    pages = spark.read.parquet(f"{d}/p")
    plan = plan_of(QualityFilterPipeline().score(pages))
    assert "Exchange" not in plan  # scan → project → UDF stage: NO shuffle
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "html" not in read  # binary payload never read


@pytest.mark.parametrize("n_buckets", [8, 16])
def test_pipeline_write_is_one_task_per_core_one_file_per_bucket(spark, tmp_path, n_buckets):
    """The commit shuffles a wave's buckets into min(len(buckets),
    shuffle_parallelism) write tasks, not one task per bucket, and every
    part_bucket= directory still holds exactly one parquet file."""
    import os

    pages = pages_spark_df(spark, 400, partitions=4)
    n = min(n_buckets, shuffle_parallelism(pages))
    out = tmp_path / "out"
    sc = spark.sparkContext
    sc.setJobGroup("write-shape", "pipeline run")
    try:
        QualityFilterPipeline(n_buckets=n_buckets).run(spark, pages, str(out))
        st = sc.statusTracker()
        stage_tasks = [st.getStageInfo(s).numTasks
                       for j in st.getJobIdsForGroup("write-shape")
                       for s in st.getJobInfo(j).stageIds]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the scan stage has 4 tasks; the write stage after the exchange has n
    assert max(stage_tasks) == n, stage_tasks
    for b in range(n_buckets):
        files = [f for f in os.listdir(out / f"part_bucket={b}") if f.endswith(".parquet")]
        assert len(files) == 1, (b, files)


def test_strided_wave_fills_every_write_task(spark):
    """A resumed or multi-wave run commits a strided bucket subset; placing
    by the bucket's index in the wave (not part_bucket mod n) puts rows in
    every write task and each bucket in exactly one."""
    pipe = QualityFilterPipeline(n_buckets=8)
    scored = pipe.score(pages_spark_df(spark, 400, partitions=4))
    for buckets in ([0, 2, 4, 6], [1, 3, 5, 7], [2, 4, 6], list(range(8))):
        wave = scored.filter(F.col("part_bucket").isin(buckets))
        placed = (shuffle_to_buckets(wave, buckets)
                  .select(F.spark_partition_id().alias("pid"), "part_bucket")
                  .distinct().collect())
        n = min(len(buckets), shuffle_parallelism(scored))
        assert {r["pid"] for r in placed} == set(range(n)), (buckets, placed)
        assert sorted(r["part_bucket"] for r in placed) == sorted(buckets)


def test_topk_uses_take_ordered(spark):
    from dataqualityassistant_spark.ops.similarity import cosine_topk
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.first()["embedding"]
    plan = plan_of(cosine_topk(emb, q, k=10))
    assert "TakeOrderedAndProject" in plan  # per-partition heaps, no global sort


def test_fk_orphans_broadcasts_dimension(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    orphans = orders.join(F.broadcast(cust.select("c_custkey")),
                          orders.o_custkey == cust.c_custkey, "left_anti")
    plan = plan_of(orphans)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_domain_stats_is_two_phase(spark):
    pages = QualityFilterPipeline().score(
        spark.createDataFrame(pages_batch(0, 50), PAGES_SCHEMA))
    tree = tree_of(QualityFilterPipeline().domain_stats(pages))
    # salted partial agg then final agg: two exchanges (salted key, domain)
    assert tree.count("Exchange") >= 2
    assert tree.count("HashAggregate") >= 4


def test_vocab_topk_is_partial_agg_plus_take_ordered(spark):
    """vocab_topk must be two-phase (partial_count before the exchange, so
    the shuffle moves one row per distinct token per partition, not one row
    per token OCCURRENCE) and the top-200 must be TakeOrderedAndProject —
    never a global Sort over the vocabulary."""
    import __spark_entry__ as entrymod

    df = entrymod.q_vocab_topk(spark, SF)
    plan = plan_of(df)
    tree = tree_of(df)
    assert "TakeOrderedAndProject" in tree
    assert "partial_count" in plan  # map-side combine before the shuffle
    assert tree.count("Sort") == 0  # no global sort node


def test_minhash_pairs_reuse_cached_signatures(spark):
    """The signature relation feeds three plan subtrees (the bucket groupBy
    + two re-attach joins); a caller that persists it gets a LAZY plan
    that reads the signatures from the cache (InMemoryRelation), not one
    that recomputes the Arrow UDF per subtree. The entry query materializes
    (r4): its returned plan is the checkpointed pairs — no UDF, no cache
    entry left behind."""
    from dataqualityassistant_spark.ops.dedup import (
        minhash_candidate_pairs,
        minhash_signatures,
    )
    import __spark_entry__ as entrymod

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    sigs = minhash_signatures(docs, n_hashes=64, shingle=9).persist()
    try:
        lazy = minhash_candidate_pairs(sigs, bands=16, threshold=0.9, n_hashes=64)
        lazy.count()  # fills the cache, executes the real plan
        plan = lazy._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
    finally:
        sigs.unpersist()

    df = entrymod.q_minhash_dup_pairs(spark, SF)
    eplan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in eplan          # checkpointed pairs, compute done
    assert "ArrowEvalPython" not in eplan  # no UDF re-evaluation possible


def _lsh_pairs_and_bucket_keys(spark, family, cap):
    from dataqualityassistant_spark.ops.dedup import (
        minhash_pairs_against, minhash_signatures, ngram_jaccard_pairs)
    from dataqualityassistant_spark.ops.similarity import embedding_near_dup_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    if family == "embedding":
        emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
        return embedding_near_dup_pairs(emb, threshold=0.3, n_planes=3,
                                        max_bucket_size=cap), "__b"
    if family == "ngram":
        return ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=cap), "g"
    new = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000).where(F.col("doc_id") % 3 == 0)
    return minhash_pairs_against(minhash_signatures(new, n_hashes=64),
                                 minhash_signatures(docs, n_hashes=64),
                                 threshold=0.9, max_bucket_size=cap), "band|bh"


@pytest.mark.parametrize("capped", [True, False], ids=["default_cap", "no_cap"])
@pytest.mark.parametrize("family", ["embedding", "ngram", "against"])
def test_lsh_pairs_come_from_one_bucket_groupby(spark, family, capped):
    """With the hot-bucket cap on, bucket_pairs builds pairs from ONE
    groupBy + collect_list: no anti-join against a hot-bucket count and no
    join keyed on the bucket columns — so an upstream UDF runs once (the
    embedding's lsh_bucket_ids UDF appears once). With the cap off, the
    plain key join stays and nothing is collected into lists."""
    from dataqualityassistant_spark.ops.dedup import DEFAULT_MAX_BUCKET_SIZE

    cap = DEFAULT_MAX_BUCKET_SIZE if capped else None
    df, keys = _lsh_pairs_and_bucket_keys(spark, family, cap)
    plan = plan_of(df)
    bucket_joins = [l for l in plan.splitlines()
                    if re.search(rf"keys \[\d+\]: \[.*\b(?:{keys})#", l)]
    if not capped:
        assert bucket_joins, plan
        assert "collect_list" not in plan
        return
    assert not bucket_joins, plan
    assert "LeftAnti" not in tree_of(df)
    assert "collect_list" in plan
    if family == "embedding":
        assert sum("Arguments: [bucket(" in l for l in plan.splitlines()) == 1, plan


def test_failing_expectation_samples_run_as_one_job(spark):
    """A suite with 5 failing mask-based expectations (samples on) must run
    ≤2 Spark jobs total: the fused aggregate + ONE unioned sample fetch —
    not one limit() job per failing expectation (2N small scans on a 100 TB
    table otherwise)."""
    from dataqualityassistant_spark import run_suite

    df = spark.createDataFrame(
        [("x", 1.0), ("yy", 2.0), (None, 50.0)], "s: string, v: double")
    rules = [Rule(id=1, name="all-fail", rule_config=[
        {"expectation_type": "expect_column_values_to_not_be_null",
         "kwargs": {"column": "s"}},
        {"expectation_type": "expect_column_values_to_be_in_set",
         "kwargs": {"column": "s", "value_set": ["nope"]}},
        {"expectation_type": "expect_column_values_to_be_between",
         "kwargs": {"column": "v", "max_value": 0.5}},
        {"expectation_type": "expect_column_values_to_match_regex",
         "kwargs": {"column": "s", "regex": "zzz"}},
        {"expectation_type": "expect_column_value_lengths_to_be_between",
         "kwargs": {"column": "s", "min_value": 10}},
    ])]
    sc = spark.sparkContext
    # AQE materializes every shuffle stage as its own "job", which would
    # count scheduling artifacts, not actions/scans — disable it so the job
    # count equals the number of collect actions the engine issues
    sc.setJobGroup("sample-batch-test", "counting suite jobs")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        suite = run_suite(df, rules)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        sc.setLocalProperty("spark.jobGroup.id", None)
    ids = sc.statusTracker().getJobIdsForGroup("sample-batch-test")
    assert len(ids) <= 2, f"suite ran {len(ids)} jobs: {sorted(ids)}"
    # and the batched fetch returned real per-expectation samples/values
    rs = suite["results"][0]["results"]
    assert all(not r["success"] for r in rs)
    assert rs[1]["result"]["unexpected_values"] == ["x", "yy"]
    assert rs[2]["result"]["unexpected_values"] == [1.0, 2.0, 50.0]
    assert len(rs[0]["sample_rows"]) == 1          # the null row
    assert len(rs[3]["sample_rows"]) == 2          # x, yy


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Two tables bucketed+sorted on the same key with the same bucket count
    must sort-merge join with ZERO Exchange and ZERO Sort — the co-located
    join shape that makes repeated fact-to-fact joins free at 100 TB. An
    unbucketed baseline on the same data must show the shuffles, proving the
    assertion bites."""
    from dataqualityassistant_spark.sources.tables import write_bucketed_table

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    try:
        write_bucketed_table(orders, "bt_orders", ["o_orderkey"], 4,
                             sort_cols=["o_orderkey"], path=str(tmp_path / "o"))
        write_bucketed_table(lineitem, "bt_lineitem", ["l_orderkey"], 4,
                             sort_cols=["l_orderkey"], path=str(tmp_path / "l"))
        # since Spark 3.0 a bucketed scan reports no output ordering by
        # default (buckets may span files); with one file per bucket (we
        # repartition by the key before writing) the legacy conf restores
        # the sortBy metadata and the per-task Sort disappears too
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        bo, bl = spark.table("bt_orders"), spark.table("bt_lineitem")
        # hint("merge"): at sf0.01 Catalyst would broadcast the small side;
        # at 100 TB both sides are fact tables and SMJ is the real strategy —
        # the hint pins the plan shape under test
        joined = bo.hint("merge").join(bl, bo["o_orderkey"] == bl["l_orderkey"]) \
            .select("o_orderkey", "l_quantity")
        tree = tree_of(joined)
        assert "SortMergeJoin" in tree, tree
        assert "Exchange" not in tree, tree
        assert "Sort" not in tree.replace("SortMergeJoin", ""), tree
        # sanity: equal row counts vs the plain-parquet join
        plain = orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        assert joined.count() == plain.count()
        plain_tree = tree_of(
            plain.select("o_orderkey", "l_quantity")
            .hint("merge"))
        assert "Exchange" in plain_tree  # the baseline DOES shuffle
    finally:
        spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
        spark.sql("DROP TABLE IF EXISTS bt_orders")
        spark.sql("DROP TABLE IF EXISTS bt_lineitem")
