"""Tests for profiling/suggestions/NL parsing and the rule metadata store."""

import pytest

from dataqualityassistant_spark.metadata import RuleStore
from dataqualityassistant_spark.profiling import (
    column_statistics,
    infer_relationships,
    profile_table,
    rule_from_description,
    suggest_rules,
)


@pytest.fixture(scope="module")
def authors(spark):
    # shape of the reference's seed fixture (seed_data.py): id/name/email
    rows = [
        (1, "John Smith", "john@example.com", True),
        (2, "Jane Doe", "jane@example.com", False),
        (3, None, "dup@example.com", True),
        (4, "Sam Poe", None, None),
    ]
    return spark.createDataFrame(rows, "author_id: long, name: string, email: string, active: boolean")


def test_column_statistics_single_pass(spark, authors):
    stats = column_statistics(authors)
    assert stats["author_id"]["min"] == 1 and stats["author_id"]["max"] == 4
    assert stats["name"]["nulls"] == 1
    assert stats["email"]["min_len"] == len("dup@example.com")
    assert stats["active"]["true"] == 2 and stats["active"]["false"] == 1
    assert stats["name"]["total_rows"] == 4


def test_profile_table_shape(spark, authors):
    p = profile_table(authors, sample_rows=10)
    assert [c["column_name"] for c in p["columns"]] == ["author_id", "name", "email", "active"]
    assert len(p["sample_data"]) == 4
    assert "relationships" in p


def test_relationships_fk_inference(spark):
    df = spark.createDataFrame([(1, 2, "x")], "book_id: long, author_id: long, title: string")
    rel = infer_relationships(df, sample=[])
    fks = {f["column"]: f["potential_reference"] for f in rel["potential_foreign_keys"]}
    assert fks == {"book_id": "books", "author_id": "authors"}


def test_suggest_rules_heuristics(spark, authors):
    sugg = suggest_rules(authors, "authors")
    by_name = {s["rule_name"]: s for s in sugg}
    assert "author_id_not_null" in by_name
    assert "author_id_unique" in by_name
    assert by_name["email_email_format"]["confidence"] == 80
    cfg = by_name["email_email_format"]["rule_config"][0]
    assert cfg["expectation_type"] == "expect_column_values_to_match_regex"


@pytest.mark.parametrize("desc,expected_type", [
    ("the email column must not be null", "expect_column_values_to_not_be_null"),
    ("email values should be unique", "expect_column_values_to_be_unique"),
    ("price should be between 10 and 100", "expect_column_values_to_be_between"),
    ("price must be at least 5", "expect_column_values_to_be_between"),
])
def test_rule_from_description(desc, expected_type):
    cols = ["email", "price", "name"]
    r = rule_from_description(desc, cols)
    assert r["expectation_type"] == expected_type
    assert r["confidence"] <= 60


def test_rule_from_description_no_column():
    assert rule_from_description("must be pretty", ["email"]) is None


# ------------------------------------------------------------ metadata store

def test_rule_store_crud_and_versions(tmp_path):
    store = RuleStore(str(tmp_path))
    cfg = [{"expectation_type": "expect_column_values_to_not_be_null",
            "kwargs": {"column": "name"}}]
    r = store.create_rule("r1", "authors", cfg, run_ts="t0")
    assert r.id == 1
    assert len(store.versions(1)) == 1

    store.update_rule(1, cfg + [{"expectation_type": "expect_column_values_to_be_unique",
                                 "kwargs": {"column": "email"}}], run_ts="t1")
    vs = store.versions(1)
    assert [v.version_number for v in vs] == [2, 1]
    assert [v.is_current for v in vs] == [True, False]  # exactly one current

    got = store.get_rule(1)
    assert len(got.expectations) == 2

    store.delete_rule(1)
    assert store.get_rule(1) is None
    assert store.versions(1) == []  # cascade


def test_rule_store_legacy_dict_config(tmp_path):
    store = RuleStore(str(tmp_path))
    r = store.create_rule("legacy", "t",
                          '{"expectation_type": "expect_column_values_to_not_be_null", "kwargs": {"column": "c"}}')
    assert len(r.expectations) == 1


def test_duplicate_detection_and_apply_suggestions(tmp_path):
    store = RuleStore(str(tmp_path))
    sugg = [
        {"rule_name": "a_not_null", "table_name": "t", "confidence": 90,
         "rule_config": [{"expectation_type": "expect_column_values_to_not_be_null",
                          "kwargs": {"column": "a"}}]},
        {"rule_name": "a_not_null_again", "table_name": "t", "confidence": 95,
         "rule_config": [{"expectation_type": "expect_column_values_to_not_be_null",
                          "kwargs": {"column": "a"}}]},
        {"rule_name": "low_conf", "table_name": "t", "confidence": 40,
         "rule_config": [{"expectation_type": "expect_column_values_to_be_unique",
                          "kwargs": {"column": "a"}}]},
    ]
    created = store.apply_suggestions(sugg, min_confidence=90)
    assert [r.name for r in created] == ["a_not_null"]  # dup + low-conf skipped


def test_nl_draft_workflow(tmp_path):
    store = RuleStore(str(tmp_path))
    r = store.create_from_description("price should be between 1 and 9", "t",
                                      ["price", "name"])
    assert r.is_draft is True  # confidence 50 < 70
    done = store.finish_draft(r.id, ["price", "name"])
    assert done.is_draft is False and done.confidence == 100

    r2 = store.create_from_description("ghost must not be null", "t", ["price"])
    assert r2 is None  # no known column referenced

    with pytest.raises(ValueError):
        bad = store.create_from_description("price at least 5", "t", ["price"])
        store.finish_draft(bad.id, ["other_col"])


# ---------------------------------------------------------------- sources

def test_sources_table_helpers(spark, tmp_path):
    from dataqualityassistant_spark.sources import (
        read_table, write_table, table_exists, table_schema)
    df = spark.createDataFrame([(1, "a")], "id: long, s: string")
    p = str(tmp_path / "t")
    write_table(df, p)
    assert table_exists(spark, p)
    assert not table_exists(spark, str(tmp_path / "nope"))
    back = read_table(spark, p)
    assert back.count() == 1
    schema = table_schema(spark, p)
    assert schema[0]["column_name"] == "id" and schema[0]["data_type"] == "bigint"


def test_report_sections_and_markdown(spark):
    from dataqualityassistant_spark import run_suite, Rule
    from dataqualityassistant_spark.report import report_sections, to_markdown
    df = spark.createDataFrame([("a",), (None,)], "c: string")
    suite = run_suite(df, [Rule(id=1, name="r", rule_config=[
        {"expectation_type": "expect_column_values_to_not_be_null", "kwargs": {"column": "c"}}])])
    s = report_sections(suite)
    assert set(s) == {"overall_summary", "rules_summary", "detailed_results",
                      "failed_data_samples", "quality_metrics"}
    assert s["overall_summary"]["failed_rules"] == 1
    assert s["failed_data_samples"]
    md = to_markdown(suite)
    assert "## Rules summary" in md and "expect_column_values_to_not_be_null" in md


def test_group_suggestions_keys():
    from dataqualityassistant_spark.profiling import group_suggestions
    sugg = [
        {"rule_name": "a", "rule_config": [
            {"expectation_type": "expect_column_values_to_not_be_null", "kwargs": {"column": "x"}}]},
        {"rule_name": "b", "rule_config": [
            {"expectation_type": "expect_column_pair_values_to_be_equal",
             "kwargs": {"column_A": "x", "column_B": "y"}}]},
        {"rule_name": "c", "rule_config": [
            {"expectation_type": "expect_table_row_count_to_be_between", "kwargs": {"min_value": 1}}]},
    ]
    g = group_suggestions(sugg)
    assert set(g) == {"single:x", "pair:x:y", "other:expect_table_row_count_to_be_between"}


def test_tuned_session_reuses_active(spark):
    """A second tuned_session() returns the active session and keeps a value
    the user set: getOrCreate() applies builder options to an existing
    session, so the factory must not restate Spark's defaults."""
    from dataqualityassistant_spark.session import tuned_session
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    spark.conf.set(key, "8m")
    try:
        s = tuned_session()  # getOrCreate returns the active test session
        assert s is spark
        assert spark.conf.get(key) == "8m"
    finally:
        spark.conf.set(key, before)


def test_tuned_session_keeps_callers_log_level(spark):
    """Only the call that starts the session sets its log level: a second
    tuned_session() (e.g. cli.main run in-process) leaves the caller's."""
    from dataqualityassistant_spark.session import tuned_session
    root = spark.sparkContext._jvm.org.apache.logging.log4j.LogManager.getRootLogger()
    spark.sparkContext.setLogLevel("ERROR")
    assert tuned_session() is spark
    assert root.getLevel().toString() == "ERROR"


def test_metrics_trend_across_runs(spark, tmp_path):
    """Two pipeline runs into one metrics table -> one trend row per
    (run, expectation) with wave counts re-summed, drift visible."""
    from dataqualityassistant_spark.fixtures import pages_spark_df
    from dataqualityassistant_spark.plans.quality_filter import QualityFilterPipeline
    from dataqualityassistant_spark.report import metrics_trend

    metrics = str(tmp_path / "metrics")
    pipe = QualityFilterPipeline(n_buckets=4)
    for run_id, run_ts, n in [("r1", "2026-01-01", 200), ("r2", "2026-02-01", 400)]:
        pages = pages_spark_df(spark, n)
        pipe.run(spark, pages, str(tmp_path / f"out_{run_id}"),
                 metrics_path=metrics, run_id=run_id, run_ts=run_ts, waves=2)
    trend = metrics_trend(spark, metrics).collect()
    n_exp = len(pipe._expectation_metric_masks())
    assert len(trend) == 2 * n_exp          # waves merged: one row per run+exp
    by_run = {}
    for r in trend:
        by_run.setdefault(r["run_id"], []).append(r)
    assert {r["element_count"] for r in by_run["r1"]} == {200}
    assert {r["element_count"] for r in by_run["r2"]} == {400}
    assert all(0 <= r["unexpected_percent"] <= 100 for r in trend)


def test_suggest_range_rules(spark):
    from dataqualityassistant_spark.profiling import suggest_range_rules
    from dataqualityassistant_spark.operators.engine import run_suite
    from dataqualityassistant_spark.rules import Rule

    rows = [(i, float(i % 100), 7.0, None) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, v double, const double, empty int")
    sugg = {s["rule_config"][0]["kwargs"]["column"]: s for s in suggest_range_rules(df)}
    assert "const" not in sugg and "empty" not in sugg   # constant/all-null skipped
    kw = sugg["v"]["rule_config"][0]["kwargs"]
    assert 0 <= kw["min_value"] <= 2 and 97 <= kw["max_value"] <= 99
    # suggestions are runnable rules and pass on the data they were fit on
    rule = Rule(id=1, name=sugg["v"]["rule_name"], rule_config=sugg["v"]["rule_config"])
    res = run_suite(df, [rule])["results"][0]["results"][0]
    assert res["success"] is True


def test_column_statistics_prefix_collision(spark):
    """A column that is a '__'-prefix of another must not absorb the other
    column's stats (decoding is by positional alias, not name prefix)."""
    from dataqualityassistant_spark.profiling import column_statistics

    df = spark.createDataFrame([(1, "ab"), (2, "cde")], "a: long, a__b: string")
    stats = column_statistics(df)
    assert set(stats["a"]) == {"total_rows", "data_type", "nulls", "min", "max", "avg"}
    assert "b__nulls" not in stats["a"] and "b__min_len" not in stats["a"]
    assert stats["a__b"]["min_len"] == 2 and stats["a__b"]["max_len"] == 3


def test_rule_from_description_reference_keywords():
    """Bare 'missing'/'empty'/'null' route to not_be_null (mostly=0.95,
    conf 60) like the reference's _create_fallback_rule; unique is conf 50."""
    cols = ["email", "price"]
    r = rule_from_description("flag missing values in email", cols)
    assert r["expectation_type"] == "expect_column_values_to_not_be_null"
    assert r["kwargs"]["mostly"] == 0.95 and r["confidence"] == 60
    r2 = rule_from_description("email must not be empty", cols)
    assert r2["expectation_type"] == "expect_column_values_to_not_be_null"
    r3 = rule_from_description("email values should be unique", cols)
    assert r3["confidence"] == 50


def test_rule_store_roundtrips_timestamps(tmp_path):
    from dataqualityassistant_spark.metadata import RuleStore

    store = RuleStore(str(tmp_path))
    r = store.create_rule("r1", "t", [{"expectation_type": "expect_column_values_to_not_be_null",
                                       "kwargs": {"column": "a"}}])
    got = store.get_rule(r.id)
    assert got.created_at is not None
    assert got.updated_at is not None
