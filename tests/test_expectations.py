"""Unit + differential tests for the expectation operators E1-E5 and the
extended (pair/compare_to/of_type) operators, covering the semantic traps
from SURVEY.md §7: mostly `<=` boundary, full-row-count denominator, nulls
passing value checks, start-anchored regex, pandas-style uniqueness
arithmetic (nulls group together), empty-table success, unknown-type error.
"""

import math

import pandas as pd
import pytest

from dataqualityassistant_spark import Rule, run_suite
from dataqualityassistant_spark.operators.engine import SuiteEngine
from dataqualityassistant_spark.oracle import oracle_expectation


def mk_df(spark, data, schema):
    return spark.createDataFrame(data, schema)


def single(spark_df, expectation_type, kwargs, **engine_kwargs):
    rule = Rule(id=1, name="r", rule_config=[{"expectation_type": expectation_type, "kwargs": kwargs}])
    suite = run_suite(spark_df, [rule], **engine_kwargs)
    return suite["results"][0]["results"][0]


# ---------------------------------------------------------------- E1 not_null

def test_not_null_counts_and_percent(spark):
    df = mk_df(spark, [("a",), (None,), (None,), ("b",)], "c: string")
    r = single(df, "expect_column_values_to_not_be_null", {"column": "c"})
    assert r["result"]["unexpected_count"] == 2
    assert r["result"]["element_count"] == 4
    assert r["result"]["unexpected_percent"] == 50.0
    assert r["success"] is False
    assert len(r["sample_rows"]) == 2


def test_not_null_mostly_boundary_is_inclusive(spark):
    # unexpected_percent == (1-mostly)*100 must PASS (reference uses `<=`).
    # mostly=0.75 -> threshold 25.0 exactly representable in float64.
    df = mk_df(spark, [(None,)] + [("x",)] * 3, "c: string")
    r = single(df, "expect_column_values_to_not_be_null", {"column": "c", "mostly": 0.75})
    assert r["result"]["unexpected_percent"] == pytest.approx(25.0)
    assert r["success"] is True
    r = single(df, "expect_column_values_to_not_be_null", {"column": "c", "mostly": 0.8})
    assert r["success"] is False


def test_mostly_float_artifact_parity(spark):
    # (1-0.9)*100 = 9.999999999999998 in float64, so exactly-10%-unexpected
    # FAILS — the reference computes the identical expression
    # (quality_engine.py:241) and fails too. Bit-for-bit arithmetic parity.
    df = mk_df(spark, [(None,)] + [("x",)] * 9, "c: string")
    r = single(df, "expect_column_values_to_not_be_null", {"column": "c", "mostly": 0.9})
    assert r["result"]["unexpected_percent"] == 10.0
    assert r["success"] is ((10.0) <= (1 - 0.9) * 100)  # False, matching reference


def test_empty_table_succeeds(spark):
    df = spark.createDataFrame([], "c: string")
    r = single(df, "expect_column_values_to_not_be_null", {"column": "c"})
    assert r["result"]["element_count"] == 0
    assert r["result"]["unexpected_percent"] == 0
    assert r["success"] is True


# ---------------------------------------------------------------- E2 in_set

def test_in_set_nulls_pass_and_values_listed(spark):
    df = mk_df(spark, [("en",), ("de",), ("xx",), (None,), ("yy",)], "lang: string")
    r = single(df, "expect_column_values_to_be_in_set", {"column": "lang", "value_set": ["en", "de"]})
    assert r["result"]["unexpected_count"] == 2  # null passes
    assert sorted(r["result"]["unexpected_values"]) == ["xx", "yy"]
    assert r["success"] is False


def test_in_set_empty_value_set_all_nonnull_unexpected(spark):
    df = mk_df(spark, [("a",), (None,)], "c: string")
    r = single(df, "expect_column_values_to_be_in_set", {"column": "c", "value_set": []})
    assert r["result"]["unexpected_count"] == 1


# ---------------------------------------------------------------- E3 between

def test_between_bounds_and_nulls(spark):
    df = mk_df(spark, [(1,), (5,), (10,), (None,), (12,), (0,)], "v: int")
    r = single(df, "expect_column_values_to_be_between", {"column": "v", "min_value": 1, "max_value": 10})
    assert r["result"]["unexpected_count"] == 2  # 12 and 0; null passes
    assert r["result"]["element_count"] == 6


def test_between_only_min(spark):
    df = mk_df(spark, [(1,), (-3,), (None,)], "v: int")
    r = single(df, "expect_column_values_to_be_between", {"column": "v", "min_value": 0})
    assert r["result"]["unexpected_count"] == 1


def test_between_only_max(spark):
    df = mk_df(spark, [(1,), (99,), (None,)], "v: int")
    r = single(df, "expect_column_values_to_be_between", {"column": "v", "max_value": 50})
    assert r["result"]["unexpected_count"] == 1


# ---------------------------------------------------------------- E4 regex

def test_regex_start_anchored_like_pandas_str_match(spark):
    # 'abc' matches 'b' nowhere at start; pandas str.match semantics
    df = mk_df(spark, [("abc",), ("bcd",), (None,), ("zabc",)], "s: string")
    r = single(df, "expect_column_values_to_match_regex", {"column": "s", "regex": "a"})
    # matches at start: 'abc' only -> unexpected: 'bcd', 'zabc' (null passes)
    assert r["result"]["unexpected_count"] == 2


def test_regex_email_pattern(spark):
    pat = r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$"
    df = mk_df(spark, [("a@b.com",), ("bad",), ("x@y.org",), (None,)], "email: string")
    r = single(df, "expect_column_values_to_match_regex", {"column": "email", "regex": pat})
    assert r["result"]["unexpected_count"] == 1
    assert r["result"]["unexpected_values"] == ["bad"]


def test_regex_numeric_column_stringified(spark):
    # reference stringifies values before matching (astype(str))
    df = mk_df(spark, [(123,), (4,), (None,)], "v: int")
    r = single(df, "expect_column_values_to_match_regex", {"column": "v", "regex": r"\d{2,}"})
    assert r["result"]["unexpected_count"] == 1  # only '4' fails


# ---------------------------------------------------------------- E5 unique

def test_unique_pandas_arithmetic(spark):
    # values: [1, None, None, 2, 1, None] -> dup groups {1:2, null:3}
    # unexpected = rows_in_dup_groups(5) - distinct_dup_values(2) = 3
    df = mk_df(spark, [(1,), (None,), (None,), (2,), (1,), (None,)], "v: int")
    r = single(df, "expect_column_values_to_be_unique", {"column": "v"})
    assert r["result"]["unexpected_count"] == 3
    assert r["result"]["element_count"] == 6


def test_unique_all_distinct(spark):
    df = mk_df(spark, [(1,), (2,), (3,)], "v: int")
    r = single(df, "expect_column_values_to_be_unique", {"column": "v"})
    assert r["result"]["unexpected_count"] == 0
    assert r["success"] is True


def test_unique_dup_values_and_samples(spark):
    df = mk_df(spark, [("a", 1), ("a", 2), ("b", 3), ("c", 4), ("c", 5), ("c", 6)], "k: string, i: int")
    r = single(df, "expect_column_values_to_be_unique", {"column": "k"})
    assert r["result"]["unexpected_count"] == (2 - 1) + (3 - 1)
    assert sorted(r["result"]["unexpected_values"]) == ["a", "c"]
    assert 1 <= len(r["sample_rows"]) <= 5
    # ≤2 samples per dup value
    ks = [s["k"] for s in r["sample_rows"]]
    assert all(ks.count(k) <= 2 for k in set(ks))


def test_unique_null_group_counts_but_yields_no_samples(spark):
    df = mk_df(spark, [(None,), (None,), ("x",)], "v: string")
    r = single(df, "expect_column_values_to_be_unique", {"column": "v"})
    assert r["result"]["unexpected_count"] == 1  # null group: 2 rows - 1 value
    assert all(s["v"] is not None for s in r["sample_rows"])


# -------------------------------------------------- unknown / parity / errors

def test_unknown_type_fails_with_reference_error(spark):
    df = mk_df(spark, [(1,)], "v: int")
    r = single(df, "expect_bogus", {"column": "v"})
    assert r["success"] is False
    assert "not implemented in direct evaluation mode" in r["error"]


def test_reference_parity_mode_fails_pair_ops(spark):
    df = mk_df(spark, [(1, 1)], "a: int, b: int")
    r = single(df, "expect_column_pair_values_to_be_equal", {"column_A": "a", "column_B": "b"},
               reference_parity=True)
    assert r["success"] is False and "not implemented" in r["error"]


# ---------------------------------------------------------------- extended ops

def test_pair_equal_first_class(spark):
    df = mk_df(spark, [(1, 1), (2, 3), (None, None), (None, 4)], "a: int, b: int")
    r = single(df, "expect_column_pair_values_to_be_equal", {"column_A": "a", "column_B": "b"})
    # (2,3) differs; (None,4) differs one-sided; (None,None) passes null-safe
    assert r["result"]["unexpected_count"] == 2


def test_greater_than_other_column(spark):
    df = mk_df(spark, [(5, 1), (1, 5), (3, 3), (None, 1)], "a: int, b: int")
    r = single(df, "expect_column_values_to_be_greater_than_other_column",
               {"column": "a", "compare_to": "b"})
    assert r["result"]["unexpected_count"] == 2  # (1,5) and (3,3)


def test_pair_in_set(spark):
    df = mk_df(spark, [("x", 1), ("y", 2), ("x", 2)], "a: string, b: int")
    r = single(df, "expect_column_pair_values_to_be_in_set",
               {"column_A": "a", "column_B": "b", "value_pairs": [["x", 1], ["y", 2]]})
    assert r["result"]["unexpected_count"] == 1


def test_of_type(spark):
    df = mk_df(spark, [(1, "s")], "a: int, b: string")
    r = single(df, "expect_column_values_to_be_of_type", {"column": "a", "type_": "integer"})
    assert r["success"] is True
    r = single(df, "expect_column_values_to_be_of_type", {"column": "b", "type_": "integer"})
    assert r["success"] is False
    assert r["result"]["unexpected_count"] == 1


def test_value_lengths_between(spark):
    df = mk_df(spark, [("ab",), ("abcdef",), (None,), ("",)], "s: string")
    r = single(df, "expect_column_value_lengths_to_be_between",
               {"column": "s", "min_value": 1, "max_value": 4})
    assert r["result"]["unexpected_count"] == 2  # 'abcdef' and ''


# ---------------------------------------------------------------- rule/suite

def test_rule_and_suite_rollups(spark):
    df = mk_df(spark, [("en", 1), ("xx", 2), (None, 3)], "lang: string, v: int")
    rules = [
        Rule(id=1, name="good", rule_config=[
            {"expectation_type": "expect_column_values_to_be_between",
             "kwargs": {"column": "v", "min_value": 0, "max_value": 10}}]),
        Rule(id=2, name="mixed", rule_config=[
            {"expectation_type": "expect_column_values_to_be_in_set",
             "kwargs": {"column": "lang", "value_set": ["en"]}},
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "v"}}]),
    ]
    suite = run_suite(df, rules, table_name="t")
    assert suite["total_rules"] == 2
    assert suite["successful_rules"] == 1
    assert suite["failed_rules"] == 1
    assert suite["success_rate"] == 50.0
    mixed = suite["results"][1]
    assert mixed["success"] is False  # AND of expectations
    assert mixed["statistics"]["evaluated_expectations"] == 2
    assert mixed["statistics"]["successful_expectations"] == 1


def test_legacy_dict_config_coerced(spark):
    df = mk_df(spark, [(None,)], "c: string")
    rule = Rule(id=1, name="legacy",
                rule_config='{"expectation_type": "expect_column_values_to_not_be_null", "kwargs": {"column": "c"}}')
    suite = run_suite(df, [rule])
    assert suite["results"][0]["statistics"]["evaluated_expectations"] == 1


# ------------------------------------------------------------- differential

DIFF_CASES = [
    ("expect_column_values_to_not_be_null", {"column": "s"}),
    ("expect_column_values_to_not_be_null", {"column": "s", "mostly": 0.5}),
    ("expect_column_values_to_be_in_set", {"column": "s", "value_set": ["a", "b"]}),
    ("expect_column_values_to_be_between", {"column": "v", "min_value": 2, "max_value": 7}),
    ("expect_column_values_to_be_between", {"column": "v", "min_value": 2}),
    ("expect_column_values_to_match_regex", {"column": "s", "regex": "a+"}),
    ("expect_column_values_to_be_unique", {"column": "s"}),
    ("expect_column_values_to_be_unique", {"column": "v"}),
]


@pytest.mark.parametrize("etype,kwargs", DIFF_CASES)
def test_differential_vs_pandas_oracle(spark, etype, kwargs):
    pdf = pd.DataFrame({
        "s": ["a", "aa", "b", None, "a", "c", None, "aa", "zb", "b"],
        "v": [1, 5, 5, None, 9, 2, 2, 2, 100, -1],
    })
    sdf = spark.createDataFrame(pdf.astype({"v": "object"}), "s: string, v: double")
    want = oracle_expectation(pdf, etype, kwargs)
    got = single(sdf, etype, kwargs)
    assert got["result"]["unexpected_count"] == want["unexpected_count"]
    assert got["result"]["unexpected_percent"] == pytest.approx(want["unexpected_percent"])
    assert got["success"] == want["success"]


def test_missing_column_errors_one_expectation_not_suite(spark):
    df = mk_df(spark, [("en", 1)], "lang: string, v: int")
    rules = [
        Rule(id=1, name="bad", rule_config=[
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "no_such_col"}}]),
        Rule(id=2, name="good", rule_config=[
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "v"}}]),
    ]
    suite = run_suite(df, rules)
    assert suite["results"][0]["success"] is False
    assert "not found" in suite["results"][0]["results"][0]["error"]
    assert suite["results"][1]["success"] is True


# ------------------------------------------------------- aggregate expectations

def test_row_count_between(spark):
    df = mk_df(spark, [(1,), (2,), (3,)], "v: int")
    r = single(df, "expect_table_row_count_to_be_between", {"min_value": 2, "max_value": 5})
    assert r["success"] is True and r["result"]["observed_value"] == 3
    r = single(df, "expect_table_row_count_to_be_between", {"min_value": 10})
    assert r["success"] is False
    assert r["result"]["unexpected_count"] == 3  # all-or-nothing


def test_column_mean_between(spark):
    df = mk_df(spark, [(2.0,), (4.0,), (None,)], "v: double")
    r = single(df, "expect_column_mean_to_be_between", {"column": "v", "min_value": 2.5, "max_value": 3.5})
    assert r["success"] is True and r["result"]["observed_value"] == 3.0


def test_column_min_max_distinct_between(spark):
    df = mk_df(spark, [(1,), (5,), (5,), (9,)], "v: int")
    assert single(df, "expect_column_min_to_be_between", {"column": "v", "min_value": 0, "max_value": 2})["success"]
    assert single(df, "expect_column_max_to_be_between", {"column": "v", "max_value": 9})["success"]
    r = single(df, "expect_column_distinct_count_to_be_between", {"column": "v", "min_value": 3, "max_value": 3})
    assert r["success"] is True and r["result"]["observed_value"] == 3


def test_in_table_set_fk(spark, tmp_path):
    ref = mk_df(spark, [(1,), (2,)], "id: int")
    p = str(tmp_path / "ref")
    ref.write.parquet(p)
    df = mk_df(spark, [(1,), (2,), (3,), (None,)], "fk: int")
    r = single(df, "expect_column_values_to_be_in_table_set",
               {"column": "fk", "ref_table": p, "ref_column": "id"})
    assert r["result"]["unexpected_count"] == 1  # 3 is orphan; null passes
    assert r["result"]["element_count"] == 4
    assert r["success"] is False


def test_reference_create_rule_scenario(spark):
    """The reference's only manual test fixture (create_rule.py:62-88): two
    intentionally-failing rules against `authors` — in_set on name with
    ["John Smith", "Jane Doe"] and regex `^.+@.+\\..+$` on email, both
    mostly 1.0 — run to eyeball failing-sample output. Reproduced here with
    the seed rows (seed_data.py:62-68) plus violations."""
    authors = mk_df(spark, [
        (1, "John Smith", "john.smith@email.com"),
        (2, "Jane Doe", "jane.doe@email.com"),
        (3, "Robert Johnson", "robert.j@email.com"),   # fails in_set
        (4, "Emily Williams", "emily.w@email.com"),    # fails in_set
        (5, "Michael Brown", "not-an-email"),          # fails both
    ], "author_id: int, name: string, email: string")
    rules = [
        Rule(id=1, name="name_in_set", rule_config=[
            {"expectation_type": "expect_column_values_to_be_in_set",
             "kwargs": {"column": "name", "value_set": ["John Smith", "Jane Doe"], "mostly": 1.0}}]),
        Rule(id=2, name="email_format", rule_config=[
            {"expectation_type": "expect_column_values_to_match_regex",
             "kwargs": {"column": "email", "regex": r"^.+@.+\..+$", "mostly": 1.0}}]),
    ]
    suite = run_suite(authors, rules, table_name="authors")
    in_set = suite["results"][0]["results"][0]
    assert in_set["success"] is False
    assert in_set["result"]["unexpected_count"] == 3
    assert sorted(in_set["result"]["unexpected_values"]) == [
        "Emily Williams", "Michael Brown", "Robert Johnson"]
    assert len(in_set["sample_rows"]) == 3  # complete rows, ≤5
    assert {"author_id", "name", "email"} <= set(in_set["sample_rows"][0])
    regex = suite["results"][1]["results"][0]
    assert regex["success"] is False
    assert regex["result"]["unexpected_count"] == 1
    assert regex["result"]["unexpected_values"] == ["not-an-email"]
    assert suite["success_rate"] == 0.0


def test_invalid_regex_errors_only_that_expectation(spark):
    # JVM-only failure (the JVM rejects '(' at run time inside the fused
    # agg) must not poison the other rules
    df = mk_df(spark, [("a", 1)], "s: string, v: int")
    rules = [
        Rule(id=1, name="bad_rx", rule_config=[
            {"expectation_type": "expect_column_values_to_match_regex",
             "kwargs": {"column": "s", "regex": "("}}]),
        Rule(id=2, name="good", rule_config=[
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "v"}}]),
    ]
    suite = run_suite(df, rules)
    assert suite["results"][0]["success"] is False
    assert suite["results"][0]["results"][0].get("error")
    assert suite["results"][1]["success"] is True


def test_json_parseable(spark):
    df = mk_df(spark, [('{"k": 1}',), ("[1,2]",), ("nope",), (None,), ("",)], "j: string")
    r = single(df, "expect_column_values_to_be_json_parseable", {"column": "j"})
    assert r["result"]["unexpected_count"] == 2  # 'nope' and ''; null passes
    assert sorted(r["result"]["unexpected_values"]) == ["", "nope"]


def test_reference_parity_error_dict_exact_shape(spark):
    """reference_parity=True must reproduce the reference's error-result dict
    EXACTLY (quality_engine.py:412-420: keys, error string, empty sample_rows,
    kwargs passthrough) — locks the parity switch against drift."""
    df = mk_df(spark, [(1, 1)], "a: int, b: int")
    kwargs = {"column_A": "a", "column_B": "b", "mostly": 0.9}
    r = single(df, "expect_column_pair_values_to_be_equal", kwargs,
               reference_parity=True)
    assert r == {
        "expectation_type": "expect_column_pair_values_to_be_equal",
        "success": False,
        "error": ("Expectation type 'expect_column_pair_values_to_be_equal' "
                  "not implemented in direct evaluation mode"),
        "sample_rows": [],
        "kwargs": kwargs,
    }


def test_increasing_with_order_and_partition(spark):
    df = mk_df(spark, [
        (1, 1, 10.0), (1, 2, 12.0), (1, 3, 11.0),   # 11 < 12 -> 1 violation
        (2, 1, 5.0), (2, 2, 5.0), (2, 3, None),     # ties pass (non-strict); null passes
    ], "u: int, t: int, v: double")
    r = single(df, "expect_column_values_to_be_increasing",
               {"column": "v", "order_by": ["t"], "partition_by": ["u"]})
    assert r["result"]["unexpected_count"] == 1
    # strict mode: the (5.0, 5.0) tie now violates too
    r2 = single(df, "expect_column_values_to_be_increasing",
                {"column": "v", "order_by": ["t"], "partition_by": ["u"], "strictly": True})
    assert r2["result"]["unexpected_count"] == 2
    # missing order_by -> errored expectation (reference error isolation)
    r3 = single(df, "expect_column_values_to_be_increasing", {"column": "v"})
    assert r3["success"] is False and "order_by" in r3["error"]


def test_increasing_without_partition_warns_global_sort(spark):
    """No partition_by → the whole table sorts in ONE window partition; the
    compiler must warn (scale foot-gun) but still evaluate correctly."""
    import warnings

    df = mk_df(spark, [(1, 1, 1.0), (1, 2, 3.0), (1, 3, 2.0)],
               "u: int, t: int, v: double")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        r = single(df, "expect_column_values_to_be_increasing",
                   {"column": "v", "order_by": ["t"]})
    assert r["result"]["unexpected_count"] == 1
    assert any("single-task global sort" in str(x.message) for x in w), \
        [str(x.message) for x in w]
    # with partition_by the warning must NOT fire
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        single(df, "expect_column_values_to_be_increasing",
               {"column": "v", "order_by": ["t"], "partition_by": ["u"]})
    assert not any("global sort" in str(x.message) for x in w2)


def test_increasing_null_order_keys_sort_nulls_first(spark):
    """Null order keys must sort NULLS FIRST on both engines (Spark's asc
    default, now explicit; the DuckDB oracle says NULLS FIRST too). With
    nulls-first the null-ts row (v=5) precedes (t=1, v=3): 3 < 5 is the one
    violation; under nulls-last ordering there would be none — so this
    asserts the pinned null placement, not just the count."""
    df = mk_df(spark, [(1, None, 5.0), (1, 1, 3.0), (1, 2, 4.0)],
               "u: int, t: int, v: double")
    r = single(df, "expect_column_values_to_be_increasing",
               {"column": "v", "order_by": ["t"], "partition_by": ["u"]})
    assert r["result"]["unexpected_count"] == 1
    assert r["result"]["unexpected_values"] == [3.0]


def test_increasing_rides_single_scan_with_other_expectations(spark):
    """The window mask is pre-projected; the suite must still evaluate all
    expectations (window + plain) in ONE aggregate job with correct counts."""
    df = mk_df(spark, [(1, 1, 3.0), (1, 2, 2.0), (1, 3, None)], "u: int, t: int, v: double")
    rule = Rule(id=1, name="r", rule_config=[
        {"expectation_type": "expect_column_values_to_be_increasing",
         "kwargs": {"column": "v", "order_by": ["t"], "partition_by": ["u"]}},
        {"expectation_type": "expect_column_values_to_not_be_null",
         "kwargs": {"column": "v"}},
    ])
    suite = run_suite(df, [rule])
    rs = suite["results"][0]["results"]
    assert rs[0]["result"]["unexpected_count"] == 1  # 2.0 < 3.0
    assert rs[1]["result"]["unexpected_count"] == 1  # the null


def test_zscore_two_pass(spark):
    # values: nine at 10, one at 100 -> the outlier's |z| is ~3 with
    # stddev(sample); threshold 2 flags exactly it; nulls pass
    df = mk_df(spark, [(10.0,)] * 9 + [(100.0,), (None,)], "v: double")
    r = single(df, "expect_column_value_z_scores_to_be_less_than",
               {"column": "v", "threshold": 2.0})
    assert r["result"]["unexpected_count"] == 1
    assert r["result"]["unexpected_values"] == [100.0]
    # one-sided: low outliers pass
    df2 = mk_df(spark, [(10.0,)] * 9 + [(-100.0,)], "v: double")
    r2 = single(df2, "expect_column_value_z_scores_to_be_less_than",
                {"column": "v", "threshold": 2.0, "double_sided": False})
    assert r2["result"]["unexpected_count"] == 0
    # constant column: sigma 0 -> no violations (not a crash)
    df3 = mk_df(spark, [(5.0,), (5.0,)], "v: double")
    r3 = single(df3, "expect_column_value_z_scores_to_be_less_than",
                {"column": "v", "threshold": 1.0})
    assert r3["result"]["unexpected_count"] == 0 and r3["success"]


def test_ge_suite_import_runs_identically(spark):
    """A Great-Expectations suite JSON imports as a Rule and produces the
    SAME engine results as the natively constructed rule; unknown GE types
    surface as the reference's error dict instead of failing the import."""
    from dataqualityassistant_spark.rules import Rule, from_ge_suite, to_ge_suite
    from dataqualityassistant_spark.operators.engine import run_suite

    df = spark.createDataFrame(
        [(1, "a", "en"), (2, None, "en"), (3, "c", "xx")], "id long, text string, lang string")
    ge = {
        "expectation_suite_name": "docs.basic",
        "expectations": [
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "text", "mostly": 0.5}},
            {"expectation_type": "expect_column_values_to_be_in_set",
             "kwargs": {"column": "lang", "value_set": ["en"]}},
            {"expectation_type": "expect_table_to_levitate", "kwargs": {}},
        ],
        "meta": {"notes": "migrated from GE"},
    }
    imported = from_ge_suite(ge, rule_id=9)
    native = Rule(id=9, name="docs.basic", rule_config=ge["expectations"])
    got = run_suite(df, [imported])["results"][0]
    want = run_suite(df, [native])["results"][0]
    assert got["results"] == want["results"]
    kinds = {r["expectation_type"]: r for r in got["results"]}
    assert kinds["expect_column_values_to_not_be_null"]["success"] is True
    assert kinds["expect_column_values_to_be_in_set"]["success"] is False
    assert "not implemented" in kinds["expect_table_to_levitate"]["error"]
    # round-trip preserves the suite
    assert from_ge_suite(to_ge_suite(imported), rule_id=9).config_json() == imported.config_json()


# ------------------------------------------------ round-5 core review fixes

def test_binary_column_mask_samples_do_not_crash_suite(spark):
    """A failing expectation whose mask references a BINARY column must not
    crash the suite: the sample projection prunes binary columns, so the
    mask filter has to run against the full frame before projecting."""
    rows = [(1, b"payload", "a"), (2, None, "b"), (3, None, "c")]
    df = spark.createDataFrame(rows, "id: long, html: binary, t: string")
    out = run_suite(df, [Rule(id=1, name="r", rule_config=[
        {"expectation_type": "expect_column_values_to_not_be_null",
         "kwargs": {"column": "html"}}])])
    r = out["results"][0]["results"][0]
    assert r["success"] is False and "error" not in r
    assert r["result"]["unexpected_count"] == 2
    assert len(r["sample_rows"]) == 2
    assert all("html" not in s for s in r["sample_rows"])  # binary pruned


def test_fallback_preserves_window_expectation(spark):
    """One malformed regex must not poison an unrelated window-based
    ('increasing') expectation: the per-expectation fallback replays the
    pre-projection for window masks instead of KeyError-ing on the missing
    aggregate alias."""
    df = spark.createDataFrame(
        [(1, 10), (2, 9), (3, 11)], "id: long, v: long")
    out = run_suite(df, [Rule(id=1, name="r", rule_config=[
        {"expectation_type": "expect_column_values_to_match_regex",
         "kwargs": {"column": "v", "regex": "*invalid"}},   # JVM-rejected
        {"expectation_type": "expect_column_values_to_be_increasing",
         "kwargs": {"column": "v", "order_by": "id"}},
    ])])
    bad, inc = out["results"][0]["results"]
    assert bad["success"] is False and bad.get("error")
    assert "error" not in inc
    assert inc["result"]["unexpected_count"] == 1  # v drops 10 -> 9 once


def test_in_table_set_missing_ref_table_errors(spark):
    """Omitting ref_table must produce an ERRORED expectation, not an
    unconditional green (the engine would skip the anti-join and fall
    through to a constant-zero count)."""
    df = spark.createDataFrame([(1,)], "author_id: long")
    out = run_suite(df, [Rule(id=1, name="r", rule_config=[
        {"expectation_type": "expect_column_values_to_be_in_table_set",
         "kwargs": {"column": "author_id", "ref_column": "id"}}])])
    r = out["results"][0]["results"][0]
    assert r["success"] is False and "ref_table" in r.get("error", "")


def test_keep_mask_skips_non_row_local_and_matches_oracle(spark):
    """The row verdict (no failed rules) over rules containing increasing +
    z-score expectations must be filterable (no window-in-WHERE
    AnalysisException) and agree with oracle_keep_mask, which skips the
    same non-row-local set."""
    from pyspark.sql import functions as F

    from dataqualityassistant_spark.operators.engine import failed_rules_column
    from dataqualityassistant_spark.oracle import oracle_keep_mask

    rows = [(1, 10, "x"), (2, 9, None), (3, 11, "y"), (4, 200, "z")]
    df = spark.createDataFrame(rows, "id: long, v: long, t: string")
    rules = [Rule(id=1, name="r", rule_config=[
        {"expectation_type": "expect_column_values_to_not_be_null",
         "kwargs": {"column": "t"}},
        {"expectation_type": "expect_column_values_to_be_increasing",
         "kwargs": {"column": "v", "order_by": "id"}},
        {"expectation_type": "expect_column_value_z_scores_to_be_less_than",
         "kwargs": {"column": "v", "threshold": 1.5}},
    ])]
    row_local = [(rule.name, ce) for rule, ces in SuiteEngine().compile_rules(rules)
                 for ce in ces if ce.row_local]
    kept = sorted(r["id"] for r in df.filter(F.size(failed_rules_column(row_local)) == 0).collect())
    pdf = pd.DataFrame(rows, columns=["id", "v", "t"])
    want = sorted(pdf[oracle_keep_mask(pdf, rules)]["id"].tolist())
    assert kept == want == [1, 3, 4]


def test_regex_unicode_digits_match_pandas(spark):
    """Java rlike's \\d is ASCII-only without (?U); the pandas reference
    matches Unicode digits — the compiled pattern must agree."""
    df = spark.createDataFrame([("٣٤",), ("12",), ("xx",)], "t: string")
    out = run_suite(df, [Rule(id=1, name="r", rule_config=[
        {"expectation_type": "expect_column_values_to_match_regex",
         "kwargs": {"column": "t", "regex": r"\d+"}}])])
    got = out["results"][0]["results"][0]["result"]["unexpected_count"]
    pdf = pd.DataFrame({"t": ["٣٤", "12", "xx"]})
    want = oracle_expectation(pdf, "expect_column_values_to_match_regex",
                              {"column": "t", "regex": r"\d+"})["unexpected_count"]
    assert got == want == 1
