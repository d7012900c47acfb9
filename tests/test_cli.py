"""CLI tests: the `python -m dataqualityassistant_spark.cli` surface (the
spark-submit driver script body). `test_cli_validate_writes_report` drives
it as a real subprocess; the rest call `cli.main(argv)` in-process on the
shared test session, which main() reuses and leaves running."""

import contextlib
import io
import json
import os
import subprocess
import sys
import types

import pytest

from dataqualityassistant_spark import cli

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.01"

# main() reuses the shared test session (and leaves its log level alone)
pytestmark = pytest.mark.usefixtures("spark")


def run_cli(args):
    """`cli.main(argv)` in-process, shaped like a finished subprocess:
    stdout/stderr captured, SystemExit (argparse errors) as the return code.
    Other exceptions propagate and fail the test with their traceback."""
    out, err = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
        try:
            code = cli.main(["--cores", "4", *args])
        except SystemExit as e:
            code = e.code
    return types.SimpleNamespace(returncode=code, stdout=out.getvalue(),
                                 stderr=err.getvalue())


def run_cli_process(args, timeout=300):
    return subprocess.run(
        [sys.executable, "-m", "dataqualityassistant_spark.cli",
         "--cores", "4", *args],
        capture_output=True, text=True, cwd=REPO, timeout=timeout)


def test_cli_validate_writes_report(tmp_path):
    rules = [{
        "id": 1, "name": "docs_basic", "rule_config": [
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "text", "mostly": 0.9}},
            {"expectation_type": "expect_column_values_to_be_in_set",
             "kwargs": {"column": "lang", "value_set": ["en", "de", "fr", "es"],
                        "mostly": 0.8}},
        ],
    }]
    rules_file = tmp_path / "rules.json"
    rules_file.write_text(json.dumps(rules))
    report = tmp_path / "report.md"
    res = run_cli_process(["validate", "--input", f"{SF_DIR}/documents.parquet",
                           "--rules", str(rules_file), "--table-name", "documents",
                           "--report", str(report)])
    assert res.returncode == 0, res.stderr[-2000:]
    text = report.read_text()
    assert "docs_basic" in text and "expect_column_values_to_not_be_null" in text


def test_cli_profile_suggests(tmp_path):
    res = run_cli(["profile", "--input", f"{SF_DIR}/documents.parquet", "--suggest"])
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads([l for l in res.stdout.splitlines() if l.startswith("{")][-1])
    assert {"columns", "statistics", "sample_data", "suggestions"} <= set(out)
    assert {c["column_name"] for c in out["columns"]} == {
        "doc_id", "text", "lang", "source", "n_chars"}
    assert len(out["suggestions"]) >= 1
    # structured trimming keeps the JSON valid and the samples bounded
    assert len(out["sample_data"]) <= 10
    assert all(len(v) <= 201 for r in out["sample_data"]
               for v in r.values() if isinstance(v, str))


def test_cli_dedup_exact(tmp_path):
    out = str(tmp_path / "deduped")
    res = run_cli(["dedup", "--input", f"{SF_DIR}/documents.parquet",
                   "--output", out, "--mode", "exact"])
    assert res.returncode == 0, res.stderr[-2000:]
    stats = json.loads([l for l in res.stdout.splitlines() if l.startswith("{")][-1])
    assert stats["rows_in"] == 500 and stats["rows_out"] == stats["rows_in"] - stats["dropped"]
    assert os.path.exists(os.path.join(out, "_SUCCESS"))


def test_cli_sample_stratified(tmp_path):
    out = str(tmp_path / "sampled")
    res = run_cli(["sample", "--input", f"{SF_DIR}/documents.parquet",
                   "--output", out, "--fraction", "0.05",
                   "--stratify-col", "lang", "--fractions", '{"en": 0.5}'])
    assert res.returncode == 0, res.stderr[-2000:]
    stats = json.loads([l for l in res.stdout.splitlines() if l.startswith("{")][-1])
    assert 0 < stats["rows_out"] < stats["rows_in"]
    # rerun into a second dir: deterministic -> identical row count
    out2 = str(tmp_path / "sampled2")
    res2 = run_cli(["sample", "--input", f"{SF_DIR}/documents.parquet",
                    "--output", out2, "--fraction", "0.05",
                    "--stratify-col", "lang", "--fractions", '{"en": 0.5}'])
    stats2 = json.loads([l for l in res2.stdout.splitlines() if l.startswith("{")][-1])
    assert stats2["rows_out"] == stats["rows_out"]


def test_cli_decontaminate(tmp_path):
    # benchmark = a slice of the corpus itself -> those docs must be dropped
    bench = str(tmp_path / "bench")
    res0 = run_cli(["sample", "--input", f"{SF_DIR}/documents.parquet",
                    "--output", bench, "--fraction", "0.1"])
    assert res0.returncode == 0, res0.stderr[-2000:]
    out = str(tmp_path / "clean")
    res = run_cli(["decontaminate", "--input", f"{SF_DIR}/documents.parquet",
                   "--benchmark", bench, "--output", out, "--ngram", "5"])
    assert res.returncode == 0, res.stderr[-2000:]
    stats = json.loads([l for l in res.stdout.splitlines() if l.startswith("{")][-1])
    assert stats["contaminated"] > 0 and stats["rows_out"] < stats["rows_in"]


def test_cli_dedup_passes_null_text_rows_through(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "in.parquet")
    pq.write_table(pa.table({
        "doc_id": [1, 2, 3, 4, 5],
        "text": ["same", "same", None, None, None],
    }), src)
    out = str(tmp_path / "out")
    res = run_cli(["dedup", "--input", src, "--output", out, "--mode", "exact"])
    assert res.returncode == 0, res.stderr[-2000:]
    stats = json.loads([l for l in res.stdout.splitlines() if l.startswith("{")][-1])
    # one of the two "same" rows dropped; the three null-text rows all kept
    assert stats == {"rows_in": 5, "rows_out": 4, "dropped": 1, "mode": "exact"}


def test_cli_validate_accepts_ge_suite_json(tmp_path):
    suite = {
        "expectation_suite_name": "docs.ge",
        "expectations": [
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "text", "mostly": 0.9}},
        ],
    }
    f = tmp_path / "suite.json"
    f.write_text(json.dumps(suite))
    res = run_cli(["validate", "--input", f"{SF_DIR}/documents.parquet",
                   "--rules", str(f), "--table-name", "documents"])
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads([l for l in res.stdout.splitlines() if l.startswith("{")][-1])
    assert out["total_rules"] == 1 and out["successful_rules"] == 1


def test_cli_dedup_incremental_across_batches(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    text_a = "a long enough document about spark shuffles " * 4
    text_b = "a totally different page describing crawlers " * 4
    b1 = str(tmp_path / "b1.parquet")
    pq.write_table(pa.table({"doc_id": [1, 2], "text": [text_a, text_b]}), b1)
    b2 = str(tmp_path / "b2.parquet")
    pq.write_table(pa.table({"doc_id": [10, 11],
                             "text": [text_a, "fresh unseen content entirely new " * 4]}), b2)
    store = str(tmp_path / "store")
    out1, out2 = str(tmp_path / "o1"), str(tmp_path / "o2")
    r1 = run_cli(["dedup", "--mode", "incremental", "--input", b1, "--output", out1,
                  "--store", store, "--batch-id", "b1"])
    assert r1.returncode == 0, r1.stderr[-2000:]
    s1 = json.loads([l for l in r1.stdout.splitlines() if l.startswith("{")][-1])
    assert s1["rows_out"] == 2                       # first batch: all new
    r2 = run_cli(["dedup", "--mode", "incremental", "--input", b2, "--output", out2,
                  "--store", store, "--batch-id", "b2"])
    assert r2.returncode == 0, r2.stderr[-2000:]
    s2 = json.loads([l for l in r2.stdout.splitlines() if l.startswith("{")][-1])
    assert s2["rows_out"] == 1                       # doc 10 dups batch-1's doc 1

    # compact the per-batch store, then a third batch must decide identically
    rc = run_cli(["compact-store", "--store", store, "--buckets", "4"])
    assert rc.returncode == 0, rc.stderr[-2000:]
    sc = json.loads([l for l in rc.stdout.splitlines() if l.startswith("{")][-1])
    assert sc["rows"] == 3                           # 2 from b1 + 1 from b2
    b3 = str(tmp_path / "b3.parquet")
    pq.write_table(pa.table({"doc_id": [20, 21],
                             "text": [text_b, "never before seen prose at all " * 4]}), b3)
    out3 = str(tmp_path / "o3")
    r3 = run_cli(["dedup", "--mode", "incremental", "--input", b3, "--output", out3,
                  "--store", store, "--batch-id", "b3"])
    assert r3.returncode == 0, r3.stderr[-2000:]
    s3 = json.loads([l for l in r3.stdout.splitlines() if l.startswith("{")][-1])
    assert s3["rows_out"] == 1                       # doc 20 dups compacted doc 2
