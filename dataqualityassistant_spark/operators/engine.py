"""Single-pass suite executor.

The reference executes rules sequentially, each expectation re-traversing the
whole pandas DataFrame (reference ``quality_engine.py:135-139, 432-443``) —
N expectations = N full scans, all in driver RAM. Here the ENTIRE suite
(every expectation of every rule, including uniqueness counts) is fused into
ONE ``df.agg(...)`` job: one scan of the table, conditional partial
aggregates inside whole-stage codegen, a single-row result to the driver.
Catalyst prunes the scan to exactly the columns the suite references.

Follow-up jobs run only for *failing* expectations and only when samples are
requested: ``limit(10)`` unexpected values and ``limit(5)`` complete failing
rows (reference caps at ``quality_engine.py:213, 284, 388-395``) — tiny,
early-terminating jobs.

Result dicts reproduce the reference's three-level shape exactly
(suite: ``quality_engine.py:146-155``; rule: ``:448-459``; expectation:
``:248-258`` et al.), including ``mostly`` semantics: success iff
``unexpected_percent <= (1 - mostly) * 100`` (``:241``), percent computed
against the full row count, empty table ⇒ success (``:238``).
"""

from __future__ import annotations

import operator
import time
from functools import reduce
from typing import Any, Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataqualityassistant_spark.rules import Rule
from dataqualityassistant_spark.operators.compiler import (
    CompiledExpectation,
    _mask_count_agg,
    compile_expectation,
    REFERENCE_TYPES,
)

# the reference's sample caps (quality_engine.py:213, 284, 388-395)
MAX_SAMPLE_ROWS = 5
MAX_UNEXPECTED_VALUES = 10


def _serialize_value(v: Any) -> Any:
    """Sample-row value serialization, mirroring the reference's
    ``prepare_sample_rows`` (quality_engine.py:181-204): datetimes →
    isoformat, NaN → None. Spark rows are JVM-native so no numpy handling
    is needed; binary columns are pruned before collection instead."""
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, float) and v != v:  # NaN
        return None
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return v


def _row_to_sample(row) -> dict[str, Any]:
    return {k: _serialize_value(v) for k, v in row.asDict(recursive=True).items()}


class SuiteEngine:
    """Compiles and executes a rule suite against a DataFrame.

    Parameters
    ----------
    reference_parity:
        restrict the operator registry to the five types the reference
        evaluates; everything else fails with the reference's error message
        (quality_engine.py:412-420). Off by default — pair/compare_to/of_type
        run first-class.
    collect_samples:
        fetch up to ``MAX_UNEXPECTED_VALUES`` unexpected values and
        ``MAX_SAMPLE_ROWS`` failing rows for each failing expectation (extra
        tiny jobs). Disable on giant batch runs where only metrics matter.
    """

    def __init__(self, reference_parity: bool = False, collect_samples: bool = True):
        self.reference_parity = reference_parity
        self.collect_samples = collect_samples

    # -- compilation ------------------------------------------------------

    def compile_rules(self, rules: Iterable[Rule]) -> list[tuple[Rule, list[CompiledExpectation]]]:
        allowed = REFERENCE_TYPES if self.reference_parity else None
        return [(rule, [compile_expectation(e.expectation_type, e.kwargs, allowed_types=allowed)
                        for e in rule.expectations])
                for rule in rules]

    # -- execution --------------------------------------------------------

    def execute(self, df: DataFrame, rules: Iterable[Rule], table_name: str = "",
                run_ts: str | None = None) -> dict[str, Any]:
        """Run the whole suite in one aggregate scan; returns the reference's
        suite dict shape (quality_engine.py:141-155)."""
        t0 = time.time()
        rules = list(rules)
        compiled = self.compile_rules(rules)
        present = set(df.columns)

        # A missing column must error THAT expectation, not crash the suite
        # (reference catches per-expectation, quality_engine.py:422-430).
        for (rule, ces) in compiled:
            for exp, ce in zip(rule.expectations, ces):
                if ce.error is None:
                    missing = [c for c in exp.columns_referenced() if c not in present]
                    if missing:
                        ce.error = f"Column '{missing[0]}' not found in table"
                        ce.unexpected_mask = None

        # --- the single-pass aggregate ---
        try:
            agg_row = self.agg_frame(df, compiled).collect()[0].asDict()
        except Exception:
            # One malformed expectation (e.g. an invalid regex that only the
            # JVM rejects) must not poison the fused job for every other
            # rule (reference isolates per expectation, :422-430). Fall back
            # to one aggregate per expectation, erroring only the bad ones.
            agg_row = df.agg(F.count(F.lit(1)).alias("__element_count")).collect()[0].asDict()
            for prefix, ce in _live(compiled):
                try:
                    agg_row.update(_aggregate(df, [(prefix, ce)]).collect()[0].asDict())
                except Exception as e:
                    ce.error = str(e)
                    ce.unexpected_mask = None
        element_count = int(agg_row["__element_count"])

        results = []
        pending_samples: list[tuple[CompiledExpectation, dict, dict]] = []
        for i, (rule, ces) in enumerate(compiled):
            t_rule = time.time()
            exp_results = []
            for j, ce in enumerate(ces):
                exp_results.append(
                    self._finalize_expectation(df, ce, agg_row, f"r{i}e{j}", element_count,
                                               pending_samples)
                )
            rule_success = all(r.get("success", False) for r in exp_results)
            results.append(
                {
                    "rule_id": rule.id,
                    "rule_name": rule.name,
                    "success": rule_success,
                    "statistics": {
                        "evaluated_expectations": len(exp_results),
                        "successful_expectations": sum(1 for r in exp_results if r.get("success", False)),
                        "unsuccessful_expectations": sum(1 for r in exp_results if not r.get("success", False)),
                        "total_rows": element_count,
                    },
                    "execution_time": time.time() - t_rule,
                    "results": exp_results,
                }
            )

        self._flush_pending_samples(df, pending_samples)

        total_rules = len(results)
        successful = sum(1 for r in results if r["success"])
        return {
            "table_name": table_name,
            "execution_time": run_ts or "",
            "total_duration": time.time() - t0,
            "total_rules": total_rules,
            "successful_rules": successful,
            "failed_rules": total_rules - successful,
            "success_rate": (successful / total_rules * 100) if total_rules > 0 else 0,
            "results": results,
        }

    def agg_frame(self, df: DataFrame, compiled) -> DataFrame:
        """The fused single-scan aggregate for a compiled suite: one
        conditional aggregate per expectation, one ``count(*)``, one job.
        Exposed for plan-shape tests (the whole point of the engine is that
        N expectations never cost N scans)."""
        return _aggregate(df, list(_live(compiled)),
                          F.count(F.lit(1)).alias("__element_count"))

    @staticmethod
    def _mask_filtered(df: DataFrame, ce: CompiledExpectation) -> DataFrame:
        """Rows violating ce — window-safe (window expressions may not
        appear in WHERE; project them first)."""
        if ce.pre_project:
            return df.select("*", ce.unexpected_mask.alias("__ppm")).filter(F.col("__ppm")).drop("__ppm")
        return df.filter(ce.unexpected_mask)

    # -- per-expectation finalization --------------------------------------

    def _finalize_expectation(self, df: DataFrame, ce: CompiledExpectation, agg_row: dict,
                              prefix: str, element_count: int, pending_samples: list) -> dict:
        if ce.error is not None:
            return {
                "expectation_type": ce.expectation_type,
                "success": False,
                "error": ce.error,
                "sample_rows": [],
                "kwargs": ce.kwargs,
            }

        try:
            # the compiled count runs any second pass its type needs
            # against the frame
            unexpected_count = ce.count_from_row(agg_row, prefix, df)
        except Exception as e:  # any evaluation error -> failed expectation
            return {
                "expectation_type": ce.expectation_type,
                "success": False,
                "error": str(e),
                "sample_rows": [],
                "kwargs": ce.kwargs,
            }

        unexpected_percent, success = expectation_outcome(unexpected_count, element_count, ce.mostly)

        result: dict[str, Any] = {
            "element_count": element_count,
            "unexpected_count": unexpected_count,
            "unexpected_percent": unexpected_percent,
        }
        if ce.observed_value_key is not None:
            result["observed_value"] = _serialize_value(
                agg_row.get(f"{prefix}_{ce.observed_value_key}"))
        out = {
            "expectation_type": ce.expectation_type,
            "success": success,
            "result": result,
            "sample_rows": [],
            "kwargs": ce.kwargs,
        }
        if unexpected_count > 0 and self.collect_samples:
            if ce.values_kind is not None:
                result["unexpected_values"] = []  # filled below or by flush
            if ce.values_kind == "dups":
                dup_rows = self._dup_values(df, ce.column, MAX_UNEXPECTED_VALUES)
                dup_vals = [r[0] for r in dup_rows]
                result["unexpected_values"] = [_serialize_value(v) for v in dup_vals]
                # the samples reuse these values: no second full-table
                # duplicate groupBy
                out["sample_rows"] = self._dup_samples(df, ce.column, dup_vals[:5])
            elif ce.unexpected_mask is not None:
                # mask-based fetches are deferred and batched into ONE job
                # for the whole suite (see _flush_pending_samples)
                pending_samples.append((ce, result, out))
            # an expectation without a mask (a set- or table-level check)
            # has no rows to sample
        elif ce.values_kind is not None:
            result["unexpected_values"] = []
        return out

    def _flush_pending_samples(self, df: DataFrame, pending: list) -> None:
        """Driver samples for ALL failing mask-based expectations in ONE
        job (:meth:`_fetch_tagged`), fanned back out to each expectation's
        ``unexpected_values`` (first ``MAX_UNEXPECTED_VALUES`` rows' column
        values) and ``sample_rows``."""
        dfp = self._sample_projection(df)
        # filter the FULL frame, project afterwards: a mask referencing a
        # pruned binary column (e.g. not_be_null on pages.html) would
        # otherwise fail analysis and crash the whole suite run
        fetched = self._fetch_tagged([self._mask_filtered(df, ce) for ce, _, _ in pending],
                                     dfp.columns, max(MAX_UNEXPECTED_VALUES, MAX_SAMPLE_ROWS))
        for (ce, result, out), got in zip(pending, fetched):
            if ce.values_kind == "rows":
                if ce.column in dfp.columns:
                    vals = [row[ce.column] for row in got[: MAX_UNEXPECTED_VALUES]]
                else:  # binary column pruned from the sample projection
                    vals = [
                        r[0]
                        for r in self._mask_filtered(df, ce)
                        .select(ce.column)
                        .limit(MAX_UNEXPECTED_VALUES)
                        .collect()
                    ]
                result["unexpected_values"] = [_serialize_value(v) for v in vals]
            out["sample_rows"] = [_row_to_sample(r) for r in got[: MAX_SAMPLE_ROWS]]

    def _dup_values(self, df: DataFrame, column: str, limit: int):
        return (
            df.groupBy(column)
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .filter(F.col("__cnt") > 1)
            .select(column)
            .limit(limit)
            .collect()
        )

    def _sample_projection(self, df: DataFrame) -> DataFrame:
        # Never deserialize binary payloads (e.g. the pages table's `html`)
        # into driver samples — prune them before collect.
        keep = [f.name for f in df.schema.fields if not isinstance(f.dataType, T.BinaryType)]
        return df.select(*keep) if len(keep) != len(df.schema.fields) else df

    def _dup_samples(self, df: DataFrame, column: str, dup_vals: list) -> list[dict]:
        """Sample rows of the duplicate groups of ``dup_vals`` in ONE job
        (reference :383-395: ≤5 dup values × ≤2 rows each, in ``dup_vals``
        order, cap 5 total). pandas ``df[col] == NaN`` matches nothing, so a
        null dup group contributes no samples."""
        vals = [v for v in dup_vals if v is not None][:5]
        fetched = self._fetch_tagged([df.filter(F.col(column) == F.lit(v)) for v in vals],
                                     self._sample_projection(df).columns, 2)
        return [_row_to_sample(r) for rows in fetched for r in rows][: MAX_SAMPLE_ROWS]

    @staticmethod
    def _fetch_tagged(frames: list[DataFrame], columns: list[str], limit: int) -> list[list]:
        """Up to ``limit`` rows of each frame, as structs of ``columns``, in
        ONE job: each frame is a ``limit``-ed branch tagged with its index,
        the branches union and collect once. On a 100 TB table N follow-up
        fetches would be N sequential small scans; this is one job
        regardless of N."""
        if not frames:
            return []
        cols = [F.col(c) for c in columns]
        branches = [f.select(F.lit(tag).alias("__tag"), F.struct(*cols).alias("__row")).limit(limit)
                    for tag, f in enumerate(frames)]
        fetched: list[list] = [[] for _ in frames]
        for r in reduce(DataFrame.unionByName, branches).collect():
            fetched[r["__tag"]].append(r["__row"])
        return fetched


def _live(compiled) -> Iterable[tuple[str, CompiledExpectation]]:
    """``(prefix, ce)`` of every expectation of a compiled suite that has not
    errored; the prefix names its aggregates in the fused row."""
    for i, (_, ces) in enumerate(compiled):
        for j, ce in enumerate(ces):
            if ce.error is None:
                yield f"r{i}e{j}", ce


def _aggregate(df: DataFrame, items: list[tuple[str, CompiledExpectation]],
               *extra: Column) -> DataFrame:
    """ONE ``df.agg`` of ``extra`` and each ``(prefix, ce)``'s aggregates.
    A window mask (``pre_project``) is legal in a projection, not in an
    aggregate: it is projected to a boolean column first and counted there,
    still in the same single scan (project → agg in one job)."""
    aggs, pre = list(extra), []
    for prefix, ce in items:
        if ce.pre_project:
            alias = f"__pp_{prefix}"
            pre.append(ce.unexpected_mask.alias(alias))
            aggs.extend(agg.alias(f"{prefix}_{name}") for name, agg
                        in _mask_count_agg("u", F.col(alias)).items())
        else:
            aggs.extend(ce.agg_exprs(prefix))
    if pre:
        df = df.select("*", *pre)
    return df.agg(*aggs)


def expectation_outcome(unexpected_count: int, element_count: int,
                        mostly: float) -> tuple[float, bool]:
    """``(unexpected_percent, success)`` of one expectation, for the suite
    result and for the pipeline's metrics rows: float64 percent of the full
    row count as the reference computes it (:238), 0 on an empty table, and
    success iff ``unexpected_percent <= (1 - mostly) * 100`` (``<=``, :241)."""
    unexpected_percent = (unexpected_count / element_count * 100) if element_count > 0 else 0
    return unexpected_percent, unexpected_percent <= (1 - mostly) * 100


# -- row-local expectations (webtext pipeline) ------------------------------
# The pipeline judges rows by, and reports metrics of, a list of
# ``(rule_name, CompiledExpectation)`` pairs holding only row-local
# expectations (``CompiledExpectation.row_local``). Set-level checks
# (uniqueness, of_type), window masks (``increasing``) and two-pass z-scores
# are suite-level only; ``oracle.oracle_keep_mask`` skips the same set.


def failed_rules_column(expectations: list[tuple[str, CompiledExpectation]]) -> Column:
    """Per-row ``array<string>`` of the rules with a row-local expectation
    that flags the row; empty ⇔ the row is kept (row-granular analog of rule
    success = AND of expectations, reference quality_engine.py:445-446)."""
    by_rule: dict[str, list[Column]] = {}
    for rule_name, ce in expectations:
        by_rule.setdefault(rule_name, []).append(ce.unexpected_mask)
    failed = [F.when(reduce(operator.or_, masks), F.lit(name))
              for name, masks in by_rule.items()]
    return F.array_compact(F.array(*failed)) if failed else F.array().cast("array<string>")


def metric_aggs(expectations: list[tuple[str, CompiledExpectation]]) -> list[Column]:
    """``observe()`` aggregates of the row-local expectations: the row count
    and each expectation's own aggregates under the prefix ``u{k}``,
    decoded by :func:`metric_rows`."""
    return [F.count(F.lit(1)).alias("element_count")] + [
        agg for k, (_, ce) in enumerate(expectations) for agg in ce.agg_exprs(f"u{k}")]


def metric_rows(row: dict, expectations: list[tuple[str, CompiledExpectation]],
                **keys) -> list[dict]:
    """One metrics row per row-local expectation from the observed
    :func:`metric_aggs` ``row`` (``{}`` when no row was observed), prefixed
    with ``keys`` (a batch wave's run/wave, or a stream's batch id)."""
    n = int(row.get("element_count") or 0)
    out = []
    for k, (rule_name, ce) in enumerate(expectations):
        cnt = ce.count_from_row(row, f"u{k}") if n else 0
        pct, success = expectation_outcome(cnt, n, ce.mostly)
        out.append({
            **keys, "rule_name": rule_name, "expectation_type": ce.expectation_type,
            "column": ce.kwargs.get("column"),
            "element_count": n, "unexpected_count": cnt,
            "unexpected_percent": pct, "success": success,
        })
    return out


def run_suite(df: DataFrame, rules: Iterable[Rule], table_name: str = "", **kwargs) -> dict[str, Any]:
    """Convenience wrapper: the Spark-native analog of the reference's
    ``POST /api/v1/rules/execute`` hot path (app/main.py:358-411)."""
    return SuiteEngine(**kwargs).execute(df, rules, table_name=table_name)
