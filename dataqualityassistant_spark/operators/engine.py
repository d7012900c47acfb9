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

import time
from typing import Any, Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataqualityassistant_spark.rules import Rule
from dataqualityassistant_spark.operators.compiler import (
    CompiledExpectation,
    compile_expectation,
    type_matches,
    REFERENCE_TYPES,
)


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
    approx_unique:
        use ``approx_count_distinct`` for uniqueness counts (metric-grade at
        10^12 rows; exact by default for label parity).
    collect_samples:
        fetch failing-row samples / unexpected values for failing
        expectations (extra tiny jobs). Disable on giant batch runs where
        only metrics matter.
    """

    def __init__(
        self,
        reference_parity: bool = False,
        approx_unique: bool = False,
        collect_samples: bool = True,
        max_sample_rows: int = 5,
        max_unexpected_values: int = 10,
    ):
        self.reference_parity = reference_parity
        self.approx_unique = approx_unique
        self.collect_samples = collect_samples
        self.max_sample_rows = max_sample_rows
        self.max_unexpected_values = max_unexpected_values

    # -- compilation ------------------------------------------------------

    def compile_rules(self, rules: Iterable[Rule]) -> list[tuple[Rule, list[CompiledExpectation]]]:
        allowed = REFERENCE_TYPES if self.reference_parity else None
        out = []
        for rule in rules:
            compiled = [
                compile_expectation(e.expectation_type, e.kwargs, allowed_types=allowed)
                for e in rule.expectations
            ]
            if self.approx_unique:
                for ce in compiled:
                    if ce.expectation_type == "expect_column_values_to_be_unique" and not ce.error:
                        c = F.col(ce.column)
                        ce._agg = {
                            "n": F.count(F.lit(1)),
                            "d": F.approx_count_distinct(c),
                            "hasnull": F.max(c.isNull().cast("long")),
                        }
            out.append((rule, compiled))
        return out

    # -- execution --------------------------------------------------------

    def execute(self, df: DataFrame, rules: Iterable[Rule], table_name: str = "",
                run_ts: str | None = None) -> dict[str, Any]:
        """Run the whole suite in one aggregate scan; returns the reference's
        suite dict shape (quality_engine.py:141-155)."""
        t0 = time.time()
        rules = list(rules)
        compiled = self.compile_rules(rules)
        schema_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}

        # A missing column must error THAT expectation, not crash the suite
        # (reference catches per-expectation, quality_engine.py:422-430).
        for (rule, ces) in compiled:
            for exp, ce in zip(rule.expectations, ces):
                if ce.error is None:
                    missing = [c for c in exp.columns_referenced() if c not in schema_types]
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
            # to per-expectation aggregates, erroring only the bad ones.
            agg_row = df.agg(F.count(F.lit(1)).alias("__element_count")).collect()[0].asDict()
            for i, (_, ces) in enumerate(compiled):
                for j, ce in enumerate(ces):
                    if ce.error is not None:
                        continue
                    prefix = f"r{i}e{j}"
                    try:
                        if ce.pre_project and ce.unexpected_mask is not None:
                            # window masks have no ce._agg — replay the same
                            # project→sum shape agg_frame uses, or a healthy
                            # 'increasing' expectation would be poisoned by
                            # an unrelated malformed one (KeyError on _u)
                            agg_row.update(
                                df.select(ce.unexpected_mask.alias("__ppm"))
                                .agg(F.sum(F.when(F.col("__ppm"), 1).otherwise(0))
                                     .alias(f"{prefix}_u"))
                                .collect()[0].asDict())
                        elif ce._agg:
                            agg_row.update(
                                df.agg(*ce.agg_exprs(prefix)).collect()[0].asDict())
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
                                               schema_types, pending_samples)
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
        agg_cols: list[Column] = [F.count(F.lit(1)).alias("__element_count")]
        pre_cols: list[Column] = []
        for i, (_, ces) in enumerate(compiled):
            for j, ce in enumerate(ces):
                if ce.error is not None:
                    continue
                prefix = f"r{i}e{j}"
                if ce.pre_project and ce.unexpected_mask is not None:
                    # window-containing mask: legal in a projection, not in
                    # an aggregate — project to a boolean first. Still ONE
                    # scan (project → agg in the same job).
                    alias = f"__pp_{prefix}"
                    pre_cols.append(ce.unexpected_mask.alias(alias))
                    agg_cols.append(
                        F.sum(F.when(F.col(alias), 1).otherwise(0)).alias(f"{prefix}_u"))
                else:
                    agg_cols.extend(ce.agg_exprs(prefix))
        if pre_cols:
            df = df.select("*", *pre_cols)
        return df.agg(*agg_cols)

    @staticmethod
    def _mask_filtered(df: DataFrame, ce: CompiledExpectation) -> DataFrame:
        """Rows violating ce — window-safe (window expressions may not
        appear in WHERE; project them first)."""
        if ce.pre_project:
            return df.select("*", ce.unexpected_mask.alias("__ppm")).filter(F.col("__ppm")).drop("__ppm")
        return df.filter(ce.unexpected_mask)

    # -- per-expectation finalization --------------------------------------

    def _finalize_expectation(self, df: DataFrame, ce: CompiledExpectation, agg_row: dict,
                              prefix: str, element_count: int, schema_types: dict,
                              pending_samples: list | None = None) -> dict:
        if ce.error is not None:
            return {
                "expectation_type": ce.expectation_type,
                "success": False,
                "error": ce.error,
                "sample_rows": [],
                "kwargs": ce.kwargs,
            }

        observed_value = None
        try:
            if ce.ref_table is not None:
                # FK membership: broadcast left-anti join against the
                # reference column's distinct values. Small-dim broadcast;
                # Catalyst falls back to shuffle join past the threshold.
                from dataqualityassistant_spark.sources.tables import read_table

                ref = read_table(df.sparkSession, ce.ref_table)
                ref_col = ce.kwargs.get("ref_column", ce.column)
                orphans = (
                    df.where(F.col(ce.column).isNotNull())
                    .join(
                        F.broadcast(ref.select(F.col(ref_col).alias("__ref")).distinct()),
                        F.col(ce.column) == F.col("__ref"),
                        "left_anti",
                    )
                )
                unexpected_count = orphans.count()
            elif getattr(ce, "zscore_threshold", None) is not None:
                # two-pass by nature: μ/σ rode the fused aggregate; one extra
                # scan counts violations against the resolved literals (and
                # installs the literal mask so sample fetching works)
                mu = agg_row.get(f"{prefix}_mu")
                sigma = agg_row.get(f"{prefix}_sigma")
                if mu is None or sigma is None or float(sigma) == 0.0:
                    unexpected_count = 0  # constant/empty column: no z-scores
                else:
                    z = (F.col(ce.column) - F.lit(float(mu))) / F.lit(float(sigma))
                    t = float(ce.zscore_threshold)
                    bad = (F.abs(z) >= t) if ce.zscore_double_sided else (z >= t)
                    ce.unexpected_mask = F.col(ce.column).isNotNull() & bad
                    unexpected_count = df.filter(ce.unexpected_mask).count()
            elif ce.expectation_type == "expect_column_values_to_be_of_type":
                declared = ce.kwargs.get("type_") or ce.kwargs.get("type", "")
                actual = schema_types.get(ce.column, "")
                ok = type_matches(declared, actual)
                unexpected_count = 0 if ok else element_count
            else:
                unexpected_count = ce.count_from_row(agg_row, prefix)
        except Exception as e:  # any evaluation error -> failed expectation
            return {
                "expectation_type": ce.expectation_type,
                "success": False,
                "error": str(e),
                "sample_rows": [],
                "kwargs": ce.kwargs,
            }

        # float64 percent arithmetic identical to the reference (:238)
        unexpected_percent = (unexpected_count / element_count * 100) if element_count > 0 else 0
        success = unexpected_percent <= (1 - ce.mostly) * 100  # `<=` — :241

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
                dup_rows = self._dup_values(df, ce.column, self.max_unexpected_values)
                dup_vals = [r[0] for r in dup_rows]
                result["unexpected_values"] = [_serialize_value(v) for v in dup_vals]
                # reuse the fetched values: the sample fetch used to re-run
                # the identical full-table duplicate groupBy a second time
                out["sample_rows"] = self._fetch_samples(df, ce, dup_vals=dup_vals[:5])
            elif ce.unexpected_mask is not None and pending_samples is not None:
                # mask-based fetches are deferred and batched into ONE job
                # for the whole suite (see _flush_pending_samples)
                pending_samples.append((ce, result, out))
            else:
                if ce.values_kind == "rows" and ce.unexpected_mask is not None:
                    vals = [
                        r[0]
                        for r in self._mask_filtered(df, ce)
                        .select(ce.column)
                        .limit(self.max_unexpected_values)
                        .collect()
                    ]
                    result["unexpected_values"] = [_serialize_value(v) for v in vals]
                out["sample_rows"] = self._fetch_samples(df, ce)
        elif ce.values_kind is not None:
            result["unexpected_values"] = []
        return out

    def _flush_pending_samples(self, df: DataFrame, pending: list) -> None:
        """Driver samples for ALL failing mask-based expectations in ONE
        job: each expectation contributes a ``limit``-ed branch projected to
        a common (tag, row-struct) schema; the branches union and collect
        once, then fan back out to each expectation's ``unexpected_values``
        (first ``max_unexpected_values`` rows' column values) and
        ``sample_rows``. On a 100 TB table a suite with N failing rules
        previously launched ~2N sequential small scans here; now it is one
        job regardless of N."""
        if not pending:
            return
        dfp = self._sample_projection(df)
        limit = max(self.max_unexpected_values, self.max_sample_rows)
        cols = [F.col(c) for c in dfp.columns]
        branches = []
        for tag, (ce, _result, _out) in enumerate(pending):
            # filter the FULL frame, project afterwards: a mask referencing
            # a pruned binary column (e.g. not_be_null on pages.html) would
            # otherwise fail analysis and crash the whole suite run
            branches.append(
                self._mask_filtered(df, ce)
                .select(F.lit(tag).alias("__tag"), F.struct(*cols).alias("__row"))
                .limit(limit)
            )
        unioned = branches[0]
        for b in branches[1:]:
            unioned = unioned.unionByName(b)
        by_tag: dict[int, list] = {}
        for r in unioned.collect():
            by_tag.setdefault(r["__tag"], []).append(r["__row"])
        for tag, (ce, result, out) in enumerate(pending):
            got = by_tag.get(tag, [])
            if ce.values_kind == "rows":
                if ce.column in dfp.columns:
                    vals = [row[ce.column] for row in got[: self.max_unexpected_values]]
                else:  # binary column pruned from the sample projection
                    vals = [
                        r[0]
                        for r in self._mask_filtered(df, ce)
                        .select(ce.column)
                        .limit(self.max_unexpected_values)
                        .collect()
                    ]
                result["unexpected_values"] = [_serialize_value(v) for v in vals]
            if ce.samples_kind == "mask":
                out["sample_rows"] = [_row_to_sample(r) for r in got[: self.max_sample_rows]]

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

    def _fetch_samples(self, df: DataFrame, ce: CompiledExpectation,
                       dup_vals: list | None = None) -> list[dict]:
        dfp = self._sample_projection(df)
        if ce.samples_kind == "mask" and ce.unexpected_mask is not None:
            # filter the full frame, project after (mask may reference a
            # pruned binary column — see _flush_pending_samples)
            rows = (self._mask_filtered(df, ce).select(*dfp.columns)
                    .limit(self.max_sample_rows).collect())
            return [_row_to_sample(r) for r in rows]
        if ce.samples_kind == "dups":
            # reference :383-395: ≤5 dup values × ≤2 rows each, cap 5 total;
            # pandas `df[col] == NaN` matches nothing, so null dup groups
            # contribute no samples — filter nulls out of the fetch.
            # dup_vals lets the caller reuse its already-fetched duplicate
            # values instead of paying the full-table groupBy a second time.
            if dup_vals is None:
                dup_vals = [r[0] for r in self._dup_values(df, ce.column, 5)]
            dup_vals = [v for v in dup_vals if v is not None]
            samples: list[dict] = []
            for v in dup_vals[:5]:
                rows = dfp.filter(F.col(ce.column) == F.lit(v)).limit(2).collect()
                samples.extend(_row_to_sample(r) for r in rows[:2])
                if len(samples) >= self.max_sample_rows:
                    break
            return samples[: self.max_sample_rows]
        return []

    # -- row-level verdicts (webtext pipeline) -----------------------------

    def keep_mask(self, rules: Iterable[Rule]) -> Column:
        """Per-row keep predicate: a row is kept iff NO row-local expectation
        flags it. (Row-granular analog of rule success = AND of expectations,
        reference quality_engine.py:445-446.) Expectations without a
        ROW-LOCAL verdict (``CompiledExpectation.row_local``) contribute
        nothing, by contract: set-level checks (uniqueness, of_type — dedup
        is its own operator), window-based masks (``increasing`` — a window
        expression is illegal in WHERE), and two-pass z-scores (μ/σ need
        their own aggregate). The pandas counterpart
        (``oracle.oracle_keep_mask``) skips the SAME set so the engine/oracle
        verdicts stay in lockstep."""
        mask = F.lit(True)
        for _, ces in self.compile_rules(rules):
            for ce in ces:
                if ce.row_local:
                    mask = mask & ~ce.unexpected_mask
        return mask


def run_suite(df: DataFrame, rules: Iterable[Rule], table_name: str = "", **kwargs) -> dict[str, Any]:
    """Convenience wrapper: the Spark-native analog of the reference's
    ``POST /api/v1/rules/execute`` hot path (app/main.py:358-411)."""
    return SuiteEngine(**kwargs).execute(df, rules, table_name=table_name)
