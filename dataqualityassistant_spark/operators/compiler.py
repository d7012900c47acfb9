"""Expectation → Spark expression compiler.

The reference evaluates each expectation eagerly with a pandas boolean mask
(reference: ``app/services/quality_engine.py:224-430``, fn
``evaluate_expectation``). Here every expectation compiles to **metadata** —
a lazy "unexpected" (violating-row) ``Column`` mask, aggregate expressions,
and a count that reads the violation count back from the aggregate row —
so the suite engine can fuse ALL expectations of ALL rules into ONE
``df.agg(...)`` scan (partial + final hash aggregate, whole-stage codegen).
No per-row Python anywhere on the hot path.

Everything an expectation type means lives in its compiler function here,
second passes included: the FK check's anti-join, the z-score's counting
scan against the resolved μ/σ, and the schema check of ``of_type`` run
inside the count, which receives the frame as well as the aggregate row.
The engine (``operators/engine.py``) runs every expectation the same way
and knows no expectation type.

Semantics reproduced exactly (each is a test case in
``tests/test_expectations.py``):

- ``element_count`` = full row count *including nulls* for every type
  (reference ``quality_engine.py:237,266,311,346,375``).
- Nulls PASS in_set / between / regex checks (masks guarded by ``notnull``,
  reference ``:263,:301,:305,:342``); only ``not_be_null`` counts them.
- pandas ``str.match`` anchors at the START of the string (reference
  ``:343``) → Spark ``rlike`` gets a ``^(?:...)`` wrapper.
- Uniqueness (reference ``:370-408``): pandas ``duplicated(keep=False)``
  groups NaN/None together, so ``unexpected_count = rows_in_dup_groups −
  n_distinct_dup_values`` counts the null group too. Algebraically
  ``unexpected_count = N − count_distinct(col) − has_null`` which lets the
  whole check ride in the same single-pass aggregate (no extra job for the
  count; follow-up jobs only fetch dup values/samples when asked).
- Unknown expectation types → ``success=False`` with an error message
  (reference ``:412-420``). Pair/compare_to/of_type expectations are
  documented in the reference but NOT evaluated (always that error path);
  we implement them as first-class operators, with a ``reference_parity``
  switch on the engine that restores the reference's always-fail behavior
  for label parity.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Expectation types the reference actually evaluates
# (quality_engine.py:233,260,290,335,370).
REFERENCE_TYPES = frozenset(
    {
        "expect_column_values_to_not_be_null",
        "expect_column_values_to_be_in_set",
        "expect_column_values_to_be_between",
        "expect_column_values_to_match_regex",
        "expect_column_values_to_be_unique",
    }
)

# Python-re constructs with no Java-regex equivalent (or different meaning).
# Patterns using these are evaluated via an Arrow-batched pandas UDF with
# Python `re` instead of JVM rlike, so exotic reference rules still match
# byte-for-byte.
_PYTHON_ONLY_REGEX = re.compile(r"\(\?P[<=]|\\Z|\(\?[aLu]\)")


@dataclass
class CompiledExpectation:
    """Lazy, composable compilation of one expectation.

    ``agg_exprs()`` contributes named aggregate Columns to the suite's
    single-pass ``df.agg``; ``count_from_row`` turns the resulting row (and,
    for a type with a second pass, the frame) into the violation count.
    ``unexpected_mask`` is the per-row violating predicate, used for the
    pipeline's row verdict and for sample rows. It is None for errored or
    unknown expectations and for set-level and table-level checks, and a
    z-score expectation gets its mask from its count.
    """

    expectation_type: str
    kwargs: dict[str, Any]
    mostly: float = 1.0
    unexpected_mask: Column | None = None
    # alias -> aggregate Column; filled by the per-type compilers
    _agg: dict[str, Column] = field(default_factory=dict)
    # (row_dict, prefix, frame) -> unexpected_count; the frame is None where
    # the caller has only the row (the pipeline's row-local metrics)
    _count: Callable[[dict, str, DataFrame | None], int] | None = None
    error: str | None = None
    # value listing: 'rows' (first 10 masked rows' values) | 'dups' | None.
    # Samples follow from it: 'dups' samples the duplicate groups, otherwise
    # a mask samples its rows and an expectation without one has none.
    values_kind: str | None = None
    column: str | None = None
    # agg alias whose value is surfaced as GE-style observed_value
    observed_value_key: str | None = None
    # True when unexpected_mask contains a WINDOW expression: the engine must
    # project the mask to a boolean column before the fused aggregate (window
    # functions are legal in projections, not inside aggregates/filters)
    pre_project: bool = False

    @property
    def row_local(self) -> bool:
        """Judges each row on its own (a compiled, non-window mask) — the
        ONE test for the pipeline's verdict and metrics
        (``engine.failed_rules_column``, ``engine.metric_aggs``).
        Not: set-level checks, ``increasing`` windows, two-pass z-scores."""
        return self.unexpected_mask is not None and not self.pre_project

    def agg_exprs(self, prefix: str) -> list[Column]:
        return [expr.alias(f"{prefix}_{name}") for name, expr in self._agg.items()]

    def count_from_row(self, row: dict, prefix: str, df: DataFrame | None = None) -> int:
        assert self._count is not None
        return int(self._count(row, prefix, df))


_COMPILERS: dict[str, Callable[[dict[str, Any]], CompiledExpectation]] = {}


def register_expectation(name: str):
    """Extension seam, mirroring the reference's dispatcher registry
    ('add more expectation types as needed', quality_engine.py:410)."""

    def deco(fn):
        _COMPILERS[name] = fn
        return fn

    return deco


def _mostly(kwargs: dict[str, Any]) -> float:
    m = kwargs.get("mostly", 1.0)
    return 1.0 if m is None else float(m)


def _mask_count_agg(alias: str, mask: Column) -> dict[str, Column]:
    # count_if compiles to a conditional partial aggregate; stays inside
    # whole-stage codegen, no shuffle beyond the final single-row reduce.
    return {alias: F.sum(F.when(mask, F.lit(1)).otherwise(F.lit(0)))}


def _simple(expectation_type, kwargs, mask: Column, column: str | None) -> CompiledExpectation:
    ce = CompiledExpectation(
        expectation_type=expectation_type,
        kwargs=kwargs,
        mostly=_mostly(kwargs),
        unexpected_mask=mask,
        column=column,
        values_kind="rows" if column else None,
    )
    ce._agg = _mask_count_agg("u", mask)
    ce._count = lambda row, p, df: row[f"{p}_u"] or 0
    return ce


@register_expectation("expect_column_values_to_not_be_null")
def _c_not_null(kwargs):
    # reference quality_engine.py:233-258
    c = F.col(kwargs["column"])
    ce = _simple("expect_column_values_to_not_be_null", kwargs, c.isNull(), kwargs["column"])
    ce.values_kind = None  # reference lists no unexpected_values for nulls
    return ce


@register_expectation("expect_column_values_to_be_in_set")
def _c_in_set(kwargs):
    # reference quality_engine.py:260-288; nulls pass (notnull guard :263)
    c = F.col(kwargs["column"])
    value_set = kwargs.get("value_set", [])
    if not value_set:
        # pandas isin([]) is all-False -> every non-null value is unexpected
        mask = c.isNotNull()
    else:
        mask = c.isNotNull() & ~c.isin(*list(value_set))
    return _simple("expect_column_values_to_be_in_set", kwargs, mask, kwargs["column"])


@register_expectation("expect_column_values_to_not_be_in_set")
def _c_not_in_set(kwargs):
    # extended op (GE-style complement of in_set); not evaluated by the
    # reference (falls to quality_engine.py:412-420)
    c = F.col(kwargs["column"])
    value_set = list(kwargs.get("value_set", []))
    mask = c.isNotNull() & c.isin(*value_set) if value_set else F.lit(False)
    return _simple("expect_column_values_to_not_be_in_set", kwargs, mask, kwargs["column"])


@register_expectation("expect_column_values_to_be_between")
def _c_between(kwargs):
    # reference quality_engine.py:290-333; either bound optional (:300-305)
    c = F.col(kwargs["column"])
    min_value, max_value = kwargs.get("min_value"), kwargs.get("max_value")
    mask = F.lit(False)
    if min_value is not None:
        mask = mask | (c.isNotNull() & (c < F.lit(min_value)))
    if max_value is not None:
        mask = mask | (c.isNotNull() & (c > F.lit(max_value)))
    return _simple("expect_column_values_to_be_between", kwargs, mask, kwargs["column"])


@register_expectation("expect_column_value_lengths_to_be_between")
def _c_len_between(kwargs):
    # extended op (webtext: line/doc length rules ride the same compiler)
    c = F.length(F.col(kwargs["column"]).cast("string"))
    min_value, max_value = kwargs.get("min_value"), kwargs.get("max_value")
    mask = F.lit(False)
    if min_value is not None:
        mask = mask | (c.isNotNull() & (c < F.lit(int(min_value))))
    if max_value is not None:
        mask = mask | (c.isNotNull() & (c > F.lit(int(max_value))))
    return _simple("expect_column_value_lengths_to_be_between", kwargs, mask, kwargs["column"])


def anchored_java_regex(pattern: str) -> str:
    """pandas ``str.match`` tests a match at the START of the string
    (reference quality_engine.py:343); Java ``rlike`` finds anywhere.
    Wrap as ``^(?:pattern)`` to reproduce the anchoring, with ``(?U)`` so
    Java's ``\\d``/``\\w``/``\\b`` use Unicode classes like Python's ``re``
    (without it rlike's ASCII-only ``\\d`` rejects e.g. Arabic-Indic digits
    that the pandas reference matches). Known residual divergence: boolean
    columns stringify as 'true' on the JVM vs 'True' in pandas — regex
    expectations over booleans are inherently engine-specific."""
    return f"(?U)^(?:{pattern})"


def regex_needs_python(pattern: str) -> bool:
    return bool(_PYTHON_ONLY_REGEX.search(pattern))


def _python_regex_match_col(column: str, pattern: str) -> Column:
    """Arrow-batched pandas UDF fallback for Python-only regex constructs.
    Returns a boolean 'matched' column; mask = notnull & ~matched."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # DataType OBJECT, not a DDL string: DDL parsing needs an active
    # SparkContext, which executor-side module imports don't have (repo-wide
    # hard constraint; see langid.py).
    @pandas_udf(T.BooleanType())
    def _match(s: pd.Series) -> pd.Series:
        rx = re.compile(pattern)
        return s.astype(str).map(lambda v: rx.match(v) is not None)

    return _match(F.col(column))


@register_expectation("expect_column_values_to_match_regex")
def _c_match_regex(kwargs):
    # reference quality_engine.py:335-368: value stringified, start-anchored
    # match, nulls pass.
    column, pattern = kwargs["column"], kwargs["regex"]
    c = F.col(column)
    if regex_needs_python(pattern):
        matched = _python_regex_match_col(column, pattern)
    else:
        matched = c.cast("string").rlike(anchored_java_regex(pattern))
    mask = c.isNotNull() & ~matched
    return _simple("expect_column_values_to_match_regex", kwargs, mask, column)


@register_expectation("expect_column_values_to_not_match_regex")
def _c_not_match_regex(kwargs):
    # extended op
    column, pattern = kwargs["column"], kwargs["regex"]
    c = F.col(column)
    if regex_needs_python(pattern):
        matched = _python_regex_match_col(column, pattern)
    else:
        matched = c.cast("string").rlike(anchored_java_regex(pattern))
    mask = c.isNotNull() & matched
    return _simple("expect_column_values_to_not_match_regex", kwargs, mask, column)


@register_expectation("expect_column_values_to_be_unique")
def _c_unique(kwargs):
    # reference quality_engine.py:370-408. pandas duplicated(keep=False)
    # groups NaN/None together (verified empirically), and
    #   unexpected_count = rows_in_dup_groups - n_distinct_dup_values
    #                    = N - count_distinct(col) - (1 if any null else 0)
    # because every group (dup or not) contributes (cnt-1), singletons 0.
    # This identity lets uniqueness ride the SAME single-pass agg as every
    # other expectation. count_distinct is exact (required for parity) and
    # never exceeds N − has_null, so the count is never negative.
    column = kwargs["column"]
    c = F.col(column)
    ce = CompiledExpectation(
        expectation_type="expect_column_values_to_be_unique",
        kwargs=kwargs,
        mostly=_mostly(kwargs),
        unexpected_mask=None,  # not row-local; dup detection needs grouping
        column=column,
        values_kind="dups",
    )
    ce._agg = {
        "n": F.count(F.lit(1)),
        "d": F.count_distinct(c),
        "hasnull": F.max(c.isNull().cast("long")),
    }
    ce._count = lambda row, p, df: (
        (row[f"{p}_n"] or 0) - (row[f"{p}_d"] or 0) - (row[f"{p}_hasnull"] or 0))
    return ce


@register_expectation("expect_column_pair_values_to_be_equal")
def _c_pair_equal(kwargs):
    # extended op — documented in the reference (api_documentation.md:356-450,
    # prompts rule_generator.py:93-117) but never evaluated (always-fail path
    # quality_engine.py:412-420). First-class here: rows where the pair is
    # NOT null-safe-equal are unexpected (both-null passes).
    a, b = F.col(kwargs["column_A"]), F.col(kwargs["column_B"])
    mask = ~a.eqNullSafe(b)
    ce = _simple("expect_column_pair_values_to_be_equal", kwargs, mask, kwargs.get("column_A"))
    return ce


@register_expectation("expect_column_pair_values_to_be_in_set")
def _c_pair_in_set(kwargs):
    # extended op; value_pairs = [[a, b], ...]
    a, b = F.col(kwargs["column_A"]), F.col(kwargs["column_B"])
    pairs = [tuple(p) for p in kwargs.get("value_pairs", [])]
    if pairs:
        in_set = F.struct(a.alias("a"), b.alias("b")).isin(
            *[F.struct(F.lit(x).alias("a"), F.lit(y).alias("b")) for x, y in pairs]
        )
        mask = a.isNotNull() & b.isNotNull() & ~in_set
    else:
        mask = a.isNotNull() & b.isNotNull()
    return _simple("expect_column_pair_values_to_be_in_set", kwargs, mask, kwargs.get("column_A"))


@register_expectation("expect_column_values_to_be_greater_than_other_column")
def _c_greater_than_other(kwargs):
    # extended op; compare_to kwarg per reference app/main.py:1622-1623
    c = F.col(kwargs["column"])
    other = F.col(kwargs.get("compare_to") or kwargs.get("column_B"))
    allow_equal = bool(kwargs.get("or_equal", False))
    cmp = (c < other) if allow_equal else (c <= other)
    mask = c.isNotNull() & other.isNotNull() & cmp
    return _simple(
        "expect_column_values_to_be_greater_than_other_column", kwargs, mask, kwargs["column"]
    )


@register_expectation("expect_column_values_to_be_of_type")
def _c_of_type(kwargs):
    # extended op: schema-level check of the frame's column type against the
    # declared type_ (TYPE_ALIASES); all-or-nothing, so a mismatch counts
    # every row and there is no mask.
    column = kwargs.get("column")
    declared = kwargs.get("type_") or kwargs.get("type", "")
    ce = CompiledExpectation(
        expectation_type="expect_column_values_to_be_of_type",
        kwargs=kwargs,
        mostly=_mostly(kwargs),
        unexpected_mask=None,
        column=column,
    )
    ce._agg = {"n": F.count(F.lit(1))}

    def count(row, p, df):
        actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}.get(column, "")
        return 0 if type_matches(declared, actual) else row[f"{p}_n"]

    ce._count = count
    return ce


# Normalized Spark simpleString names accepted for each declared type_ value.
TYPE_ALIASES: dict[str, set[str]] = {
    "int": {"int", "integer", "bigint", "smallint", "tinyint"},
    "integer": {"int", "integer", "bigint", "smallint", "tinyint"},
    "bigint": {"bigint", "int"},
    "float": {"float", "double"},
    "double": {"double", "float"},
    "numeric": {"decimal", "double", "float", "int", "bigint"},
    "str": {"string", "varchar", "char"},
    "string": {"string", "varchar", "char"},
    "text": {"string"},
    "varchar": {"string"},
    "bool": {"boolean"},
    "boolean": {"boolean"},
    "date": {"date"},
    "timestamp": {"timestamp", "timestamp_ntz"},
    "datetime": {"timestamp", "timestamp_ntz"},
    "binary": {"binary"},
}


def type_matches(declared: str, spark_simple: str) -> bool:
    declared = (declared or "").lower()
    base = spark_simple.split("(")[0].lower()
    allowed = TYPE_ALIASES.get(declared, {declared})
    return base in allowed


def _agg_stat(expectation_type: str, kwargs: dict[str, Any], stat: Column) -> CompiledExpectation:
    """Aggregate-level expectation: a table statistic must fall in
    [min_value, max_value]. Rides the suite's single-pass agg; the result
    carries GE-style observed_value. unexpected_count is 0/element_count
    (all-or-nothing), matching the of_type convention."""
    ce = CompiledExpectation(
        expectation_type=expectation_type,
        kwargs=kwargs,
        mostly=_mostly(kwargs),
        unexpected_mask=None,
        column=kwargs.get("column"),
    )
    ce._agg = {"n": F.count(F.lit(1)), "stat": stat}
    lo, hi = kwargs.get("min_value"), kwargs.get("max_value")

    def count(row, p, df):
        v = row[f"{p}_stat"]
        n = row[f"{p}_n"] or 0
        ok = v is not None and (lo is None or v >= lo) and (hi is None or v <= hi)
        return 0 if ok or n == 0 else n

    ce._count = count
    ce.observed_value_key = "stat"
    return ce


@register_expectation("expect_table_row_count_to_be_between")
def _c_row_count_between(kwargs):
    return _agg_stat("expect_table_row_count_to_be_between", kwargs, F.count(F.lit(1)))


@register_expectation("expect_column_mean_to_be_between")
def _c_mean_between(kwargs):
    return _agg_stat("expect_column_mean_to_be_between", kwargs, F.avg(F.col(kwargs["column"])))


@register_expectation("expect_column_min_to_be_between")
def _c_min_between(kwargs):
    return _agg_stat("expect_column_min_to_be_between", kwargs, F.min(F.col(kwargs["column"])))


@register_expectation("expect_column_max_to_be_between")
def _c_max_between(kwargs):
    return _agg_stat("expect_column_max_to_be_between", kwargs, F.max(F.col(kwargs["column"])))


@register_expectation("expect_column_distinct_count_to_be_between")
def _c_distinct_between(kwargs):
    return _agg_stat("expect_column_distinct_count_to_be_between", kwargs,
                     F.count_distinct(F.col(kwargs["column"])))


@register_expectation("expect_column_values_to_be_increasing")
def _c_increasing(kwargs):
    """GE-style monotonicity, made distribution-sane: a distributed table
    has no row order, so ``order_by`` is REQUIRED (list or single column;
    make it total — e.g. (ts, id) — or lag is nondeterministic) and
    ``partition_by`` scopes the sequence (e.g. per user). ``strictly=True``
    demands strict increase. A row violates when its own value and its
    predecessor's are both non-null and out of order; nulls pass (repo-wide
    null semantics). The mask is a WINDOW expression → ``pre_project`` makes
    the engine project it to a boolean before the fused aggregate, keeping
    the suite single-scan (projection + agg = still one pass over the data;
    the window adds a sort within ``partition_by`` groups — supply
    partition_by at scale or the sort is global)."""
    from pyspark.sql import Window

    column = kwargs["column"]
    order_by = kwargs.get("order_by")
    if not order_by:
        raise ValueError(
            "expect_column_values_to_be_increasing requires 'order_by' "
            "(distributed tables have no intrinsic row order)")
    order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
    partition_by = kwargs.get("partition_by") or []
    partition_cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    if not partition_cols:
        import warnings

        # an empty PARTITION BY makes lag()'s window a single partition —
        # the whole table sorts on one executor. Valid on small tables;
        # a scale foot-gun otherwise, so make it loud, not just documented.
        warnings.warn(
            "expect_column_values_to_be_increasing without 'partition_by' "
            "sorts the ENTIRE table in one window partition (single-task "
            "global sort); supply partition_by to scope the sequence at "
            "scale", stacklevel=2)
    # explicit NULLS FIRST: Spark's ascending default is nulls-first but
    # SQL engines differ (DuckDB/Postgres default nulls-last), so pinning it
    # keeps lag() predecessors identical across engines when order keys
    # contain nulls
    w = Window.partitionBy(*[F.col(c) for c in partition_cols]).orderBy(
        *[F.asc_nulls_first(c) for c in order_cols])
    c = F.col(column)
    prev = F.lag(c).over(w)
    bad = (c <= prev) if kwargs.get("strictly") else (c < prev)
    mask = c.isNotNull() & prev.isNotNull() & bad
    ce = _simple("expect_column_values_to_be_increasing", kwargs, mask, column)
    ce.pre_project = True
    ce._agg = {}  # a window cannot sit in an aggregate: the engine counts the projected mask
    return ce


@register_expectation("expect_column_value_z_scores_to_be_less_than")
def _c_zscore(kwargs):
    """GE-style z-score bound: |x − μ|/σ < threshold (``double_sided=False``
    bounds only (x − μ)/σ). Inherently TWO-pass — μ and σ must be known
    before any row can be judged — so μ/σ ride the suite's single fused
    aggregate and the count runs ONE extra counting scan with the resolved
    literals (same pattern as the FK anti-join expectation; a global window
    would move all rows to a single partition at scale, rejected). The count
    installs that literal mask as ``unexpected_mask``, so the engine fetches
    the violating rows' samples like any other mask's. σ = 0 or null
    (constant/empty column) ⇒ no violations and no mask."""
    column = kwargs["column"]
    threshold = float(kwargs["threshold"])
    double_sided = bool(kwargs.get("double_sided", True))
    c = F.col(column)
    ce = CompiledExpectation(
        expectation_type="expect_column_value_z_scores_to_be_less_than",
        kwargs=kwargs,
        mostly=_mostly(kwargs),
        unexpected_mask=None,       # installed by count() from μ/σ
        column=column,
        values_kind="rows",
    )
    ce._agg = {"mu": F.avg(c), "sigma": F.stddev(c)}

    def count(row, p, df):
        mu, sigma = row.get(f"{p}_mu"), row.get(f"{p}_sigma")
        if mu is None or sigma is None or float(sigma) == 0.0:
            return 0  # constant/empty column: no z-scores
        z = (c - F.lit(float(mu))) / F.lit(float(sigma))
        bad = (F.abs(z) >= threshold) if double_sided else (z >= threshold)
        ce.unexpected_mask = c.isNotNull() & bad
        return df.filter(ce.unexpected_mask).count()

    ce._count = count
    return ce


@register_expectation("expect_column_values_to_be_json_parseable")
def _c_json_parseable(kwargs):
    # extended op for semi-structured columns (e.g. a props payload):
    # unexpected = non-null values that fail JSON parsing. try_parse_json
    # (variant) returns null exactly where DuckDB's json_valid is false.
    c = F.col(kwargs["column"])
    mask = c.isNotNull() & F.try_parse_json(c.cast("string")).isNull()
    return _simple("expect_column_values_to_be_json_parseable", kwargs, mask, kwargs["column"])


@register_expectation("expect_column_values_to_be_in_table_set")
def _c_in_table_set(kwargs):
    """FK-style membership against another table (the reference documents
    this as `value_set: {"query": "SELECT id FROM ..."}` —
    api_documentation.md:401-423 — but never evaluates it). kwargs:
    column, ref_table (path or catalog name), ref_column. The count is a
    broadcast left-anti join (violations = non-null values absent from the
    reference column; Catalyst falls back to a shuffle join past the
    broadcast threshold); nulls pass, like in_set."""
    ref_table = kwargs.get("ref_table")
    if not ref_table:
        # an FK check with nothing to check against must error, not report
        # green forever
        raise ValueError(
            "expect_column_values_to_be_in_table_set requires 'ref_table'")
    column = kwargs.get("column")
    ref_column = kwargs.get("ref_column", column)
    ce = CompiledExpectation(
        expectation_type="expect_column_values_to_be_in_table_set",
        kwargs=kwargs,
        mostly=_mostly(kwargs),
        unexpected_mask=None,
        column=column,
    )
    ce._agg = {"n": F.count(F.lit(1))}

    def count(row, p, df):
        from dataqualityassistant_spark.sources.tables import read_table

        ref = read_table(df.sparkSession, ref_table)
        return (df.where(F.col(column).isNotNull())
                .join(F.broadcast(ref.select(F.col(ref_column).alias("__ref")).distinct()),
                      F.col(column) == F.col("__ref"), "left_anti")
                .count())

    ce._count = count
    return ce


def compile_expectation(expectation_type: str, kwargs: dict[str, Any],
                        allowed_types: frozenset | None = None) -> CompiledExpectation:
    """Compile one expectation. Unknown types (or types outside
    ``allowed_types`` when reference-parity mode restricts the registry)
    return an errored CompiledExpectation — success=False with the
    reference's exact error message shape (quality_engine.py:412-420)."""
    fn = _COMPILERS.get(expectation_type)
    if fn is None or (allowed_types is not None and expectation_type not in allowed_types):
        return CompiledExpectation(
            expectation_type=expectation_type,
            kwargs=kwargs,
            mostly=_mostly(kwargs),
            unexpected_mask=None,
            error=f"Expectation type '{expectation_type}' not implemented in direct evaluation mode",
        )
    try:
        return fn(kwargs)
    except Exception as e:  # compile errors -> errored result (reference :422-430)
        return CompiledExpectation(
            expectation_type=expectation_type,
            kwargs=kwargs,
            mostly=_mostly(kwargs),
            unexpected_mask=None,
            error=str(e),
        )
