"""In-repo pandas oracle: an independent, minimal re-implementation of the
reference's expectation semantics (behavior of
``app/services/quality_engine.py:224-430``) used ONLY for differential
testing and for freezing golden keep/drop labels. This is deliberately the
"slow, obvious" implementation — the Spark engine must agree with it on
counts, percents, success flags and sample *sets*.

Not for production use; it materializes the whole frame like the reference
does.
"""

from __future__ import annotations

import re
from typing import Any

import pandas as pd


def oracle_expectation(df: pd.DataFrame, expectation_type: str, kwargs: dict[str, Any]) -> dict:
    mostly = kwargs.get("mostly", 1.0)
    mostly = 1.0 if mostly is None else float(mostly)
    n = len(df)

    def verdict(count: int) -> tuple[float, bool]:
        pct = (count / n * 100) if n > 0 else 0
        return pct, pct <= (1 - mostly) * 100

    col = kwargs.get("column")

    if expectation_type == "expect_column_values_to_not_be_null":
        mask = df[col].isnull()
        count = int(mask.sum())
        pct, ok = verdict(count)
        return {"unexpected_count": count, "unexpected_percent": pct, "success": ok,
                "element_count": n, "mask": mask}

    if expectation_type == "expect_column_values_to_be_in_set":
        mask = df[col].notnull() & ~df[col].isin(kwargs.get("value_set", []))
        count = int(mask.sum())
        pct, ok = verdict(count)
        return {"unexpected_count": count, "unexpected_percent": pct, "success": ok,
                "element_count": n, "mask": mask,
                "unexpected_values": df[mask][col].head(10).tolist() if count else []}

    if expectation_type == "expect_column_values_to_be_between":
        lo, hi = kwargs.get("min_value"), kwargs.get("max_value")
        mask = pd.Series(False, index=df.index)
        if lo is not None:
            mask = mask | (df[col].notnull() & (df[col] < lo))
        if hi is not None:
            mask = mask | (df[col].notnull() & (df[col] > hi))
        count = int(mask.sum())
        pct, ok = verdict(count)
        return {"unexpected_count": count, "unexpected_percent": pct, "success": ok,
                "element_count": n, "mask": mask,
                "unexpected_values": df[mask][col].head(10).tolist() if count else []}

    if expectation_type == "expect_column_values_to_match_regex":
        rx = re.compile(kwargs["regex"])
        nn = df[col].notnull()
        mask = nn & ~df[col].astype(str).str.match(rx).fillna(False).astype(bool)
        count = int(mask.sum())
        pct, ok = verdict(count)
        return {"unexpected_count": count, "unexpected_percent": pct, "success": ok,
                "element_count": n, "mask": mask,
                "unexpected_values": df[mask][col].head(10).tolist() if count else []}

    if expectation_type == "expect_column_values_to_be_unique":
        dup_mask = df[col].duplicated(keep=False)
        dup_values = df[dup_mask][col].unique().tolist()
        count = int(dup_mask.sum()) - len(dup_values)
        pct, ok = verdict(count)
        return {"unexpected_count": count, "unexpected_percent": pct, "success": ok,
                "element_count": n, "mask": dup_mask,
                "unexpected_values": dup_values[:10] if count else []}

    if expectation_type == "expect_column_values_to_not_be_in_set":
        vs = kwargs.get("value_set", [])
        mask = df[col].notnull() & df[col].isin(vs) if vs else pd.Series(False, index=df.index)
        count = int(mask.sum())
        pct, ok = verdict(count)
        return {"unexpected_count": count, "unexpected_percent": pct, "success": ok,
                "element_count": n, "mask": mask}

    if expectation_type == "expect_column_value_lengths_to_be_between":
        lo, hi = kwargs.get("min_value"), kwargs.get("max_value")
        nn = df[col].notnull()
        lengths = df[col].astype(str).str.len()
        mask = pd.Series(False, index=df.index)
        if lo is not None:
            mask = mask | (nn & (lengths < int(lo)))
        if hi is not None:
            mask = mask | (nn & (lengths > int(hi)))
        count = int(mask.sum())
        pct, ok = verdict(count)
        return {"unexpected_count": count, "unexpected_percent": pct, "success": ok,
                "element_count": n, "mask": mask}

    if expectation_type == "expect_column_values_to_not_match_regex":
        rx = re.compile(kwargs["regex"])
        nn = df[col].notnull()
        mask = nn & df[col].astype(str).str.match(rx).fillna(False).astype(bool)
        count = int(mask.sum())
        pct, ok = verdict(count)
        return {"unexpected_count": count, "unexpected_percent": pct, "success": ok,
                "element_count": n, "mask": mask}

    if expectation_type == "expect_column_pair_values_to_be_equal":
        a, b = df[kwargs["column_A"]], df[kwargs["column_B"]]
        mask = ~((a == b) | (a.isnull() & b.isnull()))  # null-safe equality
        count = int(mask.sum())
        pct, ok = verdict(count)
        return {"unexpected_count": count, "unexpected_percent": pct, "success": ok,
                "element_count": n, "mask": mask}

    if expectation_type == "expect_column_pair_values_to_be_in_set":
        a, b = df[kwargs["column_A"]], df[kwargs["column_B"]]
        pairs = {tuple(p) for p in kwargs.get("value_pairs", [])}
        nn = a.notnull() & b.notnull()
        if pairs:
            in_set = pd.Series([(x, y) in pairs for x, y in zip(a, b)], index=df.index)
            mask = nn & ~in_set
        else:
            mask = nn
        count = int(mask.sum())
        pct, ok = verdict(count)
        return {"unexpected_count": count, "unexpected_percent": pct, "success": ok,
                "element_count": n, "mask": mask}

    if expectation_type == "expect_column_values_to_be_greater_than_other_column":
        c = df[col]
        other = df[kwargs.get("compare_to") or kwargs.get("column_B")]
        cmp = (c < other) if kwargs.get("or_equal") else (c <= other)
        mask = c.notnull() & other.notnull() & cmp
        count = int(mask.sum())
        pct, ok = verdict(count)
        return {"unexpected_count": count, "unexpected_percent": pct, "success": ok,
                "element_count": n, "mask": mask}

    if expectation_type == "expect_column_values_to_be_json_parseable":
        import json

        def _reject_constant(name: str):
            # Python json.loads accepts the non-RFC literals NaN/Infinity/
            # -Infinity by default; Spark's try_parse_json rejects them.
            # Raising from parse_constant keeps the oracle strict-RFC so the
            # two engines agree on such inputs.
            raise ValueError(f"non-RFC JSON constant: {name}")

        def parses(v) -> bool:
            try:
                json.loads(str(v), parse_constant=_reject_constant)
                return True
            except Exception:
                return False

        nn = df[col].notnull()
        mask = nn & ~df[col].map(lambda v: parses(v) if v is not None else True)
        count = int(mask.sum())
        pct, ok = verdict(count)
        return {"unexpected_count": count, "unexpected_percent": pct, "success": ok,
                "element_count": n, "mask": mask}

    if expectation_type == "expect_column_values_to_be_increasing":
        order_by = kwargs["order_by"]
        order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
        partition_by = kwargs.get("partition_by") or []
        part_cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        # stable sort, NULLS FIRST — mirroring the compiled window's explicit
        # asc_nulls_first ordering
        ordered = df.sort_values(order_cols, kind="mergesort", na_position="first")
        if part_cols:
            prev = ordered.groupby(part_cols, dropna=False)[col].shift(1)
        else:
            prev = ordered[col].shift(1)
        cur = ordered[col]
        bad = (cur <= prev) if kwargs.get("strictly") else (cur < prev)
        mask = (cur.notnull() & prev.notnull() & bad).reindex(df.index)
        count = int(mask.sum())
        pct, ok = verdict(count)
        return {"unexpected_count": count, "unexpected_percent": pct, "success": ok,
                "element_count": n, "mask": mask}

    if expectation_type == "expect_column_value_z_scores_to_be_less_than":
        t = float(kwargs["threshold"])
        c = df[col]
        mu, sigma = c.mean(), c.std(ddof=1)  # sample stddev = Spark F.stddev
        if pd.isna(mu) or pd.isna(sigma) or float(sigma) == 0.0:
            mask = pd.Series(False, index=df.index)
        else:
            z = (c - float(mu)) / float(sigma)
            bad = z.abs() >= t if kwargs.get("double_sided", True) else z >= t
            mask = c.notnull() & bad
        count = int(mask.sum())
        pct, ok = verdict(count)
        return {"unexpected_count": count, "unexpected_percent": pct, "success": ok,
                "element_count": n, "mask": mask}

    _AGG_STATS = {
        "expect_table_row_count_to_be_between": lambda d, c: len(d),
        "expect_column_mean_to_be_between": lambda d, c: d[c].mean(),
        "expect_column_min_to_be_between": lambda d, c: d[c].min(),
        "expect_column_max_to_be_between": lambda d, c: d[c].max(),
        "expect_column_distinct_count_to_be_between": lambda d, c: d[c].nunique(dropna=True),
    }
    if expectation_type in _AGG_STATS:
        stat = _AGG_STATS[expectation_type](df, col)
        stat = None if stat is not None and pd.isna(stat) else stat
        lo, hi = kwargs.get("min_value"), kwargs.get("max_value")
        good = stat is not None and (lo is None or stat >= lo) and (hi is None or stat <= hi)
        count = 0 if good or n == 0 else n  # all-or-nothing, like the engine
        pct, ok = verdict(count)
        return {"unexpected_count": count, "unexpected_percent": pct, "success": ok,
                "element_count": n, "observed_value": stat}

    return {"success": False,
            "error": f"Expectation type '{expectation_type}' not implemented in direct evaluation mode"}


# expectations with no ROW-LOCAL verdict — the Spark engine's row verdict
# (engine.failed_rules_column) skips exactly this set (set-level, window-based, or two-pass), so the
# oracle must too or the verdicts drift out of lockstep
_NON_ROW_LOCAL = frozenset({
    "expect_column_values_to_be_unique",
    "expect_column_values_to_be_increasing",
    "expect_column_value_z_scores_to_be_less_than",
})


def oracle_keep_mask(df: pd.DataFrame, rules) -> pd.Series:
    """Row-level keep verdict: keep iff no row-local expectation flags the
    row (same predicates the Spark engine's ``failed_rules_column``
    compiles; the same non-row-local expectation types are skipped on both
    sides)."""
    keep = pd.Series(True, index=df.index)
    for rule in rules:
        for e in rule.expectations:
            if e.expectation_type in _NON_ROW_LOCAL:
                continue
            r = oracle_expectation(df, e.expectation_type, e.kwargs)
            mask = r.get("mask")
            if mask is not None:
                keep = keep & ~mask
    return keep
