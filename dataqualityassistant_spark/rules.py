"""Rule / expectation data model.

Mirrors the reference's metadata model (reference: ``app/models/rule.py:6-33``
— ``rules`` and ``rule_versions`` tables) and its config-normalization
semantics (reference: ``app/services/quality_engine.py:161-178`` — JSON-string
configs are parsed, legacy single-dict configs are coerced to a list).

Everything here is driver-side metadata: rule suites are tiny (KBs), the
*data* they validate is the 100 TB table. Rules are compiled to Spark
``Column`` expressions by :mod:`dataqualityassistant_spark.operators.compiler`.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any


@dataclass(frozen=True)
class Expectation:
    """One atomic check: ``{expectation_type, kwargs}``.

    ``kwargs`` carries ``column`` / ``column_A``+``column_B`` / ``columns`` /
    ``compare_to``, type-specific params, and an optional ``mostly`` threshold
    (default 1.0 — reference ``quality_engine.py:230``).
    """

    expectation_type: str
    kwargs: dict[str, Any] = field(default_factory=dict)

    @property
    def mostly(self) -> float:
        m = self.kwargs.get("mostly", 1.0)
        return 1.0 if m is None else float(m)

    @property
    def column(self) -> str | None:
        return self.kwargs.get("column")

    def columns_referenced(self) -> list[str]:
        """All column names this expectation touches (used for validation and
        column pruning). Mirrors the reference's extraction logic at
        ``app/main.py:1466-1488`` (column / column_A / column_B / columns /
        compare_to), plus the ``order_by`` / ``partition_by`` keys of
        ``expect_column_values_to_be_increasing`` (a name or a list)."""
        cols: list[str] = []
        kw = self.kwargs
        if kw.get("column"):
            cols.append(kw["column"])
        if kw.get("column_A"):
            cols.append(kw["column_A"])
        if kw.get("column_B"):
            cols.append(kw["column_B"])
        if kw.get("columns"):
            cols.extend(kw["columns"])
        if kw.get("compare_to"):
            cols.append(kw["compare_to"])
        for key in ("order_by", "partition_by"):
            if kw.get(key):
                cols.extend([kw[key]] if isinstance(kw[key], str) else kw[key])
        return cols

    def to_dict(self) -> dict[str, Any]:
        return {"expectation_type": self.expectation_type, "kwargs": dict(self.kwargs)}


def normalize_rule_config(rule_config: Any) -> list[Expectation]:
    """Normalize any accepted rule_config shape to ``list[Expectation]``.

    Accepted shapes (reference ``quality_engine.py:172-178`` and the legacy
    coercion at ``app/main.py:1082-1086``):
      - JSON string encoding a list or a single dict
      - a single ``{expectation_type, kwargs}`` dict (legacy)
      - a list of such dicts
      - already-built Expectation objects
    """
    if rule_config is None:
        return []
    if isinstance(rule_config, str):
        rule_config = json.loads(rule_config)
    if isinstance(rule_config, dict):
        rule_config = [rule_config]
    if isinstance(rule_config, Expectation):
        rule_config = [rule_config]
    out: list[Expectation] = []
    for item in rule_config:
        if isinstance(item, Expectation):
            out.append(item)
        else:
            out.append(
                Expectation(
                    expectation_type=item.get("expectation_type", ""),
                    kwargs=dict(item.get("kwargs", {}) or {}),
                )
            )
    return out


@dataclass
class Rule:
    """A named expectation suite (reference ``rules`` table row,
    ``app/models/rule.py:6-21``)."""

    id: int
    name: str
    table_name: str = ""
    description: str = ""
    rule_config: Any = None  # raw; use .expectations for the normalized view
    is_active: bool = True
    is_draft: bool = False
    confidence: int | None = None
    created_at: str | None = None
    updated_at: str | None = None

    @property
    def expectations(self) -> list[Expectation]:
        return normalize_rule_config(self.rule_config)

    def config_json(self) -> str:
        return json.dumps([e.to_dict() for e in self.expectations])

    def to_dict(self) -> dict[str, Any]:
        return {
            "id": self.id,
            "name": self.name,
            "description": self.description,
            "table_name": self.table_name,
            "rule_config": [e.to_dict() for e in self.expectations],
            "is_active": self.is_active,
            "is_draft": self.is_draft,
            "confidence": self.confidence,
        }


@dataclass
class RuleVersion:
    """Immutable rule-config snapshot (reference ``rule_versions`` table,
    ``app/models/rule.py:23-33``). Exactly one version per rule has
    ``is_current=True`` (maintained as in ``app/main.py:1216-1231``)."""

    rule_id: int
    version_number: int
    rule_config: str  # JSON snapshot
    is_current: bool = True
    created_at: str | None = None


# ---------------------------------------------------- GE-suite interchange

def from_ge_suite(suite: dict[str, Any], rule_id: int = 1,
                  table_name: str = "") -> Rule:
    """Import a Great-Expectations expectation-suite JSON (the public
    ``expectation_suite_name`` + ``expectations: [{expectation_type,
    kwargs, meta}]`` format the reference's users already have) as one
    :class:`Rule`. Unknown expectation types import fine — the compiler
    reports them with the reference's error string at execution time, so a
    suite migrates wholesale and the gaps surface explicitly."""
    name = suite.get("expectation_suite_name") or suite.get("name") or f"ge_suite_{rule_id}"
    expectations = [
        {"expectation_type": e["expectation_type"], "kwargs": e.get("kwargs", {})}
        for e in suite.get("expectations", [])
    ]
    meta = suite.get("meta") or {}
    return Rule(id=rule_id, name=str(name), table_name=table_name,
                description=str(meta.get("notes", "")), rule_config=expectations)


def to_ge_suite(rule: Rule) -> dict[str, Any]:
    """Export a :class:`Rule` as a Great-Expectations suite dict (round-trips
    with :func:`from_ge_suite`)."""
    return {
        "expectation_suite_name": rule.name,
        "expectations": [
            {"expectation_type": e.expectation_type, "kwargs": dict(e.kwargs), "meta": {}}
            for e in rule.expectations
        ],
        "meta": {"notes": rule.description},
    }
