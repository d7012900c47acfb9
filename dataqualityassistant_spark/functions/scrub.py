"""Regex PII / toxicity scrubbing — the pipeline's final column transform.

Two implementations of the SAME ordered pattern chain:

- ``scrub_text_column``: JVM ``regexp_replace`` chain (the hot path —
  whole-stage codegen, no Python);
- ``scrub_text_python``: Python ``re`` reference (the oracle that freezes
  byte-exact golden fixtures).

The patterns deliberately use only the regex subset whose semantics are
identical in Java and Python (no inline flags, no backrefs in replacements,
``\\d``/``\\b`` classes, literal replacement tokens), and
``tests/test_webtext.py::test_scrub_byte_identical_jvm_vs_python`` and
``::test_scrub_byte_parity_on_adversarial_corpus`` assert the two
implementations produce byte-identical output — the north rule's
"byte-identical extracted text per url" invariant.

Known gap: Java's ``\\b`` counts letters and ``Nd`` digits as word
characters and folds a combining mark into the word before it; Python's
counts every letter and number (also ``²``, ``½``, ``Ⅻ``) and no marks. A
``No``/``Nl``/``Mn`` character right next to a PII or toxic match can make
the two differ; a strict xfail in ``tests/test_property_differential.py``
pins it.

Order matters (e.g. SSN before generic phone so ``123-45-6789`` is not
half-eaten by the phone pattern); the chain applies top to bottom.
The email pattern is seeded from the reference's email-format rule
(rule_generator.py:961).

The JVM chain skips patterns that cannot match a row. Guard contract: a
guard must be a necessary condition of its patterns on the text it tests,
so skipping never changes the output. Every email match contains ``@``;
ssn/card/phone/ipv4 each need an ASCII digit, and the email step only
writes the digit-free ``[EMAIL]``, so "no digit in the raw text" still
holds when those patterns run. The toxic alternation is unguarded.
``scrub_text_python`` stays the unguarded oracle.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from dataqualityassistant_spark.functions.corpus import TOXIC_WORDS

# (name, pattern, replacement) — applied in order.
SCRUB_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "[SSN]"),
    ("card", r"\b(?:[0-9]{4}[ -]){3}[0-9]{4}\b", "[CARD]"),
    # hyphen FIRST in the class: `[ -.]` would be a range from 0x20 to 0x2E
    # matching !"#$%&'()*+, as separators too (only space/dash/dot intended)
    ("phone", r"\b\+?[0-9]{1,2}?[-. ]?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b", "[PHONE]"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "[IP]"),
    ("toxic", r"\b(?:" + "|".join(TOXIC_WORDS) + r")\b", "[REDACTED]"),
]


def _chain(c: Column, patterns) -> Column:
    for _, pattern, repl in patterns:
        c = F.regexp_replace(c, pattern, repl)
    return c


def scrub_text_column(col: Column | str) -> Column:
    """JVM regexp_replace chain over a text column, each step guarded by a
    precondition every one of its matches needs (see the module docstring).
    Null in → null out: a null guard takes the ``otherwise`` branch."""
    raw = F.col(col) if isinstance(col, str) else col
    email, digits, toxic = SCRUB_PATTERNS[:1], SCRUB_PATTERNS[1:5], SCRUB_PATTERNS[5:]
    c = F.when(F.instr(raw, "@") > 0, _chain(raw, email)).otherwise(raw)
    c = F.when(raw.rlike("[0-9]"), _chain(c, digits)).otherwise(c)
    return _chain(c, toxic)


_COMPILED = [(re.compile(p), r) for _, p, r in SCRUB_PATTERNS]


def scrub_text_python(text: str | None) -> str | None:
    """Python `re` reference implementation (oracle / fixture freezer)."""
    if text is None:
        return None
    for rx, repl in _COMPILED:
        text = rx.sub(repl, text)
    return text
