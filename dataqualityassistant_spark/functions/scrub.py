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

Each step runs only on rows whose scrub-guard bitmask holds its bit. A
bit must be a NECESSARY condition of its step's patterns, so skipping a
step never changes the output:

- ``EMAIL_GUARD`` (1): the raw text contains ``@``. Every email match
  contains one.
- ``DIGIT_GUARD`` (2): the raw text contains an ASCII ``[0-9]``.
  ssn/card/phone/ipv4 each need one, and the steps before them only write
  the digit-free ``[EMAIL]``/``[SSN]``/``[CARD]``/``[PHONE]``, so a text
  without a digit has none when those patterns run.
- ``TOXIC_GUARD`` (4): the raw text contains a ``TOXIC_WORDS`` word as a
  substring. The toxic step is case-sensitive, and every replacement
  token holds only uppercase letters and brackets, none of which occurs
  in a toxic word. So a toxic match after the PII steps lies wholly in
  original characters between tokens, and the raw text holds the word.

Two sources compute the bitmask. The pipeline's fused scoring UDF
(``functions/scoring.py``) already holds every text as a Python ``str``
and computes all three bits with :func:`scrub_guards` (substring
searches, a few µs a page). Without it (``guards=None``, e.g. the
``scrub_pii`` entry query), :func:`jvm_guard_tests` tests ``@`` and the
digit on the JVM and runs the toxic step on every row, since a JVM
substring search costs about what the regex it would skip costs.
``scrub_text_python`` stays the unguarded oracle.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

import numpy as np
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


# the scrub-guard bits; a step runs only on rows whose bitmask holds its bit
EMAIL_GUARD, DIGIT_GUARD, TOXIC_GUARD = 1, 2, 4
_STEPS = [(EMAIL_GUARD, SCRUB_PATTERNS[:1]), (DIGIT_GUARD, SCRUB_PATTERNS[1:5]),
          (TOXIC_GUARD, SCRUB_PATTERNS[5:])]
_ASCII_DIGITS = "0123456789"


def scrub_guards(texts: Sequence[str | None]) -> np.ndarray:
    """The scrub-guard bitmask of each text (int8; 0 for a null or empty
    text): ``@`` → ``EMAIL_GUARD``, an ASCII digit → ``DIGIT_GUARD``, a
    ``TOXIC_WORDS`` word → ``TOXIC_GUARD``. Each test is a substring search
    (memchr for one character)."""
    out = []
    for t in texts:
        g = 0
        if t:
            if "@" in t:
                g = EMAIL_GUARD
            for d in _ASCII_DIGITS:
                if d in t:
                    g |= DIGIT_GUARD
                    break
            for w in TOXIC_WORDS:
                if w in t:
                    g |= TOXIC_GUARD
                    break
        out.append(g)
    return np.array(out, dtype=np.int8)


def jvm_guard_tests(raw: Column) -> list[Column]:
    """The steps' guards computed on the JVM, one boolean per step: ``@``
    and an ASCII digit as :func:`scrub_guards` tests them, and TRUE for the
    toxic step (the optimizer folds its condition away)."""
    return [F.instr(raw, "@") > 0, raw.rlike("[0-9]"), F.lit(True)]


def scrub_text_column(col: Column | str, guards: Column | None = None) -> Column:
    """JVM regexp_replace chain over a text column, each step run only where
    ``guards`` (the :func:`scrub_guards` bitmask of the same raw text, see
    the module docstring) holds its bit, or where :func:`jvm_guard_tests`
    holds when ``guards`` is None. Null in → null out; a null guard skips
    every step."""
    raw = F.col(col) if isinstance(col, str) else col
    tests = (jvm_guard_tests(raw) if guards is None
             else [guards.bitwiseAND(bit) != 0 for bit, _ in _STEPS])
    c = raw
    for test, (_, patterns) in zip(tests, _STEPS):
        step = c
        for _, pattern, repl in patterns:
            step = F.regexp_replace(step, pattern, repl)
        c = F.when(test, step).otherwise(c)
    return c


_COMPILED = [(re.compile(p), r) for _, p, r in SCRUB_PATTERNS]


def scrub_text_python(text: str | None) -> str | None:
    """Python `re` reference implementation (oracle / fixture freezer)."""
    if text is None:
        return None
    for rx, repl in _COMPILED:
        text = rx.sub(repl, text)
    return text
