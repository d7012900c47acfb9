"""Gopher/C4-style heuristic text features.

One definition, two implementations:

- ``_pandas_features_one`` is the SPEC: a plain per-document function.
  ``pandas_text_features`` replays it in the pandas oracle to freeze the
  golden keep/drop labels.
- ``text_features_batch`` is what the fused scoring UDF
  (``functions/scoring.py``) runs: batch kernels over word-bounded slabs of
  an Arrow batch. Each document is tokenized once. Words get slab-level ids
  in lexicographic rank, so the stopword and alpha predicates run once per
  distinct word. Counts are integer segment reductions, so every ratio is
  one exact int ÷ int division. Repetition n-grams are grouped by hash
  factorization of int64 keys.

Differential tests (tests/test_property_differential.py) pin the batch
kernel to the spec bit for bit, column by column. Change the two in
lockstep only.

The features become plain derived columns, so quality rules over them are
ordinary compiled expectations (`expect_column_values_to_be_between` on
`word_count`, etc.) and ride the engine's single-pass aggregate.
"""

from __future__ import annotations

import re
from collections import Counter
from operator import methodcaller

import numpy as np
import pandas as pd
from pandas._libs.hashtable import Int64HashTable

from dataqualityassistant_spark.functions.corpus import EN_STOPWORDS

_NORM_RE = re.compile(r"(^[^a-z]+)|([^a-z]+$)")

# Whitespace matching Java's (?U)\s EXACTLY (the Unicode White_Space
# property), the class the JVM-side html collapse uses too: Python's \s
# additionally matches the C0 separators \x1c-\x1f (str.isspace() quirk),
# which Java does not. [^\S\x1c-\x1f] = "whitespace minus \x1c-\x1f".
# str.strip() has the same quirk, so line trimming uses the same class
# instead of .strip().
PY_WS_RE = re.compile(r"[^\S\x1c-\x1f]+")
_PY_WS_STRIP = re.compile(r"^[^\S\x1c-\x1f]+|[^\S\x1c-\x1f]+$")

# Order matters for docs: the feature columns of the scored table.
FEATURE_COLUMNS = [
    "n_chars",
    "word_count",
    "mean_word_length",
    "stopword_ratio",
    "symbol_word_ratio",
    "alpha_word_ratio",
    "n_lines",
    "mean_line_length",
    "max_line_length",
    "bullet_line_frac",
    "ellipsis_line_frac",
    "dup_line_frac",
    "top_2gram_char_frac",
    "top_3gram_char_frac",
    "dup_5gram_char_frac",
]


# ---------------------------------------------------------------- the spec

def _repetition_counter(words: list[str], total_chars: int) -> tuple[float, float, float]:
    """(top_2gram_char_frac, top_3gram_char_frac, dup_5gram_char_frac).

    Gopher-style repetition signals over word n-grams:
      - fraction of characters contained in the single most frequent word
        2-gram / 3-gram (when it occurs more than once);
      - fraction of characters covered by 5-grams that occur ≥2 times."""

    def top_ngram_frac(n: int) -> float:
        if len(words) < n:
            return 0.0
        grams = Counter(tuple(words[i : i + n]) for i in range(len(words) - n + 1))
        # deterministic: ties break to the lexicographically smallest gram
        # (only affects which equal-count gram's char length is used)
        cnt = max(grams.values())
        if cnt < 2:
            return 0.0
        gram = min(g for g, c in grams.items() if c == cnt)
        return cnt * sum(len(w) for w in gram) / total_chars

    def dup_ngram_char_frac(n: int) -> float:
        if len(words) < n:
            return 0.0
        grams = Counter(tuple(words[i : i + n]) for i in range(len(words) - n + 1))
        covered = [False] * len(words)
        for i in range(len(words) - n + 1):
            if grams[tuple(words[i : i + n])] >= 2:
                for j in range(i, i + n):
                    covered[j] = True
        return sum(len(w) for w, c in zip(words, covered) if c) / total_chars

    return (
        min(top_ngram_frac(2), 1.0),
        min(top_ngram_frac(3), 1.0),
        min(dup_ngram_char_frac(5), 1.0),
    )


_ALPHA_RE = re.compile("[A-Za-z]")
_BULLET_RE = re.compile(r"^[-*•·]")
_ELLIPSIS_RE = re.compile(r"(\.\.\.|…)$")


def _is_stopword(word: str) -> bool:
    # lowercase, strip leading/trailing non-letters (so "The," matches "the")
    return _NORM_RE.sub("", word.lower()) in EN_STOPWORDS


def _pandas_features_one(text: str | None) -> dict:
    out: dict[str, object] = {c: None for c in FEATURE_COLUMNS}
    if text is None:
        return out
    words = [w for w in PY_WS_RE.split(text) if w]
    lines = [_PY_WS_STRIP.sub("", l) for l in text.split("\n")]
    lines = [l for l in lines if l]
    wc, nl = len(words), len(lines)
    out["n_chars"] = len(text)
    out["word_count"] = wc
    out["n_lines"] = nl
    total_wchars = sum(len(w) for w in words)
    if wc > 0:
        out["mean_word_length"] = total_wchars / wc
        out["stopword_ratio"] = sum(_is_stopword(w) for w in words) / wc
        n_symbols = text.count("#") + len(re.findall(r"\.\.\.", text)) + text.count("…")
        out["symbol_word_ratio"] = n_symbols / wc
        out["alpha_word_ratio"] = sum(_ALPHA_RE.search(w) is not None for w in words) / wc
    if nl > 0:
        out["mean_line_length"] = sum(len(l) for l in lines) / nl
        out["max_line_length"] = max(len(l) for l in lines)
        out["bullet_line_frac"] = sum(1 for l in lines if _BULLET_RE.match(l)) / nl
        out["ellipsis_line_frac"] = sum(1 for l in lines if _ELLIPSIS_RE.search(l)) / nl
        out["dup_line_frac"] = (nl - len(set(lines))) / nl
    if not text:
        rep = (float("nan"),) * 3
    elif total_wchars == 0 or wc < 2:
        rep = (0.0, 0.0, 0.0)
    else:
        rep = _repetition_counter(words, total_wchars)
    out["top_2gram_char_frac"], out["top_3gram_char_frac"], out["dup_5gram_char_frac"] = rep
    return out


def pandas_text_features(texts: pd.Series) -> pd.DataFrame:
    """Oracle-side features: the spec, one document at a time."""
    return pd.DataFrame([_pandas_features_one(t) for t in texts], index=texts.index)


# ---------------------------------------------------------------- batch kernel

#: Words per slab of :func:`text_features_batch` (a longer document is a
#: slab of its own). It bounds the kernel's transient arrays and word lists;
#: sized from measured worker RSS and µs/doc (CHANGES.md). It also keeps
#: every n-gram key below 2**63: a slab of several documents has
#: V <= 2**16 distinct words, so (doc·V + w)·V + w < docs · 2**32; a
#: single-document slab of N words has keys below N².
_SLAB_WORDS = 1 << 16

_TOKEN_RE = re.compile(r"[\S\x1c-\x1f]+")
_C0_SEPARATORS = ("\x1c", "\x1d", "\x1e", "\x1f")
# PY_WS_RE's set as a str.strip() argument. No White_Space character lies
# above U+3000 (pinned by a test over every codepoint).
_WS_CHARS = "".join(PY_WS_RE.findall("".join(map(chr, range(0x3001)))))
_is_bullet = methodcaller("startswith", ("-", "*", "•", "·"))
_is_ellipsis = methodcaller("endswith", ("...", "…"))
_REPETITION = ("top_2gram_char_frac", "top_3gram_char_frac", "dup_5gram_char_frac")


def _tokenize(text: str) -> list[str]:
    """The spec's words: ``PY_WS_RE.split`` without empty strings.
    ``str.split()`` splits on the same set plus \\x1c-\\x1f, so it serves
    every text without those."""
    if any(c in text for c in _C0_SEPARATORS):
        return _TOKEN_RE.findall(text)
    return text.split()


def _lens(items) -> np.ndarray:
    return np.fromiter(map(len, items), np.int64, len(items))


def _flags(pred, items) -> np.ndarray:
    return np.fromiter(map(pred, items), bool, len(items))


def _offsets(lengths: np.ndarray) -> np.ndarray:
    return np.concatenate(([0], np.cumsum(lengths)))


def _seg_sums(x: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Integer sums of ``x`` over [offsets[i], offsets[i+1]) (exact, and 0
    for an empty segment)."""
    c = _offsets(x)
    return c[offsets[1:]] - c[offsets[:-1]]


def _factorize(keys: np.ndarray) -> np.ndarray:
    """Hash labels of int64 keys, numbered by first occurrence."""
    return Int64HashTable(len(keys)).factorize(keys)[1]


def text_features_batch(texts: list[str | None]) -> dict[str, np.ndarray]:
    """Batch form of :func:`_pandas_features_one`: FEATURE_COLUMNS as
    float64 arrays, NaN where the spec gives None or NaN, every other value
    bit-identical to the spec. Every reduction is per document, so a row
    does not depend on the batch or slab its document lands in."""
    out = {c: np.full(len(texts), np.nan) for c in FEATURE_COLUMNS}
    rows: list[int] = []
    toks: list[list[str]] = []
    n_words = 0
    for i, text in enumerate(texts):
        if text is None:
            continue
        words = _tokenize(text)
        if rows and n_words + len(words) > _SLAB_WORDS:
            _features_slab(out, rows, toks, texts)
            rows, toks, n_words = [], [], 0
        rows.append(i)
        toks.append(words)
        n_words += len(words)
    if rows:
        _features_slab(out, rows, toks, texts)
    return out


def _features_slab(out: dict, rows: list[int], toks: list[list[str]], texts) -> None:
    texts = [texts[i] for i in rows]
    rows = np.asarray(rows)
    n_chars = _lens(texts)
    wc = _lens(toks)
    out["n_chars"][rows] = n_chars
    out["word_count"][rows] = wc

    lines = [[l for l in (s.strip(_WS_CHARS) for s in t.split("\n")) if l] for t in texts]
    nl = _lens(lines)
    out["n_lines"][rows] = nl
    flat = [l for ls in lines for l in ls]
    if flat:
        offs, has = _offsets(nl), nl > 0
        r, n = rows[has], nl[has]
        line_len = _lens(flat)
        out["mean_line_length"][r] = _seg_sums(line_len, offs)[has] / n
        out["max_line_length"][r] = np.maximum.reduceat(line_len, offs[:-1][has])
        out["bullet_line_frac"][r] = _seg_sums(_flags(_is_bullet, flat), offs)[has] / n
        out["ellipsis_line_frac"][r] = _seg_sums(_flags(_is_ellipsis, flat), offs)[has] / n
        distinct = np.fromiter(map(len, map(set, lines)), np.int64, len(lines))
        out["dup_line_frac"][r] = (n - distinct[has]) / n

    for c in _REPETITION:  # the spec's 0.0 for a non-empty text; NaN for ""
        out[c][rows[n_chars > 0]] = 0.0
    words = [w for ws in toks for w in ws]
    if not words:
        return
    vocab = sorted(set(words))
    w = np.fromiter(map(dict(zip(vocab, range(len(vocab)))).__getitem__, words),
                    np.int64, len(words))
    offs, has = _offsets(wc), wc > 0
    r, n = rows[has], wc[has]
    word_len = _lens(vocab)[w]
    chars = _seg_sums(word_len, offs)
    out["mean_word_length"][r] = chars[has] / n
    out["stopword_ratio"][r] = _seg_sums(_flags(_is_stopword, vocab)[w], offs)[has] / n
    alpha = _flags(lambda v: _ALPHA_RE.search(v) is not None, vocab)
    out["alpha_word_ratio"][r] = _seg_sums(alpha[w], offs)[has] / n
    symbols = np.fromiter((t.count("#") + t.count("...") + t.count("…") for t in texts),
                          np.int64, len(texts))
    out["symbol_word_ratio"][r] = symbols[has] / n
    _repetition_slab(out, rows, w, len(vocab), wc, offs, word_len, chars)


def _repetition_slab(out, rows, w, V, wc, offs, word_len, chars) -> None:
    """The spec's repetition signals for every document of a slab at once.

    An n-gram's key is its (n-1)-gram's hash label · V + its last word, so
    keys are exact (injective) int64s and grams never span documents (the
    first key holds the document). An n-gram can only repeat where its
    prefix (n-1)-gram does, so each level keeps only those start positions.
    """
    doc = np.repeat(np.arange(len(wc)), wc)
    left = offs[1:][doc] - np.arange(len(w))  # words from each position to its doc's end
    at, key = np.arange(len(w)), doc * V + w
    for n in (2, 3, 4, 5):
        fits = left[at] >= n
        at, key = at[fits], key[fits]
        if at.size == 0:
            return
        labels = _factorize(key * V + w[at + n - 1])
        counts = np.bincount(labels)
        if n <= 3:
            _top_ngram(out[f"top_{n}gram_char_frac"], rows, n, at, labels, counts,
                       doc, w, word_len, chars)
        repeats = counts[labels] >= 2
        at, key = at[repeats], labels[repeats]
    # `at` now holds the start of every 5-gram that occurs at least twice
    if at.size:
        d = np.zeros(len(w) + 1, np.int64)
        d[at] += 1
        d[at + 5] -= 1
        covered = _seg_sums(np.where(np.cumsum(d[:-1]) > 0, word_len, 0), offs)
        hit = covered > 0
        out["dup_5gram_char_frac"][rows[hit]] = np.minimum(covered[hit] / chars[hit], 1.0)


def _top_ngram(col, rows, n, at, labels, counts, doc, w, word_len, chars) -> None:
    """Per document: ``count · chars(gram) / chars(doc)`` of its most
    frequent n-gram, ties to the lexicographically smallest gram, where that
    count is at least 2 (else the 0.0 already set)."""
    # labels number groups by first occurrence, and documents are contiguous,
    # so each group's first start and document come out in label order and
    # groups are contiguous per document
    first = at[np.flatnonzero(np.diff(np.maximum.accumulate(labels), prepend=-1))]
    gdoc = doc[first]
    starts = np.flatnonzero(np.diff(gdoc, prepend=-1))
    best = np.repeat(np.maximum.reduceat(counts, starts), np.diff(starts, append=len(counts)))
    cand = np.flatnonzero((counts == best) & (best >= 2))
    # word ids are lexicographic ranks: sorting tied grams by their word ids
    # puts each document's lexicographically smallest gram first
    cand = cand[np.lexsort([w[first[cand] + j] for j in reversed(range(n))] + [gdoc[cand]])]
    win = cand[np.diff(gdoc[cand], prepend=-1) != 0]
    p, d = first[win], gdoc[win]
    gram_chars = sum(word_len[p + j] for j in range(n))
    col[rows[d]] = np.minimum(counts[win] * gram_chars / chars[d], 1.0)
