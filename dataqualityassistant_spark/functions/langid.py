"""Deterministic fastText-style language identification.

A char-n-gram Naive-Bayes profile classifier (the same family of model
fastText's langid uses, minus the learned embeddings): per-language trigram
log-probability tables trained at import time from the in-repo seed corpus
(:mod:`corpus` — no external model downloads, fully deterministic).

Runs as an Arrow-batched ``pandas_udf`` (Series → Series of structs): the
model tables are built once per Python worker, each batch is scored with
dict lookups — no per-row Spark-Python round trips, no JVM regex. This is
the pattern the north rule requires for model-ish scoring stages
("fastText language-ID ... as pandas/Arrow UDFs in batched form").

The reference system has no langid; its extension seam is the expectation
registry (quality_engine.py:410). We surface langid as a derived column so
`expect_column_values_to_be_in_set(column='detected_lang', ...)` and
lang-claim-agreement rules run through the ordinary compiler.
"""

from __future__ import annotations

import math
from collections import Counter
from functools import lru_cache

import numpy as np
import pandas as pd
from pandas._libs.hashtable import Int64HashTable
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from dataqualityassistant_spark.functions.corpus import LANG_SENTENCES

NGRAM = 3
UNKNOWN = "zz"
MIN_CHARS = 12  # below this, classification is noise -> 'zz'


def _trigrams(text: str):
    t = f"  {text.lower()}  "
    for i in range(len(t) - NGRAM + 1):
        yield t[i : i + NGRAM]


@lru_cache(maxsize=1)
def _profiles() -> dict[str, dict[str, float]]:
    """lang -> {trigram: log P(trigram|lang)} with add-one smoothing over the
    union vocabulary. Built deterministically from the seed corpus."""
    counts: dict[str, Counter] = {}
    vocab: set[str] = set()
    for lang, sentences in LANG_SENTENCES.items():
        c: Counter = Counter()
        for s in sentences:
            c.update(_trigrams(s))
        counts[lang] = c
        vocab.update(c)
    v = len(vocab)
    profiles: dict[str, dict[str, float]] = {}
    for lang, c in counts.items():
        total = sum(c.values()) + v
        profiles[lang] = {g: math.log((n + 1) / total) for g, n in c.items()}
        profiles[lang]["__oov__"] = math.log(1 / total)
    return profiles


def classify_text(text: str | None) -> tuple[str, float]:
    """(lang, mean per-trigram log-prob margin). Pure function — shared by
    the Spark UDF and the pandas oracle so labels agree exactly."""
    if text is None or len(text) < MIN_CHARS:
        return UNKNOWN, 0.0
    counts = Counter(_trigrams(text[:2000]))  # cap work per doc; 2k chars is ample
    n = sum(counts.values())
    if n == 0:
        return UNKNOWN, 0.0
    profiles = _profiles()
    scores = {}
    # iterate UNIQUE grams weighted by count (~2-3x fewer table lookups than
    # scoring every occurrence; identical result)
    for lang, table in profiles.items():
        oov = table["__oov__"]
        total = 0.0
        for g, c in counts.items():
            total += c * table.get(g, oov)
        scores[lang] = total / n
    best = max(sorted(scores), key=lambda k: scores[k])
    ranked = sorted(scores.values(), reverse=True)
    margin = ranked[0] - ranked[1] if len(ranked) > 1 else 0.0
    return best, margin


# Explicit DataType: DDL-string return types need an active SparkContext at
# decoration time, which executor-side module imports don't have.
_LANGID_TYPE = T.StructType(
    [T.StructField("lang", T.StringType()), T.StructField("margin", T.DoubleType())]
)


@lru_cache(maxsize=1)
def _profiles_dense() -> tuple[np.ndarray, int, list[str], np.ndarray]:
    """Vectorized form of :func:`_profiles`: a codepoint → char-id LUT over
    the union training vocabulary (0 = out-of-vocabulary) plus a dense
    ``(K³, n_langs)`` float64 table whose row ``(i0·K + i1)·K + i2`` holds
    every language's log-prob of that trigram — its ``__oov__`` value where
    the language's profile has no such key (including every row touching
    id 0), so a gather reproduces ``table.get(gram, oov)`` exactly."""
    profiles = _profiles()
    chars = sorted({c for table in profiles.values() for g in table for c in g
                    if g != "__oov__"})
    K = len(chars) + 1
    lut = np.zeros(0x110000, dtype=np.int32)
    for i, c in enumerate(chars, start=1):
        lut[ord(c)] = i
    langs = sorted(profiles)  # sorted: the tie-break below needs this order
    dense = np.empty((K * K * K, len(langs)), dtype=np.float64)
    dense[:] = [profiles[lang]["__oov__"] for lang in langs]
    for li, lang in enumerate(langs):
        for g, v in profiles[lang].items():
            if g == "__oov__":
                continue
            i0, i1, i2 = (int(lut[ord(c)]) for c in g)
            dense[(i0 * K + i1) * K + i2, li] = v
    return lut, K, langs, dense


_CP = (1 << 21) - 1  # every codepoint fits in 21 bits
#: documents per slab of :func:`classify_batch`; each contributes at most
#: 2004 codepoints, so a slab's arrays stay a few MiB
_SLAB_DOCS = 64


def classify_batch(texts) -> list[tuple[str, float]]:
    """Batch form of :func:`classify_text` — bit-identical per document
    (differentially asserted in tests). Per slab of documents: one UTF-32
    decode (``surrogatepass`` keeps a lone surrogate as its own codepoint,
    out of vocabulary as in the spec) and trigram occurrences packed as
    codepoint triples into int64 keys, so key equality is string-trigram
    equality. Per document: one hash factorization, whose uniques come back
    in first-occurrence order, the order ``Counter`` iterates in, with no
    sort. Each unique gram contributes ``count * logp`` as one multiply,
    accumulated left to right by a per-document ``np.cumsum``, whose last
    element equals the serial ``total +=`` loop. Keep it so: a 1-D
    ``np.add.reduceat`` or ``ndarray.sum`` sums pairwise and does NOT
    reproduce it."""
    lut, K, langs, dense = _profiles_dense()
    out = [(UNKNOWN, 0.0)] * len(texts)
    rows = [i for i, t in enumerate(texts) if t is not None and len(t) >= MIN_CHARS]
    for s in range(0, len(rows), _SLAB_DOCS):
        slab = rows[s : s + _SLAB_DOCS]
        padded = [f"  {texts[i][:2000].lower()}  " for i in slab]
        c = np.frombuffer("".join(padded).encode("utf-32-le", "surrogatepass"),
                          dtype=np.uint32).astype(np.int64)
        keys = (c[:-2] << 42) | (c[1:-1] << 21) | c[2:]  # spans documents; sliced per doc
        grams, counts, start = [], [], 0
        for t in padded:
            n = len(t) - NGRAM + 1
            uniques, labels = Int64HashTable(n).factorize(keys[start : start + n])
            grams.append(uniques)
            counts.append(np.bincount(labels))
            start += len(t)
        g = np.concatenate(grams)
        slots = (lut[g >> 42].astype(np.int64) * K + lut[(g >> 21) & _CP]) * K + lut[g & _CP]
        terms = np.concatenate(counts)[:, None] * dense[slots]
        start = 0
        for i, t, uniques in zip(slab, padded, grams):
            totals = np.cumsum(terms[start : start + len(uniques)], axis=0)[-1]
            start += len(uniques)
            n = len(t) - NGRAM + 1
            scores = {lang: float(total) / n for lang, total in zip(langs, totals)}
            best = max(sorted(scores), key=lambda k: scores[k])
            ranked = sorted(scores.values(), reverse=True)
            margin = ranked[0] - ranked[1] if len(ranked) > 1 else 0.0
            out[i] = (best, margin)
    return out


@pandas_udf(_LANGID_TYPE)
def langid_udf(texts: pd.Series) -> pd.DataFrame:
    out = classify_batch(list(texts))
    return pd.DataFrame({"lang": [t[0] for t in out],
                         "margin": [t[1] for t in out]}, index=texts.index)
