"""KenLM-style char-trigram perplexity scoring.

An order-3 character language model with add-k smoothing, trained at import
time on the in-repo English seed corpus (deterministic, no downloads).
Low perplexity ≈ natural prose; high perplexity ≈ gibberish / spam — the
standard CCNet/KenLM quality signal, here as an Arrow-batched pandas UDF.

Like langid, the model table is built once per Python worker and reused for
every Arrow batch; `classify` work is dict lookups over at most 2000 chars
per document.
"""

from __future__ import annotations

import math
from collections import Counter
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from dataqualityassistant_spark.functions.corpus import EN_SENTENCES

ORDER = 3
ADD_K = 0.1
MAX_CHARS = 2000


@lru_cache(maxsize=1)
def _model() -> tuple[dict[str, float], float]:
    """(log P(char | 2-char context) table keyed 'ctx+char', fallback logp)."""
    tri: Counter = Counter()
    bi: Counter = Counter()
    vocab: set[str] = set()
    for s in EN_SENTENCES:
        t = f"  {s.lower()} "
        vocab.update(t)
        for i in range(len(t) - 2):
            bi[t[i : i + 2]] += 1
            tri[t[i : i + 3]] += 1
    v = len(vocab)
    table = {
        g: math.log((n + ADD_K) / (bi[g[:2]] + ADD_K * v)) for g, n in tri.items()
    }
    fallback = math.log(ADD_K / (ADD_K * v))  # unseen context
    return table, fallback


def log_perplexity(text: str | None) -> float:
    """Mean negative log-prob per char transition. Pure function — shared by
    the Spark UDF and the pandas oracle."""
    if not text:
        return float("nan")
    t = f"  {text[:MAX_CHARS].lower()} "
    table, fallback = _model()
    n = len(t) - 2
    if n <= 0:
        return float("nan")
    total = 0.0
    for i in range(n):
        total += table.get(t[i : i + 3], fallback)
    return -total / n


@lru_cache(maxsize=1)
def _model_dense() -> tuple[np.ndarray, np.ndarray, int]:
    """Vectorized form of :func:`_model`: a codepoint → char-id LUT (0 = any
    char outside the training vocabulary) and a dense ``K³`` float64 table
    indexed by ``(i0·K + i1)·K + i2`` holding the trigram log-probs, with
    every slot not seen in training (including every slot touching id 0)
    initialized to the fallback — exactly ``table.get(gram, fallback)``.
    Distinct OOV chars may share id 0: two different unseen trigrams then
    alias to one table slot, but both read the SAME fallback value, and
    :func:`log_perplexity_batch` sums per POSITION (not per unique gram), so
    aliasing cannot change any sum."""
    table, fallback = _model()
    chars = sorted({c for g in table for c in g})
    K = len(chars) + 1
    lut = np.zeros(0x110000, dtype=np.int32)
    for i, c in enumerate(chars, start=1):
        lut[ord(c)] = i
    dense = np.full(K * K * K, fallback, dtype=np.float64)
    for g, v in table.items():
        i0, i1, i2 = (int(lut[ord(c)]) for c in g)
        dense[(i0 * K + i1) * K + i2] = v
    return lut, dense, K


def log_perplexity_batch(texts) -> list[float]:
    """Batch form of :func:`log_perplexity` — bit-identical per document
    (differentially asserted in tests), ~10x faster: the per-char slice +
    dict.get loop becomes one UTF-32 decode, one LUT gather, one dense-table
    gather and a cumulative sum. ``np.cumsum`` accumulates strictly left to
    right (it must produce every prefix), so its last element equals the
    serial ``total += ...`` loop's float64 result exactly."""
    lut, dense, K = _model_dense()
    out = []
    for text in texts:
        if not text:
            out.append(float("nan"))
            continue
        t = f"  {text[:MAX_CHARS].lower()} "
        n = len(t) - 2
        if n <= 0:
            out.append(float("nan"))
            continue
        try:
            codes = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
        except UnicodeEncodeError:
            # lone surrogates (possible via surrogatepass upstream) cannot
            # encode; the scalar path slices strings and never encodes
            out.append(log_perplexity(text))
            continue
        ids = lut[codes].astype(np.int64)
        tri = (ids[:-2] * K + ids[1:-1]) * K + ids[2:]
        total = float(np.cumsum(dense[tri])[-1])
        out.append(-total / n)
    return out


@pandas_udf(T.DoubleType())
def perplexity_udf(texts: pd.Series) -> pd.Series:
    return pd.Series(log_perplexity_batch(list(texts)), index=texts.index)
