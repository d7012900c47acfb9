"""Text-analysis operators for training-data pipelines: token counting,
compression ratio, line dedup and winnowing document fingerprints. Language-ID
and perplexity live in :mod:`dataqualityassistant_spark.functions`."""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# BPE-ish pre-tokenization: letter runs, digit runs, or single non-space
# symbols — the standard byte-pair pre-split shape, expressible in both Java
# regex (JVM regexp_extract_all) and RE2 (DuckDB oracle). The whitespace is
# an EXPLICIT ASCII class, not \s: Java \s includes \x0B where RE2 \s does
# not, so a bare \s here would tokenize vertical-tab-bearing text
# differently on the two engines.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]"


def token_count_expr(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNotNull(), F.size(F.regexp_extract_all(c, F.lit(TOKEN_PATTERN), F.lit(0))))


def with_token_count(df: DataFrame, text_col: str = "text", out_col: str = "token_count") -> DataFrame:
    return df.withColumn(out_col, token_count_expr(text_col))


def compression_ratio_one(text: str | None) -> float | None:
    """zlib(level 6) compressed-size / raw-size of one document's UTF-8
    bytes. A cheap gibberish/repetition signal: highly repetitive or
    templated text compresses far below normal prose (~0.4–0.6), random
    gibberish barely compresses (>0.8). Pure function — shared by the
    Arrow UDF and the driver-side literal oracle (plumbing-parity check;
    zlib output is deterministic for a fixed library).

    Standalone op by design; if this signal joins the PIPELINE's scoring
    path, fold it into the ONE fused UDF in ``functions/scoring.py``
    (CLAUDE.md rule) instead of adding a second Arrow pass per document."""
    if text is None or len(text) == 0:
        return None
    raw = text.encode("utf-8")
    return len(zlib.compress(raw, 6)) / len(raw)


@pandas_udf(T.DoubleType())
def compression_ratio_udf(texts: pd.Series) -> pd.Series:
    return texts.map(compression_ratio_one).astype("float64")


def with_compression_ratio(df: DataFrame, text_col: str = "text",
                           out_col: str = "compression_ratio") -> DataFrame:
    return df.withColumn(out_col, compression_ratio_udf(F.col(text_col)))


def remove_repeated_lines(col: Column | str, split_regex: str = r"\n",
                          join_sep: str = "\n") -> Column:
    """C4-style within-document repetition removal: keep only the FIRST
    occurrence of each line (Spark's ``array_distinct`` preserves
    first-occurrence order). Pure JVM expression — split, distinct, rejoin
    — so it rides the scan stage with no UDF and no shuffle. NULL in,
    NULL out. The entry-contract oracle (``dedup_lines``) reimplements the
    order-preserving distinct independently in DuckDB via
    ``list_position(ls, ls[i]) = i``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(F.array_distinct(F.split(c, split_regex)), join_sep)


_W = 8  # winnowing window (fingerprints per ~W tokens)
_K = 5  # k-gram size


def winnow_fingerprints(text: str | None) -> list[int] | None:
    """Winnowing fingerprints (Schleimer et al.) of one document: rolling
    k-gram hashes, minimum per sliding window, deduplicated — a compact,
    alignment-robust signature for copy detection. Deterministic crc-based
    hashing. Pure function — shared by the Spark UDF and the driver-side
    oracle so fingerprints agree exactly."""
    if not text:
        return None
    tokens = text.lower().split()
    if len(tokens) < _K:
        return []
    hs = np.fromiter(
        (
            ((zlib.crc32(" ".join(tokens[i : i + _K]).encode()) << 32)
             | zlib.crc32(" ".join(tokens[i : i + _K])[::-1].encode()))
            & 0x7FFFFFFFFFFFFFFF
            for i in range(len(tokens) - _K + 1)
        ),
        dtype=np.int64,
    )
    if hs.size <= _W:
        return sorted({int(hs.min())})
    return sorted({int(hs[i : i + _W].min()) for i in range(hs.size - _W + 1)})


@pandas_udf(T.ArrayType(T.LongType()))
def fingerprint_udf(texts: pd.Series) -> pd.Series:
    """Arrow-batched wrapper over :func:`winnow_fingerprints`."""
    return pd.Series([winnow_fingerprints(t) for t in texts])


def with_fingerprints(df: DataFrame, text_col: str = "text", out_col: str = "fingerprints") -> DataFrame:
    return df.withColumn(out_col, fingerprint_udf(F.col(text_col)))
