"""Fused Python-side scoring: ONE Arrow-batched pandas UDF computing every
derived signal — Gopher/C4 text features, n-gram repetition, language-ID,
and perplexity — in a single pass over each batch.

Why one fused UDF (measured on this box, 100k docs):

- Spark's higher-order functions (``filter``/``transform``/``aggregate``
  with lambdas) do NOT participate in whole-stage codegen — an earlier JVM
  feature projection ran interpreted, allocating per row, and stopped
  scaling past ~8 cores (1.3× speedup at 4× cores). The same logic as a
  batched Python stage scales at ~2.3× and is absolutely faster.
- Each pandas UDF column costs an Arrow serialize/deserialize of its
  inputs, and ``udf(c)["a"]`` + ``udf(c)["b"]`` can evaluate the UDF twice.
  Fusing makes the hot path exactly one Python stage with one text transfer
  per row.

The UDF runs batch kernels over each Arrow batch
(``text_features.text_features_batch``, ``langid.classify_batch``,
``perplexity.log_perplexity_batch``). The oracle replays the per-document
scalar spec (``_pandas_features_one`` / ``classify_text`` /
``log_perplexity``); differential tests pin every kernel to its spec bit
for bit, so Spark↔oracle label parity stays exact. A float sum over a
document's segment must stay a left-to-right ``np.cumsum``, never
``np.add.reduceat`` or ``ndarray.sum``: over 1-D segments those sum
pairwise and are not bit-identical to the spec's serial loop.

The UDF also returns the texts' scrub-guard bitmask
(``scrub.scrub_guards``): it holds every text as a Python ``str`` already,
where the guard tests are cheap substring searches, and the JVM scrub chain
then runs its regexes only on the pages a pattern can match.

The quality RULES over these columns still compile to Spark SQL expressions
(``expect_column_values_to_be_between`` masks) — only the derived-column
computation lives in the Arrow stage.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from dataqualityassistant_spark.functions.langid import classify_batch
from dataqualityassistant_spark.functions.perplexity import log_perplexity_batch
from dataqualityassistant_spark.functions.scrub import scrub_guards
from dataqualityassistant_spark.functions.text_features import (
    FEATURE_COLUMNS,
    text_features_batch,
)

_FEATURE_TYPES = {
    "n_chars": T.LongType(),
    "word_count": T.LongType(),
    "n_lines": T.LongType(),
    "max_line_length": T.LongType(),
}

_SCORES_TYPE = T.StructType(
    [T.StructField(c, _FEATURE_TYPES.get(c, T.DoubleType())) for c in FEATURE_COLUMNS]
    + [
        T.StructField("detected_lang", T.StringType()),
        T.StructField("langid_margin", T.DoubleType()),
        T.StructField("log_ppl", T.DoubleType()),
        T.StructField("scrub_guards", T.ByteType()),
    ]
)

# the score columns; the scrub guards are an input of the scrub, not a score
SCORE_FIELDS = [f.name for f in _SCORES_TYPE.fields if f.name != "scrub_guards"]


@pandas_udf(_SCORES_TYPE)
def text_scores_udf(texts: pd.Series) -> pd.DataFrame:
    docs = texts.tolist()
    # float64 columns with NaN for null: the Arrow serializer masks isnull(),
    # so NaN (e.g. log_ppl of an empty text) reaches Spark as NULL, not NaN.
    # It must: Spark treats NaN as an ordinary largest-double (NaN > x is
    # TRUE), so a NaN leaking into a `between` mask would count as a
    # violation while the pandas oracle (notnull(NaN) = False) passes it.
    out = pd.DataFrame(text_features_batch(docs), index=texts.index)
    langs = classify_batch(docs)
    out["detected_lang"] = [lang for lang, _ in langs]
    out["langid_margin"] = [margin for _, margin in langs]
    out["log_ppl"] = log_perplexity_batch(docs)
    out["scrub_guards"] = scrub_guards(docs)
    return out


def with_text_scores(df: DataFrame, text_col: str = "text",
                     guards_col: str | None = None) -> DataFrame:
    """Adds all SCORE_FIELDS via one Python stage. The struct is materialized
    once into a column and fields projected from it, so the UDF runs exactly
    once per row. With ``guards_col`` the text's scrub-guard bitmask is added
    under that name too, for ``scrub_text_column(..., guards=)``; the caller
    drops it."""
    fields = {name: F.col(f"__scores.{name}") for name in SCORE_FIELDS}
    if guards_col:
        fields[guards_col] = F.col("__scores.scrub_guards")
    df = df.withColumn("__scores", text_scores_udf(F.col(text_col)))
    return df.withColumns(fields).drop("__scores")
