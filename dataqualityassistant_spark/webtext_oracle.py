"""Pandas oracle for the web-text quality filter.

Computes the same derived features with the per-document scalar spec
(``text_features._pandas_features_one``, ``langid.classify_text``,
``perplexity.log_perplexity``) that differential tests pin the Spark UDF's
batch kernels to, applies the same rule suite
through :mod:`oracle`'s reference-semantics evaluator, and scrubs with the
Python-re reference chain. Used to freeze golden keep/drop labels and
byte-exact scrubbed text; the Spark pipeline must reproduce them at
F1 ≥ 0.99 / byte-identical respectively (BASELINE.json north_rule).
"""

from __future__ import annotations

import pandas as pd

from dataqualityassistant_spark.functions.langid import classify_text
from dataqualityassistant_spark.functions.perplexity import log_perplexity
from dataqualityassistant_spark.functions.scrub import scrub_text_python
from dataqualityassistant_spark.functions.text_features import pandas_text_features
from dataqualityassistant_spark.oracle import oracle_keep_mask
from dataqualityassistant_spark.rules import Rule


def oracle_score_pages(pages: pd.DataFrame, rules: list[Rule],
                       text_col: str = "text") -> pd.DataFrame:
    """pages (url, warc_ts, html, text, lang) → DataFrame with
    verdict / detected_lang / log_ppl / scrubbed_text / all features."""
    feats = pandas_text_features(pages[text_col])
    lid = pages[text_col].map(classify_text)
    out = pd.concat([pages.drop(columns=["html"], errors="ignore"), feats], axis=1)
    out["detected_lang"] = lid.map(lambda t: t[0])
    out["langid_margin"] = lid.map(lambda t: t[1])
    out["log_ppl"] = pages[text_col].map(log_perplexity)
    out["verdict"] = oracle_keep_mask(out, rules)
    out["scrubbed_text"] = pages[text_col].map(scrub_text_python)
    return out
