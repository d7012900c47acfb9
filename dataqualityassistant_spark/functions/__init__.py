from dataqualityassistant_spark.functions.text_features import FEATURE_COLUMNS
from dataqualityassistant_spark.functions.langid import langid_udf
from dataqualityassistant_spark.functions.perplexity import perplexity_udf
from dataqualityassistant_spark.functions.normalize import normalize_text_column, strip_control_chars
from dataqualityassistant_spark.functions.scrub import scrub_text_column, scrub_text_python

__all__ = [
    "normalize_text_column",
    "strip_control_chars",
    "FEATURE_COLUMNS",
    "langid_udf",
    "perplexity_udf",
    "scrub_text_column",
    "scrub_text_python",
]
