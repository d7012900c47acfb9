from dataqualityassistant_spark.sources.jsonl import read_jsonl, split_corrupt
from dataqualityassistant_spark.sources.wet_text import read_wet, wet_record_expr
from dataqualityassistant_spark.sources.tables import (
    read_table,
    write_table,
    table_exists,
    table_schema,
)

__all__ = [
    "read_jsonl",
    "split_corrupt",
    "read_wet",
    "wet_record_expr",
    "read_table",
    "write_table",
    "table_exists",
    "table_schema",
]
