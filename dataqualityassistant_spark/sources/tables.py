"""Table sources/sinks and catalog introspection.

The reference reads whole Postgres tables into pandas (quality_engine.py:
131-132) and introspects information_schema (app/main.py:1311-1411,
db_utils.py:11-35). Here tables are lake tables: Iceberg when the runtime
ships the connector (the 100 TB deployment target — snapshot isolation,
partition pruning, schema evolution), parquet paths otherwise (this sandbox).
All callers go through read_table/write_table so the engine is
format-agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

def _session_has_iceberg(spark: SparkSession) -> bool:
    """True when the session's JVM ships the Iceberg Spark connector."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    """ref = filesystem path (parquet dir / file) or catalog table name."""
    if os.path.exists(ref) or ref.startswith(("/", "file:", "s3:", "s3a:", "hdfs:")):
        return spark.read.parquet(ref)
    if spark.catalog.tableExists(ref):
        return spark.read.table(ref)
    raise ValueError(f"table not found: {ref}")


def write_table(df: DataFrame, ref: str, mode: str = "overwrite",
                partition_by: list[str] | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    spark = df.sparkSession
    if not (ref.startswith(("/", "file:", "s3:", "s3a:", "hdfs:"))) and _session_has_iceberg(spark):
        w.format("iceberg").saveAsTable(ref)
    elif ref.startswith(("/", "file:", "s3:", "s3a:", "hdfs:")) or os.path.isabs(ref):
        w.parquet(ref)
    else:
        w.saveAsTable(ref)


def write_bucketed_table(df: DataFrame, table_name: str, bucket_cols: list[str],
                         n_buckets: int, sort_cols: list[str] | None = None,
                         path: str | None = None, mode: str = "overwrite") -> None:
    """Persist a catalog table hash-bucketed (and optionally sorted) on the
    join/aggregation key — the lake-table co-location primitive for 100 TB:

    - a join of two tables bucketed on the same key with the same bucket
      count runs with ZERO Exchange (each task joins bucket i against
      bucket i; asserted in tests/test_plans.py);
    - adding ``sort_cols`` = the bucket key also removes the per-task Sort
      of a sort-merge join (bucket files are pre-sorted; the reader reports
      that ordering only with one file per bucket — guaranteed here by the
      pre-write repartition — and, since Spark 3.0, the conf
      ``spark.sql.legacy.bucketedTableScan.outputOrdering=true``);
    - groupBy on the bucket key aggregates without a shuffle.

    Bucket metadata lives in the session catalog (saveAsTable is required —
    plain ``.parquet(path)`` cannot record bucketing); pass ``path`` to keep
    the data at an external location. Writers produce one file per
    (task, bucket), so repartition by the bucket key first on wide inputs —
    the same fan-out-writer rule as the pipeline's partitioned writes."""
    w = df.repartition(n_buckets, *[df[c] for c in bucket_cols]).write.mode(mode)
    if path is not None:
        w = w.option("path", path)
    w = w.bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table_name)


def table_exists(spark: SparkSession, ref: str) -> bool:
    """Analog of the reference's information_schema EXISTS probe
    (db_utils.py:11-35)."""
    if ref.startswith(("/", "file:")) or os.path.isabs(ref):
        return os.path.exists(ref.removeprefix("file:"))
    return spark.catalog.tableExists(ref)


def table_schema(spark: SparkSession, ref: str) -> list[dict]:
    """GET /database/tables/{t}/schema analog (app/main.py:1336-1411):
    column name/type/nullability. PK/FK constraints have no Spark-catalog
    analog; relationship *inference* lives in profiling.infer_relationships."""
    df = read_table(spark, ref)
    return [
        {"column_name": f.name, "data_type": f.dataType.simpleString(),
         "is_nullable": f.nullable}
        for f in df.schema.fields
    ]
