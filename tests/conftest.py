import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataqualityassistant_spark.session import stop_spark_hard, tuned_session


@pytest.fixture(scope="session")
def spark():
    spark = tuned_session("dqa-spark-tests", "local[4]", shuffle_partitions=8,
                          driver_memory="8g",
                          extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    gateway_proc = getattr(spark.sparkContext._gateway, "proc", None)
    yield spark
    # spark.stop()'s py4j reply can be lost (observed in bench runs: context
    # torn down, gateway idle, Python polling the reply socket forever) —
    # never let session teardown wedge the whole suite
    stop_spark_hard(spark.stop, gateway_proc, timeout=60)


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# ---------------------------- shared streaming-test helpers (file-source
# streams are driven by dropping one parquet batch per subdirectory)

def event_ts(m, s=0):
    """Minute/second within the fixed test hour 2024-01-01T00."""
    import datetime as dt

    return dt.datetime(2024, 1, 1, 0, m, s)


def write_stream_batch(spark, path, name, rows, schema):
    df = spark.createDataFrame(rows, schema)
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/{name}")


def poll_until(fn, timeout=60):
    import time

    deadline = time.time() + timeout
    while time.time() < deadline:
        if fn():
            return True
        time.sleep(1)
    return False
