import datetime

import pytest
from pyspark.sql import SparkSession
from pyspark.sql.types import (DoubleType, IntegerType, StructField,
                               StructType, TimestampType)


@pytest.fixture(scope="session")
def spark():
    spark = (SparkSession.builder.master("local[4]")
             .appName("pipelinedp_spark-tests")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.adaptive.enabled", "true")
             .getOrCreate())
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def events_schema():
    """(user_id, ts, value): the schema of the event streams."""
    return StructType([
        StructField("user_id", IntegerType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
    ])


@pytest.fixture
def stream_dir(spark, tmp_path, events_schema):
    rows = []
    for u in range(20):
        for k in range(3):  # 3 events per user in window 1
            rows.append((u, f"2024-01-01 00:00:{10 + k:02d}", 2.0))
        rows.append((u, "2024-01-01 00:01:30", 4.0))  # window 2
    # Sparse window (minute 2): only 2 users — dropped by DP selection.
    rows.append((0, "2024-01-01 00:02:30", 1.0))
    rows.append((1, "2024-01-01 00:02:31", 1.0))
    # Append-mode only emits windows the watermark has passed: one late
    # "flush" event closes the windows under test.
    rows.append((0, "2024-01-01 00:05:00", 0.0))
    df = spark.createDataFrame(
        [(u, datetime.datetime.fromisoformat(t), v) for u, t, v in rows],
        events_schema)
    path = str(tmp_path / "stream")
    df.coalesce(1).write.parquet(path)
    return path


@pytest.fixture
def run_stream(spark):
    """Runs a streaming frame to completion into a memory sink and returns
    the sink; fails unless the query finished without error in 120 s."""
    def run(out_df, name):
        q = (out_df.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        try:
            assert q.awaitTermination(120), f"{name} did not finish"
            assert q.exception() is None, q.exception()
        finally:
            q.stop()
        return spark.sql(f"select * from {name}")

    return run
