"""BatchMetricsListener captures the reference's per-batch observability
(watchdog.go:309) from query progress, state-operator rows included."""

from __future__ import annotations

import datetime as dt
import time
import uuid

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType, TimestampType

from log_agent_spark.streaming.metrics import BatchMetricsListener

SCHEMA = StructType(
    [StructField("id", LongType()), StructField("ts", TimestampType())]
)


def test_listener_counts_rows(spark, tmp_path):
    src = str(tmp_path / "src")
    table = f"met_{uuid.uuid4().hex[:8]}"
    spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1, 0, 0, i)) for i in range(5)], SCHEMA
    ).write.parquet(src)

    listener = BatchMetricsListener()
    spark.streams.addListener(listener)
    q = (
        spark.readStream.schema(SCHEMA)
        .parquet(src)
        .withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count("*").alias("n"))
        .writeStream.format("memory")
        .queryName(table)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and listener.total_rows() < 5:
            time.sleep(1)
        assert listener.total_rows() == 5, listener.batches
        assert spark.sql(f"SELECT sum(n) FROM {table}").first()[0] == 5
        # the stateful agg reported state rows through the listener
        assert any(b.state_rows for b in listener.batches), listener.batches
        assert any(
            b.duration_ms is not None for b in listener.batches
        ), listener.batches
    finally:
        q.stop()
        spark.streams.removeListener(listener)


def test_batch_observation_metrics(spark, sf_dir):
    """observed(): metrics ride along with the action (no second scan)."""
    from pyspark.sql import functions as F

    from log_agent_spark.sources.tables import load_table
    from log_agent_spark.streaming.metrics import observed

    docs = load_table(spark, sf_dir, "documents")
    df, obs = observed(
        docs,
        "doc_ingest",
        F.count(F.lit(1)).alias("rows"),
        F.sum("n_chars").alias("chars"),
    )
    df.write.format("noop").mode("overwrite").save()
    got = obs.get
    expected = docs.agg(
        F.count(F.lit(1)).alias("rows"), F.sum("n_chars").alias("chars")
    ).first()
    assert got["rows"] == expected["rows"]
    assert got["chars"] == expected["chars"]
