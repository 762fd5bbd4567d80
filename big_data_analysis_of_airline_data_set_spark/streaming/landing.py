"""Landing / ingestion job: raw driver events feed → normalized,
date-partitioned parquet.

The raw feed's ts encoding varies by testdata generation (TIMESTAMP
NANOS or MICROS — sources.readers detects and normalizes); landing
normalizes once so every downstream batch AND stream reads proper
microsecond timestamps from a partitioned layout (partition pruning on
event_date for time-ranged queries).

``land_events_stream`` is the continuous version: a file-source stream
with a foreachBatch parquet sink — the idiomatic "bronze" ingestion
loop (exactly-once per micro-batch via checkpoint + idempotent
overwrite of date partitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import read_testdata_table


def land_events_batch(spark: SparkSession, sf_dir: str, out_dir: str) -> DataFrame:
    """One-shot landing: normalize + partition by event_date."""
    ev = read_testdata_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    ev.write.mode("overwrite").partitionBy("event_date").parquet(out_dir)
    return spark.read.parquet(out_dir)


def land_events_stream(
    spark: SparkSession, events_dir: str, out_dir: str, *, query_name: str = "land_events"
) -> None:
    """Streaming landing loop over an events parquet directory (ts
    already microsecond timestamps — see streaming.jobs reader note),
    drained with availableNow."""
    from .jobs import drain, events_stream_reader

    stream = events_stream_reader(spark, events_dir).withColumn(
        "event_date", F.to_date("ts")
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # dynamic partition overwrite keeps re-delivered batches idempotent
        batch_df.write.mode("append").partitionBy("event_date").parquet(out_dir)

    drain(stream, events_dir, query_name=query_name, foreach_batch=sink)
