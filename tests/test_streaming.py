"""Structured Streaming slice: batch/stream symmetry, watermarked
dedup, availableNow drain semantics."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from big_data_analysis_of_airline_data_set_spark.sources.readers import read_testdata_table
from big_data_analysis_of_airline_data_set_spark.streaming import (
    drain,
    events_stream_reader,
    tumbling_counts,
)
from big_data_analysis_of_airline_data_set_spark.streaming.windows import (
    enriched_segment_counts,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir):
    """events parquet copied into a dir the file stream source can list
    (readStream.parquet wants a directory), split into two files so
    maxFilesPerTrigger exercises multi-batch progress."""
    d = tempfile.mkdtemp(prefix="events-stream-")
    ev = read_testdata_table(spark, sf_dir, "events")
    # write back as nanos-free parquet (ts already normalized to timestamp)
    ev.repartition(2).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _tumbling_drain(spark, events_dir, query_name):
    stream = events_stream_reader(spark, events_dir).withWatermark("ts", "30 minutes")
    return drain(
        tumbling_counts(stream),
        events_dir,
        query_name=query_name,
        output_mode="complete",
    )


def test_stream_tumbling_matches_batch(spark, events_dir):
    # batch reference over the same files
    batch = spark.read.parquet(events_dir)
    expected = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in tumbling_counts(batch).collect()
    }
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in _tumbling_drain(spark, events_dir, "sym_check").collect()
    }
    assert got == expected


def test_stream_dedup_within_watermark(spark, sf_dir):
    """dropDuplicatesWithinWatermark removes an injected duplicate."""
    d = tempfile.mkdtemp(prefix="events-dup-")
    try:
        ev = read_testdata_table(spark, sf_dir, "events").limit(100)
        dup = ev.limit(5)  # duplicate first 5 event_ids
        ev.union(dup).repartition(1).write.mode("overwrite").parquet(d)

        stream = events_stream_reader(spark, d).withWatermark("ts", "30 minutes")
        out = drain(
            stream.dropDuplicatesWithinWatermark(["event_id"]),
            d,
            query_name="dedup_check",
        )
        n_distinct = ev.select("event_id").distinct().count()
        assert out.count() == n_distinct
        assert out.select("event_id").distinct().count() == n_distinct
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_runner_on_testdata_events(spark, sf_dir, events_dir):
    """End-to-end drain over parquet dir; complete-mode totals equal
    the raw event count."""
    out = _tumbling_drain(spark, events_dir, "e2e_check")
    total = out.agg(F.sum("n_events")).collect()[0][0]
    raw = spark.read.parquet(events_dir).count()
    assert total == raw


def test_stream_static_enrichment_matches_batch(spark, events_dir, sf_dir):
    """Stream-static broadcast join + aggregation must equal the same
    transform run in batch over the same files (DataFrame symmetry),
    and must produce multiple segments (the join actually enriched)."""
    dim = read_testdata_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("dim_key"),
        F.col("c_mktsegment").alias("segment"),
    )
    key = lambda r: (r.window_start, r.segment)  # noqa: E731
    batch = spark.read.parquet(events_dir)
    expected = {
        key(r): (r.n_events, r.sum_value)
        for r in enriched_segment_counts(batch, dim).collect()
    }
    stream = events_stream_reader(spark, events_dir).withWatermark("ts", "30 minutes")
    got_df = drain(
        enriched_segment_counts(stream, dim),
        events_dir,
        query_name="enriched_counts_t",
        output_mode="complete",
    )
    got = {key(r): (r.n_events, r.sum_value) for r in got_df.collect()}
    assert got == expected
    assert len({segment for _, segment in got} - {"UNKNOWN"}) >= 2
