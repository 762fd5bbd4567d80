"""Stream-stream and stream-static joins: the watermarked streaming
interval join must reproduce the batch interval join, and a static
dimension join works inside a stream."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from big_data_analysis_of_airline_data_set_spark.plans.events_queries import q_interval_join
from big_data_analysis_of_airline_data_set_spark.sources.readers import read_testdata_table
from big_data_analysis_of_airline_data_set_spark.streaming.jobs import (
    drain,
    events_stream_reader,
)
from big_data_analysis_of_airline_data_set_spark.streaming.windows import (
    interval_join_pairs,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir):
    d = tempfile.mkdtemp(prefix="events-j-")
    read_testdata_table(spark, sf_dir, "events").repartition(2).write.mode(
        "overwrite"
    ).parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, events_dir):
    expected = {
        (r.user_id, r.purchase_id, r.click_id)
        for r in q_interval_join(spark, sf_dir).collect()
    }
    joined = interval_join_pairs(
        events_stream_reader(spark, events_dir),
        events_stream_reader(spark, events_dir),
    )
    got = {
        (r.user_id, r.purchase_id, r.click_id)
        for r in drain(joined, events_dir, query_name="ss_join").collect()
    }
    assert got == expected
    assert len(got) > 0


def test_stream_static_dimension_join(spark, events_dir):
    """Static dim (user tier) joined into a stream — no watermark needed
    on the static side."""
    users = spark.range(0, 200).select(
        F.col("id").alias("user_id"),
        F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("tier"),
    )
    stream = events_stream_reader(spark, events_dir)
    enriched = stream.join(F.broadcast(users), "user_id").groupBy("tier").count()
    out = drain(enriched, events_dir, query_name="st_join", output_mode="complete")
    got = {r.tier: r["count"] for r in out.collect()}
    batch = spark.read.parquet(events_dir).join(users, "user_id").groupBy("tier").count()
    want = {r.tier: r["count"] for r in batch.collect()}
    assert got == want
