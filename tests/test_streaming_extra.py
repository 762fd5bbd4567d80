"""Streaming depth: landing job, stateful applyInPandasWithState,
sliding/session windows as real streams."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from big_data_analysis_of_airline_data_set_spark.sources.readers import read_testdata_table
from big_data_analysis_of_airline_data_set_spark.streaming import (
    drain,
    events_stream_reader,
    session_counts,
    sliding_counts,
)
from big_data_analysis_of_airline_data_set_spark.streaming.landing import (
    land_events_batch,
    land_events_stream,
)
from big_data_analysis_of_airline_data_set_spark.streaming.stateful import (
    running_user_totals_stream,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir):
    d = tempfile.mkdtemp(prefix="events-x-")
    read_testdata_table(spark, sf_dir, "events").repartition(2).write.mode(
        "overwrite"
    ).parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_landing_batch_partitions_by_date(spark, sf_dir):
    out = tempfile.mkdtemp(prefix="landed-")
    try:
        landed = land_events_batch(spark, sf_dir, out)
        parts = [p for p in os.listdir(out) if p.startswith("event_date=")]
        assert len(parts) >= 2
        assert landed.count() == read_testdata_table(spark, sf_dir, "events").count()
        assert dict(landed.dtypes)["ts"] == "timestamp"
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_landing_stream_equals_batch(spark, events_dir):
    out = tempfile.mkdtemp(prefix="landed-s-")
    try:
        land_events_stream(spark, events_dir, out)
        landed = spark.read.parquet(out)
        src = spark.read.parquet(events_dir)
        assert landed.count() == src.count()
        assert set(landed.select("event_date").distinct().toPandas()["event_date"]) == set(
            src.select(F.to_date("ts").alias("d")).distinct().toPandas()["d"]
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_stateful_user_totals_match_batch(spark, events_dir):
    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in running_user_totals_stream(spark, events_dir, query_name="ut_test").collect()
    }
    batch = spark.read.parquet(events_dir)
    want = {
        r.user_id: (r.n, round(r.s, 2))
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("s"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for uid in want:
        assert got[uid][0] == want[uid][0], uid
        assert abs(got[uid][1] - want[uid][1]) < 0.05, uid


@pytest.mark.parametrize("transform", [sliding_counts, session_counts])
def test_sliding_and_session_windows_stream(spark, events_dir, transform):
    """The batch-symmetric transforms run as REAL streams too."""
    batch_expected = {tuple(r) for r in transform(spark.read.parquet(events_dir)).collect()}
    stream = events_stream_reader(spark, events_dir).withWatermark("ts", "1 hour")
    out = drain(
        transform(stream),
        events_dir,
        query_name=f"sym_{transform.__name__}",
        output_mode="complete",
    )
    got = {tuple(r) for r in out.collect()}
    assert got == batch_expected


def test_kmv_sketch_stream_incremental_equals_batch(spark, sf_dir):
    """File-granular micro-batches (maxFilesPerTrigger=1) force the
    sketch state to be maintained ACROSS batches; the drained result
    must still equal the batch-computed sketch exactly."""
    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.plans.events_queries import (
        _landed_events_dir,
    )
    from big_data_analysis_of_airline_data_set_spark.sketches.kmv import kmv_sketch

    def sketch(events):
        return kmv_sketch(
            events.select("event_type", "user_id"),
            group_col="event_type",
            value_col="user_id",
            k=16,
        )

    landed = _landed_events_dir(spark, sf_dir)
    streamed = drain(
        # one file per micro-batch: several micro-batches
        sketch(events_stream_reader(spark, landed, max_files_per_trigger=1)),
        landed,
        query_name="kmv_stream_incr_test",
        output_mode="complete",
    )
    batch = sketch(read_testdata_table(spark, sf_dir, "events"))
    s = {(r.group, r.j): r.min_h for r in streamed.collect()}
    b = {(r.group, r.j): r.min_h for r in batch.collect()}
    assert s == b


def test_enriched_segment_counts_unknown_bucket(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.streaming.windows import (
        enriched_segment_counts,
    )

    t = dt.datetime(2024, 1, 1, 10, 15)
    ev = spark.createDataFrame(
        [(1, t, 100, "view", 2.0, "{}"), (2, t, 999, "view", 3.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    dim = spark.createDataFrame([(100, "RETAIL")], "dim_key long, segment string")
    out = {r.segment: (r.n_events, r.sum_value)
           for r in enriched_segment_counts(ev, dim).collect()}
    assert out["RETAIL"] == (1, 2.0)
    assert out["UNKNOWN"] == (1, 3.0)   # user 999 has no dim row


def test_upsert_latest_state_merge_associative(spark):
    import datetime as dt

    from big_data_analysis_of_airline_data_set_spark.streaming.jobs import (
        upsert_latest_state,
    )

    t = dt.datetime(2024, 1, 1, 8, 0)
    schema = "user_id long, ts timestamp, event_id long, value double"
    b1 = spark.createDataFrame(
        [(1, t, 10, 1.0), (2, t, 11, 2.0)], schema
    )
    b2 = spark.createDataFrame(
        [(1, t + dt.timedelta(minutes=5), 12, 9.0),   # newer → wins
         (2, t - dt.timedelta(minutes=5), 9, 8.0)],   # older → loses
        schema,
    )
    merged = upsert_latest_state(upsert_latest_state(None, b1), b2)
    direct = upsert_latest_state(None, b1.unionByName(b2))
    as_rows = lambda df: sorted(map(tuple, df.collect()))
    assert as_rows(merged) == as_rows(direct)
    got = {r.user_id: (r.event_id, r.value) for r in merged.collect()}
    assert got[1] == (12, 9.0)
    assert got[2] == (11, 2.0)


def test_upsert_result_survives_state_dir_eviction(spark, events_dir, monkeypatch, tmp_path):
    """The upsert state lives in a TemporaryDirectory: once the call
    returns, the base directory is gone, and the returned result (an
    eager localCheckpoint) still reads on its first action."""
    from big_data_analysis_of_airline_data_set_spark.streaming import jobs as sj

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = sj.run_upsert_sink_stream_available_now(
        spark, events_dir, query_name="evict_check", max_files_per_trigger=None
    )
    assert os.listdir(tmp_path) == []
    n_users = spark.read.parquet(events_dir).select("user_id").distinct().count()
    assert out.count() == n_users


def test_hdr_stream_incremental_batches_equal_batch_sketch(spark, sf_dir):
    """Drain the HDR quantile sketch one file per micro-batch: the
    incrementally maintained (group, code) count state must still
    equal the batch-computed sketch cell for cell — the additive-merge
    membership card of the rank sketch."""
    from big_data_analysis_of_airline_data_set_spark.plans.events_queries import (
        _landed_events_dir,
    )
    from big_data_analysis_of_airline_data_set_spark.sketches.quantile import (
        hdr_bucket_counts,
    )

    def sketch(events):
        return hdr_bucket_counts(
            events.select("event_type", "value"),
            group_col="event_type",
            value_col="value",
        )

    landed = _landed_events_dir(spark, sf_dir)
    streamed = drain(
        # one file per micro-batch: several micro-batches
        sketch(events_stream_reader(spark, landed, max_files_per_trigger=1)),
        landed,
        query_name="hdr_stream_incr_test",
        output_mode="complete",
    )
    batch = sketch(read_testdata_table(spark, sf_dir, "events"))
    s = {(r.group, r.code): r.cnt for r in streamed.collect()}
    b = {(r.group, r.code): r.cnt for r in batch.collect()}
    assert s == b and len(s) > 0
