"""Structured Streaming over the events table, drained with
``trigger(availableNow=True)``: the query reads all available input and
stops, the deterministic way to exercise a real streaming query in
tests and the idiomatic backfill pattern on a cluster.

``drain`` is the package's one ``writeStream``. A catalog query builds
its stream from ``events_stream_reader`` and the SAME transform the
batch query uses (streaming.windows, the sketches), then hands it to
``drain``; the foreachBatch sinks (landing, document ingest, the upsert
sink) hand it their batch function. The drain owns the checkpoint
directory, the sink, the progress record and the stateful shuffle
width.

Watermarks bound state: ``withWatermark('ts', ...)`` lets Spark drop
window state once the event-time frontier passes, and
``dropDuplicatesWithinWatermark`` dedups event_ids while holding only
watermark-deep state — both are required at 100 TB/day stream volume,
where unbounded state OOMs.

The stream source reads a LANDED events directory (ts already a proper
microsecond timestamp — batch ingestion detects the driver feed's on-disk
encoding and normalizes it at landing, sources.readers._normalize_events),
so batch and stream plans are column-for-column identical.
"""

from __future__ import annotations

import os
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..session import rows_width, session_width
from ..sources.local import local_rows

EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def events_stream_reader(
    spark: SparkSession, events_dir: str, *, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """Streaming scan of a landed events parquet directory.
    ``max_files_per_trigger=1`` keeps micro-batches file-granular (tests
    use it to exercise multi-batch incremental state); ``None`` lets
    availableNow drain in as few batches as possible — the backfill
    shape, where per-micro-batch scheduling overhead (~100 ms each)
    would otherwise dominate a many-partition directory."""
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(events_dir)


# Observability: final + per-batch progress of the last drain per
# query name (state-store rows, batch durations). Written after every
# drain; read by perfbench, tests/scale_stress.py's streaming growth
# rung and tests/streaming_noop_rung.py. Never read by any query path.
LAST_PROGRESS: dict[str, list[dict]] = {}

# Drain sink selector. "memory" is the catalog/oracle contract: the
# drained output is collected into a driver memory table so the DuckDB
# oracle can read the full result — correct for correctness, but at the
# ×100 rung the driver-side collection is the measured staller, so
# timing it benches the HARNESS, not the operator. bench.py and
# perfbench flip this to "noop" so the streaming suites time the real
# drain (source → state store → sink) with output rows
# written-and-discarded JVM-side; the downstream
# ``spark.table(query_name)`` contract is preserved via an
# empty-but-correctly-typed temp view (bench timings never read the
# output values). Correctness paths (driver, pytest) never touch this
# flag and always drain to memory.
DRAIN_SINK = "memory"


def _source_rows(source_dir: str) -> int:
    """Rows held by the parquet files under the directory tree
    ``source_dir``, read from the footers: no Spark job, a few ms for a
    landed events directory. Names starting with ``_`` or ``.``
    (``_SUCCESS``, checksums, ``_spark_metadata``) are not data."""
    import pyarrow.parquet as pq

    rows = 0
    for root, dirs, files in os.walk(source_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        rows += sum(
            pq.read_metadata(os.path.join(root, f)).num_rows
            for f in files
            if not f.startswith(("_", "."))
        )
    return rows


def drain(
    result: DataFrame,
    source_dir: str,
    *,
    query_name: str,
    output_mode: str = "append",
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
) -> DataFrame | None:
    """Run the streaming frame ``result``, read from ``source_dir``, to
    completion with availableNow; return ``spark.table(query_name)``, or
    None when ``foreach_batch`` is the sink.

    The drain owns:

    - the checkpoint: a fresh ``ckpt-<query_name>-*`` directory under
      ``tempfile.gettempdir()``, removed once the query has terminated,
      also when it failed. Nothing reads it after termination: every
      drain starts from offset zero. (/dev/shm measured neutral there,
      and the RocksDB state store +12% at dimension-sized state,
      OPTIMIZATION_r13.md §5.)
    - the sink: ``foreach_batch`` when given, else ``DRAIN_SINK``.
    - the progress record: ``LAST_PROGRESS[query_name]``, every
      micro-batch's progress (retention is raised past the default 100
      for the drain, so a many-batch drain reports its whole state-store
      history).
    - the stateful shuffle width. Every micro-batch commits one state
      store per shuffle partition per stateful operator, so the width
      must follow the state volume, not the session's batch default:
      ``session.rows_width`` of the rows the source holds, the rule the
      graph kit sizes its caches with. At sf0.01 (10k events) that is
      1 partition and at sf0.1 2, where 8 cost 1.1–2.4x the CPU for
      identical results (BASELINE.md). The width is locked into the
      checkpoint at query start; a non-numeric session width is left
      alone.
    """
    spark = result.sparkSession
    scoped = {"spark.sql.streaming.numRecentProgressUpdates": "100000"}
    width = session_width(spark)
    if width > 1:
        scoped["spark.sql.shuffle.partitions"] = str(
            rows_width(width, _source_rows(source_dir))
        )
    saved = {k: spark.conf.get(k) for k in scoped}
    for k, v in scoped.items():
        spark.conf.set(k, v)
    try:
        with tempfile.TemporaryDirectory(
            prefix=f"ckpt-{query_name}-", ignore_cleanup_errors=True
        ) as checkpoint:
            writer = (
                result.writeStream.queryName(query_name)
                .outputMode(output_mode)
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
            )
            if foreach_batch is not None:
                writer = writer.foreachBatch(foreach_batch)
            else:
                writer = writer.format(DRAIN_SINK)
            q = writer.start()
            q.awaitTermination()
            try:
                LAST_PROGRESS[query_name] = list(q.recentProgress)
            except Exception:  # noqa: BLE001 — observability must never fail a drain
                LAST_PROGRESS[query_name] = []
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    if foreach_batch is not None:
        return None
    if DRAIN_SINK == "noop":
        local_rows(spark, [], result.schema).createOrReplaceTempView(query_name)
    return spark.table(query_name)


def upsert_latest_state(existing: DataFrame | None, delta: DataFrame) -> DataFrame:
    """Keyed-upsert reduction shared by the foreachBatch sink and its
    tests: per user_id keep the lexicographically-max (ts, event_id,
    value) struct — 'latest event wins', ties impossible (event_id is
    unique). State and delta reduce with the SAME aggregate, so the
    merge is associative: reduce(state ∪ delta) == reduce(all rows)."""
    from pyspark.sql import functions as F

    rows = delta.select("user_id", "ts", "event_id", "value")
    if existing is not None:
        rows = existing.select("user_id", "ts", "event_id", "value").unionByName(rows)
    return (
        rows.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "value")).alias("_m"))
        .select(
            "user_id",
            F.col("_m.ts").alias("ts"),
            F.col("_m.event_id").alias("event_id"),
            F.col("_m.value").alias("value"),
        )
    )


def run_upsert_sink_stream_available_now(
    spark: SparkSession,
    events_dir: str,
    *,
    query_name: str = "events_upsert_sink_stream",
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Streaming UPSERT sink via foreachBatch: every micro-batch merges
    its rows into a keyed parquet state table (latest event per user),
    the pattern for maintaining a serving table from a stream when the
    sink has no native MERGE. Written generation-swap style — each
    batch writes a NEW state directory and flips the pointer — because
    overwriting a parquet dir while reading it is a corruption class,
    not a performance choice.

    foreachBatch is exactly-once per epoch under availableNow +
    checkpoint: a replayed batch recomputes the same merged state
    (the reduction is idempotent over re-delivered rows).

    Returns the final state read back from parquet. Scale notes: state
    is user-keyed (dimension-sized); at 100 TB stream volume the merge
    join is state-sized per batch, and a real deployment would use a
    MERGE-capable table format instead of the generation swap.

    The state lives in a TemporaryDirectory removed before the call
    returns, so the returned frame is an EAGER localCheckpoint of the
    final state: materialized into Spark block storage, it never reads
    the removed directory. Checkpoint blocks are freed by the
    ContextCleaner when the frame is dropped; the stream checkpoint
    belongs to ``drain``."""
    import shutil

    state: dict[str, str | None] = {"dir": None}
    with tempfile.TemporaryDirectory(
        prefix=f"upsert-{query_name}-", ignore_cleanup_errors=True
    ) as base:

        def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            existing = (
                spark.read.parquet(state["dir"]) if state["dir"] is not None else None
            )
            merged = upsert_latest_state(existing, batch_df)
            new_dir = f"{base}/gen_{batch_id}"
            merged.write.mode("overwrite").parquet(new_dir)
            old = state["dir"]
            state["dir"] = new_dir
            if old is not None:
                shutil.rmtree(old, ignore_errors=True)

        drain(
            events_stream_reader(
                spark, events_dir, max_files_per_trigger=max_files_per_trigger
            ),
            events_dir,
            query_name=query_name,
            foreach_batch=merge_batch,
        )
        if state["dir"] is None:  # empty source → empty state, right schema
            return local_rows(
                spark, [], "user_id long, ts timestamp, event_id long, value double"
            )
        return spark.read.parquet(state["dir"]).localCheckpoint(eager=True)
