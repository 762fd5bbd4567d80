"""Structured Streaming jobs over the events table.

``readStream`` file source with the pinned events schema → the SAME
window transforms as batch (streaming.windows) → memory/parquet sink.
``trigger(availableNow=True)`` drains all available input then stops —
the deterministic way to exercise a real streaming query in tests and
the idiomatic backfill pattern on a cluster.

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

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..sources.local import local_rows
from .windows import tumbling_counts

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
# _run_to_memory drain; read by tests/scale_stress.py's streaming
# growth rung. Never read by any query path.
LAST_PROGRESS: dict[str, list[dict]] = {}

# Drain sink selector (round-12 verdict item 3). "memory" is the
# catalog/oracle contract: the drained output is collected into a
# driver memory table so the DuckDB oracle can read the full result —
# correct for correctness, but at the ×100 rung the driver-side
# collection is the measured staller, so timing it benches the
# HARNESS, not the operator. bench.py flips this to "noop" so the
# streaming suites time the real drain (source → state store → sink)
# with output rows written-and-discarded JVM-side; the downstream
# ``spark.table(query_name)`` contract is preserved via an
# empty-but-correctly-typed temp view (bench timings never read the
# output values). Correctness paths (driver t2, pytest) never touch
# this flag and always drain to memory.
DRAIN_SINK = "memory"

# Per-drain checkpoints live in the system temp dir. /dev/shm measured
# neutral (the page cache absorbs the per-batch WAL and state-store
# delta writes) and the RocksDB state store +12% at dimension-sized
# state (OPTIMIZATION_r13.md §5): the remaining drain wall is
# per-micro-batch scheduling, which is the file-granular semantic.


def _run_to_memory(
    result: DataFrame,
    *,
    query_name: str,
    output_mode: str,
    shuffle_partitions: int | None = None,
) -> None:
    """Drain ``result`` to a memory sink with availableNow.

    ``shuffle_partitions`` sizes the STATEFUL shuffle for this query
    (picked up at query start and locked into the checkpoint). Stateful
    streaming cost scales with the number of state-store instances —
    every micro-batch commits one store per partition per stateful
    operator — so partitions must be sized to STATE volume, not the
    session's batch-shuffle default (measured: the sf0.1 stream-stream
    join drains 4x faster at 8 partitions than at 32, identical
    results). None inherits the session setting.
    """
    spark = result.sparkSession
    saved = None
    # recentProgress retains only the last numRecentProgressUpdates
    # (default ~100) progress events, so a many-micro-batch drain would
    # silently under-report the state-store peak that the growth rungs
    # derive from LAST_PROGRESS (round-12 advice).  Raise the retention
    # far beyond any drain we run; restored after the drain.
    saved_prog = spark.conf.get(
        "spark.sql.streaming.numRecentProgressUpdates", "100"
    )
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    if shuffle_partitions is not None:
        saved = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        checkpoint = tempfile.mkdtemp(prefix=f"ckpt-{query_name}-")
        if DRAIN_SINK == "noop":
            q = (
                result.writeStream.format("noop")
                .outputMode(output_mode)
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            local_rows(spark, [], result.schema).createOrReplaceTempView(
                query_name
            )
        else:
            q = (
                result.writeStream.format("memory")
                .queryName(query_name)
                .outputMode(output_mode)
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        try:
            LAST_PROGRESS[query_name] = list(q.recentProgress)
        except Exception:  # noqa: BLE001 — observability must never fail a drain
            LAST_PROGRESS[query_name] = []
    finally:
        spark.conf.set(
            "spark.sql.streaming.numRecentProgressUpdates", saved_prog
        )
        if saved is not None:
            spark.conf.set("spark.sql.shuffle.partitions", saved)


def run_tumbling_stream_available_now(
    spark: SparkSession,
    events_dir: str,
    *,
    watermark: str = "30 minutes",
    width: str = "1 hour",
    query_name: str = "events_tumbling_stream",
    max_files_per_trigger: int | None = 1,
    stream_shuffle_partitions: int | None = None,
) -> DataFrame:
    """Watermarked tumbling-window counts, drained with availableNow.
    Returns the complete result (update mode drained to memory)."""
    stream = events_stream_reader(
        spark, events_dir, max_files_per_trigger=max_files_per_trigger
    ).withWatermark("ts", watermark)
    result = tumbling_counts(stream, width=width)
    _run_to_memory(
        result,
        query_name=query_name,
        output_mode="complete",
        shuffle_partitions=stream_shuffle_partitions,
    )
    return spark.table(query_name)


def run_sliding_stream_available_now(
    spark: SparkSession,
    events_dir: str,
    *,
    watermark: str = "30 minutes",
    width: str = "1 hour",
    slide: str = "30 minutes",
    query_name: str = "events_sliding_stream",
    max_files_per_trigger: int | None = 1,
    stream_shuffle_partitions: int | None = None,
) -> DataFrame:
    """Watermarked sliding-window counts drained with availableNow —
    the same batch transform (streaming.windows.sliding_counts) under
    the streaming runtime; complete mode ⇒ result equals the batch
    plan, so the batch oracle checks the stream execution."""
    from .windows import sliding_counts

    stream = events_stream_reader(
        spark, events_dir, max_files_per_trigger=max_files_per_trigger
    ).withWatermark("ts", watermark)
    result = sliding_counts(stream, width=width, slide=slide)
    _run_to_memory(
        result,
        query_name=query_name,
        output_mode="complete",
        shuffle_partitions=stream_shuffle_partitions,
    )
    return spark.table(query_name)


def run_session_stream_available_now(
    spark: SparkSession,
    events_dir: str,
    *,
    watermark: str = "30 minutes",
    gap: str = "5 minutes",
    query_name: str = "events_session_stream",
    max_files_per_trigger: int | None = 1,
    stream_shuffle_partitions: int | None = None,
) -> DataFrame:
    """Watermarked session-window counts drained with availableNow.
    Session windows are the state-heavy case (windows merge as events
    arrive); the watermark bounds how long an open session can wait for
    a late extension before its state is finalized."""
    from .windows import session_counts

    stream = events_stream_reader(
        spark, events_dir, max_files_per_trigger=max_files_per_trigger
    ).withWatermark("ts", watermark)
    result = session_counts(stream, gap=gap)
    _run_to_memory(
        result,
        query_name=query_name,
        output_mode="complete",
        shuffle_partitions=stream_shuffle_partitions,
    )
    return spark.table(query_name)


def run_interval_join_stream_available_now(
    spark: SparkSession,
    events_dir: str,
    *,
    watermark: str = "30 minutes",
    lookback: str = "10 MINUTES",
    query_name: str = "events_interval_join_stream",
    max_files_per_trigger: int | None = 1,
    stream_shuffle_partitions: int | None = None,
) -> DataFrame:
    """Watermarked STREAM-STREAM interval join drained with
    availableNow: each purchase pairs with the same user's clicks in
    the preceding ``lookback``. Both sides carry watermarks and the
    join predicate bounds event-time distance, so Spark can expire
    buffered state — the only shape a stream-stream join is allowed to
    run unbounded. Inner join + append mode emits exactly the matched
    pairs: the BATCH interval-join oracle checks the streaming
    runtime's join-state bookkeeping."""
    from pyspark.sql import functions as F

    def side(event_type: str, id_alias: str, ts_alias: str, user_alias: str):
        return (
            events_stream_reader(
                spark, events_dir, max_files_per_trigger=max_files_per_trigger
            )
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(user_alias),
                F.col("event_id").alias(id_alias),
                F.col("ts").alias(ts_alias),
            )
            .withWatermark(ts_alias, watermark)
        )

    p = side("purchase", "purchase_id", "p_ts", "user_id")
    c = side("click", "click_id", "c_ts", "c_user")
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}")),
    ).select("user_id", "purchase_id", "click_id")
    _run_to_memory(
        joined,
        query_name=query_name,
        output_mode="append",
        shuffle_partitions=stream_shuffle_partitions,
    )
    return spark.table(query_name)


def run_dedup_stream_available_now(
    spark: SparkSession,
    events_dir: str,
    *,
    watermark: str = "30 minutes",
    query_name: str = "events_dedup_stream",
    max_files_per_trigger: int | None = 1,
    stream_shuffle_partitions: int | None = None,
) -> DataFrame:
    """Streaming exact dedup on event_id with watermark-bounded state.

    NOTE on replay inputs whose files are NOT time-ordered (e.g. a
    doubled landing where each file spans the full time range): drain
    with ``max_files_per_trigger=None`` — after the first micro-batch
    the watermark sits near the data's end, so any later file's rows
    would be dropped as late rather than deduplicated. Time-ordered
    file feeds (the production shape) can keep file-granular batches.
    """
    stream = events_stream_reader(
        spark, events_dir, max_files_per_trigger=max_files_per_trigger
    ).withWatermark("ts", watermark)
    deduped = stream.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "user_id", "event_type", "value"
    )
    _run_to_memory(
        deduped,
        query_name=query_name,
        output_mode="append",
        shuffle_partitions=stream_shuffle_partitions,
    )
    return spark.table(query_name)


def run_kmv_sketch_stream_available_now(
    spark: SparkSession,
    events_dir: str,
    *,
    k: int = 64,
    query_name: str = "events_kmv_sketch_stream",
    max_files_per_trigger: int | None = 1,
    stream_shuffle_partitions: int | None = None,
) -> DataFrame:
    """Incrementally maintain the KMV distinct sketch (sketches.kmv)
    under the streaming runtime: per (event_type, j) the running MIN of
    the j-th hash of user_id, drained with availableNow.

    This is the sketch's headline property made executable: the
    streaming STATE is the sketch itself — groups × k longs, CONSTANT
    regardless of stream volume — so no watermark is needed and
    complete-mode output is cheap. (An exact streaming distinct-count
    would hold every user id in state.) Estimates are then computed
    over the drained sketch table in batch, the production split:
    the stream maintains the sketch, queries read it."""
    from ..sketches.kmv import kmv_sketch

    stream = events_stream_reader(
        spark, events_dir, max_files_per_trigger=max_files_per_trigger
    )
    sk = kmv_sketch(
        stream.select("event_type", "user_id"),
        group_col="event_type",
        value_col="user_id",
        k=k,
    )
    _run_to_memory(
        sk,
        query_name=query_name,
        output_mode="complete",
        shuffle_partitions=stream_shuffle_partitions,
    )
    return spark.table(query_name)


def run_hll_sketch_stream_available_now(
    spark: SparkSession,
    events_dir: str,
    *,
    p: int = 8,
    query_name: str = "events_hll_sketch_stream",
    max_files_per_trigger: int | None = 1,
    stream_shuffle_partitions: int | None = None,
) -> DataFrame:
    """Incrementally maintain the HLL register sketch (sketches.hll)
    under the streaming runtime: per (event_type, register) the running
    MAX of the hash rank, drained with availableNow — the max-merge
    twin of run_kmv_sketch_stream_available_now's min-maintenance.
    State is groups × ≤2^p small ints, constant for any stream volume
    (no watermark needed, complete-mode output cheap); estimates are
    computed over the drained register table in batch (the production
    split: streams maintain sketches, queries read them). Because the
    register max is ORDER-INSENSITIVE the drained state must equal the
    batch-built sketch exactly — which the catalog oracle's full md5
    replay checks."""
    from ..sketches.hll import hll_registers

    stream = events_stream_reader(
        spark, events_dir, max_files_per_trigger=max_files_per_trigger
    )
    regs = hll_registers(
        stream.select("event_type", "user_id"),
        group_col="event_type",
        value_col="user_id",
        p=p,
    )
    _run_to_memory(
        regs,
        query_name=query_name,
        output_mode="complete",
        shuffle_partitions=stream_shuffle_partitions,
    )
    return spark.table(query_name)


def run_cms_sketch_stream_available_now(
    spark: SparkSession,
    events_dir: str,
    *,
    term_expr: str = "CAST(user_id AS STRING)",
    depth: int = 4,
    width: int = 1024,
    query_name: str = "events_cms_sketch_stream",
    max_files_per_trigger: int | None = 1,
    stream_shuffle_partitions: int | None = None,
) -> DataFrame:
    """Incrementally maintain the Count-Min frequency sketch
    (sketches.countmin) under the streaming runtime: per (j, bucket)
    the running COUNT of occurrences routed there, drained with
    availableNow — the sum-merge member of the streamed sketch trio
    (KMV = min, HLL = max, CMS = sum; all three keep CONSTANT state
    regardless of stream volume, which is the whole reason sketches
    stream where exact counts cannot). Estimates are computed over the
    drained cell table in batch via the shared
    ``heavy_hitters_report`` assembly. Counts are order-insensitive,
    so the drained state must equal the batch-built sketch cell for
    cell — which the catalog oracle's full md5 replay checks."""
    from ..sketches.countmin import count_min_sketch_table

    stream = events_stream_reader(
        spark, events_dir, max_files_per_trigger=max_files_per_trigger
    )
    cells = count_min_sketch_table(
        stream.selectExpr(f"{term_expr} AS term"),
        term_col="term",
        depth=depth,
        width=width,
    )
    _run_to_memory(
        cells,
        query_name=query_name,
        output_mode="complete",
        shuffle_partitions=stream_shuffle_partitions,
    )
    return spark.table(query_name)


def run_hdr_sketch_stream_available_now(
    spark: SparkSession,
    events_dir: str,
    *,
    group_col: str = "event_type",
    value_col: str = "value",
    sub_bits: int = 5,
    query_name: str = "events_hdr_sketch_stream",
    max_files_per_trigger: int | None = 1,
    stream_shuffle_partitions: int | None = None,
) -> DataFrame:
    """Incrementally maintain the HDR quantile sketch
    (sketches.quantile) under the streaming runtime: per
    (group, bucket code) the running COUNT of values routed there,
    drained with availableNow — the RANK member of the streamed sketch
    family (KMV = min, HLL = max, CMS/HDR = sum; all keep CONSTANT
    state regardless of stream volume). Quantile estimates, the merged
    'ALL' row, and the true-rank reference are computed over the
    drained bucket table in batch via the shared
    ``hdr_quantile_report`` assembly (the production split: streams
    maintain sketches, queries read them). Bucket counts are
    order-insensitive, so the drained state must equal the batch-built
    sketch cell for cell — which the catalog oracle's full integer
    replay checks."""
    from ..sketches.quantile import hdr_bucket_counts

    stream = events_stream_reader(
        spark, events_dir, max_files_per_trigger=max_files_per_trigger
    )
    sk = hdr_bucket_counts(
        stream.select(group_col, value_col),
        group_col=group_col,
        value_col=value_col,
        sub_bits=sub_bits,
    )
    _run_to_memory(
        sk,
        query_name=query_name,
        output_mode="complete",
        shuffle_partitions=stream_shuffle_partitions,
    )
    return spark.table(query_name)


def run_enrich_stream_available_now(
    spark: SparkSession,
    events_dir: str,
    dim: DataFrame,
    *,
    watermark: str = "30 minutes",
    width: str = "1 hour",
    query_name: str = "events_enrich_stream",
    max_files_per_trigger: int | None = 1,
    stream_shuffle_partitions: int | None = None,
) -> DataFrame:
    """Stream-STATIC enrichment join under the real streaming runtime
    (streaming.windows.enriched_segment_counts drained availableNow,
    complete mode). The join itself is stateless — per micro-batch the
    static dim is broadcast-hash-joined map-side; only the downstream
    window aggregate commits state — which is why this is the shape for
    dimension enrichment at stream time, while stream-STREAM joins
    (run_interval_join_stream_available_now) pay watermark-deep state
    on both sides."""
    from .windows import enriched_segment_counts

    stream = events_stream_reader(
        spark, events_dir, max_files_per_trigger=max_files_per_trigger
    ).withWatermark("ts", watermark)
    result = enriched_segment_counts(stream, dim, width=width)
    _run_to_memory(
        result,
        query_name=query_name,
        output_mode="complete",
        shuffle_partitions=stream_shuffle_partitions,
    )
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


_UPSERT_DIRS: list[str] = []
_UPSERT_DIRS_MAX = 8
_UPSERT_CLEANUP_REGISTERED = False


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

    Temp-dir hygiene (review finding, hardened after a second review):
    the state base dirs are a bounded registry cleaned at interpreter
    exit, with the OLDEST bases removed once the registry exceeds its
    cap. The returned frame is an EAGER localCheckpoint of the final
    state — materialized into Spark block storage, so it no longer
    reads the parquet dir lazily and a later call evicting that dir
    cannot give an earlier caller a file-not-found (the pre-hardening
    failure mode: >8 calls in one process invalidated the oldest
    unread result). Checkpoint blocks are freed by the ContextCleaner
    when the frame is dropped; the stream checkpoint dir, never read
    again after awaitTermination, is removed immediately."""
    import shutil

    global _UPSERT_CLEANUP_REGISTERED
    import atexit

    if not _UPSERT_CLEANUP_REGISTERED:
        def _cleanup() -> None:
            while _UPSERT_DIRS:
                shutil.rmtree(_UPSERT_DIRS.pop(), ignore_errors=True)

        atexit.register(_cleanup)
        _UPSERT_CLEANUP_REGISTERED = True
    while len(_UPSERT_DIRS) >= _UPSERT_DIRS_MAX:
        shutil.rmtree(_UPSERT_DIRS.pop(0), ignore_errors=True)
    base = tempfile.mkdtemp(prefix=f"upsert-{query_name}-")
    _UPSERT_DIRS.append(base)
    state: dict[str, str | None] = {"dir": None}

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

    stream = events_stream_reader(
        spark, events_dir, max_files_per_trigger=max_files_per_trigger
    )
    checkpoint = tempfile.mkdtemp(prefix=f"ckpt-{query_name}-")
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(checkpoint, ignore_errors=True)
    if state["dir"] is None:  # empty source → empty state, right schema
        return local_rows(
            spark, [], "user_id long, ts timestamp, event_id long, value double"
        )
    # eager: the result must survive this base dir's later eviction
    return spark.read.parquet(state["dir"]).localCheckpoint(eager=True)
