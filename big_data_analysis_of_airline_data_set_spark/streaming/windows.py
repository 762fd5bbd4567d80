"""Windowed aggregations over the events table — DataFrame-symmetric:
the SAME functions run in batch (catalog queries, DuckDB-oracled) and
under Structured Streaming (streaming.jobs), which is the whole point
of reusing the batch transform library (SURVEY.md §7.2.8; the reference
itself has no streaming surface, §2.9).

Window starts are emitted as formatted strings so cross-engine
comparisons don't depend on timestamp dtype plumbing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def tumbling_counts(events: DataFrame, *, width: str = "1 hour") -> DataFrame:
    """Per (tumbling window, event_type): count + exact value sum."""
    sum_dec = F.sum(F.col("value").cast("decimal(18,2)"))
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), sum_dec.cast("double").alias("sum_value"))
        .select(
            F.date_format("w.start", _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame, *, width: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Per (sliding window, event_type) count — each event lands in
    width/slide overlapping windows."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def session_counts(events: DataFrame, *, gap: str = "5 minutes") -> DataFrame:
    """Per (user_id, session) event count, sessions split on ts gaps
    >= gap (session_window semantics: an event strictly inside
    [prev, prev+gap) extends the session)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", _TS_FMT).alias("session_start"),
            "n_events",
        )
    )


def json_extract_k(events: DataFrame) -> DataFrame:
    """Scalar JSON extraction from the props column (§2.8 JSON family)."""
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


def enriched_segment_counts(
    events: DataFrame, dim: DataFrame, *, width: str = "1 hour"
) -> DataFrame:
    """Stream-static enrichment join + tumbling rollup: events joined
    (left) to a STATIC dimension keyed ``dim_key`` carrying ``segment``,
    then counted per (window, segment) with unmatched users bucketed as
    'UNKNOWN'. The identical expression works as a batch plan and as a
    streaming plan: a stream-static equi-join is STATELESS in
    Structured Streaming (each micro-batch hash-joins against the
    static side — broadcast here, since the dim is dimension-sized),
    so only the windowed aggregate holds state."""
    joined = events.join(
        F.broadcast(dim), events["user_id"] == dim["dim_key"], "left"
    )
    return (
        joined.groupBy(
            F.window("ts", width).alias("w"),
            F.coalesce(F.col("segment"), F.lit("UNKNOWN")).alias("segment"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", _TS_FMT).alias("window_start"),
            "segment",
            "n_events",
            "sum_value",
        )
    )


def interval_join_pairs(
    purchases: DataFrame,
    clicks: DataFrame,
    *,
    watermark: str = "30 minutes",
    lookback: str = "10 MINUTES",
) -> DataFrame:
    """Each purchase paired with every click by the same user in the
    preceding ``lookback``, as a watermarked STREAM-STREAM join of two
    event streams (one per side: a stream-stream join reads its source
    twice). Both sides carry watermarks and the join predicate bounds
    the event-time distance, so Spark can expire buffered state — the
    only shape a stream-stream join is allowed to run unbounded. An
    inner join in append mode emits exactly the matched pairs, so the
    batch interval join (plans.events_queries.q_interval_join) checks
    the streaming runtime's join-state bookkeeping."""

    def side(events: DataFrame, event_type: str, user: str, eid: str, ts: str):
        return (
            events.filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(user),
                F.col("event_id").alias(eid),
                F.col("ts").alias(ts),
            )
            .withWatermark(ts, watermark)
        )

    p = side(purchases, "purchase", "user_id", "purchase_id", "p_ts")
    c = side(clicks, "click", "c_user", "click_id", "c_ts")
    return p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}")),
    ).select("user_id", "purchase_id", "click_id")
