"""Custom stateful streaming operator via applyInPandasWithState:
per-user running aggregates (event count, value sum, last-seen ts)
maintained across micro-batches.

This is the escape hatch for operators Spark's built-in windowed aggs
can't express (per-key custom state machines). State is per user_id;
GroupStateTimeout is disabled here (the drain is availableNow), but a
production stream would set an event-time timeout to bound state, like
the watermarked windows in streaming.jobs. The drain (streaming.jobs)
sizes the state's shuffle from the rows the events directory holds.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, n_events long, sum_value double"
STATE_SCHEMA = "n long, c long"


def _update_user_state(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    # State accumulates integer CENTS, not floats: micro-batch arrival
    # order varies between runs/engines, and float addition is
    # order-sensitive — int64 accumulation makes the final total exact
    # and batch-order-independent (the same decimal(18,2) discipline the
    # batch aggregations use).
    n, c = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        c += int(pdf["value"].mul(100).round().astype("int64").sum())
    state.update((n, c))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [c / 100.0]}
    )


def running_user_totals_stream(
    spark: SparkSession,
    events_dir: str,
    *,
    query_name: str = "user_totals",
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Drain the events dir through the stateful operator; returns the
    final per-user totals (last update per user wins)."""
    from pyspark.sql import functions as F

    from .jobs import drain, events_stream_reader

    stream = events_stream_reader(
        spark, events_dir, max_files_per_trigger=max_files_per_trigger
    )
    updated = stream.groupBy("user_id").applyInPandasWithState(
        _update_user_state,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # memory sink holds one row per update; the last per user is final
    snap = drain(updated, events_dir, query_name=query_name, output_mode="update")
    return snap.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("sum_value").alias("sum_value"),
    )
