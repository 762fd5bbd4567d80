"""Streaming state-growth ladder through a NOOP sink (dev tool).

The catalog's streaming drains write to in-driver MEMORY tables so the
DuckDB oracle can read the results — correct for the correctness
harness, but at 100× event volume the driver-side collection is the
binding constraint long before the state store is
(BASELINE.md round-11 "x100 diagnosis CORRECTED"). This tool runs the
two state-heaviest shapes — the watermarked stream-stream interval
join and the session-window aggregation — through Spark's noop
streaming sink instead, so what's measured is scan + stateful operator
+ state-store commits only: the production posture, where sinks are
distributed writers.

Measured ladder (2026-08-16, local[32], 8 stateful shuffle
partitions, availableNow):

  rung   events      join state peak   session state peak   join/session wall
  x1        100k          39,947             99,233          (seconds)
  x10         1M         399,470            992,330          (seconds)
  x100       10M       3,994,700          9,923,300          18.7 s / 34.2 s

State grows EXACTLY ×10 per decade at both operators. The drain now
sizes the stateful shuffle from the rung's row count
(``session.rows_width``), so a rerun no longer holds 8 partitions.

Usage:
    PYTHONPATH=/root/repo python3 tests/streaming_noop_rung.py [x1 x10 x100]

Rung corpora are built on demand by tests/scale_stress.py's
``_events_xn`` (key-shifted replication — see its docstring for why
unshifted replication would square the join matches).
"""

from __future__ import annotations

import os
import sys
import time


def _drain_noop(result, source_dir: str, name: str):
    """availableNow drain to the noop sink; returns (wall_s,
    state_rows_peak, micro_batches)."""
    from big_data_analysis_of_airline_data_set_spark.streaming import jobs

    saved = jobs.DRAIN_SINK
    jobs.DRAIN_SINK = "noop"
    try:
        t0 = time.time()
        jobs.drain(result, source_dir, query_name=name)
        wall = round(time.time() - t0, 2)
    finally:
        jobs.DRAIN_SINK = saved
    prog = jobs.LAST_PROGRESS[name]
    peak = max(
        (op.get("numRowsTotal", 0) for p in prog for op in p.get("stateOperators", [])),
        default=None,
    )
    return wall, peak, len(prog)


def run(spark, rungs: list[str]):
    from pyspark.sql import functions as F

    import scale_stress as ss
    from big_data_analysis_of_airline_data_set_spark.streaming.jobs import (
        events_stream_reader,
    )
    from big_data_analysis_of_airline_data_set_spark.streaming.windows import (
        interval_join_pairs,
    )

    rows = []
    for rung in rungs:
        d = os.path.join(ss.STRESS_DIR, f"events_{rung}")
        ss._events_xn(spark, d, int(rung[1:]))
        events = os.path.join(d, "events.parquet")

        def stream():
            return events_stream_reader(spark, events, max_files_per_trigger=None)

        joined = interval_join_pairs(stream(), stream())
        rows.append((rung, "interval_join", *_drain_noop(joined, events, "noop_join")))
        print("noop_rung", rows[-1], flush=True)

        sess = (
            stream()
            .withWatermark("ts", "30 minutes")
            .groupBy("user_id", F.session_window("ts", "5 minutes"))
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        rows.append((rung, "session_window", *_drain_noop(sess, events, "noop_session")))
        print("noop_rung", rows[-1], flush=True)
    return rows


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from big_data_analysis_of_airline_data_set_spark.session import get_session

    spark = get_session()
    spark.sparkContext.setLogLevel("ERROR")
    run(spark, sys.argv[1:] or ["x1", "x10"])
    spark.stop()


if __name__ == "__main__":
    main()
