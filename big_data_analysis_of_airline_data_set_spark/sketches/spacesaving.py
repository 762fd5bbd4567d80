"""SpaceSaving / Misra-Gries streamed top-k heavy hitters — the
deletion-free bounded-state member that completes the streamed sketch
family (KMV min-merge / HLL max-merge / CMS sum-merge / HDR bucket-sum;
this one is the COUNTER-SET merge of Agarwal et al., "Mergeable
Summaries", PODS 2012).

No reference analogue (mosama1994's repo has no streaming at all);
green-field §2.9 surface.

State per group is m (key, weight) counters plus two longs — CONSTANT
for any stream volume, unlike an exact streamed groupBy whose state
grows with the key space. Each micro-batch folds in via the mergeable
MG step:

1. batch rows reduce to EXACT per-key counts (a pandas value_counts —
   order-independent, so the only order the operator ever sees is the
   batch partitioning itself);
2. counts add into the summary (exact adds for tracked keys, inserts
   for new ones);
3. if more than m keys are tracked, let d be the (m+1)-th largest
   weight: subtract d from every counter and drop the non-positive
   ones (at most m survive — the weighted Misra-Gries decrement).

Every decrement round removes at least (m+1)*d mass, so the cumulative
decrement D = sum(d) obeys D <= n/(m+1) — and for every key with true
count c, the tracked weight w satisfies w <= c <= w + D, with absent
keys bounded by c <= D. Those three theorems hold for ANY arrival
order and ANY batch partitioning, which is exactly what makes the
operator drivable by a value-hash oracle: the tracked SET and the
weights vary run to run (micro-batch boundaries are not replayable in
SQL), but the theorem booleans and the exact counts they are checked
against are deterministic. The catalog entry therefore emits
invariant verdicts joined against exact SQL counts — the same
evidentiary pattern as the ml_*_banded entries — rather than the
run-dependent counters themselves.

The m counters ARE exposed for library use (top-k with lower/upper
bounds) via ``spacesaving_stream``; callers needing run-stable output
should report {key: weight > D} (guaranteed heavy hitters) rather
than the raw counter order.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# Engine-neutral item derivation shared by the stream, the batch exact
# counts, and the DuckDB oracle: the bit-length bucket of the event's
# integer |value| (LENGTH(BIN(x)) is exact in both engines — float
# log2 misrounds at power-of-two boundaries), clamped to 1..15. The
# value distribution makes the bucket counts skewed, so guaranteed
# heavy hitters exist at every scale factor.
ITEM_SQL = (
    "least(15, length(bin(greatest(1, "
    "CAST(floor(abs(coalesce(value, 0.0))) AS BIGINT)))))"
)

OUTPUT_SCHEMA = (
    "event_type string, n_seen long, d_total long, "
    "keys array<long>, weights array<long>"
)
STATE_SCHEMA = (
    "keys array<long>, weights array<long>, n long, d_total long"
)


def mg_merge(
    summary: dict[int, int], batch_counts: dict[int, int], m: int
) -> tuple[dict[int, int], int]:
    """One weighted Misra-Gries fold: add exact ``batch_counts`` into
    ``summary`` and decrement back down to at most ``m`` counters.
    Returns (new summary, d) where d is this round's decrement (0 when
    no eviction was needed). Deterministic given its inputs: the
    (m+1)-th largest weight is chosen under (weight desc, key asc)
    total order, and ties with it are dropped by the subtraction."""
    if m < 1:
        raise ValueError("m must be >= 1")
    merged = dict(summary)
    for key, c in batch_counts.items():
        if c < 0:
            raise ValueError("SpaceSaving is deletion-free: negative count")
        merged[key] = merged.get(key, 0) + c
    if len(merged) <= m:
        return merged, 0
    ordered = sorted(merged.items(), key=lambda kv: (-kv[1], kv[0]))
    d = ordered[m][1]
    return {k: w - d for k, w in ordered[:m] if w - d > 0}, d


def _update_spacesaving(m: int):
    """Stateful-UDF factory: fold each micro-batch's exact item counts
    into the group's m-counter summary."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            keys, weights, n, d_total = state.get
            # state round-trip values arrive as numpy scalars; normalize
            # to Python ints so dict keys and the update tuple stay
            # engine-plain types
            summary = {int(k): int(w) for k, w in zip(keys, weights)}
            n, d_total = int(n), int(d_total)
        else:
            summary, n, d_total = {}, 0, 0
        batch: dict[int, int] = {}
        for pdf in pdfs:
            n += len(pdf)
            for item, c in pdf["item"].value_counts().items():
                batch[int(item)] = batch.get(int(item), 0) + int(c)
        summary, d = mg_merge(summary, batch, m)
        d_total += int(d)
        out_keys = sorted(summary)
        state.update(
            (
                [int(k) for k in out_keys],
                [int(summary[k]) for k in out_keys],
                int(n),
                int(d_total),
            )
        )
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_seen": [n],
                "d_total": [d_total],
                "keys": [out_keys],
                "weights": [[summary[k] for k in out_keys]],
            }
        )

    return update


def spacesaving_stream(
    spark: SparkSession,
    events_dir: str,
    *,
    m: int = 4,
    query_name: str = "events_spacesaving",
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Drain the landed events dir through the per-event-type
    SpaceSaving operator; returns the FINAL summary per event_type
    (event_type, n_seen, d_total, keys, weights). ``n_seen`` strictly
    increases per group per update (a group is only invoked on batches
    containing its rows), so the final row is the max-n_seen one."""
    from ..streaming.jobs import drain, events_stream_reader

    stream = (
        events_stream_reader(
            spark, events_dir, max_files_per_trigger=max_files_per_trigger
        )
        .filter(F.col("event_type").isNotNull())
        .select("event_type", F.expr(ITEM_SQL).alias("item"))
    )
    updated = stream.groupBy("event_type").applyInPandasWithState(
        _update_spacesaving(m),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    snap = drain(updated, events_dir, query_name=query_name, output_mode="update")
    # last update per group = max n_seen (strictly increasing): a
    # struct-max picks the whole final row in one aggregate — a
    # self-join of the memory sink trips on duplicate attribute ids
    return (
        snap.groupBy("event_type")
        .agg(
            F.max(
                F.struct("n_seen", "d_total", "keys", "weights")
            ).alias("_final")
        )
        .select("event_type", "_final.*")
    )


def spacesaving_invariants_report(
    summaries: DataFrame, exact_items: DataFrame, *, m: int
) -> DataFrame:
    """Deterministic verdict table: join the (run-dependent) summaries
    against EXACT per-item counts and evaluate the three Misra-Gries
    theorems per group. Output columns are all order-invariant:

    - n_events: exact group size (must equal the stream's n_seen);
    - n_guaranteed_hh: #items with exact count * (m+1) > n — the
      theorem-guaranteed-tracked set (integer compare, no division);
    - all_hh_tracked: every guaranteed item is in the summary;
    - bounds_valid: every tracked item satisfies w <= c <= w + D;
    - decrement_within_bound: D * (m+1) <= n.

    ``exact_items`` must be (event_type, item, c) exact counts built
    from the SAME item derivation (ITEM_SQL).
    """
    tracked = summaries.select(
        "event_type",
        "n_seen",
        "d_total",
        F.explode(F.arrays_zip("keys", "weights")).alias("kw"),
    ).select(
        "event_type",
        "n_seen",
        "d_total",
        F.col("kw.keys").alias("item"),
        F.col("kw.weights").alias("w"),
    )
    # tracked items always have >= 1 true occurrence (weights only grow
    # from exact adds), so the LEFT join's c is never null; coalesce
    # keeps the invariant expression total anyway
    joined = tracked.join(exact_items, ["event_type", "item"], "left").select(
        "event_type",
        "n_seen",
        "d_total",
        "w",
        F.coalesce(F.col("c"), F.lit(0)).alias("c"),
    )
    per_group_bounds = joined.groupBy("event_type").agg(
        F.min(
            (F.col("w") <= F.col("c"))
            & (F.col("c") <= F.col("w") + F.col("d_total"))
        ).alias("bounds_valid"),
    )
    g_totals = exact_items.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_events")
    )
    hh = (
        exact_items.join(g_totals, "event_type")
        .filter(F.col("c") * (m + 1) > F.col("n_events"))
        .select("event_type", "item")
    )
    hh_counts = hh.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_guaranteed_hh")
    )
    missed = (
        hh.join(
            tracked.select("event_type", "item").distinct(),
            ["event_type", "item"],
            "left_anti",
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_missed"))
    )
    per_group_state = summaries.select("event_type", "n_seen", "d_total")
    return (
        g_totals.join(per_group_state, "event_type")
        .join(per_group_bounds, "event_type")
        .join(hh_counts, "event_type", "left")
        .join(missed, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            F.coalesce(F.col("n_guaranteed_hh"), F.lit(0))
            .cast("long")
            .alias("n_guaranteed_hh"),
            (F.coalesce(F.col("n_missed"), F.lit(0)) == 0).alias(
                "all_hh_tracked"
            ),
            "bounds_valid",
            (F.col("d_total") * (m + 1) <= F.col("n_seen")).alias(
                "decrement_within_bound"
            ),
        )
    )
