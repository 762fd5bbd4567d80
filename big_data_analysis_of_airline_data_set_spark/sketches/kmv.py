"""K-minimum-values distinct sketch (k independent minima variant).

The mergeable distinct-count sketch for a 100 TB corpus: per group keep
the MINIMUM of k independent 56-bit hashes of each value. Uniform
hashes of D distinct values have E[min] ≈ 2⁵⁶/(D+1), so

    D̂ = (k · 2⁵⁶) div Σⱼ minⱼ − 1

(the average-of-minima estimator from the Flajolet-Martin / Cohen size-
estimation family). Properties that matter at scale:

- The sketch build is ONE groupBy with k ``min`` aggregates — partial
  (map-side) aggregation collapses every partition to one k-vector per
  group, so the shuffle is k·groups values regardless of data size.
  No window sort, no collected sets, no per-group state beyond k longs.
- Sketches MERGE by elementwise min — union cardinality across groups
  (or across days/partitions) without touching the raw data again.
  That is the op HLL shares but exact distinct cannot have.
- Hash families are the md5 Kirsch-Mitzenmacher construction also
  used by sketches.countmin (h_j = h1 + j·h2 MOD 2⁵⁶, 2 md5s per
  value for any k), so a SQL oracle replays every minimum and
  therefore every estimate EXACTLY — no within-bound contract needed,
  unlike HLL whose register layout is engine-private. The MOD is
  load-bearing for estimator quality: j·h2 wraps the space many
  times, so the affine map is NOT order-preserving and no single
  small-hash value can dominate every family's minimum — unlike
  banded MinHash, where the wrap-free order-preserving KM family
  collapsed band selectivity and round 8 moved dedup.minhash to fully
  independent per-family draws (don't port that fix here: measured
  rel. error at k=64 on sf0.1 is 1–5.5 %, better than the 1/√k ≈ 12 %
  theory bound).

Estimator arithmetic is integer end to end: k·2⁵⁶ < 2⁶³ for k ≤ 127,
and Σ of k minima < k·2⁵⁶ likewise — both engines floor-divide
identically (DuckDB via HUGEINT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .countmin import _h56  # one md5-prefix hash construction per package

_HASH_BITS = 56
_HASH_SPACE = 1 << _HASH_BITS


def kmv_sketch(
    df: DataFrame,
    *,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """(group, j, min_h): the k-minima sketch per group — one groupBy,
    constant-size shuffle. Kept in long form (k rows per group) so
    merging is a further groupBy-min over the same shape.

    Shape note (round-11 measured NEGATIVE result): folding the
    explode-by-k into k ``min`` aggregate COLUMNS over one (h1, h2)
    pair per row looks like the r10 expression-shape class, but is a
    measured 3× PESSIMIZATION (2.4 s → 7.3 s median at sf0.1, k=64;
    BASELINE.md round 11). Two reasons: (a) the expensive md5s were
    NEVER multiplied — they sit in the projection below the explode,
    evaluated once per input row; the explode multiplies only cheap
    (group, long, long) rows through a 2-buffer codegen hash-agg; and
    (b) a 64-function HashAggregate falls out of whole-stage codegen
    entirely (no codegen ids in the formatted plan), trading the cheap
    row fan-out for interpreted per-row evaluation of 64 expressions.
    The explode form below is the fast one; the plan-shape guard in
    tests/test_sketches.py pins md5-once-per-row, which both shapes
    satisfy.

    Batch inputs are deduplicated on (group, value) BEFORE the 2 md5s
    and the ×k explode (round-13, guide §2.3 — reduce data before
    expensive work): per-group MIN is duplicate-insensitive, so the
    sketch is bit-identical while the hash + fan-out cost is paid once
    per DISTINCT pair instead of once per row (−23% / −47% on the two
    batch catalog queries, OPTIMIZATION_r13.md §2). The distinct is
    itself a partial-aggregable hash agg (map-side dedup), so the added
    exchange carries only distinct pairs. STREAMING inputs skip it: an
    unwatermarked streaming distinct would hold every pair in state —
    the running min per (group, j) IS the streaming dedup."""
    if not 1 <= k <= 127:
        raise ValueError("k must be in [1, 127] to keep k*2^56 inside int64")
    base = df.select(F.col(group_col).alias("group"), F.col(value_col).alias("_v"))
    if not df.isStreaming:
        base = base.distinct()
    h1 = _h56("ka_", F.col("_v").cast("string"))
    h2 = _h56("kb_", F.col("_v").cast("string"))
    js = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j")
    return (
        base.select("group", h1.alias("_h1"), h2.alias("_h2"))
        .select("group", "_h1", "_h2", js)
        .select(
            "group",
            "j",
            ((F.col("_h1") + F.col("j") * F.col("_h2")) % _HASH_SPACE).alias("h"),
        )
        .groupBy("group", "j")
        .agg(F.min("h").alias("min_h"))
    )


def kmv_estimate(sketch: DataFrame) -> DataFrame:
    """(group, k_minima, distinct_estimate) from a long-form sketch."""
    return sketch.groupBy("group").agg(
        F.count(F.lit(1)).cast("long").alias("k_minima"),
        F.expr(
            f"CAST((count(1) * {_HASH_SPACE}) div sum(min_h) - 1 AS BIGINT)"
        ).alias("distinct_estimate"),
    )


def kmv_report(
    sketch: DataFrame,
    raw: DataFrame,
    *,
    group_col: str,
    value_col: str,
    with_union: bool = True,
) -> DataFrame:
    """(group, k_minima, distinct_estimate, exact_distinct) from an
    already-built long-form sketch plus the raw table for the exact
    reference counts. ONE assembly for however the sketch was
    maintained — the batch catalog query builds it in the same plan,
    the streaming one reads it from a drained memory sink; keeping the
    merge/estimate/exact join here means the estimator (including its
    −1 correction) cannot diverge between the two paths."""
    sketches = sketch
    if with_union:
        merged = (
            sketch.groupBy("j")
            .agg(F.min("min_h").alias("min_h"))
            .select(F.lit("ALL").alias("group"), "j", "min_h")
        )
        sketches = sketch.unionByName(merged)
    est = kmv_estimate(sketches)

    exact = raw.groupBy(F.col(group_col).alias("group")).agg(
        F.count_distinct(F.col(value_col)).alias("exact_distinct")
    )
    if with_union:
        exact = exact.unionByName(
            raw.agg(
                F.lit("ALL").alias("group"),
                F.count_distinct(F.col(value_col)).alias("exact_distinct"),
            )
        )
    return est.join(exact, "group").select(
        "group", "k_minima", "distinct_estimate", "exact_distinct"
    )


def kmv_distinct_by_group(
    df: DataFrame,
    *,
    group_col: str,
    value_col: str,
    k: int = 64,
    with_union: bool = True,
) -> DataFrame:
    """(group, k_minima, distinct_estimate, exact_distinct) per group,
    plus an 'ALL' row whose sketch is the elementwise MERGE (min) of the
    per-group sketches — the union-cardinality op raw exact counts
    can't provide without a second full scan. ``exact_distinct`` rides
    along as the accuracy reference (itself a plain distinct-agg)."""
    sk = kmv_sketch(df, group_col=group_col, value_col=value_col, k=k)
    return kmv_report(
        sk, df, group_col=group_col, value_col=value_col, with_union=with_union
    )
