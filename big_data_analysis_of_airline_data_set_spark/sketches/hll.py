"""Grouped HyperLogLog-style register sketch — mergeable distinct
counting by register maxima, complementing the KMV minima sketch.

Where KMV keeps k independent MINIMA per group, HLL keeps m = 2^p
REGISTERS, each holding the maximum "rank" rho (leading-zero count + 1
of the hash suffix) among values routed to it by the hash prefix. The
Flajolet-Fuss-Gandouet-Meunier estimator over the register vector:

    E = alpha_m * m^2 / sum_j 2^(-M_j)        (harmonic mean of 2^M_j)

with the small-range linear-counting correction E' = m*ln(m/V) when
E <= 2.5m and V (= zero registers) > 0. Why have both sketch families:
HLL state is m SMALL integers (rho <= 57-p fits a byte at 2^56 hash
space — the famous 1.04/sqrt(m) error in m bytes), and its merge is
elementwise MAX, making it the cheaper wire format for
billions-of-groups rollups; KMV's minima support intersection /
Jaccard estimates HLL registers cannot provide. Same 100 TB shape as
KMV/CMS: the build is ONE groupBy collapsing map-side to <= m rows per
group — shuffle constant in data size — and sketches merge across
days/partitions without rescanning raw data.

Engine-neutral determinism (the catalog-oracle discipline):
- hash = the package's md5-prefix 56-bit construction
  (sketches.countmin._h56), replayable in any SQL engine; register =
  top p bits (shiftright), rank from the low 56-p bits;
- rho via LENGTH(BIN(w)) — both Spark and DuckDB print minimal binary
  strings, so bit-length needs no float log2 (which rounds untrustably
  at power-of-two boundaries);
- the harmonic sum is EXACT: each 2^(-M_j) term scaled by 2^(sb+1)
  (sb = 56-p suffix bits; rho ranges over [1, sb+1], so the SMALLEST
  term 2^(sb+1-(sb+1)) is still the integer 1 — scaling by 2^sb would
  make the all-zero-suffix rho = sb+1 term fractional and a negative
  shift, the round-6 review catch) is an integer bit-shift, summed in
  DECIMAL(38,0) (up to m*2^(sb+1) ~ 2^57 overflows nothing but int64
  headroom is the reason for decimal; decimal addition is
  order-independent), so the estimate is one correctly-rounded double
  division of exact inputs;
- ln(m/V) has only m possible arguments, so the linear-counting branch
  reads a Python-precomputed literal table both engines share —
  libm ln differences (JVM StrictMath vs C++ libm) can never leak in.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .countmin import _h56

_HASH_BITS = 56


def _check_p(p: int) -> int:
    if not 4 <= p <= 12:
        raise ValueError("p must be in [4, 12] (m = 2^p registers)")
    return 1 << p


def hll_registers(
    df: DataFrame,
    *,
    group_col: str | None = None,
    value_col: str,
    p: int = 8,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., register, max_rho): the HLL register vector per group
    in long form — one groupBy-max, constant-size shuffle (<= m rows
    per group survive the map-side partial aggregate). Registers no
    value hashed into are ABSENT (they are the zero registers; the
    estimator counts them as m - rows). Merge sketches built on
    different slices with a further groupBy-max over the same shape.

    ``group_col`` (aliased to ``group`` in the output, the
    single-dimension form) and ``group_cols`` (kept under their own
    names — e.g. ``["event_type", "hour_bucket"]`` for time-bucketed
    sketches) are mutually exclusive.

    No dedup before the md5, unlike the KMV twin
    (sketches.kmv.kmv_sketch): register MAX is duplicate-insensitive,
    but the extra exchange measured +22% on sketch_hll_distinct and +7%
    on sketch_hll_set_ops (OPTIMIZATION_r13.md §2, measured negative)."""
    if (group_col is None) == (group_cols is None):
        raise ValueError("pass exactly one of group_col / group_cols")
    m = _check_p(p)
    h = _h56("hl_", F.col("_v").cast("string"))
    suffix_bits = _HASH_BITS - p
    w = F.col("_h").bitwiseAND(F.lit((1 << suffix_bits) - 1))
    # rho = leading zeros of the (56-p)-bit suffix + 1
    #     = suffix_bits - bitlength(w) + 1;  bitlength via BIN string
    #     (minimal-width in both engines), w = 0 -> all-zero suffix
    rho = F.when(w == 0, F.lit(suffix_bits + 1)).otherwise(
        F.lit(suffix_bits + 1) - F.length(F.bin(w))
    )
    if group_col is not None:
        keys = [F.col(group_col).alias("group")]
        key_names = ["group"]
    else:
        keys = [F.col(c) for c in group_cols]
        key_names = list(group_cols)
    return (
        df.select(*keys, F.col(value_col).alias("_v"))
        .select(*key_names, h.alias("_h"))
        .select(
            *key_names,
            F.shiftright(F.col("_h"), suffix_bits).alias("register"),
            rho.cast("int").alias("rho"),
        )
        .groupBy(*key_names, "register")
        .agg(F.max("rho").alias("max_rho"))
    )


def _lc_table(m: int) -> list[float]:
    """Linear-counting estimates m*ln(m/V) for V = 1..m, precomputed in
    Python so both the Spark plan and any SQL oracle read the SAME
    constants (see module docstring on libm ln divergence)."""
    return [m * math.log(m / v) for v in range(1, m + 1)]


def hll_alpha(m: int) -> float:
    """The standard bias-correction constant for m >= 128 registers
    (the closed-form approximation; exact tabulated values for m in
    {16,32,64} are not needed at the supported p >= 4... they differ
    <1% and this module pins ONE formula both engines share)."""
    return 0.7213 / (1 + 1.079 / m)


def hll_estimate(
    registers: DataFrame,
    *,
    p: int = 8,
    round_dp: int = 6,
    group_cols: tuple[str, ...] = ("group",),
) -> DataFrame:
    """(group..., m_registers, zero_registers, hll_estimate) from a
    long-form register sketch. All arithmetic is engine-replayable:
    exact DECIMAL harmonic sum, one double division, literal-table
    linear counting (see module docstring)."""
    m = _check_p(p)
    suffix_bits = _HASH_BITS - p
    # scale the harmonic terms by 2^(sb+1), NOT 2^sb: rho reaches
    # sb+1 on an all-zero suffix, and 2^(sb - (sb+1)) would be a
    # NEGATIVE shift — Long.MIN_VALUE garbage in Spark (Java masks the
    # shift amount) and a hard error in DuckDB. At 2^(sb+1) the
    # smallest term is exactly 1.
    scale = suffix_bits + 1
    numerator = hll_alpha(m) * m * m * float(1 << scale)
    # per-register term 2^(scale - M_j), an exact integer shift;
    # absent registers contribute the M_j = 0 term 2^scale each
    term = F.expr(
        f"CAST(shiftleft(CAST(1 AS BIGINT), CAST({scale} - max_rho AS INT))"
        " AS DECIMAL(38,0))"
    )
    agg = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_n_present"),
        F.sum(term).alias("_s_present"),
    )
    zero = (F.lit(m) - F.col("_n_present")).cast("long")
    raw_sum = F.col("_s_present") + zero.cast("decimal(38,0)") * F.lit(
        1 << scale
    ).cast("decimal(38,0)")
    e_raw = F.lit(numerator) / raw_sum.cast("double")
    lc = F.lit(_lc_table(m))  # one array Literal, not a CreateArray
    est = F.when(
        (e_raw <= 2.5 * m) & (zero > 0), F.element_at(lc, zero.cast("int"))
    ).otherwise(e_raw)
    return agg.select(
        *group_cols,
        F.lit(m).cast("long").alias("m_registers"),
        zero.alias("zero_registers"),
        F.round(est, round_dp).alias("hll_estimate"),
    )


def hll_trailing_merge(
    registers: DataFrame,
    *,
    bucket_col: str,
    group_cols: list[str],
    window_buckets: int,
) -> DataFrame:
    """Sliding-window sketch merge — THE operation registers exist
    for: given per-(group..., bucket) register vectors over integer
    time buckets, produce the merged vector for each trailing window
    of ``window_buckets`` consecutive buckets anchored at every
    OBSERVED bucket (distinct users in the last W hours, per hour).

    Scatter-merge shape: each bucket's registers are exploded to the
    ≤W later anchors they contribute to (shuffle = W × register rows,
    CONSTANT per bucket regardless of event volume — the raw-data
    alternative rescans W hours of events per anchor), semi-joined to
    the observed anchor set so empty hours do not mint phantom
    windows, then max-merged per anchor. The raw table is never
    touched again."""
    if window_buckets < 1:
        raise ValueError("window_buckets must be >= 1")
    scattered = registers.select(
        *group_cols,
        F.explode(
            F.sequence(
                F.col(bucket_col), F.col(bucket_col) + (window_buckets - 1)
            )
        ).alias(bucket_col),
        "register",
        "max_rho",
    )
    anchors = registers.select(*group_cols, bucket_col).distinct()
    return (
        scattered.join(anchors, [*group_cols, bucket_col], "left_semi")
        .groupBy(*group_cols, bucket_col, "register")
        .agg(F.max("max_rho").alias("max_rho"))
    )


def hll_report(
    registers: DataFrame,
    raw: DataFrame,
    *,
    group_col: str,
    value_col: str,
    p: int = 8,
    with_union: bool = True,
) -> DataFrame:
    """(group, m_registers, zero_registers, hll_estimate,
    exact_distinct) from an already-built register sketch plus the raw
    table for the exact reference counts — the kmv_report pattern: ONE
    assembly whether the sketch came from the batch plan or a drained
    streaming state table, so the estimator cannot diverge between the
    two paths. ``with_union`` adds an 'ALL' row whose registers are the
    elementwise MAX merge of the per-group sketches — the union-
    cardinality op that exact distinct counts need a second full scan
    for."""
    sketches = registers
    if with_union:
        merged = (
            registers.groupBy("register")
            .agg(F.max("max_rho").alias("max_rho"))
            .select(F.lit("ALL").alias("group"), "register", "max_rho")
        )
        sketches = registers.unionByName(merged)
    est = hll_estimate(sketches, p=p)

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
        "group", "m_registers", "zero_registers", "hll_estimate", "exact_distinct"
    )


def hll_set_ops(
    df: DataFrame,
    *,
    group_col: str,
    value_col: str,
    p: int = 8,
    round_dp: int = 6,
) -> DataFrame:
    """Sketch set algebra over every unordered pair of groups: union
    cardinality by register max-merge, intersection by
    inclusion-exclusion (|A| + |B| − |A∪B|), and the derived Jaccard —
    the segment-overlap questions (shared users between cohorts,
    order-key overlap between return classes) that exact distinct
    counting answers only with a full re-scan per pair, answered here
    from ONE pass that builds m-register sketches and then merges
    register vectors pair-wise (n_pairs × m small rows of post-shuffle
    work, independent of data size). Exact counts ride along as the
    reference columns, the ``hll_report`` pattern.

    Inclusion-exclusion inherits the additive error of three estimates,
    so the intersection estimate can go NEGATIVE for near-disjoint
    segments — returned as computed (a caller clamping to 0 loses the
    error signal); ``est_jaccard`` divides the same numerator by the
    union estimate. All arithmetic over the ROUNDED per-set estimates
    in a fixed expression order, so any SQL engine replays it
    bit-for-bit.

    Pair-wise register duplication is O(n_groups² · m) rows — segment
    algebras are over handfuls of cohorts, not millions; for
    million-group overlap matrices, band the pair space first (the
    dedup/minhash LSH shape)."""
    m = _check_p(p)
    # the register build scans the fact table; three downstream
    # consumers (per-group estimate + both sides of the pair merge)
    # would each rescan it — a lazy localCheckpoint computes it once
    # (the double-referenced-frame discipline, see memory of r5/r6)
    regs = hll_registers(
        df, group_col=group_col, value_col=value_col, p=p
    ).localCheckpoint(eager=False)
    per = hll_estimate(regs, p=p, round_dp=round_dp)

    groups = regs.select("group").distinct()
    pairs = (
        groups.select(F.col("group").alias("group_a"))
        .join(
            groups.select(F.col("group").alias("group_b")),
            F.col("group_a") < F.col("group_b"),
        )
    )
    ra = pairs.join(
        regs.withColumnRenamed("group", "group_a"), "group_a"
    ).select("group_a", "group_b", "register", "max_rho")
    rb = pairs.join(
        regs.withColumnRenamed("group", "group_b"), "group_b"
    ).select("group_a", "group_b", "register", "max_rho")
    union_regs = (
        ra.union(rb)
        .groupBy("group_a", "group_b", "register")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    u_est = hll_estimate(
        union_regs, p=p, round_dp=round_dp, group_cols=("group_a", "group_b")
    )

    # exact reference: distinct (group, value) pairs feed the per-group
    # counts AND both sides of the intersection self-join
    dv = (
        df.select(
            F.col(group_col).alias("group"), F.col(value_col).alias("val")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    exact_per = dv.groupBy("group").agg(
        F.count(F.lit(1)).cast("long").alias("exact")
    )
    inter = (
        dv.select(F.col("group").alias("group_a"), "val")
        .join(
            dv.select(F.col("group").alias("group_b"), "val"),
            "val",
        )
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_intersection"))
    )

    est_inter = F.col("est_a") + F.col("est_b") - F.col("est_union")
    return (
        pairs.join(
            per.select(
                F.col("group").alias("group_a"),
                F.col("hll_estimate").alias("est_a"),
            ),
            "group_a",
        )
        .join(
            per.select(
                F.col("group").alias("group_b"),
                F.col("hll_estimate").alias("est_b"),
            ),
            "group_b",
        )
        .join(
            u_est.select(
                "group_a", "group_b", F.col("hll_estimate").alias("est_union")
            ),
            ["group_a", "group_b"],
        )
        .join(
            exact_per.select(
                F.col("group").alias("group_a"),
                F.col("exact").alias("exact_a"),
            ),
            "group_a",
        )
        .join(
            exact_per.select(
                F.col("group").alias("group_b"),
                F.col("exact").alias("exact_b"),
            ),
            "group_b",
        )
        .join(inter, ["group_a", "group_b"], "left")
        .select(
            "group_a",
            "group_b",
            F.lit(m).cast("long").alias("m_registers"),
            "est_a",
            "est_b",
            "est_union",
            F.round(est_inter, round_dp).alias("est_intersection"),
            F.round(est_inter / F.col("est_union"), round_dp).alias(
                "est_jaccard"
            ),
            "exact_a",
            "exact_b",
            F.coalesce(
                F.col("exact_intersection"), F.lit(0).cast("long")
            ).alias("exact_intersection"),
            (
                F.col("exact_a")
                + F.col("exact_b")
                - F.coalesce(F.col("exact_intersection"), F.lit(0).cast("long"))
            ).alias("exact_union"),
        )
    )


def hll_distinct_by_group(
    df: DataFrame,
    *,
    group_col: str,
    value_col: str,
    p: int = 8,
    with_union: bool = True,
) -> DataFrame:
    """Build + estimate in one call (batch convenience twin of the
    streamed register maintenance in streaming.jobs)."""
    regs = hll_registers(df, group_col=group_col, value_col=value_col, p=p)
    return hll_report(
        regs, df, group_col=group_col, value_col=value_col, p=p,
        with_union=with_union,
    )
