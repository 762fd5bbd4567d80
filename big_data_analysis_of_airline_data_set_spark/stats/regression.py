"""Closed-form distributional statistics: per-group OLS, two-sample KS.

The analytic companion to correlation (stats/correlation.py): for each
group, fit y = a + b·x by least squares using only ALGEBRAIC moment
sums (n, Σx, Σy, Σxy, Σx², Σy²) — one map-side-combined aggregation,
no iteration, no driver data. This is how per-segment trend lines are
fit over 100 TB: the shuffle carries six numbers per group.

Engine-exact by construction (the repo's decimal-moment discipline):
inputs with bounded decimal scale accumulate in DECIMAL(38,s) — exact,
order-independent — and only the FINAL closed-form arithmetic runs in
doubles, where both engines execute the identical correctly-rounded
IEEE expression tree. Spark's/DuckDB's own ``regr_slope`` et al.
accumulate floating covariances whose partial-aggregation order differs
per engine/partitioning — fine for analysis, wrong for a value-hash
oracle, which is why this module does not use them.

    b  = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    a  = (Σy − b·Σx) / n
    r² = (n·Σxy − Σx·Σy)² / ((n·Σx² − (Σx)²)·(n·Σy² − (Σy)²))

Degenerate groups (constant x → zero denominator) yield NULL slope —
stated, and replayed identically by the oracle via NULLIF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_sum(c: Column, scale: int) -> Column:
    """Σc accumulated exactly in DECIMAL(38, scale), as a DOUBLE."""
    return F.sum(c.cast(f"decimal(38,{scale})")).cast("double")


def group_ols(
    df: DataFrame,
    *,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    x_scale: int = 2,
    y_scale: int = 2,
    round_dp: int = 6,
) -> DataFrame:
    """(group…, n, slope, intercept, r2) per group, round(round_dp).

    ``x_scale``/``y_scale``: decimal scale of the inputs — the moment
    sums use DECIMAL(38, scale·2) so products stay exact."""
    x = F.col(x_col).cast(f"decimal(19,{x_scale})")
    y = F.col(y_col).cast(f"decimal(19,{y_scale})")

    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        exact_sum(x, x_scale).alias("sx"),
        exact_sum(y, y_scale).alias("sy"),
        exact_sum(x * y, x_scale + y_scale).alias("sxy"),
        exact_sum(x * x, x_scale * 2).alias("sxx"),
        exact_sum(y * y, y_scale * 2).alias("syy"),
    )
    n = F.col("n").cast("double")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x = F.nullif(n * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0))
    var_y = F.nullif(n * F.col("syy") - F.col("sy") * F.col("sy"), F.lit(0.0))
    slope = cov_n / var_x
    return agg.select(
        *group_cols,
        "n",
        F.round(slope, round_dp).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, round_dp).alias("intercept"),
        F.round(cov_n * cov_n / (var_x * var_y), round_dp).alias("r2"),
    )


def ks_two_sample(
    df: DataFrame,
    *,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    round_dp: int = 6,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distance between the
    ``value_col`` distributions of two groups — the drift test a data
    pipeline runs between snapshots/sources when a mean shift isn't
    enough (KS sees shape changes the mean hides).

    D = max over pooled values x of |F_a(x) − F_b(x)|, computed exactly:
    value-ordered RANGE-frame cumulative counts (ties included on both
    CDFs simultaneously — the textbook right-continuous empirical CDF)
    divided by group sizes. Integer counts → identical IEEE divisions
    on every engine,
    so the statistic is value-hash stable. MLlib's KolmogorovSmirnovTest
    is one-sample-vs-theoretical only; this is the two-sample form.

    Scale shape: the pooled-CDF ordering is the bucketed-prefix
    decomposition (operators/range_bucket.py — the weighted-median /
    Pareto pattern): rows range-bucket on the value span, per-bucket
    group counts chain on the 64-row bucket frame, and the only
    value-ordered window runs WITHIN a bucket's partition. Ties can
    never split across buckets (equal values get equal bucket
    indices), so the range-frame CDF stays exact and no
    single-partition sort of the pooled rows exists in the plan.
    """
    from pyspark.sql.window import Window as W

    from ..operators.range_bucket import with_range_bucket

    g = F.col(group_col)
    # NULL values are excluded, not 'observations': Spark's window
    # ORDER BY sorts NULLs first while DuckDB sorts them last, so a
    # NULL row would both distort the CDFs and break oracle parity.
    # pooled feeds the bucketing twice (bounds + rows) via the helper.
    pooled = (
        df.filter(g.isin([group_a, group_b]) & F.col(value_col).isNotNull())
        .select(g.alias("_g"), F.col(value_col).alias("_v"))
        .localCheckpoint(eager=False)
    )
    is_a = F.when(F.col("_g") == group_a, 1).otherwise(0)
    is_b = F.when(F.col("_g") == group_b, 1).otherwise(0)
    bucketed = with_range_bucket(pooled, "_v", 64)
    per_bucket = bucketed.groupBy("_b").agg(
        F.sum(is_a).alias("_ab"), F.sum(is_b).alias("_bb")
    )
    off_w = W.orderBy("_b").rowsBetween(W.unboundedPreceding, -1)
    tot_w = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    offsets = per_bucket.select(
        "_b",
        F.coalesce(F.sum("_ab").over(off_w), F.lit(0))
        .cast("long")
        .alias("_ca_off"),
        F.coalesce(F.sum("_bb").over(off_w), F.lit(0))
        .cast("long")
        .alias("_cb_off"),
        F.sum("_ab").over(tot_w).cast("long").alias("_na"),
        F.sum("_bb").over(tot_w).cast("long").alias("_nb"),
    )
    # RANGE frame ties stay exact: carry counts rows from strictly
    # lower buckets (all values <, since equal values share a bucket),
    # the in-bucket range frame counts values <= current within it
    in_w = (
        W.partitionBy("_b")
        .orderBy("_v")
        .rangeBetween(W.unboundedPreceding, 0)
    )
    ca = F.col("_ca_off") + F.sum(is_a).over(in_w)
    cb = F.col("_cb_off") + F.sum(is_b).over(in_w)
    # degenerate inputs (one group entirely absent/NULL) yield NULL
    # ks_d, never a DIVIDE_BY_ZERO crash under ANSI mode — the repo's
    # nullif-zero-denominator rule
    diffs = bucketed.join(F.broadcast(offsets), "_b").select(
        F.abs(
            ca.cast("double") / F.nullif(F.col("_na"), F.lit(0)).cast("double")
            - cb.cast("double") / F.nullif(F.col("_nb"), F.lit(0)).cast("double")
        ).alias("_d"),
        F.col("_na").alias("_na"),
        F.col("_nb").alias("_nb"),
    )
    return diffs.agg(
        F.max("_na").cast("long").alias("n_a"),
        F.max("_nb").cast("long").alias("n_b"),
        F.round(F.max("_d"), round_dp).alias("ks_d"),
    ).select(
        F.lit(group_a).alias("group_a"),
        F.lit(group_b).alias("group_b"),
        "n_a",
        "n_b",
        "ks_d",
    )


def ab_proportion_ztest(
    df: DataFrame,
    *,
    unit_col: str,
    variant_col,
    conversion_col,
    round_dp: int = 6,
) -> DataFrame:
    """Two-proportion z-test over experiment units — the A/B readout:
    per variant (exactly two expected, 'a' < 'b' lexicographically),
    unit-level conversion (a unit converts if ANY of its rows has
    ``conversion_col`` true), pooled-variance z statistic. The emitted
    ``n_variants`` column is the guard against malformed experiments:
    a ONE-variant input (bad variant expression, unlaunched B) yields
    NULL b-side columns and NULL z, never a fake z=0 'no effect'; a
    THREE-plus-variant input likewise NULLs the b side and the z —
    silently reducing it to the lexicographic min/max arms would
    report a plausible-looking 2-arm z with the middle arms dropped
    and no signal that anything was ignored.

        z = (p_a − p_b) / sqrt(p̂(1−p̂)(1/n_a + 1/n_b))

    Counts are exact integers; the divisions and the single sqrt are
    correctly-rounded IEEE ops, so the statistic is value-hash stable.
    The p-value needs a normal CDF (erf) whose libm implementations
    differ across engines — deliberately NOT emitted; compare |z| to
    the 1.96/2.58 thresholds downstream.

    Scale shape: one unit-level aggregation (map-side combined), one
    2-row variant aggregation, one scalar combine. No window, no sort.
    """
    units = df.groupBy(F.col(unit_col).alias("unit")).agg(
        F.max(variant_col).alias("variant"),
        F.max(conversion_col.cast("int")).alias("converted"),
    )
    per_variant = units.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    wide = (
        per_variant.agg(
            F.min_by(F.struct("n_units", "n_converted"), "variant").alias("_a"),
            F.max_by(F.struct("n_units", "n_converted"), "variant").alias("_b"),
            F.min("variant").alias("variant_a"),
            F.max("variant").alias("variant_b"),
            # per_variant has exactly one row per variant, so a plain
            # count IS count_distinct(variant) — the 3+-arm guard
            F.count(F.lit(1)).cast("long").alias("n_variants"),
        )
    )
    na = F.col("_a.n_units").cast("double")
    nb = F.col("_b.n_units").cast("double")
    ca = F.col("_a.n_converted").cast("double")
    cb = F.col("_b.n_converted").cast("double")
    pa, pb = ca / na, cb / nb
    pool = (ca + cb) / (na + nb)
    # degenerate experiments (0% or 100% pooled conversion) have zero
    # pooled variance → z undefined; NULL, not an ANSI divide-by-zero
    z = (pa - pb) / F.nullif(
        F.sqrt(pool * (1 - pool) * (1 / na + 1 / nb)), F.lit(0.0)
    )
    # malformed 'experiments' must not read as a clean 2-arm readout:
    # one arm (min_by == max_by) or 3+ arms (middle arms would be
    # silently dropped) both NULL the B side and the statistic; the
    # emitted n_variants says which
    two_armed = F.col("n_variants") == 2
    return wide.select(
        "variant_a",
        F.when(two_armed, F.col("variant_b")).alias("variant_b"),
        "n_variants",
        F.col("_a.n_units").alias("n_a"),
        F.col("_a.n_converted").alias("conv_a"),
        F.when(two_armed, F.col("_b.n_units")).alias("n_b"),
        F.when(two_armed, F.col("_b.n_converted")).alias("conv_b"),
        F.round(pa, round_dp).alias("rate_a"),
        F.when(two_armed, F.round(pb, round_dp)).alias("rate_b"),
        F.when(two_armed, F.round(z, round_dp)).alias("z_stat"),
    )


# Closed-form texts shared VERBATIM between the Spark plan (F.expr)
# and the DuckDB oracle — both engines parse the identical arithmetic
# over identically-named moment columns, so the IEEE expression trees
# cannot drift apart (the strongest form of the module's
# decimal-moments-then-one-double-expression discipline). Only
# engine-portable SQL appears here: arithmetic, nullif, sqrt, round.

# Welch over per-segment moments (na, nb BIGINT; nad, nbd, sa, sb,
# saa, sbb DOUBLE): mean/variance stage, then t and the
# Welch-Satterthwaite dof over the named stage-1 columns.
WELCH_STAGE1 = {
    "mean_a": "(sa / nad)",
    "mean_b": "(sb / nbd)",
    "var_a": "((saa - sa * sa / nad) / nullif(nad - 1.0, 0.0))",
    "var_b": "((sbb - sb * sb / nbd) / nullif(nbd - 1.0, 0.0))",
}
WELCH_T = (
    "((mean_a - mean_b) / sqrt(nullif(var_a / nad + var_b / nbd, 0.0)))"
)
WELCH_DOF = (
    "((var_a / nad + var_b / nbd) * (var_a / nad + var_b / nbd)"
    " / nullif((var_a / nad) * (var_a / nad) / (nad - 1.0)"
    "        + (var_b / nbd) * (var_b / nbd) / (nbd - 1.0), 0.0))"
)

# Mann-Whitney normal approximation with tie correction, over exact
# integer rank moments (nad, nbd, u2a_d = 2·U_a, s_ties_d = Σ(t³−t)
# as DOUBLE):  z = (U_a − n_a·n_b/2) / sqrt(var),
# var = (n_a·n_b/12)·((n+1) − Σ(t³−t)/(n(n−1))).
# The tie-correction denominator n(n−1) is itself nullif-guarded: a
# single-row group would otherwise produce 0/0 = NaN, and 0 * NaN
# defeats the outer nullif — the group must surface as NULL z, not
# NaN (shared text, so both engines change together).
MANNWHITNEY_Z = (
    "(((u2a_d / 2.0) - nad * nbd / 2.0)"
    " / sqrt(nullif((nad * nbd / 12.0)"
    "   * ((nad + nbd + 1.0)"
    "      - s_ties_d / nullif((nad + nbd) * (nad + nbd - 1.0), 0.0)),"
    " 0.0)))"
)

# Two-feature OLS normal equations by Cramer's rule over moment
# columns (nd DOUBLE; s1, s2, sy, s11, s22, s12, s1y, s2y, syy
# DOUBLE): A = [[nd,s1,s2],[s1,s11,s12],[s2,s12,s22]], rhs
# [sy,s1y,s2y]; bK replaces column K of A.
OLS2_DET = (
    "(nd*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2))"
)
OLS2_B0 = (
    "((sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)"
    f" + s2*(s1y*s12 - s11*s2y)) / nullif({OLS2_DET}, 0.0))"
)
OLS2_B1 = (
    "((nd*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)"
    f" + s2*(s1*s2y - s1y*s2)) / nullif({OLS2_DET}, 0.0))"
)
OLS2_B2 = (
    "((nd*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)"
    f" + sy*(s1*s12 - s11*s2)) / nullif({OLS2_DET}, 0.0))"
)
# residual/total sums of squares from the already-solved coefficient
# columns b0/b1/b2 — R² without a second data pass
OLS2_R2 = (
    "(1.0 - (syy - b0*sy - b1*s1y - b2*s2y)"
    " / nullif(syy - sy*sy/nd, 0.0))"
)


def welch_t_test(
    df: DataFrame,
    *,
    group_cols: list[str],
    segment_col,
    value_col: str,
    seg_a,
    seg_b,
    value_scale: int = 6,
    round_dp: int = 6,
) -> DataFrame:
    """(group…, n_a, n_b, mean_a, mean_b, var_a, var_b, t_stat, dof):
    Welch's unequal-variance two-sample t per group, the mean-shift
    companion to ``ks_two_sample`` (KS sees shape; Welch quantifies the
    mean difference with a proper small/unequal-sample correction,
    unlike the pooled-variance Student t). The z-test above is for
    proportions; this is its continuous-metric sibling.

    One conditional aggregation builds both segments' exact moments in
    a single pass (values quantized to ``value_scale`` decimals and
    summed in DECIMAL — order-independent); t and the
    Welch-Satterthwaite dof are the shared WELCH_* expression texts,
    evaluated identically by any engine. Groups where a segment has
    < 2 rows (undefined variance) or both variances are zero yield
    NULL t/dof via nullif, never an ANSI error. The p-value is
    deliberately absent — the t CDF needs incomplete-beta/erf, which
    is libm-specific (the ab_proportion_ztest precedent).

    Scale shape: one map-side-combined aggregation; the shuffle
    carries six numbers per group. No window, no sort.

    The input cast is DECIMAL(18, scale), not 19: an 18-digit
    operand's square is (37, 2·scale) — inside the 38-digit cap, so
    Spark's decimal-multiply never invokes its precision-loss scale
    adjustment (19-digit operands square to precision 39, and at
    2·scale > 6 Spark rounds a scale digit away where other engines
    keep it — silent cross-engine drift)."""
    val = F.col(value_col).cast(f"decimal(18,{value_scale})")
    seg = segment_col if isinstance(segment_col, F.Column) else F.col(
        segment_col
    )
    is_a, is_b = seg == seg_a, seg == seg_b

    # NULL metric rows are excluded, not observations (they would
    # inflate n while the sums skip them — the ks_two_sample rule)
    agg = df.filter(
        (is_a | is_b) & F.col(value_col).isNotNull()
    ).groupBy(*group_cols).agg(
        F.count(F.when(is_a, 1)).cast("long").alias("na"),
        F.count(F.when(is_b, 1)).cast("long").alias("nb"),
        exact_sum(F.when(is_a, val), value_scale).alias("sa"),
        exact_sum(F.when(is_b, val), value_scale).alias("sb"),
        exact_sum(F.when(is_a, val * val), value_scale * 2).alias("saa"),
        exact_sum(F.when(is_b, val * val), value_scale * 2).alias("sbb"),
    )
    stage1 = agg.select(
        *group_cols,
        "na",
        "nb",
        F.col("na").cast("double").alias("nad"),
        F.col("nb").cast("double").alias("nbd"),
        "sa",
        "sb",
        "saa",
        "sbb",
    ).select(
        *group_cols,
        "na",
        "nb",
        "nad",
        "nbd",
        *[F.expr(text).alias(name) for name, text in WELCH_STAGE1.items()],
    )
    return stage1.select(
        *group_cols,
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round("mean_a", round_dp).alias("mean_a"),
        F.round("mean_b", round_dp).alias("mean_b"),
        F.round("var_a", round_dp).alias("var_a"),
        F.round("var_b", round_dp).alias("var_b"),
        F.round(F.expr(WELCH_T), round_dp).alias("t_stat"),
        F.round(F.expr(WELCH_DOF), round_dp).alias("dof"),
    )


def group_ols2(
    df: DataFrame,
    *,
    group_cols: list[str],
    x1_col: str,
    x2_col: str,
    y_col: str,
    x1_scale: int = 2,
    x2_scale: int = 2,
    y_scale: int = 2,
    round_dp: int = 6,
) -> DataFrame:
    """(group…, n, b0, b1, b2, r2): TWO-feature least squares
    y = b0 + b1·x1 + b2·x2 per group via the 3×3 normal equations,
    solved in closed form by Cramer's rule — multiple regression as
    one aggregation pass, the natural next step after ``group_ols``
    when a second covariate must be controlled for (price ~ quantity
    AND discount). MLlib's LinearRegression would fit the same model
    iteratively per group via costly per-group fits; ten exact moment
    sums and a constant-size determinant solve is how this is done
    over 100 TB (the shuffle carries ten numbers per group).

    Moments accumulate exactly in DECIMAL over ``*_scale``-quantized
    inputs; the solve is the shared OLS2_* expression texts (Cramer
    cofactors, then R² from the residual identity
    SSE = Σy² − b0Σy − b1Σx1y − b2Σx2y), evaluated identically by any
    engine. Singular systems (collinear x1/x2, constant columns) yield
    NULL coefficients via nullif(det, 0), never a garbage solve."""
    x1 = F.col(x1_col).cast(f"decimal(19,{x1_scale})")
    x2 = F.col(x2_col).cast(f"decimal(19,{x2_scale})")
    y = F.col(y_col).cast(f"decimal(19,{y_scale})")

    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        exact_sum(x1, x1_scale).alias("s1"),
        exact_sum(x2, x2_scale).alias("s2"),
        exact_sum(y, y_scale).alias("sy"),
        exact_sum(x1 * x1, x1_scale * 2).alias("s11"),
        exact_sum(x2 * x2, x2_scale * 2).alias("s22"),
        exact_sum(x1 * x2, x1_scale + x2_scale).alias("s12"),
        exact_sum(x1 * y, x1_scale + y_scale).alias("s1y"),
        exact_sum(x2 * y, x2_scale + y_scale).alias("s2y"),
        exact_sum(y * y, y_scale * 2).alias("syy"),
    )
    solved = agg.select(
        *group_cols,
        "n",
        F.col("n").cast("double").alias("nd"),
        "s1", "s2", "sy", "s11", "s22", "s12", "s1y", "s2y", "syy",
    ).select(
        *group_cols,
        "n",
        "nd",
        "sy", "s1y", "s2y", "syy",
        F.expr(OLS2_B0).alias("b0"),
        F.expr(OLS2_B1).alias("b1"),
        F.expr(OLS2_B2).alias("b2"),
    )
    return solved.select(
        *group_cols,
        "n",
        F.round("b0", round_dp).alias("b0"),
        F.round("b1", round_dp).alias("b1"),
        F.round("b2", round_dp).alias("b2"),
        F.round(F.expr(OLS2_R2), round_dp).alias("r2"),
    )


def mann_whitney_u(
    df: DataFrame,
    *,
    group_cols: list[str],
    segment_col,
    value_col: str,
    seg_a,
    seg_b,
    value_scale: int = 6,
    round_dp: int = 6,
) -> DataFrame:
    """(group…, n_a, n_b, u2_a, z_stat): Mann-Whitney U per group —
    the RANK-based two-sample test completing the drift/readout trio
    (KS: distribution shape; Welch: means under normality; U: median
    shift with no distributional assumption, robust to the heavy
    tails that wreck a t-test).

    Exactness: values are quantized to ``value_scale`` decimals (so
    tie groups are identical in any engine), midranks come from
    rank() + the tie-group size — avg_rank·2 = 2·rank_start + t − 1,
    an INTEGER — and U_a rides scaled by 2 (``u2_a`` = 2·U_a =
    Σ2·midrank_a − n_a(n_a+1), exact BIGINT even when ties make U a
    half-integer). The tie term Σ(t³−t) accumulates as Σ_rows(t²−1)
    (each tie group of size t contributes t rows of t²−1) in
    DECIMAL — no second aggregation over tie groups, no int64
    overflow at data scale. Only the final z is floating point: the
    shared MANNWHITNEY_Z text over exact inputs, identical in any
    engine. Degenerate groups (one segment empty, or all values
    tied → zero variance) yield NULL z via nullif.

    Scale shape: one per-group ordering window builds the ranks (at
    100 TB, partition the groups; the window never crosses groups),
    then one aggregation. No driver data."""
    from pyspark.sql.window import Window

    seg = segment_col if isinstance(segment_col, F.Column) else F.col(
        segment_col
    )
    is_a, is_b = seg == seg_a, seg == seg_b
    pooled = df.filter(
        (is_a | is_b) & F.col(value_col).isNotNull()
    ).select(
        *group_cols,
        F.when(is_a, F.lit(1)).otherwise(F.lit(0)).alias("_is_a"),
        F.col(value_col).cast(f"decimal(18,{value_scale})").alias("_v"),
    )
    w_rank = Window.partitionBy(*group_cols).orderBy(F.asc("_v"))
    w_tie = Window.partitionBy(*group_cols, "_v")
    ranked = pooled.select(
        *group_cols,
        "_is_a",
        (
            F.lit(2) * F.rank().over(w_rank)
            + F.count(F.lit(1)).over(w_tie)
            - F.lit(1)
        ).cast("long").alias("_mid2"),
        F.count(F.lit(1)).over(w_tie).cast("long").alias("_t"),
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.sum("_is_a").cast("long").alias("na"),
        F.sum(F.lit(1) - F.col("_is_a")).cast("long").alias("nb"),
        F.sum(F.when(F.col("_is_a") == 1, F.col("_mid2"))).cast("long").alias(
            "r2a"
        ),
        F.sum(
            (F.col("_t") * F.col("_t") - F.lit(1)).cast("decimal(38,0)")
        ).cast("double").alias("s_ties_d"),
    )
    stage = agg.select(
        *group_cols,
        "na",
        "nb",
        (F.col("r2a") - F.col("na") * (F.col("na") + 1)).alias("u2a"),
        F.col("na").cast("double").alias("nad"),
        F.col("nb").cast("double").alias("nbd"),
        "s_ties_d",
    ).select(
        *group_cols,
        "na",
        "nb",
        "u2a",
        "nad",
        "nbd",
        F.col("u2a").cast("double").alias("u2a_d"),
        "s_ties_d",
    )
    return stage.select(
        *group_cols,
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.col("u2a").alias("u2_a"),
        F.round(F.expr(MANNWHITNEY_Z), round_dp).alias("z_stat"),
    )
