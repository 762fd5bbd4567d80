"""The experimentation family: the nine A/B readouts (Welch's t,
Mann-Whitney U, CUPED, the proportion z-test, power analysis, the
SRM check, the delta-method ratio CI, one-way ANOVA and per-segment
uplift) with their DuckDB oracles. No reference analogue (mosama1994
Scripts/1-2 are single-table).

The kit below is the one spelling of what the readouts share, each a
Spark Column and its DuckDB twin or a literal both engines receive:

- ``user_arm()`` / ``USER_ARM_SQL``: ``user_id % 2``; arm 0 is A.
- ``md5_parity_arm`` / ``md5_parity_arm_sql``: the hash split. md5 is
  the one hash both engines produce bit for bit (xxhash64 is
  Spark-only), and DuckDB has no hex ``conv``, so its twin decodes the
  last digit with ``strpos``. The SRM check and the uplift readout
  cross-validate only while the two agree.
- ``Z_ALPHA`` / ``Z_BETA``: z at two-sided α = 0.05 and at power 0.80,
  pinned because the engines' erf and quantile functions come from
  different libm builds.
- ``exact_sum`` (from ``stats.regression``) / ``widened_product_sql``:
  the exact power sums Σv, Σv², Σxy. DuckDB keeps (18,6) × (18,6) on
  its int64 fast path, which overflows once the scaled product passes
  int64; the lossless (19,6) widening forces the hugeint path.
- ``user_spend`` / ``USER_SPEND_SQL`` and ``spend_moments``: per-user
  spend and its (n, Σv, Σv²), shared by power analysis and uplift.
- ``sample_variance``: from those sums. Float cancellation can leave
  it a hair below zero on all-equal input, where Spark's sqrt gives
  NaN and DuckDB's raises, so a readout that takes its root clamps it
  at zero on both sides.

Statistics are rounded to 6 decimals on both sides; degenerate inputs
give NULL through ``nullif``, never a division error.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import read_testdata_table
from ..stats.regression import (
    MANNWHITNEY_Z,
    WELCH_DOF,
    WELCH_STAGE1,
    WELCH_T,
    ab_proportion_ztest,
    exact_sum,
    mann_whitney_u,
    welch_t_test,
)
from .spec import SPEND_SQL, QuerySpec, day_bucket, day_bucket_sql, spend

# ------------- the kit -------------

Z_ALPHA = 1.959964
Z_BETA = 0.841621

USER_ARM_SQL = "user_id % 2"


def user_arm() -> Column:
    """Spark twin of ``USER_ARM_SQL``: 0 for even user ids, 1 for odd."""
    return F.col("user_id") % 2


def md5_parity_arm(user_col: Column) -> Column:
    """0/1 arm from the last hex digit of md5(user_col as string)."""
    return (
        F.conv(F.substring(F.md5(user_col.cast("string")), 32, 1), 16, 10)
        .cast("long")
        % 2
    )


def md5_parity_arm_sql(user_expr: str) -> str:
    """DuckDB twin of ``md5_parity_arm``."""
    return (
        "CAST((strpos('0123456789abcdef', "
        f"substr(md5(CAST({user_expr} AS VARCHAR)), 32, 1)) - 1) "
        "% 2 AS BIGINT)"
    )


def widened_product_sql(a: str, b: str) -> str:
    """The product a·b with both operands widened to DECIMAL(19,6)."""
    return f"CAST({a} AS DECIMAL(19,6)) * CAST({b} AS DECIMAL(19,6))"


USER_SPEND_SQL = f"""per_user AS (
  SELECT event_type, user_id,
         SUM({SPEND_SQL}) AS v
  FROM events GROUP BY 1, 2
)"""


def user_spend(ev: DataFrame, *keys: str) -> DataFrame:
    """Spark twin of ``USER_SPEND_SQL``: spend ``v`` per (keys, user)."""
    return ev.groupBy(*keys, "user_id").agg(
        F.sum(spend()).alias("v")
    )


def spend_moments(n: str) -> list[Column]:
    """(count as ``n``, Σv as ``sv``, Σv² as ``svv``) over ``user_spend``.
    Σv needs no widening cast: ``v`` is already a DECIMAL(28,6) sum. Σv²
    squares ``v`` as DECIMAL(18,6), an exact DECIMAL(37,12) product;
    Spark types the DECIMAL(28,6) square as DECIMAL(38,6) and would
    round every square to 6 decimals. Precondition: each user's spend
    fits DECIMAL(18,6) (|v| < 10^12)."""
    v = F.col("v")
    v18 = v.cast("decimal(18,6)")
    return [
        F.count(F.lit(1)).alias(n),
        F.sum(v).cast("double").alias("sv"),
        exact_sum(v18 * v18, 12).alias("svv"),
    ]


def sample_variance(n: Column, s: Column, ss: Column) -> Column:
    """Sample variance from the DOUBLE sums n, Σv and Σv²."""
    return (ss - s * s / n) / F.nullif(n - F.lit(1.0), F.lit(0.0))


# ------------- Welch's two-sample t -------------


def q_stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t per event type between the user-id
    arms (stats/regression.py:welch_t_test), the continuous-metric
    sibling of the proportion z-test. Exact decimal moments in one
    pass; t and the Welch-Satterthwaite dof evaluate the SAME
    expression text the oracle runs (the WELCH_* constants), so the
    statistics hash-match."""
    e = read_testdata_table(spark, sf_dir, "events")
    return welch_t_test(
        e,
        group_cols=["event_type"],
        segment_col=user_arm(),
        value_col="value",
        seg_a=0,
        seg_b=1,
    )


def _welch_oracle() -> str:
    stage1 = ",\n         ".join(
        f"{text} AS {name}" for name, text in WELCH_STAGE1.items()
    )
    dec = "CAST(value AS DECIMAL(18,6))"
    square = widened_product_sql("value", "value")
    arm_a = f"FILTER (WHERE {USER_ARM_SQL} = 0)"
    arm_b = f"FILTER (WHERE {USER_ARM_SQL} = 1)"
    return f"""
WITH m AS (
  SELECT event_type,
         CAST(count(*) {arm_a} AS BIGINT) AS na,
         CAST(count(*) {arm_b} AS BIGINT) AS nb,
         CAST(sum(CAST({dec} AS DECIMAL(38,6)))
              {arm_a} AS DOUBLE) AS sa,
         CAST(sum(CAST({dec} AS DECIMAL(38,6)))
              {arm_b} AS DOUBLE) AS sb,
         CAST(sum(CAST({square} AS DECIMAL(38,12)))
              {arm_a} AS DOUBLE) AS saa,
         CAST(sum(CAST({square} AS DECIMAL(38,12)))
              {arm_b} AS DOUBLE) AS sbb
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type
), m2 AS (
  SELECT event_type, na, nb,
         CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
         sa, sb, saa, sbb
  FROM m
), s1 AS (
  SELECT event_type, na, nb, nad, nbd,
         {stage1}
  FROM m2
)
SELECT event_type, na AS n_a, nb AS n_b,
       round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
       round(var_a, 6) AS var_a, round(var_b, 6) AS var_b,
       round({WELCH_T}, 6) AS t_stat,
       round({WELCH_DOF}, 6) AS dof
FROM s1
"""


# ------------- Mann-Whitney U -------------


def q_stats_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U per event type between the user-id arms
    (stats/regression.py:mann_whitney_u), the rank-based
    nonparametric companion to stats_welch_ttest: exact midranks
    (×2 integers) with the tie-corrected normal approximation
    evaluated from the shared MANNWHITNEY_Z text."""
    e = read_testdata_table(spark, sf_dir, "events")
    return mann_whitney_u(
        e,
        group_cols=["event_type"],
        segment_col=user_arm(),
        value_col="value",
        seg_a=0,
        seg_b=1,
    )


def _mannwhitney_oracle() -> str:
    return f"""
WITH pooled AS (
  SELECT event_type,
         CASE WHEN {USER_ARM_SQL} = 0 THEN 1 ELSE 0 END AS is_a,
         CAST(value AS DECIMAL(18,6)) AS v
  FROM events WHERE value IS NOT NULL
), ranked AS (
  SELECT event_type, is_a,
         CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY v)
              + count(*) OVER (PARTITION BY event_type, v) - 1
              AS BIGINT) AS mid2,
         CAST(count(*) OVER (PARTITION BY event_type, v) AS BIGINT) AS t
  FROM pooled
), agg AS (
  SELECT event_type,
         CAST(sum(is_a) AS BIGINT) AS na,
         CAST(sum(1 - is_a) AS BIGINT) AS nb,
         CAST(sum(CASE WHEN is_a = 1 THEN mid2 END) AS BIGINT) AS r2a,
         CAST(sum(CAST(t * t - 1 AS DECIMAL(38,0))) AS DOUBLE) AS s_ties_d
  FROM ranked GROUP BY event_type
), st AS (
  SELECT event_type, na, nb,
         r2a - na * (na + 1) AS u2a,
         CAST(na AS DOUBLE) AS nad,
         CAST(nb AS DOUBLE) AS nbd,
         CAST(r2a - na * (na + 1) AS DOUBLE) AS u2a_d,
         s_ties_d
  FROM agg
)
SELECT event_type, na AS n_a, nb AS n_b, u2a AS u2_a,
       round({MANNWHITNEY_Z}, 6) AS z_stat
FROM st
"""


# ------------- CUPED adjusted A/B readout -------------


def q_stats_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the user-id arms: the pre-period
    metric (first half of the observed day range) is the covariate,
    the experiment-period metric the outcome; θ = cov(x,y)/var(x) is
    fit POOLED across both arms (the standard unbiased choice —
    fitting θ per arm leaks the treatment effect into the
    adjustment), and the adjusted delta is
    (ȳ_a − θx̄_a) − (ȳ_b − θx̄_b). ρ² is the variance-reduction
    fraction CUPED delivers.

    Exactness: per-user period sums accumulate in DECIMAL, the
    user-level moment sums are the kit's exact sums, and
    θ/deltas/ρ² are one fixed double expression over exact inputs.
    The period split day is integer arithmetic from the observed day
    range — no calendar functions. Scale: one event→user
    aggregation, one 1-row moment aggregation; the moment shuffle
    carries eight numbers."""
    e = read_testdata_table(spark, sf_dir, "events")
    # two plan references (mid-day scalar + per-user aggregation) and
    # deliberately NO checkpoint: the frame is raw-event-sized, and
    # materializing it would cost more than the second scan — the
    # scalar pass prunes to the ts column alone, so the "duplicate"
    # read is a one-column parquet scan (contrast events_forecast_eval,
    # whose re-referenced frame is the AGGREGATED daily series)
    days = e.select(
        day_bucket("ts").alias("day"),
        user_arm().alias("arm"),
        "user_id",
        F.col("value").cast("decimal(18,6)").alias("v"),
    ).filter(F.col("v").isNotNull())
    rng = days.agg(
        F.expr("(min(day) + max(day) + 1) div 2").alias("mid_day")
    )
    per_user = (
        days.crossJoin(F.broadcast(rng))
        .groupBy("user_id", "arm")
        .agg(
            F.sum(
                F.when(F.col("day") < F.col("mid_day"), F.col("v")).cast(
                    "decimal(38,6)"
                )
            ).alias("_x"),
            F.sum(
                F.when(F.col("day") >= F.col("mid_day"), F.col("v")).cast(
                    "decimal(38,6)"
                )
            ).alias("_y"),
        )
        .select(
            "arm",
            # users silent in a period contribute 0, not NULL (they ARE
            # part of the experiment population)
            F.coalesce(F.col("_x"), F.lit(0)).cast("decimal(18,6)").alias("x"),
            F.coalesce(F.col("_y"), F.lit(0)).cast("decimal(18,6)").alias("y"),
        )
    )
    x, y = F.col("x"), F.col("y")
    a, b = F.col("arm") == 0, F.col("arm") == 1
    m = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(b, 1).otherwise(0)).cast("long").alias("n_b"),
        exact_sum(x, 6).alias("sx"),
        exact_sum(y, 6).alias("sy"),
        exact_sum(x * y, 12).alias("sxy"),
        exact_sum(x * x, 12).alias("sxx"),
        exact_sum(y * y, 12).alias("syy"),
        exact_sum(F.when(a, x), 6).alias("sxa"),
        exact_sum(F.when(a, y), 6).alias("sya"),
        exact_sum(F.when(b, x), 6).alias("sxb"),
        exact_sum(F.when(b, y), 6).alias("syb"),
    )
    return m.select(
        "n_a",
        "n_b",
        F.round(F.expr(_CUPED_THETA), 6).alias("theta"),
        F.round(F.expr(_CUPED_DELTA_RAW), 6).alias("delta_raw"),
        F.round(F.expr(_CUPED_DELTA_ADJ), 6).alias("delta_cuped"),
        F.round(F.expr(_CUPED_RHO2), 6).alias("rho2"),
    )


# shared closed-form texts over the moment columns (n, n_a, n_b, sx,
# sy, sxy, sxx, syy, sxa, sya, sxb, syb) — same strings for F.expr and
# the oracle
_CUPED_COV = "(CAST(n AS DOUBLE) * sxy - sx * sy)"
_CUPED_VARX = "nullif(CAST(n AS DOUBLE) * sxx - sx * sx, 0.0)"
_CUPED_VARY = "nullif(CAST(n AS DOUBLE) * syy - sy * sy, 0.0)"
_CUPED_THETA = f"({_CUPED_COV} / {_CUPED_VARX})"
_CUPED_DELTA_RAW = (
    "(sya / CAST(n_a AS DOUBLE) - syb / CAST(n_b AS DOUBLE))"
)
_CUPED_DELTA_ADJ = (
    f"((sya / CAST(n_a AS DOUBLE) - {_CUPED_THETA} * sxa / CAST(n_a AS DOUBLE))"
    f" - (syb / CAST(n_b AS DOUBLE) - {_CUPED_THETA} * sxb / CAST(n_b AS DOUBLE)))"
)
_CUPED_RHO2 = f"({_CUPED_COV} * {_CUPED_COV} / ({_CUPED_VARX} * {_CUPED_VARY}))"


def _cuped_oracle() -> str:
    return f"""
WITH days AS (
  SELECT {day_bucket_sql('ts')} AS day,
         {USER_ARM_SQL} AS arm, user_id,
         CAST(value AS DECIMAL(18,6)) AS v
  FROM events WHERE value IS NOT NULL
), rng AS (
  SELECT (min(day) + max(day) + 1) // 2 AS mid_day FROM days
), per_user AS (
  SELECT user_id, arm,
         CAST(coalesce(sum(CASE WHEN day < mid_day THEN v END), 0)
              AS DECIMAL(18,6)) AS x,
         CAST(coalesce(sum(CASE WHEN day >= mid_day THEN v END), 0)
              AS DECIMAL(18,6)) AS y
  FROM days CROSS JOIN rng
  GROUP BY user_id, arm
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST({widened_product_sql('x', 'y')}
                       AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
         CAST(sum(CAST({widened_product_sql('x', 'x')}
                       AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST({widened_product_sql('y', 'y')}
                       AS DECIMAL(38,12))) AS DOUBLE) AS syy,
         CAST(sum(CAST(CASE WHEN arm = 0 THEN x END AS DECIMAL(38,6)))
              AS DOUBLE) AS sxa,
         CAST(sum(CAST(CASE WHEN arm = 0 THEN y END AS DECIMAL(38,6)))
              AS DOUBLE) AS sya,
         CAST(sum(CAST(CASE WHEN arm = 1 THEN x END AS DECIMAL(38,6)))
              AS DOUBLE) AS sxb,
         CAST(sum(CAST(CASE WHEN arm = 1 THEN y END AS DECIMAL(38,6)))
              AS DOUBLE) AS syb
  FROM per_user
)
SELECT n_a, n_b,
       round({_CUPED_THETA}, 6) AS theta,
       round({_CUPED_DELTA_RAW}, 6) AS delta_raw,
       round({_CUPED_DELTA_ADJ}, 6) AS delta_cuped,
       round({_CUPED_RHO2}, 6) AS rho2
FROM m
"""


# ------------- two-proportion z-test -------------


def q_stats_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test (stats/regression.py:ab_proportion_ztest):
    users split into A/B by the user-id arm, conversion = any
    purchase event above 200 (non-degenerate rates at every sf).
    Exact unit counts; the only floats are divisions and one sqrt —
    correctly-rounded IEEE, so z hash-matches. The p-value is
    deliberately absent (erf is libm-specific across engines)."""
    ev = read_testdata_table(spark, sf_dir, "events")
    return ab_proportion_ztest(
        ev,
        unit_col="user_id",
        variant_col=F.when(user_arm() == 0, "A").otherwise("B"),
        conversion_col=(
            (F.col("event_type") == "purchase") & (F.col("value") > 200)
        ),
    )


_AB_TEST_ORACLE = f"""
WITH units AS (
  SELECT user_id,
         CASE WHEN {USER_ARM_SQL} = 0 THEN 'A' ELSE 'B' END AS variant,
         max(CASE WHEN event_type = 'purchase' AND value > 200
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY 1, 2
), pv AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(converted) AS BIGINT) AS c
  FROM units GROUP BY variant
), wide AS (
  SELECT max(CASE WHEN variant = 'A' THEN n END) AS n_a,
         max(CASE WHEN variant = 'A' THEN c END) AS conv_a,
         max(CASE WHEN variant = 'B' THEN n END) AS n_b,
         max(CASE WHEN variant = 'B' THEN c END) AS conv_b
  FROM pv
)
SELECT 'A' AS variant_a, 'B' AS variant_b,
       (SELECT CAST(count(*) AS BIGINT) FROM pv) AS n_variants,
       n_a, conv_a, n_b, conv_b,
       round(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
       round(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
       round((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
             / nullif(sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 0.0), 6) AS z_stat
FROM wide
"""


# ------------- A/B sample-size power analysis -------------

# (z_{0.975} + z_{0.80})² for the two-sided α=0.05, power=0.80 design
_Z2 = (Z_ALPHA + Z_BETA) ** 2
_MDE_FRACTION = 0.05  # detect a 5% lift on the baseline mean


def q_stats_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type A/B planning readout: from the per-user total
    spend distribution, the users-per-arm needed to detect a 5% lift
    at two-sided α=0.05 with 80% power —
    n = ⌈2·σ²·(z_α/2+z_β)² / δ²⌉, δ = 5% of the mean.

    Engine parity: per-user sums quantize to DECIMAL(18,6); mean and
    sample variance derive from one exact power-sum pass; the
    z-constant SQUARE is a Python-pinned literal (libm-free); ceil
    of the identical double is engine-identical. Degenerate types
    (zero mean or single user) yield NULL via nullif."""
    ev = read_testdata_table(spark, sf_dir, "events")
    agg = user_spend(ev, "event_type").groupBy("event_type").agg(
        *spend_moments("n_users")
    )
    nd = F.col("n_users").cast("double")
    mean = F.col("sv") / nd
    var = sample_variance(nd, F.col("sv"), F.col("svv"))
    delta = F.lit(_MDE_FRACTION) * mean
    n_arm = F.ceil(
        F.lit(2.0) * var * F.lit(_Z2) / F.nullif(delta * delta, F.lit(0.0))
    ).cast("long")
    return agg.select(
        "event_type",
        "n_users",
        F.round(mean, 6).alias("mean_v"),
        F.round(var, 6).alias("var_v"),
        n_arm.alias("n_per_arm"),
    ).orderBy("event_type")


_POWER_ORACLE = f"""
WITH {USER_SPEND_SQL}, agg AS (
  SELECT event_type,
         count(*) AS n_users,
         CAST(SUM(v) AS DOUBLE) AS sv,
         -- (19,6) operands force DuckDB's hugeint product path; the
         -- (18,6)x(18,6) int64 fast path overflows on large per-user
         -- sums (see the repo decimal-product gotcha)
         CAST(SUM({widened_product_sql('v', 'v')})
              AS DOUBLE) AS svv
  FROM per_user GROUP BY 1
)
SELECT event_type, n_users,
       round(sv / CAST(n_users AS DOUBLE), 6) AS mean_v,
       round((svv - sv * sv / CAST(n_users AS DOUBLE))
             / nullif(CAST(n_users AS DOUBLE) - 1.0, 0.0), 6) AS var_v,
       CAST(ceil(2.0
                 * ((svv - sv * sv / CAST(n_users AS DOUBLE))
                    / nullif(CAST(n_users AS DOUBLE) - 1.0, 0.0))
                 * {_Z2!r}
                 / nullif(({_MDE_FRACTION!r}
                           * (sv / CAST(n_users AS DOUBLE)))
                          * ({_MDE_FRACTION!r}
                             * (sv / CAST(n_users AS DOUBLE))), 0.0))
            AS BIGINT) AS n_per_arm
FROM agg
ORDER BY event_type
"""


# ------------- hash-split sample-ratio-mismatch check -------------


def q_stats_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch audit of a deterministic 50/50 hash
    split: users assign to arms by md5(user_id) parity — the
    production assignment pattern — and the 1-dof χ² statistic
    (n_a−n_b)²/(n_a+n_b) flags a broken split (the FIRST check run
    on any experiment before reading its metrics). Counts are exact;
    the statistic is one float division."""
    ev = read_testdata_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct().select(
        "user_id", md5_parity_arm(F.col("user_id")).alias("arm")
    )
    agg = users.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    diff = (F.col("n_a") - F.col("n_b")).cast("double")
    tot = (F.col("n_a") + F.col("n_b")).cast("double")
    return agg.select(
        "n_a",
        "n_b",
        F.round(diff * diff / F.nullif(tot, F.lit(0.0)), 6).alias(
            "srm_chi2"
        ),
        # 1-dof χ² critical value at α=0.001 — an SRM gate, pinned
        # as a literal (no quantile function in either engine)
        (diff * diff / F.nullif(tot, F.lit(0.0)) > 10.828).alias(
            "srm_flag"
        ),
    )


_SRM_ORACLE = f"""
WITH users AS (
  SELECT DISTINCT user_id, {md5_parity_arm_sql('user_id')} AS arm
  FROM events
), agg AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM users
)
SELECT n_a, n_b,
       round(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
             / nullif(CAST(n_a + n_b AS DOUBLE), 0.0), 6) AS srm_chi2,
       (CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
        / nullif(CAST(n_a + n_b AS DOUBLE), 0.0)) > 10.828 AS srm_flag
FROM agg
"""


# ------------- delta-method ratio-metric CI -------------


def q_stats_ratio_metric_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ratio metric (clicks per view) with a delta-method
    standard error: for R = X̄/Ȳ,
    var(R) ≈ (var(X) − 2R·cov(X,Y) + R²·var(Y)) / (n·Ȳ²) — the
    correct treatment of ratio metrics, which naive per-event division
    gets wrong (users are the randomization unit, not events).

    Engine parity: per-user click/view counts are exact integers, so
    ALL five moment sums accumulate exactly in BIGINT; the ratio,
    covariance combination, sqrt, and the ±Z_ALPHA band are the
    only float ops. Degenerate inputs (zero views or a single user)
    yield NULLs via nullif."""
    ev = read_testdata_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("x"),
        F.sum((F.col("event_type") == "view").cast("long")).alias("y"),
    )
    agg = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n_users").cast("double")
    mx = F.col("sx").cast("double") / nd
    my = F.col("sy").cast("double") / nd
    nm1 = F.nullif(nd - F.lit(1.0), F.lit(0.0))
    vx = (F.col("sxx").cast("double") - nd * mx * mx) / nm1
    vy = (F.col("syy").cast("double") - nd * my * my) / nm1
    cxy = (F.col("sxy").cast("double") - nd * mx * my) / nm1
    r = mx / F.nullif(my, F.lit(0.0))
    # float cancellation can land the mathematically-~0 variance a
    # hair NEGATIVE on collinear data — clamp identically on both sides
    var_r = F.greatest(
        (vx - F.lit(2.0) * r * cxy + r * r * vy)
        / (nd * F.nullif(my * my, F.lit(0.0))),
        F.lit(0.0),
    )
    se = F.sqrt(var_r)
    z = F.lit(Z_ALPHA)
    return agg.select(
        "n_users",
        F.round(r, 6).alias("ratio"),
        F.round(se, 6).alias("se"),
        F.round(r - z * se, 6).alias("ci_lo"),
        F.round(r + z * se, 6).alias("ci_hi"),
    )


_RATIO_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY 1
), agg AS (
  SELECT count(*) AS n_users,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM per_user
), m AS (
  SELECT n_users,
         CAST(n_users AS DOUBLE) AS nd,
         CAST(sx AS DOUBLE) / CAST(n_users AS DOUBLE) AS mx,
         CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE) AS my,
         CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
         CAST(sxy AS DOUBLE) AS sxyd
  FROM agg
), s AS (
  SELECT n_users, nd, mx, my,
         (sxxd - nd * mx * mx) / nullif(nd - 1.0, 0.0) AS vx,
         (syyd - nd * my * my) / nullif(nd - 1.0, 0.0) AS vy,
         (sxyd - nd * mx * my) / nullif(nd - 1.0, 0.0) AS cxy,
         mx / nullif(my, 0.0) AS r
  FROM m
), f AS (
  SELECT n_users, r,
         sqrt(greatest((vx - 2.0 * r * cxy + r * r * vy)
                       / (nd * nullif(my * my, 0.0)), 0.0)) AS se
  FROM s
)
SELECT n_users,
       round(r, 6) AS ratio,
       round(se, 6) AS se,
       round(r - {Z_ALPHA!r} * se, 6) AS ci_lo,
       round(r + {Z_ALPHA!r} * se, 6) AS ci_hi
FROM f
"""


# ------------- one-way ANOVA F -------------


def q_stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order value across the five order
    priorities: between/within sums of squares from ONE exact
    power-sum pass, the F statistic, and each group's mean — the
    k-group generalization of the Welch pair test.

    Engine parity: per-group n/Σx/Σx² accumulate exactly in DECIMAL
    over DECIMAL(18,2) prices (order-independent); SSB/SSW derive by
    IEEE-identical arithmetic; degenerate inputs (k < 2 or n ≤ k)
    yield NULL F via nullif. The grand aggregation runs over the
    k-row group frame, never a second fact scan."""
    orders = read_testdata_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice").cast("decimal(18,2)")
    g = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        exact_sum(x * x, 4).alias("sxx"),
    )
    # grand totals from the k-row frame (exact: sums of exact sums)
    tot = g.agg(
        F.sum("n").alias("n_total"),
        F.sum("sx").alias("sx_total"),
        F.count(F.lit(1)).alias("n_groups"),
    )
    j = g.crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    mean = F.col("sx") / nd
    grand = F.col("sx_total") / F.col("n_total").cast("double")
    ssw_g = F.col("sxx") - F.col("sx") * F.col("sx") / nd
    ssb_g = nd * (mean - grand) * (mean - grand)
    per = j.select(
        "o_orderpriority",
        "n",
        F.round(mean, 6).alias("mean_price"),
        ssw_g.alias("_ssw"),
        ssb_g.alias("_ssb"),
        "n_total",
        "n_groups",
    )
    f_stat = (
        (F.sum("_ssb") / (F.max("n_groups").cast("double") - F.lit(1.0)))
        / F.nullif(
            F.sum("_ssw")
            / (
                F.max("n_total").cast("double")
                - F.max("n_groups").cast("double")
            ),
            F.lit(0.0),
        )
    )
    table = per.select(
        "o_orderpriority", "n", "mean_price"
    )
    f_row = per.agg(F.round(f_stat, 6).alias("f_stat"))
    return table.crossJoin(F.broadcast(f_row)).orderBy("o_orderpriority")


_ANOVA_ORACLE = """
WITH g AS (
  SELECT o_orderpriority,
         count(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                       * CAST(o_totalprice AS DECIMAL(18,2))
                       AS DECIMAL(38,4))) AS DOUBLE) AS sxx
  FROM orders GROUP BY 1
), tot AS (
  -- n_total/n_groups, NOT N/k: both engines case-fold unqualified
  -- identifiers, so a column named N silently collides with the
  -- per-group n (DuckDB bound max(N) to the group sizes — F came
  -- out 0.46 instead of 2.18 before the rename)
  SELECT CAST(SUM(n) AS BIGINT) AS n_total, SUM(sx) AS sx_total,
         count(*) AS n_groups
  FROM g
), per AS (
  SELECT g.o_orderpriority, g.n,
         round(g.sx / CAST(g.n AS DOUBLE), 6) AS mean_price,
         g.sxx - g.sx * g.sx / CAST(g.n AS DOUBLE) AS ssw,
         CAST(g.n AS DOUBLE)
           * (g.sx / CAST(g.n AS DOUBLE)
              - t.sx_total / CAST(t.n_total AS DOUBLE))
           * (g.sx / CAST(g.n AS DOUBLE)
              - t.sx_total / CAST(t.n_total AS DOUBLE)) AS ssb,
         t.n_total, t.n_groups
  FROM g, tot t
), f AS (
  SELECT round((SUM(ssb) / (CAST(max(n_groups) AS DOUBLE) - 1.0))
               / nullif(SUM(ssw)
                        / (CAST(max(n_total) AS DOUBLE)
                           - CAST(max(n_groups) AS DOUBLE)), 0.0), 6)
           AS f_stat
  FROM per
)
SELECT p.o_orderpriority, p.n, p.mean_price, f.f_stat
FROM per p, f
ORDER BY p.o_orderpriority
"""


# ------------- per-segment uplift over the hash split -------------


def q_events_uplift_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous 'treatment' readout: per event type (the
    segment), the A−B difference of per-user mean spend across the
    md5-parity arms with a pooled two-sample standard error — the
    segment-drilldown table read after the top-line A/B result
    (same assignment as stats_srm_check, so the two entries
    cross-validate).

    Engine parity: each arm's mean/variance derives from the kit's
    per-user spend moments; the variance is clamped before its
    root. Degenerate arms yield NULLs via nullif. Scale shape: one
    groupBy to user grain, one to (segment, arm) — 2 rows per
    segment — then a pivot-style conditional fold to one row per
    segment."""
    ev = read_testdata_table(spark, sf_dir, "events")
    arm = md5_parity_arm(F.col("user_id"))
    per_arm = user_spend(ev, "event_type").select(
        "event_type", arm.alias("arm"), "v"
    ).groupBy("event_type", "arm").agg(*spend_moments("n"))
    nd = F.col("n").cast("double")
    mean = F.col("sv") / nd
    var = F.greatest(
        sample_variance(nd, F.col("sv"), F.col("svv")), F.lit(0.0)
    )
    m = per_arm.select(
        "event_type", "arm", "n", mean.alias("m"), (var / nd).alias("vn")
    )
    folded = m.groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("m"))).alias("m_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("m"))).alias("m_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("vn"))).alias("vn_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("vn"))).alias("vn_b"),
    )
    delta = F.col("m_a") - F.col("m_b")
    se = F.sqrt(F.col("vn_a") + F.col("vn_b"))
    return folded.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(delta, 6).alias("uplift"),
        F.round(se, 6).alias("se"),
        (F.abs(delta) > F.lit(Z_ALPHA) * se).alias("significant"),
    ).orderBy("event_type")


_UPLIFT_ORACLE = f"""
WITH {USER_SPEND_SQL}, per_arm AS (
  SELECT event_type,
         {md5_parity_arm_sql('user_id')} AS arm,
         count(*) AS n,
         CAST(SUM(v) AS DOUBLE) AS sv,
         CAST(SUM({widened_product_sql('v', 'v')})
              AS DOUBLE) AS svv
  FROM per_user GROUP BY 1, 2
), m AS (
  SELECT event_type, arm, n,
         sv / CAST(n AS DOUBLE) AS m,
         greatest((svv - sv * sv / CAST(n AS DOUBLE))
                  / nullif(CAST(n AS DOUBLE) - 1.0, 0.0), 0.0)
           / CAST(n AS DOUBLE) AS vn
  FROM per_arm
), folded AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_b,
         SUM(CASE WHEN arm = 0 THEN m END) AS m_a,
         SUM(CASE WHEN arm = 1 THEN m END) AS m_b,
         SUM(CASE WHEN arm = 0 THEN vn END) AS vn_a,
         SUM(CASE WHEN arm = 1 THEN vn END) AS vn_b
  FROM m GROUP BY 1
)
SELECT event_type, n_a, n_b,
       round(m_a - m_b, 6) AS uplift,
       round(sqrt(vn_a + vn_b), 6) AS se,
       abs(m_a - m_b) > {Z_ALPHA!r} * sqrt(vn_a + vn_b) AS significant
FROM folded
ORDER BY event_type
"""


QUERIES: list[QuerySpec] = [
    QuerySpec(
        "stats_welch_ttest", q_stats_welch_ttest, _welch_oracle(),
        "Welch's unequal-variance two-sample t per event type",
    ),
    QuerySpec(
        "stats_mannwhitney_u",
        q_stats_mannwhitney_u,
        _mannwhitney_oracle(),
        "Tie-corrected Mann-Whitney U per event type",
    ),
    QuerySpec(
        "stats_cuped_adjustment",
        q_stats_cuped_adjustment,
        _cuped_oracle(),
        "CUPED-adjusted A/B delta with pooled theta and rho^2",
    ),
    QuerySpec(
        "stats_ab_test", q_stats_ab_test, _AB_TEST_ORACLE,
        "two-proportion A/B z-test over experiment units, exact counts"
        " + value-hash-stable z",
    ),
    QuerySpec(
        "stats_power_analysis",
        q_stats_power_analysis,
        _POWER_ORACLE,
        "A/B users-per-arm from exact variance, libm-free constants",
    ),
    QuerySpec(
        "stats_srm_check",
        q_stats_srm_check,
        _SRM_ORACLE,
        "Sample-ratio-mismatch chi2 on an md5 50/50 hash split",
    ),
    QuerySpec(
        "stats_ratio_metric_ci",
        q_stats_ratio_metric_ci,
        _RATIO_ORACLE,
        "Delta-method CI for a per-user ratio metric",
    ),
    QuerySpec(
        "stats_anova_oneway",
        q_stats_anova_oneway,
        _ANOVA_ORACLE,
        "One-way ANOVA F from one exact power-sum pass",
    ),
    QuerySpec(
        "events_uplift_by_segment",
        q_events_uplift_by_segment,
        _UPLIFT_ORACLE,
        "Per-segment A/B uplift with pooled SE on the md5 split",
    ),
]
