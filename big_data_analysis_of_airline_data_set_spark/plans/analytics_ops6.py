"""Decision-support analytics catalog, wave 10: funnel
time-to-convert (the duration companion to the count funnel), A/B
sample-size power analysis (the planning companion to the Welch/
CUPED/z-test readouts), and weekly cohort LTV.

No reference analogue (mosama1994 Scripts/1-2 are single-table).
Catalog contract as everywhere: decimal/integer-exact accumulation,
IEEE-identical float division, round(6) statistics.

All three entries enter the correctness window by ledger
age (see ``plans/__init__.correctness_window``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.weighted_quantile import weighted_median
from ..functions.ab_assignment import (
    md5_parity_arm_sql as _arm_sql,
)
from ..sources.readers import read_testdata_table
from .spec import US_DAY, US_SEC, QuerySpec


# (z_{0.975} + z_{0.80})² for the two-sided α=0.05, power=0.80 design
# — a transcendental-free literal pinned in Python and shipped
# IDENTICALLY to both engines (erf/quantile functions differ between
# JVM and C++ libm; a literal cannot).
_Z_ALPHA = 1.959964
_Z_BETA = 0.841621
_Z2 = (_Z_ALPHA + _Z_BETA) ** 2
_MDE_FRACTION = 0.05  # detect a 5% lift on the baseline mean


# ------------- funnel time-to-convert -------------


def q_events_funnel_ttc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert between funnel steps (view→click,
    click→purchase): per-stage converter count, mean gap, and the
    exact lower-median gap in whole seconds.

    Scale shape: the funnel stage frames reduce to one row per user
    before any join (same discipline as events_funnel); the median
    runs on operators/weighted_quantile.py:weighted_median with unit
    weights — range-bucketed prefix counts, ordered window only
    inside the crossing bucket, never a whole-stage sort. Gaps are
    exact integer seconds (micros div 10⁶ on positive gaps), so sums
    stay in BIGINT/DECIMAL and only the mean divides as float."""
    ev = read_testdata_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1k"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"), F.min("t2").alias("t2k"))
    )
    # integer division, not /-then-cast: Spark's cast-to-long
    # truncates while DuckDB's CAST rounds — div/// agree on the
    # positive gaps
    gap_vc = c.select(
        F.lit("view_to_click").alias("stage"),
        F.expr(
            f"(unix_micros(t2) - unix_micros(t1k)) div {US_SEC}"
        ).alias("gap_s"),
    )
    gap_cp = p.select(
        F.lit("click_to_purchase").alias("stage"),
        F.expr(
            f"(unix_micros(t3) - unix_micros(t2k)) div {US_SEC}"
        ).alias("gap_s"),
    )
    # gaps feeds the median operator (3 refs internally) AND the
    # mean aggregate — checkpoint once here
    gaps = gap_vc.unionByName(gap_cp).localCheckpoint(eager=False)
    med = weighted_median(
        gaps,
        group="stage",
        val="gap_s",
        weight_expr=F.lit(1).cast("decimal(18,2)"),
        buckets=64,
    ).select(
        "stage", F.col("weighted_median").alias("median_gap_s")
    )
    means = gaps.groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_converters"),
        F.round(
            F.sum("gap_s").cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_gap_s"),
    )
    return (
        means.join(med, "stage")
        .select("stage", "n_converters", "mean_gap_s", "median_gap_s")
        .orderBy("stage")
    )


_TTC_ORACLE = f"""
WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t2, min(v.t1) AS t1k FROM events e
      JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t3, min(c.t2) AS t2k FROM events e
      JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id),
gaps AS (
  SELECT 'view_to_click' AS stage,
         (epoch_us(CAST(t2 AS TIMESTAMP))
          - epoch_us(CAST(t1k AS TIMESTAMP))) // {US_SEC} AS gap_s
  FROM c
  UNION ALL
  SELECT 'click_to_purchase',
         (epoch_us(CAST(t3 AS TIMESTAMP))
          - epoch_us(CAST(t2k AS TIMESTAMP))) // {US_SEC}
  FROM p
), cum AS (
  SELECT stage, gap_s,
         SUM(w) OVER (PARTITION BY stage ORDER BY gap_s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cw,
         SUM(w) OVER (PARTITION BY stage) AS total
  FROM (SELECT stage, gap_s,
               SUM(CAST(1 AS DECIMAL(18,2))) AS w
        FROM gaps GROUP BY 1, 2) d
), med AS (
  SELECT stage, min(gap_s) AS median_gap_s
  FROM cum WHERE 2 * cw >= total GROUP BY stage
)
SELECT g.stage, count(*) AS n_converters,
       round(CAST(SUM(g.gap_s) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS mean_gap_s,
       min(m.median_gap_s) AS median_gap_s
FROM gaps g JOIN med m ON g.stage = m.stage
GROUP BY g.stage
ORDER BY g.stage
"""


# ------------- A/B sample-size power analysis -------------


def q_stats_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type A/B planning readout: from the per-user total
    spend distribution, the users-per-arm needed to detect a 5% lift
    at two-sided α=0.05 with 80% power —
    n = ⌈2·σ²·(z_α/2+z_β)² / δ²⌉, δ = 5% of the mean.

    Engine parity: per-user sums quantize to DECIMAL(18,6); mean and
    sample variance derive from one exact power-sum pass (the
    squared decimal sums stay inside hugeint/decimal128 range); the
    z-constant SQUARE is a Python-pinned literal (libm-free); ceil
    of the identical double is engine-identical. Degenerate types
    (zero mean or single user) yield NULL via nullif."""
    ev = read_testdata_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)")).alias("v")
    )
    agg = per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("v").cast("double").alias("sv"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,12)"))
        .cast("double")
        .alias("svv"),
    )
    nd = F.col("n_users").cast("double")
    mean = F.col("sv") / nd
    var = (F.col("svv") - F.col("sv") * F.col("sv") / nd) / F.nullif(
        nd - F.lit(1.0), F.lit(0.0)
    )
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
WITH per_user AS (
  SELECT event_type, user_id,
         SUM(CAST(round(value, 6) AS DECIMAL(18,6))) AS v
  FROM events GROUP BY 1, 2
), agg AS (
  SELECT event_type,
         count(*) AS n_users,
         CAST(SUM(v) AS DOUBLE) AS sv,
         -- (19,6) operands force DuckDB's hugeint product path; the
         -- (18,6)x(18,6) int64 fast path overflows on large per-user
         -- sums (see the repo decimal-product gotcha)
         CAST(SUM(CAST(v AS DECIMAL(19,6)) * CAST(v AS DECIMAL(19,6)))
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


# ------------- weekly cohort LTV -------------


def q_events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-cohort lifetime value triangle: users cohort by their
    first-activity week; revenue accumulates per (cohort_week,
    weeks_since_first) with cohort size and cumulative LTV per user.

    Scale shape: the cohort assignment is ONE per-user min
    (broadcast back onto the user's own events via a keyed join —
    both sides reduce/partition on user_id); the triangle frame is
    O(weeks²) rows, so its cumulative window is bounded by the time
    domain, never event volume. Revenue quantizes to DECIMAL(18,6);
    the cumulative sum stays decimal until the final rounded
    division."""
    ev = read_testdata_table(spark, sf_dir, "events")
    keyed = ev.select(
        "user_id",
        F.expr(f"(unix_micros(ts) div {US_DAY}) div 7").alias("week"),
        F.round(F.col("value"), 6).cast("decimal(18,6)").alias("v"),
    )
    first = keyed.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    joined = keyed.join(first, "user_id").withColumn(
        "weeks_since", F.col("week") - F.col("cohort_week")
    )
    cohort_sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    tri = joined.groupBy("cohort_week", "weeks_since").agg(
        F.sum("v").alias("rev")
    )
    from pyspark.sql.window import Window as W

    cum_w = (
        W.partitionBy("cohort_week")
        .orderBy("weeks_since")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        tri.withColumn("cum_rev", F.sum("rev").over(cum_w))
        .join(F.broadcast(cohort_sizes), "cohort_week")
        .select(
            "cohort_week",
            "weeks_since",
            "cohort_users",
            F.col("rev").cast("double").alias("week_revenue"),
            F.round(
                F.col("cum_rev").cast("double")
                / F.col("cohort_users").cast("double"),
                6,
            ).alias("cum_ltv_per_user"),
        )
        .orderBy("cohort_week", "weeks_since")
    )


_LTV_ORACLE = f"""
WITH keyed AS (
  SELECT user_id,
         (epoch_us(CAST(ts AS TIMESTAMP)) // {US_DAY}) // 7 AS week,
         CAST(round(value, 6) AS DECIMAL(18,6)) AS v
  FROM events
), first AS (
  SELECT user_id, min(week) AS cohort_week FROM keyed GROUP BY 1
), sizes AS (
  SELECT cohort_week, count(*) AS cohort_users FROM first GROUP BY 1
), tri AS (
  SELECT f.cohort_week, k.week - f.cohort_week AS weeks_since,
         SUM(k.v) AS rev
  FROM keyed k JOIN first f ON k.user_id = f.user_id
  GROUP BY 1, 2
)
SELECT t.cohort_week, t.weeks_since, s.cohort_users,
       CAST(t.rev AS DOUBLE) AS week_revenue,
       round(CAST(SUM(t.rev) OVER (PARTITION BY t.cohort_week
                                   ORDER BY t.weeks_since
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS DOUBLE)
             / CAST(s.cohort_users AS DOUBLE), 6) AS cum_ltv_per_user
FROM tri t JOIN sizes s ON t.cohort_week = s.cohort_week
ORDER BY t.cohort_week, t.weeks_since
"""


# ------------- conversion-window funnel -------------


def q_events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count funnel with a CONVERSION WINDOW: a click counts only
    within 7 days of the first view, a purchase only within 7 days
    of the qualifying click — the production funnel semantics
    (unbounded funnels overcount by attributing unrelated late
    events).

    Scale shape: identical reduction discipline to events_funnel —
    each stage reduces to one row per user before the next broadcast
    join; the window bound rides the stage filter, costing
    nothing."""
    ev = read_testdata_table(spark, sf_dir, "events")
    win = F.expr("INTERVAL 7 DAYS")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def step(df: DataFrame, n: int, stage: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(n).cast("long").alias("step"),
            F.lit(stage).alias("stage"),
            "n_users",
        )

    return (
        step(v, 1, "view")
        .unionByName(step(c, 2, "click_7d"))
        .unionByName(step(p, 3, "purchase_7d"))
    )


_FUNNEL_WINDOWED_ORACLE = """
WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
        AND e.ts <= v.t1 + INTERVAL 7 DAY
      GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
      JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        AND e.ts <= c.t2 + INTERVAL 7 DAY
      GROUP BY e.user_id)
SELECT CAST(1 AS BIGINT) AS step, 'view' AS stage, count(*) AS n_users FROM v
UNION ALL SELECT 2, 'click_7d', count(*) FROM c
UNION ALL SELECT 3, 'purchase_7d', count(*) FROM p
"""


# ------------- hash-split sample-ratio-mismatch check -------------


def q_stats_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch audit of a deterministic 50/50 hash
    split: users assign to arms by md5(user_id) parity — the
    production assignment pattern — and the 1-dof χ² statistic
    (n_a−n_b)²/(n_a+n_b) flags a broken split (the FIRST check run
    on any experiment before reading its metrics).

    Engine parity: md5 is the one hash both engines share
    bit-for-bit (xxhash64 is Spark-only); the arm is the last hex
    digit's parity. Counts are exact; the statistic is one float
    division."""
    from ..functions.ab_assignment import md5_parity_arm

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
  SELECT DISTINCT user_id, {_arm_sql('user_id')} AS arm
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
    covariance combination, sqrt, and the ±1.959964 band are the
    only float ops (z pinned as a literal). Degenerate inputs (zero
    views or a single user) yield NULLs via nullif."""
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
    # hair NEGATIVE on collinear data — Spark's sqrt would return
    # NaN while DuckDB RAISES; clamp identically on both sides
    var_r = F.greatest(
        (vx - F.lit(2.0) * r * cxy + r * r * vy)
        / (nd * F.nullif(my * my, F.lit(0.0))),
        F.lit(0.0),
    )
    se = F.sqrt(var_r)
    z = F.lit(_Z_ALPHA)
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
       round(r - {_Z_ALPHA!r} * se, 6) AS ci_lo,
       round(r + {_Z_ALPHA!r} * se, 6) AS ci_hi
FROM f
"""


# ------------- temperature-smoothed domain mixture -------------


def q_curation_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed source mixture for training-data
    sampling (τ = 0.5): target share ∝ n^τ, the standard fix for
    head-domain domination (raw sampling) vs uniform (τ→0). Reports
    per source the raw share, the smoothed target share, and the
    implied up/down-sampling factor.

    Engine parity: τ = 0.5 makes the smoothing a SQRT — IEEE-exact
    and identical in both engines, unlike a general pow/exp·ln
    (libm-divergent). One count aggregation; the share denominators
    are 2-number scalars broadcast back."""
    docs = read_testdata_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    # quantize each sqrt to 6 dp BEFORE summing: a raw double sum is
    # order-dependent across partitions/engines (the repo's exact-
    # accumulation contract); the decimal sum is exact
    sq = F.round(F.sqrt(F.col("n_docs").cast("double")), 6).cast(
        "decimal(18,6)"
    )
    tot = counts.agg(
        F.sum("n_docs").cast("double").alias("tot_n"),
        F.sum(sq).cast("double").alias("tot_sq"),
    )
    raw = F.col("n_docs").cast("double") / F.col("tot_n")
    temp = sq.cast("double") / F.col("tot_sq")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round(raw, 6).alias("raw_share"),
            F.round(temp, 6).alias("temp_share"),
            F.round(temp / raw, 6).alias("sample_factor"),
        )
        .orderBy("source")
    )


_TEMPERATURE_ORACLE = """
WITH counts AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n_docs) AS DOUBLE) AS tot_n,
         CAST(SUM(CAST(round(sqrt(CAST(n_docs AS DOUBLE)), 6)
                       AS DECIMAL(18,6))) AS DOUBLE) AS tot_sq
  FROM counts
)
SELECT source, n_docs,
       round(CAST(n_docs AS DOUBLE) / tot_n, 6) AS raw_share,
       round(CAST(CAST(round(sqrt(CAST(n_docs AS DOUBLE)), 6)
                       AS DECIMAL(18,6)) AS DOUBLE) / tot_sq, 6)
         AS temp_share,
       round((CAST(CAST(round(sqrt(CAST(n_docs AS DOUBLE)), 6)
                        AS DECIMAL(18,6)) AS DOUBLE) / tot_sq)
             / (CAST(n_docs AS DOUBLE) / tot_n), 6) AS sample_factor
FROM counts, tot
ORDER BY source
"""


# ------------- bit-length-binned degree distribution -------------


def q_graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂-binned degree distribution of the customer→order
    bipartite graph (the first diagnostic before choosing a skew
    strategy: how heavy is the degree tail?).

    Engine parity: the bin is the integer BIT LENGTH of the degree —
    LENGTH(BIN(deg)) is the engine-neutral floor(log₂)+1 (both
    engines print minimal binary strings; float log2 misbins at
    power-of-two boundaries, see the repo gotcha). All counts
    exact."""
    orders = read_testdata_table(spark, sf_dir, "orders")
    deg = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("deg")
    )
    return (
        deg.groupBy(
            F.length(F.bin(F.col("deg"))).cast("long").alias("deg_bits")
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("deg").alias("min_deg"),
            F.max("deg").alias("max_deg"),
            F.sum("deg").alias("total_orders"),
        )
        .orderBy("deg_bits")
    )


_DEGREE_ORACLE = """
SELECT CAST(length(bin(deg)) AS BIGINT) AS deg_bits,
       count(*) AS n_customers,
       min(deg) AS min_deg,
       max(deg) AS max_deg,
       CAST(SUM(deg) AS BIGINT) AS total_orders
FROM (SELECT o_custkey, count(*) AS deg FROM orders GROUP BY 1) d
GROUP BY 1
ORDER BY 1
"""


QUERIES = [
    QuerySpec(
        "events_funnel_ttc",
        q_events_funnel_ttc,
        _TTC_ORACLE,
        "Funnel step time-to-convert: mean + bucketed exact median",
    ),
    QuerySpec(
        "stats_power_analysis",
        q_stats_power_analysis,
        _POWER_ORACLE,
        "A/B users-per-arm from exact variance, libm-free constants",
    ),
    QuerySpec(
        "events_cohort_ltv",
        q_events_cohort_ltv,
        _LTV_ORACLE,
        "Weekly cohort LTV triangle with decimal cumulative revenue",
    ),
    QuerySpec(
        "events_funnel_windowed",
        q_events_funnel_windowed,
        _FUNNEL_WINDOWED_ORACLE,
        "Funnel with a 7-day conversion window per step",
    ),
    QuerySpec(
        "curation_temperature_mixture",
        q_curation_temperature_mixture,
        _TEMPERATURE_ORACLE,
        "Sqrt-temperature source mixture with sampling factors",
    ),
    QuerySpec(
        "graph_degree_histogram",
        q_graph_degree_histogram,
        _DEGREE_ORACLE,
        "Bit-length-binned degree distribution (skew diagnostic)",
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
]
