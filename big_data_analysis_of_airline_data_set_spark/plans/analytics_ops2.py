"""Decision-support analytics catalog: Pareto skyline, closed-form 2-D
PCA, weighted median, engagement stickiness, calendar gap-fill with
linear interpolation, and the per-user sequential folds (clamped
balance, Holt smoothing, max drawdown).

No reference analogue (mosama1994 Scripts/1-2 are single-table).
Catalog contract as everywhere: Spark-first plans with a DuckDB oracle
replaying identical arithmetic — decimal accumulation for
order-independent sums, IEEE-identical float division, round(6) on
statistics. All eight entries enter the correctness window by ledger
age (see ``plans/__init__.correctness_window``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..operators.skyline import skyline_2d
from ..sources.readers import read_testdata_table
from .spec import QuerySpec, day_bucket, day_bucket_sql



# --------------------- 2-D Pareto skyline ---------------------


def q_skyline_dominance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest-and-smallest part frontier: the distinct
    (p_retailprice, p_size) pairs not dominated under minimize-both
    (operators/skyline.py:skyline_2d — per-x min, range-bucketed
    prefix minima; no global-ordering window)."""
    part = read_testdata_table(spark, sf_dir, "part").select(
        "p_retailprice", F.col("p_size").cast("long").alias("p_size")
    )
    return skyline_2d(part, "p_retailprice", "p_size", buckets=64)


_SKYLINE_ORACLE = """
WITH pairs AS (
  SELECT p_retailprice, CAST(min(p_size) AS BIGINT) AS p_size
  FROM part GROUP BY p_retailprice
)
SELECT p_retailprice, p_size
FROM pairs p
WHERE NOT EXISTS (
  SELECT 1 FROM pairs q
  WHERE q.p_retailprice < p.p_retailprice AND q.p_size <= p.p_size
)
"""


# --------------------- closed-form 2-D PCA ---------------------


def q_stats_pca_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-return-class principal components of (quantity,
    extendedprice): sample covariance matrix from one decimal-exact
    aggregation pass, then the 2×2 eigenvalues in closed form
    (λ = (tr ± sqrt(tr² − 4·det)) / 2) — no iterative solver, no
    MLlib fit, and the whole computation is a single map-side-combined
    groupBy whose output is three rows.

    Engine parity: the five power sums accumulate as DECIMAL products
    of DECIMAL(18,2) quantizations (order-independent, exact — the
    internal scaled products stay far under int64, see the
    DuckDB-fast-path note in the repo gotchas); sums convert exactly
    to double at tested scales (unscaled values < 2⁵³), and every
    subsequent op is IEEE-identical division/sqrt, rounded to 6."""
    li = read_testdata_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    var_x = (F.col("sxx") - F.col("sx") * F.col("sx") / nd) / (nd - 1)
    var_y = (F.col("syy") - F.col("sy") * F.col("sy") / nd) / (nd - 1)
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / nd) / (nd - 1)
    tr = var_x + var_y
    disc = F.sqrt(
        (var_x - var_y) * (var_x - var_y) + F.lit(4.0) * cov * cov
    )
    l1 = (tr + disc) / F.lit(2.0)
    l2 = (tr - disc) / F.lit(2.0)
    return agg.select(
        "l_returnflag",
        "n",
        F.round(var_x, 6).alias("var_x"),
        F.round(var_y, 6).alias("var_y"),
        F.round(cov, 6).alias("cov_xy"),
        F.round(l1, 6).alias("lambda1"),
        F.round(l2, 6).alias("lambda2"),
        F.round(l1 / tr, 6).alias("explained_ratio"),
    ).orderBy("l_returnflag")


_PCA_ORACLE = """
WITH agg AS (
  SELECT l_returnflag,
         count(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
), m AS (
  SELECT l_returnflag, n,
         (sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)
           AS var_x,
         (syy - sy * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)
           AS var_y,
         (sxy - sx * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)
           AS cov_xy
  FROM agg
), e AS (
  SELECT *,
         var_x + var_y AS tr,
         sqrt((var_x - var_y) * (var_x - var_y)
              + 4.0 * cov_xy * cov_xy) AS disc
  FROM m
)
SELECT l_returnflag, n,
       round(var_x, 6) AS var_x,
       round(var_y, 6) AS var_y,
       round(cov_xy, 6) AS cov_xy,
       round((tr + disc) / 2.0, 6) AS lambda1,
       round((tr - disc) / 2.0, 6) AS lambda2,
       round(((tr + disc) / 2.0) / tr, 6) AS explained_ratio
FROM e
ORDER BY l_returnflag
"""


# --------------------- DAU/WAU stickiness ---------------------


def q_events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly engagement stickiness per event type: average daily
    distinct users over weekly distinct users (the DAU/MAU shape at
    week granularity — the events table spans ~30 days).

    Two exact distinct aggregations over one scan — the daily and
    weekly distinct sets are different cardinalities, so neither can
    be derived from the other without storing user sets; both
    aggregations partition by (event_type, week[, day]), so the join
    that zips them is between two already-reduced frames."""
    e = read_testdata_table(spark, sf_dir, "events")
    # keyed feeds two aggregations and is deliberately NOT
    # checkpointed: it is raw-event-sized, so materializing it costs
    # more than the second column-pruned scan (the CUPED rationale);
    # both branches prune to the same three columns at the source
    keyed = e.select(
        "event_type",
        day_bucket("ts").alias("day"),
        "user_id",
    ).withColumn("week", F.expr("day div 7"))
    daily = (
        keyed.groupBy("event_type", "week", "day")
        .agg(F.count_distinct("user_id").alias("dau"))
        .groupBy("event_type", "week")
        .agg(
            F.count(F.lit(1)).alias("days_active"),
            F.sum("dau").alias("dau_total"),
        )
    )
    weekly = keyed.groupBy("event_type", "week").agg(
        F.count_distinct("user_id").alias("wau")
    )
    avg_dau = F.col("dau_total").cast("double") / F.col(
        "days_active"
    ).cast("double")
    return (
        daily.join(weekly, ["event_type", "week"])
        .select(
            "event_type",
            "week",
            "days_active",
            F.round(avg_dau, 6).alias("avg_dau"),
            "wau",
            F.round(avg_dau / F.col("wau").cast("double"), 6).alias(
                "stickiness"
            ),
        )
        .orderBy("event_type", "week")
    )


_STICKINESS_ORACLE = f"""
WITH keyed AS (
  SELECT event_type,
         {day_bucket_sql('ts')} AS day,
         ({day_bucket_sql('ts')}) // 7 AS week,
         user_id
  FROM events
), daily AS (
  SELECT event_type, week, day, count(DISTINCT user_id) AS dau
  FROM keyed GROUP BY 1, 2, 3
), per_week AS (
  SELECT event_type, week,
         CAST(count(*) AS BIGINT) AS days_active,
         CAST(sum(dau) AS BIGINT) AS dau_total
  FROM daily GROUP BY 1, 2
), weekly AS (
  SELECT event_type, week, count(DISTINCT user_id) AS wau
  FROM keyed GROUP BY 1, 2
)
SELECT p.event_type, p.week, p.days_active,
       round(CAST(p.dau_total AS DOUBLE) / CAST(p.days_active AS DOUBLE), 6)
         AS avg_dau,
       w.wau,
       round(CAST(p.dau_total AS DOUBLE) / CAST(p.days_active AS DOUBLE)
             / CAST(w.wau AS DOUBLE), 6) AS stickiness
FROM per_week p
JOIN weekly w USING (event_type, week)
ORDER BY event_type, week
"""


# --------------------- calendar linear interpolation ---------------------


def q_events_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily spend series with missing calendar days filled
    by linear interpolation between the nearest observed days (no
    extrapolation — each user's span runs first-activity to
    last-activity, so both endpoints are anchors).

    Scale shape: the calendar explode is bounded by users × span-days
    (the DATE RANGE, not the event count); every window partitions by
    user_id, so state is one user's series — no global ordering
    anywhere. Daily sums quantize to DECIMAL(18,6) for
    order-independent accumulation before the float interpolation."""
    e = read_testdata_table(spark, sf_dir, "events")
    # the daily aggregate feeds two plan references (span + calendar
    # join) — one lazy checkpoint or the raw event scan runs twice
    daily = e.groupBy(
        "user_id", day_bucket("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("v")
    ).localCheckpoint(eager=False)
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    cal = span.select(
        "user_id", F.explode(F.sequence("lo", "hi")).alias("day")
    )
    j = cal.join(daily, ["user_id", "day"], "left")
    back = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    fwd = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, W.unboundedFollowing)
    )
    anchor_day = F.when(F.col("v").isNotNull(), F.col("day"))
    w = (
        j.withColumn("pv", F.last("v", ignorenulls=True).over(back))
        .withColumn("pd", F.last(anchor_day, ignorenulls=True).over(back))
        .withColumn("nv", F.first("v", ignorenulls=True).over(fwd))
        .withColumn("nd", F.first(anchor_day, ignorenulls=True).over(fwd))
    )
    frac = (F.col("day") - F.col("pd")).cast("double") / (
        F.col("nd") - F.col("pd")
    ).cast("double")
    filled = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        F.col("pv") + (F.col("nv") - F.col("pv")) * frac
    )
    return w.select(
        "user_id",
        "day",
        F.round(filled, 6).alias("value_filled"),
        F.col("v").isNull().cast("long").alias("interpolated"),
    )


_INTERP_ORACLE = f"""
WITH daily AS (
  SELECT user_id,
         {day_bucket_sql('ts')} AS day,
         CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
), span AS (
  SELECT user_id, min(day) AS lo, max(day) AS hi FROM daily GROUP BY 1
), cal AS (
  SELECT user_id, unnest(generate_series(lo, hi)) AS day FROM span
), j AS (
  SELECT c.user_id, c.day, d.v
  FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
), w AS (
  SELECT user_id, day, v,
    last_value(v IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY day
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY day
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
    first_value(v IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY day
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY day
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM j
)
SELECT user_id, day,
       round(CASE WHEN v IS NOT NULL THEN v
                  ELSE pv + (nv - pv)
                       * (CAST(day - pd AS DOUBLE)
                          / CAST(nd - pd AS DOUBLE)) END, 6)
         AS value_filled,
       CAST(v IS NULL AS BIGINT) AS interpolated
FROM w
"""


# --------------------- sequential-fold family ---------------------
#
# Linear recurrences (clamped balances, exponential smoothing) are NOT
# window-expressible — each output depends on the previous OUTPUT, not
# the previous input. The scalable Spark shape for per-key bounded
# series: collect the key's day-ordered series into an array (bounded
# by the DATE RANGE, not event count) and run the recurrence as a
# higher-order-function fold inside codegen — no Python UDF, no
# driver loop. The DuckDB oracle replays the identical fold via
# list_reduce with the seed prepended (DuckDB 1.0 list_reduce takes no
# initial accumulator), so both engines execute the same IEEE op
# sequence in the same order.

_BURN = 100.0  # daily spend threshold: ~the median per-user daily sum


def q_events_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user wallet simulation: daily net delta (spend − burn)
    folded in day order with the balance clamped at zero — the
    inventory/credit recurrence b_t = max(0, b_{t-1} + d_t), with the
    running peak carried in the same fold."""
    e = read_testdata_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", day_bucket("ts").alias("day")
    ).agg(
        (
            F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)"))
            .cast("double")
            - F.lit(_BURN)
        ).alias("dv")
    )
    series = daily.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("day", "dv"))).alias("xs")
    )
    folded = series.select(
        "user_id",
        F.size("xs").alias("n_days").cast("long"),
        F.aggregate(
            "xs",
            F.struct(
                F.lit(0.0).alias("bal"), F.lit(0.0).alias("peak")
            ),
            lambda acc, x: F.struct(
                F.greatest(acc.bal + x.dv, F.lit(0.0)).alias("bal"),
                F.greatest(
                    acc.peak, F.greatest(acc.bal + x.dv, F.lit(0.0))
                ).alias("peak"),
            ),
        ).alias("st"),
    )
    return folded.select(
        "user_id",
        "n_days",
        F.round(F.col("st.bal"), 6).alias("final_balance"),
        F.round(F.col("st.peak"), 6).alias("peak_balance"),
    )


_CLAMPED_ORACLE = f"""
WITH daily AS (
  SELECT user_id,
         {day_bucket_sql('ts')} AS day,
         CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE)
           - {_BURN!r} AS dv
  FROM events GROUP BY 1, 2
), series AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_days,
         list_prepend([0.0::DOUBLE, 0.0::DOUBLE],
                      list([dv] ORDER BY day)) AS xs
  FROM daily GROUP BY user_id
), folded AS (
  SELECT user_id, n_days,
         list_reduce(xs, (a, x) ->
           [greatest(a[1] + x[1], 0.0),
            greatest(a[2], greatest(a[1] + x[1], 0.0))]) AS st
  FROM series
)
SELECT user_id, n_days,
       round(st[1], 6) AS final_balance,
       round(st[2], 6) AS peak_balance
FROM folded
"""


def q_events_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing over each event type's daily
    count series (alpha=0.5, beta=0.3; level seeded at the first
    observation, trend at zero): final level/trend state plus the
    one-step-ahead forecast. Same fold shape as the clamped balance —
    the two-component state rides a struct accumulator."""
    e = read_testdata_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", day_bucket("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("nd"))
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "nd"))).alias("xs")
    )

    def _step(acc, x):
        lnew = F.lit(0.5) * x.nd + F.lit(0.5) * (acc.level + acc.trend)
        return F.struct(
            lnew.alias("level"),
            (F.lit(0.3) * (lnew - acc.level) + F.lit(0.7) * acc.trend).alias(
                "trend"
            ),
        )

    folded = series.select(
        "event_type",
        F.size("xs").cast("long").alias("n_days"),
        F.aggregate(
            F.slice(
                "xs", 2, F.greatest(F.size("xs") - 1, F.lit(0))
            ),
            F.struct(
                F.element_at("xs", 1).nd.alias("level"),
                F.lit(0.0).alias("trend"),
            ),
            _step,
        ).alias("st"),
    )
    return folded.select(
        "event_type",
        "n_days",
        F.round(F.col("st.level"), 6).alias("level"),
        F.round(F.col("st.trend"), 6).alias("trend"),
        F.round(F.col("st.level") + F.col("st.trend"), 6).alias(
            "forecast_next"
        ),
    ).orderBy("event_type")


_HOLT_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         {day_bucket_sql('ts')} AS day,
         CAST(count(*) AS DOUBLE) AS nd
  FROM events GROUP BY 1, 2
), series AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         list([nd] ORDER BY day) AS xs
  FROM daily GROUP BY event_type
), folded AS (
  SELECT event_type, n_days,
         list_reduce(
           list_prepend([xs[1][1], 0.0::DOUBLE], xs[2:]),
           (a, x) ->
             [0.5 * x[1] + 0.5 * (a[1] + a[2]),
              0.3 * ((0.5 * x[1] + 0.5 * (a[1] + a[2])) - a[1])
                + 0.7 * a[2]]) AS st
  FROM series
)
SELECT event_type, n_days,
       round(st[1], 6) AS level,
       round(st[2], 6) AS trend,
       round(st[1] + st[2], 6) AS forecast_next
FROM folded
ORDER BY event_type
"""


def q_events_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running-peak drawdown over the cumulative daily net
    series — unlike the clamp/Holt recurrences this IS
    window-expressible (prefix sum, prefix max, max gap), so it stays
    in ordered windows partitioned by user: state is one user's
    bounded series. All prefix sums accumulate in DECIMAL (a prefix in
    day order is a fixed sequence, but decimal keeps it exact and
    engine-identical); floats appear only at the rounded output."""
    e = read_testdata_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", day_bucket("ts").alias("day")
    ).agg(
        (
            F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)"))
            - F.lit(_BURN).cast("decimal(18,6)")
        ).alias("dv")
    )
    w = W.partitionBy("user_id").orderBy("day").rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = (
        daily.withColumn("cum", F.sum("dv").over(w))
        .withColumn("peak", F.max(F.col("cum")).over(w))
        .withColumn("dd", F.col("peak") - F.col("cum"))
    )
    return cum.groupBy("user_id").agg(
        F.round(F.max_by("cum", "day").cast("double"), 6).alias(
            "final_balance"
        ),
        F.round(F.max("peak").cast("double"), 6).alias("peak_balance"),
        F.round(F.max("dd").cast("double"), 6).alias("max_drawdown"),
    )


_DRAWDOWN_ORACLE = f"""
WITH daily AS (
  SELECT user_id,
         {day_bucket_sql('ts')} AS day,
         SUM(CAST(round(value, 6) AS DECIMAL(18,6)))
           - CAST({_BURN!r} AS DECIMAL(18,6)) AS dv
  FROM events GROUP BY 1, 2
), c AS (
  SELECT user_id, day,
         SUM(dv) OVER (PARTITION BY user_id ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM daily
), p AS (
  SELECT user_id, day, cum,
         MAX(cum) OVER (PARTITION BY user_id ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS peak
  FROM c
)
SELECT user_id,
       round(CAST(max_by(cum, day) AS DOUBLE), 6) AS final_balance,
       round(CAST(max(peak) AS DOUBLE), 6) AS peak_balance,
       round(CAST(max(peak - cum) AS DOUBLE), 6) AS max_drawdown
FROM p GROUP BY user_id
"""


def q_stats_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return class
    (operators/weighted_quantile.py:weighted_median — range-bucketed
    prefix weights; the ordered window runs only inside the single
    crossing bucket, never over a whole group)."""
    from ..operators.weighted_quantile import weighted_median

    li = read_testdata_table(spark, sf_dir, "lineitem")
    return weighted_median(
        li,
        group="l_returnflag",
        val="l_extendedprice",
        weight_expr=F.col("l_quantity").cast("decimal(18,2)"),
        buckets=128,
    ).orderBy("l_returnflag")


_WMEDIAN_ORACLE = """
WITH pairs AS (
  SELECT l_returnflag AS g, l_extendedprice AS v,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS w
  FROM lineitem GROUP BY 1, 2
), c AS (
  SELECT g, v, w,
         SUM(w) OVER (PARTITION BY g ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(w) OVER (PARTITION BY g) AS total
  FROM pairs
)
SELECT g AS l_returnflag,
       min(v) AS weighted_median,
       CAST(max(total) AS DOUBLE) AS total_weight
FROM c
WHERE 2 * cum >= total
GROUP BY g
ORDER BY l_returnflag
"""


QUERIES = [
    QuerySpec(
        "skyline_dominance",
        q_skyline_dominance,
        _SKYLINE_ORACLE,
        "Exact 2-D Pareto skyline via range-bucketed prefix minima",
    ),
    QuerySpec(
        "stats_pca_2d",
        q_stats_pca_2d,
        _PCA_ORACLE,
        "Closed-form 2x2 covariance eigendecomposition per group",
    ),
    QuerySpec(
        "events_stickiness",
        q_events_stickiness,
        _STICKINESS_ORACLE,
        "Weekly DAU/WAU stickiness per event type",
    ),
    QuerySpec(
        "events_linear_interpolation",
        q_events_linear_interpolation,
        _INTERP_ORACLE,
        "Per-user calendar gap-fill with linear interpolation",
    ),
    QuerySpec(
        "events_clamped_balance",
        q_events_clamped_balance,
        _CLAMPED_ORACLE,
        "Zero-clamped wallet recurrence via codegen array fold",
    ),
    QuerySpec(
        "events_holt_smoothing",
        q_events_holt_smoothing,
        _HOLT_ORACLE,
        "Holt double-exponential smoothing as a struct-state fold",
    ),
    QuerySpec(
        "events_max_drawdown",
        q_events_max_drawdown,
        _DRAWDOWN_ORACLE,
        "Running-peak drawdown from decimal-exact prefix windows",
    ),
    QuerySpec(
        "stats_weighted_median",
        q_stats_weighted_median,
        _WMEDIAN_ORACLE,
        "Weighted median via range-bucketed prefix weights",
    ),
]
