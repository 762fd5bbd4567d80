"""Third relational slice: GROUPING SETS, the datetime scalar family,
higher statistical moments, and explicit window frames (RANGE vs ROWS,
first/last/nth value).

The reference uses none of these directly (SURVEY.md §2.4 notes "no
grouping sets / cube / rollup"; §2.8 notes date/time functions are
imported but never executed — calendar fields arrive pre-materialized as
int columns). A complete engine must still provide them: the reference's
`Year/Quarter/Month/DayofMonth/DayOfWeek` columns are exactly what the
datetime family derives from a real timestamp, and the viz rollups
(SURVEY.md §2.4 A5–A9) generalize to grouping sets.

Scale notes: every query here is a single scan → (optional) single
hash-aggregate or window shuffle. GROUPING SETS expands the input ×
|sets| at the partial-agg stage (Spark's Expand operator) — map-side
partial aggregation still applies, so the shuffle carries only group
keys. Window queries shuffle once on the partition key; frames are
evaluated with a running accumulator (RANGE) or ring buffer (ROWS), no
extra pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.readers import read_testdata_table
from .spec import QuerySpec


# --- GROUPING SETS ----------------------------------------------------------


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((status), (year), ()) with per-column grouping()
    flags — the general form of which CUBE/ROLLUP are special cases.
    Uses the native DataFrame.groupingSets API (Spark 4.0+)."""
    o = read_testdata_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("long")
    )
    return o.groupingSets(
        [["o_orderstatus"], ["o_year"], []], "o_orderstatus", "o_year"
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_year").cast("long").alias("g_year"),
    )


_GROUPING_SETS_ORACLE = """
SELECT o_orderstatus,
       year(o_orderdate) AS o_year,
       count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
       CAST(GROUPING(year(o_orderdate)) AS BIGINT) AS g_year
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (year(o_orderdate)), ())
"""


# --- datetime scalar family -------------------------------------------------


def q_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar/timestamp family over events.ts: field extraction,
    ISO day-of-week, truncation, month boundaries, epoch seconds.

    Derives at query time what the reference pre-materializes as int
    columns (Year/Quarter/Month/DayofMonth/DayOfWeek — SURVEY.md §1.3).
    Session timezone is pinned UTC so epoch math is engine-independent.
    Spark's dayofweek() is Sunday=1 and DuckDB's is Sunday=0, so both
    sides use the ISO convention instead (weekday()+1 == isodow())."""
    e = read_testdata_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("mo"),
        F.dayofmonth("ts").cast("long").alias("dom"),
        F.hour("ts").cast("long").alias("hr"),
        F.minute("ts").cast("long").alias("mi"),
        F.second("ts").cast("long").alias("sec"),
        (F.weekday("ts") + F.lit(1)).cast("long").alias("dow_iso"),
        F.weekofyear("ts").cast("long").alias("iso_week"),
        F.dayofyear("ts").cast("long").alias("doy"),
        F.quarter("ts").cast("long").alias("qtr"),
        F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
            "week_start"
        ),
        F.date_format(F.last_day("ts"), "yyyy-MM-dd").alias("month_end"),
        F.unix_timestamp("ts").alias("epoch_s"),
    )


_DATETIME_ORACLE = """
SELECT event_id,
       CAST(year(ts) AS BIGINT) AS y,
       CAST(month(ts) AS BIGINT) AS mo,
       CAST(day(ts) AS BIGINT) AS dom,
       CAST(hour(ts) AS BIGINT) AS hr,
       CAST(minute(ts) AS BIGINT) AS mi,
       CAST(second(ts) AS BIGINT) AS sec,
       CAST(isodow(ts) AS BIGINT) AS dow_iso,
       CAST(weekofyear(ts) AS BIGINT) AS iso_week,
       CAST(dayofyear(ts) AS BIGINT) AS doy,
       CAST(quarter(ts) AS BIGINT) AS qtr,
       strftime(date_trunc('week', ts), '%Y-%m-%d %H:%M:%S') AS week_start,
       strftime(last_day(CAST(ts AS DATE)), '%Y-%m-%d') AS month_end,
       CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
FROM events
"""


# --- higher statistical moments --------------------------------------------


def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group higher moments: population stddev, skewness, excess
    kurtosis, covariance and regression slope/intercept.

    Skew/kurtosis are derived from raw power sums (E[x^k]) with the same
    closed-form arithmetic on both engines, because Spark's built-in
    skewness/kurtosis and DuckDB's use different bias corrections.
    Dimensionless outputs (skew, kurt, corr) round to 6; scale-carrying
    ones (sd ~ 1e4) to 3, keeping the comparison inside double
    precision. Single scan → single hash aggregate; the power sums all
    fold into one partial-agg pass."""
    o = read_testdata_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    agg = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(x).alias("m1"),
        F.avg(x * x).alias("m2r"),
        F.avg(x * x * x).alias("m3r"),
        F.avg(x * x * x * x).alias("m4r"),
        F.stddev_pop(x).alias("sd"),
        F.covar_pop(x, F.col("o_custkey")).alias("cv"),
        F.corr(x, F.col("o_custkey")).alias("cr"),
        F.regr_slope(x, F.col("o_custkey")).alias("slope"),
        F.regr_intercept(x, F.col("o_custkey")).alias("icept"),
    )
    mu, m2r, m3r, m4r = F.col("m1"), F.col("m2r"), F.col("m3r"), F.col("m4r")
    var = m2r - mu * mu
    m3 = m3r - 3 * mu * m2r + 2 * mu * mu * mu
    m4 = m4r - 4 * mu * m3r + 6 * mu * mu * m2r - 3 * mu * mu * mu * mu
    return agg.select(
        "o_orderstatus",
        "n",
        F.round(mu, 3).alias("mean_price"),
        F.round(F.col("sd"), 3).alias("sd_pop"),
        F.round(m3 / F.pow(var, 1.5), 6).alias("skew_pop"),
        F.round(m4 / (var * var) - 3, 6).alias("kurt_excess"),
        F.round(F.col("cv"), 3).alias("covar_custkey"),
        F.round(F.col("cr"), 6).alias("corr_custkey"),
        F.round(F.col("slope"), 6).alias("regr_slope"),
        F.round(F.col("icept"), 3).alias("regr_icept"),
    )


_MOMENTS_ORACLE = """
WITH agg AS (
  SELECT o_orderstatus,
         count(*) AS n,
         avg(o_totalprice) AS m1,
         avg(o_totalprice * o_totalprice) AS m2r,
         avg(o_totalprice * o_totalprice * o_totalprice) AS m3r,
         avg(o_totalprice * o_totalprice * o_totalprice * o_totalprice) AS m4r,
         stddev_pop(o_totalprice) AS sd,
         covar_pop(o_totalprice, o_custkey) AS cv,
         corr(o_totalprice, o_custkey) AS cr,
         regr_slope(o_totalprice, o_custkey) AS slope,
         regr_intercept(o_totalprice, o_custkey) AS icept
  FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, n,
       round(m1, 3) AS mean_price,
       round(sd, 3) AS sd_pop,
       round((m3r - 3*m1*m2r + 2*m1*m1*m1)
             / pow(m2r - m1*m1, 1.5), 6) AS skew_pop,
       round((m4r - 4*m1*m3r + 6*m1*m1*m2r - 3*m1*m1*m1*m1)
             / pow(m2r - m1*m1, 2) - 3, 6) AS kurt_excess,
       round(cv, 3) AS covar_custkey,
       round(cr, 6) AS corr_custkey,
       round(slope, 6) AS regr_slope,
       round(icept, 3) AS regr_icept
FROM agg
"""


# --- explicit window frames -------------------------------------------------


def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-frame semantics side by side: the default RANGE frame
    (peers share the cumulative value on order-key ties), an explicit
    3-row ROWS frame (moving sum/avg), and first/last/nth value over the
    full partition. Sums accumulate in DECIMAL so every frame value is
    byte-identical across engines; the ROWS ordering is made total with
    the o_orderkey tiebreak."""
    o = read_testdata_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    w_range = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    w_rows = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    w_full = (
        Window.partitionBy("o_custkey")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    mov_sum = F.sum(dec).over(w_rows).cast("double")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(dec).over(w_range).cast("double").alias("cum_price_range"),
        mov_sum.alias("mov_sum3"),
        (mov_sum / F.count(F.lit(1)).over(w_rows)).alias("mov_avg3"),
        F.first("o_orderkey").over(w_full).alias("best_order"),
        F.last("o_orderkey").over(w_full).alias("worst_order"),
        F.nth_value("o_orderkey", 2).over(w_full).alias("second_order"),
    )


_WINDOW_FRAMES_ORACLE = """
SELECT o_orderkey, o_custkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w_range AS DOUBLE)
         AS cum_price_range,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w_rows AS DOUBLE)
         AS mov_sum3,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w_rows AS DOUBLE)
         / count(*) OVER w_rows AS mov_avg3,
       first_value(o_orderkey) OVER w_full AS best_order,
       last_value(o_orderkey) OVER w_full AS worst_order,
       nth_value(o_orderkey, 2) OVER w_full AS second_order
FROM orders
WINDOW
  w_range AS (PARTITION BY o_custkey ORDER BY o_orderdate),
  w_rows AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
  w_full AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join with unmatched rows on BOTH sides: positive-
    balance customers vs per-customer order counts. Null-key coalesce on
    the output; missing counts surface as 0. Completes the join-type
    matrix alongside inner/semi/anti (relational.py)."""
    c = (
        read_testdata_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select("c_custkey", "c_name")
    )
    o = read_testdata_table(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_name",
        F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
    )


_FULL_OUTER_ORACLE = """
WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 0),
o AS (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey)
SELECT coalesce(c_custkey, o_custkey) AS custkey,
       c_name,
       CAST(coalesce(cnt, 0) AS BIGINT) AS n_orders
FROM c FULL JOIN o ON c_custkey = o_custkey
"""


def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column family (§2.8 notes Array/Map/JSON unused in the
    reference): create_map → element_at / size / sorted keys /
    map_filter+map_values. Maps are unordered, so every projected output
    is an order-pinned scalar (the oracle states the expected values in
    plain SQL — the contract is output equality, not engine mimicry)."""
    o = read_testdata_table(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("prio"), F.col("o_orderpriority"),
    )
    return o.select(
        "o_orderkey",
        F.element_at(m, "status").alias("status_val"),
        F.size(m).cast("long").alias("m_size"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
        F.element_at(
            F.map_values(F.map_filter(m, lambda k, _v: k == "prio")), 1
        ).alias("prio_val"),
    )


_MAP_ORACLE = """
SELECT o_orderkey,
       o_orderstatus AS status_val,
       CAST(2 AS BIGINT) AS m_size,
       'prio,status' AS keys_sorted,
       o_orderpriority AS prio_val
FROM orders
"""


def q_lateral_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode_outer (LATERAL VIEW OUTER): F-status orders fan out to
    one row per priority-string token with its position; other orders keep
    exactly one all-null row instead of disappearing — the left-outer
    semantics plain explode drops."""
    o = read_testdata_table(spark, sf_dir, "orders")
    arr = F.when(
        F.col("o_orderstatus") == "F", F.split("o_orderpriority", "-")
    ).otherwise(F.array().cast("array<string>"))
    return (
        o.select("o_orderkey", arr.alias("_arr"))
        .select("o_orderkey", F.posexplode_outer("_arr").alias("pos", "token"))
        .select("o_orderkey", F.col("pos").cast("long").alias("pos"), "token")
    )


_LATERAL_ORACLE = """
WITH base AS (
  SELECT o_orderkey,
         CASE WHEN o_orderstatus = 'F' THEN string_split(o_orderpriority, '-')
              ELSE [] END AS arr
  FROM orders
)
SELECT o_orderkey, u.pos, u.token
FROM base
LEFT JOIN LATERAL (
  SELECT CAST(g - 1 AS BIGINT) AS pos, arr[g] AS token
  FROM (SELECT unnest(generate_series(1, len(arr))) AS g)
) u ON true
"""


QUERIES: list[QuerySpec] = [
    QuerySpec(
        "map_functions", q_map_functions, _MAP_ORACLE,
        "map family: create/element_at/keys/values/filter, scalar outputs",
    ),
    QuerySpec(
        "lateral_explode", q_lateral_explode, _LATERAL_ORACLE,
        "posexplode_outer vs LEFT JOIN LATERAL unnest-with-position",
    ),
    QuerySpec(
        "join_full_outer", q_join_full_outer, _FULL_OUTER_ORACLE,
        "full-outer join, unmatched rows both sides, coalesced output",
    ),
    QuerySpec(
        "grouping_sets_agg", q_grouping_sets, _GROUPING_SETS_ORACLE,
        "GROUPING SETS with grouping() flags (native DataFrame API)",
    ),
    QuerySpec(
        "datetime_functions", q_datetime_functions, _DATETIME_ORACLE,
        "calendar/timestamp scalar family over events.ts",
    ),
    QuerySpec(
        "stats_moments", q_stats_moments, _MOMENTS_ORACLE,
        "stddev/skew/kurtosis/covar/regr per group from one agg pass",
    ),
    QuerySpec(
        "window_frames", q_window_frames, _WINDOW_FRAMES_ORACLE,
        "RANGE vs ROWS frames, first/last/nth_value",
    ),
]
