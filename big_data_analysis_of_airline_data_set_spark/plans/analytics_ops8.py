"""Decision-support analytics catalog, wave 14: event-time disorder
audit (the batch measurement behind a streaming watermark choice)
and a one-way ANOVA F table.

No reference analogue (mosama1994 Scripts/1-2 are single-table).
Catalog contract as everywhere: integer/decimal-exact accumulation,
IEEE-identical float division, round(6) statistics.

Both entries enter the correctness window by ledger
age (see ``plans/__init__.correctness_window``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..sources.readers import read_testdata_table
from .spec import US_SEC, QuerySpec



# ------------- event-time disorder audit -------------


def q_events_disorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit per event type: treating event_id as
    arrival order, how far do event times run behind the running
    event-time high-water mark? Reports the late fraction and the
    max/mean lateness — EXACTLY the numbers that justify a
    structured-streaming watermark delay (`withWatermark("ts", X)`)
    instead of guessing X.

    Engine parity: lateness = clamped (running max − ts) in exact
    integer micros; the running max is an ordered prefix window on
    (event_id) — unique, so engine-deterministic. Scale shape: the
    window partitions by event_type (per-type arrival streams);
    state is one type's ordered frame, and at 100 TB arrival order
    would partition further by ingest shard."""
    e = read_testdata_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    us = F.unix_micros(F.col("ts"))
    # each type's FIRST arrival has no prior high-water mark: drop it
    # BEFORE the clamp — greatest(0, NULL) is engine-divergent
    # (Spark's greatest skips NULLs), so the NULL must never reach it
    lat = (
        e.select(
            "event_type",
            us.alias("us"),
            F.max(us).over(w).alias("prev_max"),
        )
        .filter(F.col("prev_max").isNotNull())
        .select(
            "event_type",
            F.greatest(
                F.lit(0).cast("long"), F.col("prev_max") - F.col("us")
            ).alias("late_us"),
        )
    )
    return (
        lat.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_arrivals"),
            F.sum((F.col("late_us") > 0).cast("long")).alias("n_late"),
            F.round(
                F.sum((F.col("late_us") > 0).cast("long")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("late_frac"),
            (F.max("late_us") / F.lit(US_SEC))
            .cast("double")
            .alias("max_lateness_s"),
            F.round(
                F.sum("late_us").cast("double")
                / F.lit(float(US_SEC))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_lateness_s"),
        )
        .orderBy("event_type")
    )


_DISORDER_ORACLE = f"""
WITH marked AS (
  SELECT event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         max(epoch_us(CAST(ts AS TIMESTAMP))) OVER
           (PARTITION BY event_type ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM events
), lat AS (
  SELECT event_type,
         greatest(CAST(0 AS BIGINT), prev_max - us) AS late_us
  FROM marked WHERE prev_max IS NOT NULL
)
SELECT event_type,
       count(*) AS n_arrivals,
       CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late,
       round(CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS late_frac,
       CAST(max(late_us) AS DOUBLE) / {float(US_SEC)!r} AS max_lateness_s,
       round(CAST(SUM(late_us) AS DOUBLE) / {float(US_SEC)!r}
             / CAST(count(*) AS DOUBLE), 6) AS mean_lateness_s
FROM lat
GROUP BY event_type
ORDER BY event_type
"""


# ------------- one-way ANOVA F -------------


def q_stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order value across the five order
    priorities: between/within sums of squares from ONE exact
    power-sum pass, the F statistic, and each group's mean — the
    k-group generalization of the catalog's Welch pair test.

    Engine parity: per-group n/Σx/Σx² accumulate with DECIMAL
    quantization (order-independent); SSB/SSW derive by
    IEEE-identical arithmetic; degenerate inputs (k < 2 or n ≤ k)
    yield NULL F via nullif. The grand aggregation runs over the
    k-row group frame, never a second fact scan."""
    orders = read_testdata_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice").cast("decimal(18,2)")
    g = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum((x * x).cast("decimal(38,4)")).cast("double").alias("sxx"),
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


QUERIES = [
    QuerySpec(
        "events_disorder_audit",
        q_events_disorder_audit,
        _DISORDER_ORACLE,
        "Event-time lateness audit behind the watermark choice",
    ),
    QuerySpec(
        "stats_anova_oneway",
        q_stats_anova_oneway,
        _ANOVA_ORACLE,
        "One-way ANOVA F from one exact power-sum pass",
    ),
]
