"""Decision-support analytics catalog, wave 15: per-segment uplift
readout over the md5 hash split and ABC (80/15/5) revenue
classification on the bucketed-prefix cumulative (the fourth
instance of the range-bucket decomposition).

No reference analogue (mosama1994 Scripts/1-2 are single-table).
Catalog contract as everywhere: integer/decimal-exact accumulation,
IEEE-identical float division, round(6) statistics.

Both entries enter the correctness window by ledger
age (see ``plans/__init__.correctness_window``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.ab_assignment import (
    md5_parity_arm_sql as _arm_sql,
)
from ..sources.readers import read_testdata_table
from .spec import QuerySpec

_Z_ALPHA = 1.959964  # pinned two-sided 95% z (no libm quantile)


# ------------- per-segment uplift over the hash split -------------


def q_events_uplift_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous 'treatment' readout: per event type (the
    segment), the A−B difference of per-user mean spend across the
    md5-parity arms with a pooled two-sample standard error — the
    segment-drilldown table read after the top-line A/B result
    (same assignment as stats_srm_check, so the two entries
    cross-validate).

    Engine parity: per-user sums quantize to DECIMAL(18,6); each
    arm's mean/variance derives from one exact power-sum pass (v²
    operands widened to (19,6) on the oracle side per the int64
    fast-path gotcha); z is pinned. Degenerate arms yield NULLs via
    nullif. Scale shape: one groupBy to user grain, one to
    (segment, arm) — 2 rows per segment — then a pivot-style
    conditional fold to one row per segment."""
    from ..functions.ab_assignment import md5_parity_arm

    ev = read_testdata_table(spark, sf_dir, "events")
    arm = md5_parity_arm(F.col("user_id"))
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)")).alias("v")
    )
    per_arm = per_user.select(
        "event_type", arm.alias("arm"), "v"
    ).groupBy("event_type", "arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").cast("double").alias("sv"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,12)"))
        .cast("double")
        .alias("svv"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("sv") / nd
    # clamp at zero: an all-equal arm computes a tiny NEGATIVE
    # variance by float cancellation — DuckDB's sqrt RAISES on it
    var = F.greatest(
        (F.col("svv") - F.col("sv") * F.col("sv") / nd)
        / F.nullif(nd - F.lit(1.0), F.lit(0.0)),
        F.lit(0.0),
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
        (F.abs(delta) > F.lit(_Z_ALPHA) * se).alias("significant"),
    ).orderBy("event_type")


_UPLIFT_ORACLE = f"""
WITH per_user AS (
  SELECT event_type, user_id,
         SUM(CAST(round(value, 6) AS DECIMAL(18,6))) AS v
  FROM events GROUP BY 1, 2
), per_arm AS (
  SELECT event_type,
         {_arm_sql('user_id')} AS arm,
         count(*) AS n,
         CAST(SUM(v) AS DOUBLE) AS sv,
         CAST(SUM(CAST(v AS DECIMAL(19,6)) * CAST(v AS DECIMAL(19,6)))
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
       abs(m_a - m_b) > {_Z_ALPHA!r} * sqrt(vn_a + vn_b) AS significant
FROM folded
ORDER BY event_type
"""


# ------------- ABC revenue classification -------------


def q_orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification of parts by lineitem revenue:
    accumulate revenue share in descending-revenue order and class
    A = first 80% of revenue, B = next 15%, C = the tail. Reports
    the class sizes and revenue shares — the 'how concentrated is
    my catalog' table.

    Engine parity: cumulative shares compare DECIMAL cum sums
    against DECIMAL thresholds of the exact total (5·cum vs 4·total,
    20·cum vs 19·total — integer multiples, no float thresholds);
    ties break on part key. Scale shape: the descending cumulative
    is the bucketed-prefix decomposition AGAIN (fourth instance) —
    per-bucket DECIMAL sums chain on the 64-row bucket frame, and
    the ordered window runs only WITHIN a bucket, so no whole-parts
    single-partition sort exists anywhere in the plan."""
    from ..operators.range_bucket import with_range_bucket

    li = read_testdata_table(spark, sf_dir, "lineitem")
    # rev feeds the bucketing twice (bounds + rows) via the helper
    rev = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias(
                "rev"
            )
        )
        .localCheckpoint(eager=False)
    )
    bucketed = with_range_bucket(rev, "rev", 64, descending=True)
    per_bucket = bucketed.groupBy("_b").agg(F.sum("rev").alias("_wb"))
    off_w = W.orderBy("_b").rowsBetween(W.unboundedPreceding, -1)
    tot_w = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    offsets = per_bucket.select(
        "_b",
        F.coalesce(
            F.sum("_wb").over(off_w), F.lit(0).cast("decimal(38,2)")
        ).alias("_carry"),
        F.sum("_wb").over(tot_w).alias("tot"),
    )
    in_w = (
        W.partitionBy("_b")
        .orderBy(F.desc("rev"), F.asc("l_partkey"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    classed = (
        bucketed.join(F.broadcast(offsets), "_b")
        .select(
            "l_partkey",
            "rev",
            (F.col("_carry") + F.sum("rev").over(in_w)).alias("cum"),
            "tot",
        )
    ).select(
        "l_partkey",
        "rev",
        F.when(
            F.lit(5) * F.col("cum") <= F.lit(4) * F.col("tot"), F.lit("A")
        )
        .when(
            F.lit(20) * F.col("cum") <= F.lit(19) * F.col("tot"), F.lit("B")
        )
        .otherwise(F.lit("C"))
        .alias("abc_class"),
        "tot",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(
                F.sum("rev").cast("double") / F.max("tot").cast("double"), 6
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


_ABC_ORACLE = """
WITH rev AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
  FROM lineitem GROUP BY 1
), ranked AS (
  SELECT l_partkey, rev,
         SUM(rev) OVER (ORDER BY rev DESC, l_partkey ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(rev) OVER () AS tot
  FROM rev
), classed AS (
  SELECT l_partkey, rev, tot,
         CASE WHEN 5 * cum <= 4 * tot THEN 'A'
              WHEN 20 * cum <= 19 * tot THEN 'B'
              ELSE 'C' END AS abc_class
  FROM ranked
)
SELECT abc_class, count(*) AS n_parts,
       round(CAST(SUM(rev) AS DOUBLE) / CAST(max(tot) AS DOUBLE), 6)
         AS revenue_share
FROM classed
GROUP BY abc_class
ORDER BY abc_class
"""


QUERIES = [
    QuerySpec(
        "events_uplift_by_segment",
        q_events_uplift_by_segment,
        _UPLIFT_ORACLE,
        "Per-segment A/B uplift with pooled SE on the md5 split",
    ),
    QuerySpec(
        "orders_abc_classification",
        q_orders_abc_classification,
        _ABC_ORACLE,
        "ABC 80/15/5 revenue classes, bucketed-prefix cumulative",
    ),
]
