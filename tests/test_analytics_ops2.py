"""Unit tests for the operators behind the 2-D Pareto skyline
(plans/patterns.py), closed-form 2-D PCA and the weighted median
(plans/statistics.py), and calendar linear interpolation, Holt
smoothing and the clamped-balance fold (plans/events_queries.py).
test_oracle_parity checks this file's catalog names against their
DuckDB oracles."""

from __future__ import annotations

import pytest

from big_data_analysis_of_airline_data_set_spark.plans import all_queries
from tests.oracle_harness import check_query

NEW_OPS = [
    "tpch_q3_style",
    "tpch_q5_style",
    "skyline_dominance",
    "stats_pca_2d",
    "events_stickiness",
    "events_linear_interpolation",
]


@pytest.mark.parametrize("name", NEW_OPS)
def test_oracle_parity(spark, name, sf_dir):
    check_query(spark, all_queries()[name], sf_dir)


# --------------------- skyline_2d units ---------------------


def _skyline(spark, rows, buckets=4):
    from big_data_analysis_of_airline_data_set_spark.operators.skyline import (
        skyline_2d,
    )

    df = spark.createDataFrame(rows, "x double, y long")
    out = skyline_2d(df, "x", "y", buckets=buckets)
    return sorted((r.x, r.y) for r in out.collect())


def test_skyline_basic_staircase(spark):
    # staircase (1,5) (2,3) (4,1) survives; interior points dominated
    rows = [(1.0, 5), (2.0, 3), (4.0, 1), (3.0, 4), (4.0, 5), (2.0, 7)]
    assert _skyline(spark, rows) == [(1.0, 5), (2.0, 3), (4.0, 1)]


def test_skyline_same_x_keeps_min_y_only(spark):
    rows = [(1.0, 5), (1.0, 2), (1.0, 9)]
    assert _skyline(spark, rows) == [(1.0, 2)]


def test_skyline_equal_y_at_larger_x_dominated(spark):
    # (2,3) is dominated by (1,3): x strictly larger, y equal
    rows = [(1.0, 3), (2.0, 3)]
    assert _skyline(spark, rows) == [(1.0, 3)]


def test_skyline_all_x_equal_single_bucket(spark):
    # zero-width x span exercises the width==0 guard
    rows = [(7.0, 4), (7.0, 2), (7.0, 8)]
    assert _skyline(spark, rows, buckets=8) == [(7.0, 2)]


def test_skyline_duplicates_collapse(spark):
    rows = [(1.0, 1), (1.0, 1), (2.0, 0), (2.0, 0)]
    assert _skyline(spark, rows) == [(1.0, 1), (2.0, 0)]


def test_skyline_bucket_count_invariance(spark):
    rows = [
        (float(x), (x * 7919) % 50 + (0 if x % 9 else -5) + 50)
        for x in range(1, 200)
    ]
    single = _skyline(spark, rows, buckets=1)
    assert single == _skyline(spark, rows, buckets=7)
    assert single == _skyline(spark, rows, buckets=64)


def test_skyline_rejects_bad_buckets(spark):
    from big_data_analysis_of_airline_data_set_spark.operators.skyline import (
        skyline_2d,
    )

    df = spark.createDataFrame([(1.0, 1)], "x double, y long")
    with pytest.raises(ValueError):
        skyline_2d(df, "x", "y", buckets=0)


# --------------------- pca closed form unit ---------------------


def test_pca_2d_matches_numpy(spark, sf_dir):
    import numpy as np

    pdf = all_queries()["stats_pca_2d"].fn(spark, sf_dir).toPandas()
    from big_data_analysis_of_airline_data_set_spark.sources.readers import (
        read_testdata_table,
    )

    li = (
        read_testdata_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .toPandas()
    )
    for _, row in pdf.iterrows():
        g = li[li.l_returnflag == row.l_returnflag]
        cov = np.cov(g.l_quantity, g.l_extendedprice, ddof=1)
        eig = np.sort(np.linalg.eigvalsh(cov))[::-1]
        assert row.lambda1 == pytest.approx(eig[0], rel=1e-6)
        assert row.lambda2 == pytest.approx(eig[1], rel=1e-6)
        assert row.explained_ratio == pytest.approx(
            eig[0] / eig.sum(), rel=1e-6
        )


# --------------------- interpolation unit ---------------------


def test_linear_interpolation_gap_math(spark):
    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.plans.events_queries import (
        q_events_linear_interpolation,
    )

    # indirect check on real data: every interpolated row sits between
    # its neighbors' anchor values on the line — verified directly on a
    # tiny hand case via the same operators the query composes
    df = spark.createDataFrame(
        [(1, 0, 10.0), (1, 3, 40.0), (1, 5, 0.0)],
        "user_id long, day long, v double",
    )
    from pyspark.sql.window import Window as W

    back = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cal = (
        df.groupBy("user_id")
        .agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select("user_id", F.explode(F.sequence("lo", "hi")).alias("day"))
        .join(df, ["user_id", "day"], "left")
    )
    assert cal.count() == 6
    # day1 = 10 + (40-10)*1/3 = 20, day2 = 30, day4 = 20
    fwd = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, W.unboundedFollowing)
    )
    anchor_day = F.when(F.col("v").isNotNull(), F.col("day"))
    w = (
        cal.withColumn("pv", F.last("v", ignorenulls=True).over(back))
        .withColumn("pd", F.last(anchor_day, ignorenulls=True).over(back))
        .withColumn("nv", F.first("v", ignorenulls=True).over(fwd))
        .withColumn("nd", F.first(anchor_day, ignorenulls=True).over(fwd))
    )
    filled = w.select(
        "day",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("day") - F.col("pd")).cast("double")
            / (F.col("nd") - F.col("pd")).cast("double")
        )
        .alias("value_filled"),
    )
    got = {r.day: r.value_filled for r in filled.collect()}
    assert got == {0: 10.0, 1: 20.0, 2: 30.0, 3: 40.0, 4: 20.0, 5: 0.0}


# --------------------- wave-6: sequential folds ---------------------
# Oracle parity of the wave-6 queries is test_query_matches_oracle's.


def test_holt_matches_python_reference(spark, sf_dir):
    from big_data_analysis_of_airline_data_set_spark.sources.readers import (
        read_testdata_table,
    )
    from pyspark.sql import functions as F

    pdf = all_queries()["events_holt_smoothing"].fn(spark, sf_dir).toPandas()
    daily = (
        read_testdata_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    for _, row in pdf.iterrows():
        xs = (
            daily[daily.event_type == row.event_type]
            .sort_values("day")
            .n.astype(float)
            .tolist()
        )
        level, trend = xs[0], 0.0
        for x in xs[1:]:
            lnew = 0.5 * x + 0.5 * (level + trend)
            trend = 0.3 * (lnew - level) + 0.7 * trend
            level = lnew
        assert row.n_days == len(xs)
        assert row.level == pytest.approx(level, abs=1e-6)
        assert row.trend == pytest.approx(trend, abs=1e-6)


def test_clamped_balance_matches_python_reference(spark, sf_dir):
    from big_data_analysis_of_airline_data_set_spark.sources.readers import (
        read_testdata_table,
    )
    from pyspark.sql import functions as F

    pdf = (
        all_queries()["events_clamped_balance"].fn(spark, sf_dir).toPandas()
    )
    daily = (
        read_testdata_table(spark, sf_dir, "events")
        .groupBy(
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
        .agg(
            (
                F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)"))
                .cast("double")
                - F.lit(100.0)
            ).alias("dv")
        )
        .toPandas()
    )
    sample = pdf.sample(n=min(25, len(pdf)), random_state=7)
    for _, row in sample.iterrows():
        dvs = (
            daily[daily.user_id == row.user_id]
            .sort_values("day")
            .dv.tolist()
        )
        bal = peak = 0.0
        for d in dvs:
            bal = max(bal + d, 0.0)
            peak = max(peak, bal)
        assert row.final_balance == pytest.approx(bal, abs=1e-6)
        assert row.peak_balance == pytest.approx(peak, abs=1e-6)


def test_weighted_median_bucket_invariance_and_ties(spark):
    from decimal import Decimal

    from big_data_analysis_of_airline_data_set_spark.operators.weighted_quantile import (
        weighted_median,
    )
    from pyspark.sql import functions as F

    rows = [
        ("a", 1.0, 1), ("a", 2.0, 1), ("a", 3.0, 1),   # odd: median 2
        ("b", 1.0, 1), ("b", 2.0, 1),                   # even: lower median 1
        ("c", 5.0, 10), ("c", 100.0, 1),                # weight-skew: 5
        ("d", 4.0, 2), ("d", 4.0, 2), ("d", 9.0, 1),    # dup values collapse
    ]
    df = spark.createDataFrame(rows, "g string, v double, q long")
    for buckets in (1, 3, 128):
        out = {
            r.g: (r.weighted_median, r.total_weight)
            for r in weighted_median(
                df, "g", "v", F.col("q").cast("decimal(18,2)"), buckets
            ).collect()
        }
        assert out == {
            "a": (2.0, 3.0),
            "b": (1.0, 2.0),
            "c": (5.0, 11.0),
            "d": (4.0, 5.0),
        }, f"buckets={buckets}"


def test_weighted_median_rejects_bad_buckets(spark):
    from big_data_analysis_of_airline_data_set_spark.operators.weighted_quantile import (
        weighted_median,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a", 1.0, 1)], "g string, v double, q long")
    with pytest.raises(ValueError):
        weighted_median(df, "g", "v", F.col("q").cast("decimal(18,2)"), 0)
