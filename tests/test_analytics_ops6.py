"""Oracle-parity + unit tests for funnel time-to-convert, the
windowed funnel and weekly cohort LTV (plans/events_queries.py), the
power analysis, SRM check and ratio-metric CI (plans/experiments.py),
the temperature mixture (plans/curation_queries.py) and the degree
histogram (plans/patterns.py)."""

from __future__ import annotations

import pytest

from big_data_analysis_of_airline_data_set_spark.plans import all_queries
from tests.oracle_harness import check_query

NEW_OPS = [
    "events_funnel_ttc",
    "stats_power_analysis",
    "events_cohort_ltv",
    "events_funnel_windowed",
    "curation_temperature_mixture",
    "graph_degree_histogram",
    "stats_srm_check",
    "stats_ratio_metric_ci",
]


@pytest.mark.parametrize("name", NEW_OPS)
def test_oracle_parity(spark, name, sf_dir):
    check_query(spark, all_queries()[name], sf_dir)


def test_ttc_converter_counts_match_funnel(spark, sf_dir):
    """Stage populations must equal the count funnel's step 2/3
    user counts (same reduction, different statistic)."""
    funnel = {
        r.stage: r.n_users
        for r in all_queries()["events_funnel"].fn(spark, sf_dir).collect()
    }
    ttc = {
        r.stage: r.n_converters
        for r in all_queries()["events_funnel_ttc"].fn(spark, sf_dir).collect()
    }
    assert ttc["view_to_click"] == funnel["click"]
    assert ttc["click_to_purchase"] == funnel["purchase"]


def test_windowed_funnel_bounded_by_unbounded(spark, sf_dir):
    """Each windowed step can never exceed its unbounded twin."""
    unb = {
        r.step: r.n_users
        for r in all_queries()["events_funnel"].fn(spark, sf_dir).collect()
    }
    win = {
        r.step: r.n_users
        for r in all_queries()["events_funnel_windowed"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert win[1] == unb[1]
    assert win[2] <= unb[2]
    assert win[3] <= unb[3]


def test_power_analysis_scales_inverse_square_with_mde(spark, sf_dir):
    """Sanity on the formula: gaps are positive, medians within
    range, and n_per_arm is positive wherever variance is."""
    rows = all_queries()["stats_power_analysis"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.var_v and r.var_v > 0 and r.mean_v:
            assert r.n_per_arm >= 1


def test_cohort_ltv_monotone_cumulative(spark, sf_dir):
    """cum_ltv_per_user is non-decreasing in weeks_since within a
    cohort (revenue values are non-negative in this dataset)."""
    rows = all_queries()["events_cohort_ltv"].fn(spark, sf_dir).collect()
    by_cohort: dict[int, list] = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_week, []).append(
            (r.weeks_since, r.cum_ltv_per_user)
        )
    for series in by_cohort.values():
        series.sort()
        vals = [v for _, v in series]
        assert vals == sorted(vals)


def test_temperature_mixture_shares_sum_to_one(spark, sf_dir):
    import math

    rows = (
        all_queries()["curation_temperature_mixture"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert math.isclose(sum(r.raw_share for r in rows), 1.0, abs_tol=1e-4)
    assert math.isclose(sum(r.temp_share for r in rows), 1.0, abs_tol=1e-4)
    # sqrt smoothing moves every factor TOWARD 1 from the raw share
    for r in rows:
        if r.raw_share < max(x.raw_share for x in rows):
            assert r.sample_factor >= 1.0 or abs(r.sample_factor - 1.0) < 1e-6


def test_degree_histogram_partitions_all_customers(spark, sf_dir):
    from big_data_analysis_of_airline_data_set_spark.sources.readers import (
        read_testdata_table,
    )
    import pyspark.sql.functions as F

    rows = all_queries()["graph_degree_histogram"].fn(spark, sf_dir).collect()
    n_cust = (
        read_testdata_table(spark, sf_dir, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r.n_customers for r in rows) == n_cust
    for r in rows:
        # bin invariant: 2^(bits-1) <= deg < 2^bits
        assert 2 ** (r.deg_bits - 1) <= r.min_deg
        assert r.max_deg < 2**r.deg_bits


def test_srm_split_is_balanced_and_complete(spark, sf_dir):
    from big_data_analysis_of_airline_data_set_spark.sources.readers import (
        read_testdata_table,
    )

    r = all_queries()["stats_srm_check"].fn(spark, sf_dir).collect()[0]
    n_users = (
        read_testdata_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    assert r.n_a + r.n_b == n_users
    # a genuine md5 50/50 split must not trip the alpha=0.001 gate
    assert not r.srm_flag


def test_ratio_ci_brackets_ratio(spark, sf_dir):
    r = all_queries()["stats_ratio_metric_ci"].fn(spark, sf_dir).collect()[0]
    assert r.ci_lo <= r.ratio <= r.ci_hi
    assert r.se >= 0.0
