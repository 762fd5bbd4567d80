"""Invariant tests for the per-segment uplift (plans/experiments.py)
and the ABC revenue classes (plans/statistics.py). Their oracle parity
runs as test_relational_queries.py::test_query_matches_oracle."""

from __future__ import annotations

import math

from big_data_analysis_of_airline_data_set_spark.plans import all_queries


def test_uplift_arm_totals_match_srm_population(spark, sf_dir):
    """Summed per-segment arm sizes can exceed the SRM user count
    (a user appears in several segments) but each segment's split
    must roughly mirror the global one — and a null hypothesis that
    is TRUE by construction (arms are a hash of user_id, independent
    of value) should rarely flag significance."""
    rows = (
        all_queries()["events_uplift_by_segment"].fn(spark, sf_dir).collect()
    )
    assert rows
    n_sig = sum(1 for r in rows if r.significant)
    assert n_sig <= max(1, len(rows) // 2)  # not everything "significant"
    for r in rows:
        assert r.n_a > 0 and r.n_b > 0
        assert r.se is None or r.se >= 0.0


def test_abc_classes_partition_and_order(spark, sf_dir):
    from big_data_analysis_of_airline_data_set_spark.sources.readers import (
        read_testdata_table,
    )

    rows = {
        r.abc_class: r
        for r in all_queries()["orders_abc_classification"]
        .fn(spark, sf_dir)
        .collect()
    }
    n_parts = (
        read_testdata_table(spark, sf_dir, "lineitem")
        .select("l_partkey")
        .distinct()
        .count()
    )
    assert sum(r.n_parts for r in rows.values()) == n_parts
    assert math.isclose(
        sum(r.revenue_share for r in rows.values()), 1.0, abs_tol=1e-4
    )
    # A holds at most 80% of revenue by construction; A+B at most 95%
    if "A" in rows:
        assert rows["A"].revenue_share <= 0.8 + 1e-6
    if "A" in rows and "B" in rows:
        assert rows["A"].revenue_share + rows["B"].revenue_share <= 0.95 + 1e-6
