"""Invariant tests for the event-time disorder audit
(plans/events_queries.py) and the one-way ANOVA
(plans/experiments.py). Their oracle parity runs as
test_relational_queries.py::test_query_matches_oracle."""

from __future__ import annotations

from big_data_analysis_of_airline_data_set_spark.plans import all_queries


def test_disorder_audit_counts_exclude_first_arrivals(spark, sf_dir):
    """n_arrivals sums to total events minus one first-arrival per
    event type (the row with no prior high-water mark)."""
    from big_data_analysis_of_airline_data_set_spark.sources.readers import (
        read_testdata_table,
    )

    rows = all_queries()["events_disorder_audit"].fn(spark, sf_dir).collect()
    ev = read_testdata_table(spark, sf_dir, "events")
    total = ev.count()
    n_types = ev.select("event_type").distinct().count()
    assert sum(r.n_arrivals for r in rows) == total - n_types
    for r in rows:
        assert 0.0 <= r.late_frac <= 1.0
        assert r.mean_lateness_s <= r.max_lateness_s


def test_anova_f_positive_and_constant_across_rows(spark, sf_dir):
    rows = all_queries()["stats_anova_oneway"].fn(spark, sf_dir).collect()
    assert len(rows) == 5
    fs = {r.f_stat for r in rows}
    assert len(fs) == 1
    assert fs.pop() >= 0.0
