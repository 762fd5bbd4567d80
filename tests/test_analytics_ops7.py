"""Invariant tests for the percent-of-parent hierarchy shares
(plans/relational2.py) and the feature-hashing collision audit
(plans/statistics.py). Their oracle parity runs as
test_relational_queries.py::test_query_matches_oracle."""

from __future__ import annotations

import math

from big_data_analysis_of_airline_data_set_spark.plans import all_queries


def test_shares_sum_to_one_at_both_levels(spark, sf_dir):
    rows = all_queries()["rollup_share_of_parent"].fn(spark, sf_dir).collect()
    by_region: dict[str, list] = {}
    for r in rows:
        by_region.setdefault(r.r_name, []).append(r)
    region_shares = set()
    for region, rs in by_region.items():
        assert math.isclose(
            sum(r.pct_of_region for r in rs), 1.0, abs_tol=1e-4
        ), region
        region_shares.add(rs[0].region_pct_of_total)
        # region share is constant within the region's rows
        assert len({r.region_pct_of_total for r in rs}) == 1
    assert math.isclose(sum(region_shares), 1.0, abs_tol=1e-4)


def test_hashing_audit_accounts_every_part_row(spark, sf_dir):
    from big_data_analysis_of_airline_data_set_spark.sources.readers import (
        read_testdata_table,
    )

    rows = all_queries()["feature_hashing_audit"].fn(spark, sf_dir).collect()
    n_parts = read_testdata_table(spark, sf_dir, "part").count()
    assert sum(r.n_rows for r in rows) == n_parts
    for r in rows:
        assert 0 <= r.bucket < 64
        assert r.has_collision == (r.n_categories > 1)
        assert r.n_categories <= r.n_rows
