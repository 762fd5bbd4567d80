"""Unit tests for fixed-seed k-means assignment
(``embedding_kmeans_assign``, plans/content.py) and calendar lag
features (``events_lag_features``, plans/events_queries.py).
test_oracle_parity checks this file's catalog names against their
DuckDB oracles."""

from __future__ import annotations

import pytest

from big_data_analysis_of_airline_data_set_spark.plans import all_queries
from tests.oracle_harness import check_query

NEW_OPS = [
    "tpch_q7_style",
    "tpch_q9_style",
    "tpch_q10_style",
    "tpch_q13_style",
    "tpch_q15_style",
    "tpch_q16_style",
    "tpch_q17_style",
    "tpch_q21_style",
    "embedding_kmeans_assign",
    "events_lag_features",
]


@pytest.mark.parametrize("name", NEW_OPS)
def test_oracle_parity(spark, name, sf_dir):
    check_query(spark, all_queries()[name], sf_dir)


def test_kmeans_every_vector_assigned_once(spark, sf_dir):
    """Cluster sizes must sum to the table's row count (argmin total
    function: no vector dropped or double-assigned)."""
    from big_data_analysis_of_airline_data_set_spark.sources.readers import (
        read_testdata_table,
    )

    out = all_queries()["embedding_kmeans_assign"].fn(spark, sf_dir)
    total = sum(r.n_assigned for r in out.collect())
    assert total == read_testdata_table(spark, sf_dir, "embeddings").count()


def test_kmeans_seed_vectors_assign_to_themselves(spark, sf_dir):
    """Each of the 8 seed centroids is one of the input vectors, so
    every cluster must receive at least its own seed (d2 = 0)."""
    out = all_queries()["embedding_kmeans_assign"].fn(spark, sf_dir)
    rows = out.collect()
    assert len(rows) == 8
    assert all(r.n_assigned >= 1 for r in rows)


def test_lag1_null_exactly_on_calendar_gaps(spark, sf_dir):
    """lag1 is non-NULL iff the previous CALENDAR day exists for the
    user (row-lag semantics would fill across gaps)."""
    out = all_queries()["events_lag_features"].fn(spark, sf_dir)
    rows = out.collect()
    have = {(r.user_id, r.day) for r in rows}
    for r in rows:
        assert (r.lag1 is not None) == ((r.user_id, r.day - 1) in have)
