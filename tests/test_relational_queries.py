"""t2-style correctness: every catalog query vs its DuckDB oracle at
sf0.001 (fast) — mirrors the driver's sf0.01 gate."""

from __future__ import annotations

import pytest

from big_data_analysis_of_airline_data_set_spark.plans import all_queries
from tests.oracle_harness import check_query

SPECS = {n: s for n, s in all_queries().items() if s.oracle is not None}


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(spark, sf_dir, name):
    check_query(spark, SPECS[name], sf_dir)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns[0] == "carrier"


def test_queries_oracle_keys_consistent():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) > 0
