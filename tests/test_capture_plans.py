"""tests/capture_plans.py masks what shifts between two runs of the
same code, so a parent/change capture diff shows only plan changes."""

from __future__ import annotations

from big_data_analysis_of_airline_data_set_spark.plans import all_queries
from tests.capture_plans import normalize, selected


def test_session_counters_masked():
    a = "+- MapPartitionsRDD[1325] at localCheckpoint\nOutput [2]: [n, cast(n as double) AS _common_expr_34]"
    b = "+- MapPartitionsRDD[7] at localCheckpoint\nOutput [2]: [n, cast(n as double) AS _common_expr_0]"
    assert normalize(a) == normalize(b)
    assert "MapPartitionsRDD[] at" in normalize(a)
    assert "AS _common_expr_]" in normalize(a)
    # ExistingRDD[...] lists output columns, not an id: only their
    # expression ids go
    assert normalize("Scan ExistingRDD[a#12L]") == "Scan ExistingRDD[a]"


def test_call_site_and_ivf_index_dir_masked():
    warm = "+- MapPartitionsRDD[12] at localCheckpoint at NativeMethodAccessorImpl.java:0"
    fresh = "+- MapPartitionsRDD[3] at localCheckpoint at <unknown>:0"
    assert normalize(warm) == normalize(fresh)
    assert normalize(fresh) == "+- MapPartitionsRDD[] at localCheckpoint at <call site>"
    a = "Location: InMemoryFileIndex [file:/tmp/ivf_index_k3j9x_a1/part]"
    b = "Location: InMemoryFileIndex [file:/tmp/ivf_index_q0p2zz7m/part]"
    assert normalize(a) == normalize(b)
    assert "/tmp/ivf_index_/part" in normalize(a)


def test_no_names_selects_the_whole_registry_in_order():
    assert selected([]) == list(all_queries())
    assert selected(["graph_k_core", "tpch_q1_style"]) == ["graph_k_core", "tpch_q1_style"]
