"""tests/capture_plans.py masks what shifts between two runs of the
same code, so a parent/change capture diff shows only plan changes."""

from __future__ import annotations

from tests.capture_plans import normalize


def test_session_counters_masked():
    a = "+- MapPartitionsRDD[1325] at localCheckpoint\nOutput [2]: [n, cast(n as double) AS _common_expr_34]"
    b = "+- MapPartitionsRDD[7] at localCheckpoint\nOutput [2]: [n, cast(n as double) AS _common_expr_0]"
    assert normalize(a) == normalize(b)
    assert "MapPartitionsRDD[] at" in normalize(a)
    assert "AS _common_expr_]" in normalize(a)
    # ExistingRDD[...] lists output columns, not an id: only their
    # expression ids go
    assert normalize("Scan ExistingRDD[a#12L]") == "Scan ExistingRDD[a]"
