"""tests/preflight_catalog.py rejects unknown names before it starts a
Spark session. No Spark session."""

from __future__ import annotations

import pytest

from big_data_analysis_of_airline_data_set_spark import session
from tests import preflight_catalog


@pytest.mark.parametrize(
    ("argv", "unknown"),
    [
        (["--only", "tpch_q1_style,no_such_query,nor_this"], "no_such_query,nor_this"),
        (["--start-at", "no_such_query"], "no_such_query"),
        (["--only", "tpch_q1_style", "--start-at", "tpch_q2_style"], "tpch_q2_style"),
    ],
)
def test_unknown_name_exits_2_before_session(monkeypatch, capsys, argv, unknown):
    def no_session(*args, **kwargs):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(session, "get_session", no_session)
    with pytest.raises(SystemExit) as exc:
        preflight_catalog.main(argv)
    assert exc.value.code == 2
    assert capsys.readouterr().err == f"# unknown names: {unknown}\n"
