"""The correctness window is derived, not hand-kept: the catalog
registry orders its first 50 names from the committed
``CORRECTNESS_r*.json`` ledger. No Spark session."""

from __future__ import annotations

import json
from types import SimpleNamespace

import pytest

from big_data_analysis_of_airline_data_set_spark import plans
from tests.conftest import is_slow

PASS = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
FAIL = {**PASS, "hash_match": False}


def _registry() -> list[str]:
    return [spec.name for mod in plans._MODULES for spec in mod.QUERIES]


def test_committed_window_heads_the_registry():
    window = plans.correctness_window(_registry())
    assert list(plans.all_queries())[:50] == window
    assert len(set(window)) == 50 and set(window) <= set(_registry())
    latest = plans._latest_passing_round(plans._REPO_ROOT)
    outside = [n for n in _registry() if n not in window]
    assert all(n in latest for n in outside)
    changed = plans._CHANGED_THIS_ROUND
    aged = [latest[n] for n in window if n in latest and n not in changed]
    assert not aged or max(aged) <= min(latest[n] for n in outside)


def test_never_checked_first_then_oldest(tmp_path, monkeypatch):
    names = [f"q{i:02d}" for i in range(60)]
    r1 = {n: PASS for n in names[:40]} | {"q45": FAIL}
    r2 = {n: PASS for n in names[20:40]} | {"q41": PASS}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(r1))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(r2))
    monkeypatch.setattr(plans, "_CHANGED_THIS_ROUND", ())
    window = plans.correctness_window(names, tmp_path)
    never = [n for n in names[40:] if n != "q41"]  # q45's only row failed
    assert window[:19] == never
    assert window[19:] == names[:20] + names[20:31]

    monkeypatch.setattr(plans, "_CHANGED_THIS_ROUND", ("q30", "q41"))
    window = plans.correctness_window(names, tmp_path)
    assert window[:2] == ["q30", "q41"]
    assert window[2:21] == never


def test_changed_names_past_the_window_raise(monkeypatch):
    names = _registry()
    monkeypatch.setattr(plans, "_CHANGED_THIS_ROUND", tuple(names[:50]))
    assert plans.correctness_window(names) == names[:50]
    monkeypatch.setattr(plans, "_CHANGED_THIS_ROUND", tuple(names[:51]))
    with pytest.raises(ValueError, match=f"overflow the 50-name window: .*{names[50]}"):
        plans.correctness_window(names)


def test_empty_ledger_keeps_registry_order(tmp_path, monkeypatch):
    monkeypatch.setattr(plans, "_CHANGED_THIS_ROUND", ())
    assert plans.correctness_window(_registry(), tmp_path) == _registry()[:50]


def test_changed_name_must_be_in_registry(monkeypatch):
    monkeypatch.setattr(plans, "_CHANGED_THIS_ROUND", ("no_such_query",))
    with pytest.raises(ValueError, match="no_such_query"):
        plans.all_queries()


def test_duplicate_name_raises(monkeypatch):
    spec = plans.QuerySpec("dup", lambda spark, sf_dir: None, None)
    mods = [SimpleNamespace(QUERIES=[spec]), SimpleNamespace(QUERIES=[spec])]
    monkeypatch.setattr(plans, "_MODULES", mods)
    with pytest.raises(ValueError, match="duplicate query name: dup"):
        plans.all_queries()


def test_changed_plan_parity_case_is_never_slow():
    parity = "tests/test_relational_queries.py::test_query_matches_oracle[{}]".format
    assert is_slow(parity("dedup_minhash_lsh"), ())
    assert not is_slow(parity("dedup_minhash_lsh"), ("dedup_minhash_lsh",))
    assert is_slow(parity("ml_linear_svc_metrics_banded"), ("ml_linear_svc",))
    assert not is_slow(parity("tpch_q1_style"), ())
    assert is_slow("tests/test_reference_metrics.py::test_x", ("dedup_minhash_lsh",))
