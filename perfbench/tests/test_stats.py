"""Arithmetic behind the benchmark record."""

import pytest

from perfbench import stats


def test_self_time_subtracts_union_of_children():
    # children overlap (1-3, 2-4) and one runs past the span's end
    assert stats.self_time(0.0, 10.0, [(1, 3), (2, 4), (8, 12)]) == pytest.approx(5.0)


def test_self_time_without_children_is_duration():
    assert stats.self_time(2.0, 5.5, []) == pytest.approx(3.5)


def test_self_time_ignores_children_outside_span():
    assert stats.self_time(10.0, 20.0, [(0, 5), (25, 30)]) == pytest.approx(10.0)


def test_covered_clips_and_merges():
    assert stats.covered([(0, 4), (3, 6), (9, 20)], 2, 10) == pytest.approx(5.0)


@pytest.mark.parametrize(
    "n, expected",
    [(5, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90),
     (199, 90), (200, 95), (999, 95), (1000, 99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert stats.tail_percentile(n) == expected


def test_tail_states_percentile_value_and_count():
    values = [float(i) for i in range(1, 41)]  # 40 samples
    assert stats.tail(values) == {"percentile": 75, "value": 30.0, "samples": 40}
    assert sum(v > 30.0 for v in values) == 10
    assert stats.tail(values[:10]) is None


def test_percentile_is_nearest_rank():
    assert stats.percentile([5.0, 1.0, 3.0, 2.0, 4.0], 50) == 3.0
    assert stats.percentile([1.0, 2.0], 100) == 2.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_normalize_plan_strips_expression_and_plan_ids():
    a = "HashAggregate(keys=[k#12L], functions=[sum(v#13)])\n+- Exchange hashpartitioning(k#12L, 32), ENSURE_REQUIREMENTS, [plan_id=41]"
    b = "HashAggregate(keys=[k#98L], functions=[sum(v#99)])\n+- Exchange hashpartitioning(k#98L, 32), ENSURE_REQUIREMENTS, [plan_id=7]"
    assert stats.normalize_plan(a) == stats.normalize_plan(b)
    assert "#" not in stats.normalize_plan(a)
    assert "plan_id" not in stats.normalize_plan(a)
    assert stats.fingerprint(a) == stats.fingerprint(b)


def test_normalize_plan_strips_lambda_variable_counters():
    a = "Project [transform(xs#3, lambdafunction((lambda x_6 + 1), lambda x_6, false)) AS ys#9]"
    b = "Project [transform(xs#4, lambdafunction((lambda x_23 + 1), lambda x_23, false)) AS ys#11]"
    assert stats.normalize_plan(a) == stats.normalize_plan(b)
    assert "lambda x," in stats.normalize_plan(a)


def test_fingerprint_tells_different_plans_apart():
    a = "Exchange hashpartitioning(k#1, 32), ENSURE_REQUIREMENTS, [plan_id=3]"
    b = "Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS, [plan_id=3]"
    assert stats.fingerprint(a) != stats.fingerprint(b)


def test_count_failed_counts_raised_and_every_attempt_of_bad_check():
    outcomes = [("a", False), ("b", True), ("c", False), ("c", False), ("a", False)]
    assert stats.count_failed(outcomes, set()) == 1
    assert stats.count_failed(outcomes, {"c"}) == 3


def test_error_rate():
    assert stats.error_rate(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)
