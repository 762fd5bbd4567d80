"""The closed loop and its failure accounting, with fake ops."""

import json
import os
import random

import pytest

from perfbench import runner, stats
from perfbench.workloads import WORKLOAD_OPS, Op

HERE = os.path.dirname(os.path.abspath(__file__))


def _op(name):
    return Op(name, "query", build=lambda spark, sf_dir: None)


def test_closed_loop_runs_min_rounds_and_shuffles_by_seed():
    ops = [_op(n) for n in "abcdef"]
    orders = [[o.name for o in r] for r in runner.closed_loop(ops, 0, random.Random(3))]
    again = [[o.name for o in r] for r in runner.closed_loop(ops, 0, random.Random(3))]
    assert len(orders) == runner.MIN_ROUNDS
    assert orders == again
    assert all(sorted(order) == list("abcdef") for order in orders)


def test_failing_op_is_counted_not_fatal():
    ops = [_op("good"), _op("boom"), _op("mismatch")]

    def run_one(op):
        if op.name == "boom":
            raise RuntimeError("deliberate failure")
        return 0.01, {}

    samples = []
    for order in runner.closed_loop(ops, 0, random.Random(1)):
        samples += runner.run_round(order, run_one)
    assert len(samples) == 3 * runner.MIN_ROUNDS
    assert {s.name for s in samples if s.error} == {"boom"}
    assert "deliberate failure" in next(s.error for s in samples if s.error)

    def check(name):
        if name == "mismatch":
            raise AssertionError("mismatch: col x row 0: spark=1 oracle=2")

    bad = runner.check_all(["good", "mismatch"], [op.name for op in ops], check)
    assert set(bad) == {"boom", "mismatch"}
    failed = stats.count_failed([(s.name, s.error is not None) for s in samples], set(bad))
    assert failed == 2 * runner.MIN_ROUNDS
    assert stats.error_rate(len(samples), failed) == pytest.approx(2 / 3)


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOAD_OPS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == runner.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == runner.PER_LAYER
