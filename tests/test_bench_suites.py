"""bench.py's suite table and the A/B runner's arm loop, checked without
a Spark session: a bad suite entry otherwise surfaces only as a
KeyError minutes into a bench run."""

from __future__ import annotations

import json
import os

import pytest

import bench
from big_data_analysis_of_airline_data_set_spark.plans import all_queries
from tests.ab import interleave_arms

_BENCH_LOCAL = os.path.join(os.path.dirname(bench.__file__), "BENCH_LOCAL.json")


def test_every_bench_name_is_a_catalog_query():
    catalog = all_queries()
    names = bench.HEADLINE + [n for names in bench.SUITES.values() for n in names]
    assert [n for n in names if n not in catalog] == []


def test_no_query_sits_in_two_suites():
    seen: dict[str, str] = {}
    for suite, names in {"headline": bench.HEADLINE, **bench.SUITES}.items():
        for n in names:
            assert n not in seen, f"{n} in both {seen[n]} and {suite}"
            seen[n] = suite


def test_suite_keys_match_the_committed_record():
    with open(_BENCH_LOCAL) as f:
        record = json.loads(f.readline())
    not_from_table = {"skew_suite", "skew_queries", "steal_by_suite"}
    committed = [
        k
        for k in record
        if k.endswith(("_suite", "_queries")) and k not in not_from_table
    ]
    derived = [k for suite in bench.SUITES for k in bench._suite_keys(suite)]
    assert derived == committed
    assert list(record["steal_by_suite"]) == ["headline", *bench.SUITES]
    for suite, names in bench.SUITES.items():
        assert list(record[bench._suite_keys(suite)[1]]) == names


class _FakeArms:
    """Arm-loop callables that log every call; ``results[i]`` is what
    ``rows()`` returns while arm ``i`` is applied."""

    def __init__(self, results):
        self.results = results
        self.arm = None
        self.log: list[tuple[str, int]] = []

    def apply(self, i):
        self.arm = i
        self.log.append(("apply", i))

    def rows(self):
        return self.results[self.arm]

    def timed(self, i):
        self.log.append(("timed", i))
        return {"q": float(i)}


def test_arm_loop_raises_on_value_mismatch_before_timing():
    fake = _FakeArms([{"q": ["(1,)"]}, {"q": ["(2,)"]}])
    with pytest.raises(AssertionError, match="arm 1"):
        interleave_arms(2, 3, apply=fake.apply, rows=fake.rows, timed=fake.timed)
    assert not any(kind == "timed" for kind, _ in fake.log)


def test_arm_loop_alternates_arm_order_every_repeat():
    fake = _FakeArms([{"q": ["(1,)"]}] * 3)
    samples = interleave_arms(
        3, 3, apply=fake.apply, rows=fake.rows, timed=fake.timed
    )
    timed_order = [i for kind, i in fake.log if kind == "timed"]
    assert timed_order == [0, 1, 2, 2, 1, 0, 0, 1, 2]
    assert samples == [[{"q": float(i)}] * 3 for i in range(3)]
    # each timed run follows its own arm's apply, and arm 0 is restored last
    for at, (kind, i) in enumerate(fake.log):
        if kind == "timed":
            assert fake.log[at - 1] == ("apply", i)
    assert fake.log[-1] == ("apply", 0)
