"""Same-session A/B of Spark-conf arms over catalog queries, with
bench.py's own warm-up, noop materialisation and steal stamp.

Arm 0 is always the shipped session conf; each ``--arm`` adds one arm
as a JSON object of Spark confs. With more than one arm, every arm's
sorted result rows are asserted identical before any timing (a fast
wrong arm must fail loudly). The arms then run interleaved on every
repeat, in alternating order, so host steal and session caches hit
them alike; the conf is restored between arms. One JSON line per arm:
per-query medians, their total, every sample, and the steal % over
the whole run.

Names are catalog queries or bench suite names (``headline`` or any
``bench.SUITES`` key). A code change is A/B'd as a parent-vs-change
``perfbench`` run instead; this runner compares confs.

Usage:
    python tests/ab.py r6_ops graph_k_core --sf-dir <testdata dir> \
        [--repeats 3] \
        [--arm '{"spark.sql.files.openCostInBytes": "1048576"}' ...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from typing import Callable

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

import bench  # noqa: E402


def interleave_arms(
    n_arms: int,
    repeats: int,
    *,
    apply: Callable[[int], None],
    rows: Callable[[], dict[str, list[str]]],
    timed: Callable[[int], dict[str, float]],
) -> list[list[dict[str, float]]]:
    """The arm loop. ``apply(i)`` switches the session to arm ``i``;
    ``rows()`` returns each query's comparable result; ``timed(i)``
    runs every query once and returns its seconds. With more than one
    arm, results are compared across arms before anything is timed.
    Returns ``samples[arm][repeat]``."""
    if n_arms > 1:
        results = []
        for i in range(n_arms):
            apply(i)
            results.append(rows())
        for i, got in enumerate(results[1:], 1):
            diverged = sorted(n for n in got if got[n] != results[0][n])
            if diverged:
                raise AssertionError(f"arm {i} results differ from arm 0: {diverged}")
    samples: list[list[dict[str, float]]] = [[] for _ in range(n_arms)]
    order = list(range(n_arms))
    for _ in range(repeats):
        for i in order:
            apply(i)
            samples[i].append(timed(i))
        order.reverse()
    apply(0)
    return samples


def _conf_arm(text: str) -> dict[str, str]:
    arm = json.loads(text)
    if not isinstance(arm, dict):
        raise ValueError("an arm is a JSON object of Spark confs")
    return {str(k): str(v) for k, v in arm.items()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+", help="catalog query or bench suite names")
    ap.add_argument("--arm", action="append", default=[], type=_conf_arm)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--sf-dir", required=True, help="timed testdata directory")
    args = ap.parse_args()

    from big_data_analysis_of_airline_data_set_spark.plans import all_queries
    from big_data_analysis_of_airline_data_set_spark.plans.events_queries import (
        ensure_events_landed,
    )
    from big_data_analysis_of_airline_data_set_spark.session import get_session
    from big_data_analysis_of_airline_data_set_spark.streaming import jobs as _sjobs

    specs = all_queries()
    suites = {"headline": bench.HEADLINE, **bench.SUITES}
    names: list[str] = []
    for n in args.names:
        names += suites.get(n, [n])
    unknown = [n for n in names if n not in specs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}; suites: {sorted(suites)}")
    arms: list[dict[str, str]] = [{}, *args.arm]
    sf_dir = args.sf_dir

    t0 = bench._cpu_times()
    spark = get_session("ab")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    ensure_events_landed(spark, sf_dir)
    bench._warm(specs, spark, names, sf_dir)

    defaults = {k: spark.conf.get(k, None) for arm in arms for k in arm}

    def apply(i: int) -> None:
        for k, v in defaults.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        for k, v in arms[i].items():
            spark.conf.set(k, v)

    # the value check drains streams to the memory sink so it compares
    # real output; timing uses bench's sink
    def rows() -> dict[str, list[str]]:
        _sjobs.DRAIN_SINK = "memory"
        return {
            n: sorted(repr(tuple(r)) for r in specs[n].fn(spark, sf_dir).collect())
            for n in names
        }

    def timed(i: int) -> dict[str, float]:
        _sjobs.DRAIN_SINK = bench.STREAM_SINK
        return bench._run_suite(specs, spark, names, sf_dir, 1, f"arm{i}")[0]

    samples = interleave_arms(
        len(arms), args.repeats, apply=apply, rows=rows, timed=timed
    )
    steal = bench._suite_steal(t0, bench._cpu_times())
    generation = bench._testdata_generation(sf_dir)
    for arm, runs in zip(arms, samples):
        per = {n: [run[n] for run in runs] for n in names}
        medians = {n: round(statistics.median(ts), 3) for n, ts in per.items()}
        print(
            json.dumps(
                {
                    "arm": arm,
                    "total": round(sum(medians.values()), 3),
                    "queries": medians,
                    "samples": per,
                    "repeats": args.repeats,
                    "steal_pct": steal,
                    "sf_dir": sf_dir,
                    "testdata_generation": generation,
                }
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()
