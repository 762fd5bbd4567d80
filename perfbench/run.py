#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload interactive_mix --seed 1 --seconds 20 --trace 0

Run from the repository root. The run generates its inputs from
``--seed``, times rounds of the workload for ``--seconds`` seconds,
checks every op against its DuckDB oracle and prints, as the last line
of stdout, one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The full record (host facts,
per-op latencies, tail percentile, per-round cache state; spans and plan
fingerprints when traced) is written to
``perfbench/_work/<workload>-seed<seed>-trace<t>.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
# The program the benchmark drives; without it there is nothing to run.
PROGRAM_FILES = (
    "bench.py",
    "big_data_analysis_of_airline_data_set_spark/session.py",
    "tests/oracle_harness.py",
)


def positive_int(text: str) -> int:
    value = int(text)
    if value < 1:
        raise ValueError(text)
    return value


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=positive_int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def _environment(run_dir: str) -> None:
    """Keep every file the run writes inside ``run_dir`` and size Spark
    to this host's cores. Must run before pyspark starts the JVM."""
    for sub in ("tmp", "local", "data"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    # import the program and this package from the repository root
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    from perfbench.workloads import WORKLOAD_OPS

    if args.workload not in WORKLOAD_OPS:
        print(
            f"perfbench: unknown workload {args.workload!r}; "
            f"choose one of {sorted(WORKLOAD_OPS)}",
            file=sys.stderr,
        )
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    _environment(run_dir)
    from perfbench import runner

    try:
        record = runner.run(
            args.workload, args.seed, args.seconds, bool(args.trace), run_dir, T_START
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    stem = os.path.join(WORK, f"{args.workload}-seed{args.seed}")
    if args.trace:
        untraced = f"{stem}-trace0.json"
        if os.path.exists(untraced):
            with open(untraced) as f:
                base_wall = json.load(f)["wall_s"]
            wall = statistics.median(r["wall_s"] for r in record["rounds"])
            record["trace_overhead_pct"] = 100 * (wall / base_wall - 1)
    with open(f"{stem}-trace{args.trace}.json", "w") as f:
        json.dump(record, f, indent=1)

    summary = {k: record[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(
        f"# {args.workload} seed={args.seed}: {len(record['rounds'])} rounds, "
        f"error_rate={record['error_rate']}, tail={record['op_tail_s']}, "
        f"steal={record['host']['steal_pct']}%",
        file=sys.stderr,
    )
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
