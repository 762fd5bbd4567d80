"""One benchmark run: set up, warm, time rounds of a workload as a
closed loop with one client, check every op against its oracle, and
build the record.

The untraced run measures the end-to-end metrics. The traced run
(``trace=True``) does the same work and additionally wraps each op in
job groups, counts py4j round trips while the catalog builds the plan,
and reads Spark's status store and streaming progress after each op to
give the per-layer metrics.
"""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import bench
from big_data_analysis_of_airline_data_set_spark.caching import BoundedCache
from big_data_analysis_of_airline_data_set_spark.plans.events_queries import (
    ensure_events_landed,
)
from big_data_analysis_of_airline_data_set_spark.session import get_session
from big_data_analysis_of_airline_data_set_spark.streaming import jobs as stream_jobs
import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

from . import datagen, probes, stats
from .workloads import WORKLOAD_OPS, Op, before_op, check, fit_of, fit_only, query_oracles

PACKAGE = "big_data_analysis_of_airline_data_set_spark"
SETUP_CYCLES = 3
# Rounds are timed until --seconds have passed, and at least this many,
# so every per-op median has two samples.
MIN_ROUNDS = 2

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "retained_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.land_s": "s",
    "plans.build_s": "s",
    "plans.python_cpu_s": "s",
    "plans.py4j_calls": "count",
    "plans.eager_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_span_s": "s",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_util": "ratio",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.disk_write_mb": "MB",
    "spark.jit_s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.input_rows_per_s": "1/s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_commit_s": "s",
    "ml.fit_s": "s",
    "ml.eval_s": "s",
    "ml.fit_jobs": "count",
    "caching.entries": "count",
    "caching.warm_round_s": "s",
}


@dataclass
class OpSample:
    name: str
    latency_s: float
    error: str | None = None
    layers: dict[str, float] = field(default_factory=dict)


def module_caches() -> dict[str, BoundedCache]:
    """Every module-level BoundedCache the program has created so far."""
    found = {}
    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith(PACKAGE):
            for attr, value in vars(mod).items():
                if isinstance(value, BoundedCache):
                    found[f"{mod_name}.{attr}"] = value
    return found


def _session_conf(run_dir: str) -> dict[str, str]:
    return {
        # no hsperfdata file: the JVM would write it under /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _dir_digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()[:16]


class Tracer:
    """Per-op layer accounting for the traced run. Spans are kept in
    memory and returned with the record."""

    def __init__(self, spark: SparkSession, cores: int) -> None:
        self.cores = cores
        self.store = probes.StatusStore(spark)
        self.py4j = probes.Py4jCounter(spark)
        self.spans: list[dict] = []
        self.fingerprints: dict[str, list[str]] = {}
        self._ops = 0

    def _span(self, op_id: str, layer: str, start: float, end: float, parent: str | None) -> str:
        span_id = f"{op_id}/{layer}/{len(self.spans)}"
        self.spans.append(
            {"id": span_id, "op": op_id, "layer": layer, "start": start, "end": end, "parent": parent}
        )
        return span_id

    def run_op(self, spark: SparkSession, sf_dir: str, op: Op):
        """Run one op under job groups; returns (latency, df, layers)."""
        op_id = f"op{self._ops}-{op.name}"
        self._ops += 1
        sc = spark.sparkContext
        groups = {g: f"{op_id}:{g}" for g in ("fit", "build", "run")}
        stream_jobs.LAST_PROGRESS.clear()
        calls0 = self.py4j.calls
        w0, p0 = time.time(), time.perf_counter()
        if op.kind == "fit":
            sc.setJobGroup(groups["fit"], op.name)
            with self.py4j.counting():
                fit_only(spark, sf_dir, op)
        w_fit = time.time()
        sc.setJobGroup(groups["build"], op.name)
        with self.py4j.counting():
            df = op.build(spark, sf_dir)
        w_built = time.time()
        sc.setJobGroup(groups["run"], op.name)
        bench._materialize(df)
        latency = time.perf_counter() - p0
        w1 = time.time()
        sc._jsc.clearJobGroup()
        self.fingerprints.setdefault(op.name, []).append(
            stats.fingerprint(df._jdf.queryExecution().executedPlan().toString())
        )

        self.store.settle()
        stream = probes.stream_stats(stream_jobs.LAST_PROGRESS)
        every = self.store.stats([*groups.values(), *stream.run_ids])
        eager_groups = {groups["fit"], groups["build"], *stream.run_ids}
        eager = every.intervals(eager_groups)
        run_jobs = every.intervals({groups["run"]})

        op_span = self._span(op_id, "op", w0, w1, None)
        if op.kind == "fit":
            self._span(op_id, "ml.fit", w0, w_fit, op_span)
            self._span(op_id, "ml.eval", w_fit, w1, op_span)
        build_span = self._span(op_id, "plans.build", w0, w_built, op_span)
        run_span = self._span(op_id, "spark.materialize", w_built, w1, op_span)
        for job in every.jobs:
            parent = run_span if job.group == groups["run"] else build_span
            self._span(op_id, "spark.job", job.start, job.end, parent)

        layers = {
            "plans.build_s": stats.self_time(w0, w_built, eager),
            "plans.py4j_calls": self.py4j.calls - calls0,
            "plans.eager_jobs": len(eager),
            "spark.jobs": len(every.jobs),
            "spark.stages": every.stages,
            "spark.tasks": every.tasks,
            "spark.job_span_s": stats.covered([(j.start, j.end) for j in every.jobs], w0, w1),
            "spark.driver_gap_s": stats.self_time(w_built, w1, run_jobs),
            "spark.executor_run_s": every.executor_run_s,
            "spark.executor_cpu_s": every.executor_cpu_s,
            "spark.gc_s": every.gc_s,
            "spark.shuffle_mb": every.shuffle_mb,
            "spark.spill_mb": every.spill_mb,
            "streaming.batches": stream.batches,
            "streaming.input_rows": stream.input_rows,
            "streaming.add_batch_s": stream.add_batch_s,
            "streaming.planning_s": stream.planning_s,
            "streaming.commit_s": stream.commit_s,
            "streaming.state_rows": stream.state_rows,
            "streaming.state_commit_s": stream.state_commit_s,
            "ml.fit_s": w_fit - w0 if op.kind == "fit" else 0.0,
            "ml.eval_s": w1 - w_fit if op.kind == "fit" else 0.0,
            "ml.fit_jobs": len(every.intervals({groups["fit"]})),
            "drain_s": latency if op.kind == "drain" else 0.0,
        }
        return latency, df, layers

    def round_layers(self, samples: list[OpSample]) -> dict[str, float]:
        """One round's layer totals, with the ratios formed from them."""
        keys = set().union(*(s.layers for s in samples))
        out = {k: sum(s.layers.get(k, 0) for s in samples) for k in keys}
        span = out.get("spark.job_span_s", 0.0)
        out["spark.core_util"] = (
            out.get("spark.executor_run_s", 0.0) / (span * self.cores) if span else 0.0
        )
        drain = out.get("drain_s", 0.0)
        out["streaming.input_rows_per_s"] = (
            out.get("streaming.input_rows", 0) / drain if drain else 0.0
        )
        return out

    def close(self) -> None:
        self.py4j.remove()


def _run_untraced(spark: SparkSession, sf_dir: str, op: Op):
    t0 = time.perf_counter()
    df = op.build(spark, sf_dir)
    bench._materialize(df)
    return time.perf_counter() - t0, df, {}


def closed_loop(ops: list[Op], seconds: float, rng: random.Random) -> Iterator[list[Op]]:
    """Yield each round's op order, shuffled by ``rng``, until ``seconds``
    have passed since the first round began and MIN_ROUNDS have run."""
    deadline = time.perf_counter() + seconds
    rounds = 0
    while rounds < MIN_ROUNDS or time.perf_counter() < deadline:
        order = list(ops)
        rng.shuffle(order)
        yield order
        rounds += 1


def run_round(order: list[Op], run_one: Callable[[Op], tuple[float, dict]]) -> list[OpSample]:
    """Run ``order`` one op at a time. ``run_one(op)`` returns the op's
    latency and layer values; an op that raises becomes a failed sample."""
    samples = []
    for op in order:
        t0 = time.perf_counter()
        try:
            latency, layers = run_one(op)
            samples.append(OpSample(op.name, latency, layers=layers))
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            samples.append(OpSample(op.name, time.perf_counter() - t0, f"{exc!r}"[:300]))
    return samples


def check_all(
    checked: list[str], names: list[str], check_one: Callable[[str], None]
) -> dict[str, str]:
    """Oracle-check each op in ``checked``; returns op name → failure for
    every op whose check raised and every op in ``names`` never checked
    because all its attempts raised."""
    bad = {}
    for name in checked:
        try:
            check_one(name)
        except Exception as exc:  # noqa: BLE001 — a mismatch is counted, not fatal
            bad[name] = f"{exc!r}"[:500]
    for name in names:
        if name not in checked:
            bad[name] = "every attempt raised"
    return bad


def _clear_caches() -> None:
    for cache in module_caches().values():
        cache.clear()


def _stop(spark: SparkSession | None) -> None:
    """Stop Spark and the JVM it runs in, and wait for every process
    this run started to end."""
    children = probes.descendants(os.getpid())
    _clear_caches()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    probes.wait_gone(children, timeout_s=30)


def _set_up(sf_dir: str, run_dir: str, n: int, spark: SparkSession | None = None):
    """``n`` set-ups, each on a fresh SparkContext with empty caches;
    returns the session and each set-up's (session_s, land_s)."""
    cycles = []
    for _ in range(n):
        if spark is not None:
            _clear_caches()
            spark.stop()
        t0 = time.perf_counter()
        spark = get_session("perfbench", extra_conf=_session_conf(run_dir))
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        ensure_events_landed(spark, sf_dir)
        cycles.append((t1 - t0, time.perf_counter() - t2))
    return spark, cycles


def run(workload: str, seed: int, seconds: int, trace: bool, run_dir: str, t_start: float) -> dict:
    """Run ``workload`` and return its record. ``t_start`` is the
    process start (perf_counter), so set-up includes imports."""
    ops = WORKLOAD_OPS[workload]()
    import_s = time.perf_counter() - t_start
    cpu0 = bench._cpu_times()
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    sf_dir = datagen.generate(seed, os.path.join(run_dir, "data", "sf0.001"))

    spark = None
    tracer = None
    try:
        # DuckDB computes the query oracles beside the first set-up, which
        # starts the JVM and is left out of setup_s.
        with ThreadPoolExecutor(max_workers=1) as pool:
            pending_oracles = pool.submit(query_oracles, ops, sf_dir)
            spark, cycles = _set_up(sf_dir, run_dir, 1)
            oracles = pending_oracles.result()
        spark, more = _set_up(sf_dir, run_dir, SETUP_CYCLES - 1, spark)
        cycles += more
        stream_jobs.DRAIN_SINK = "noop"

        # Warm round: every op once, canonical order, untimed, so caches
        # fill and first-call costs are paid before timing.
        t0 = time.perf_counter()
        for op in ops:
            before_op(op)
            try:
                bench._materialize(op.build(spark, sf_dir))
            except Exception as exc:  # noqa: BLE001 — the timed rounds count it
                print(f"# warm {op.name} raised {exc!r}", file=sys.stderr)
        warm_s = time.perf_counter() - t0
        setup_s = import_s + statistics.median(a + b for a, b in cycles) + warm_s

        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        compilation = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        if trace:
            tracer = Tracer(spark, cores)
        last: dict[str, tuple] = {}

        def run_one(op: Op) -> tuple[float, dict]:
            before_op(op)
            latency, df, layers = (tracer.run_op if tracer else _run_untraced)(
                spark, sf_dir, op
            )
            last[op.name] = (op, df, fit_of(spark, sf_dir, op))
            return latency, layers

        samples: list[OpSample] = []
        rounds: list[dict] = []
        for order in closed_loop(ops, seconds, random.Random(seed)):
            cpu_r = bench._cpu_times()
            wb0, jit0 = probes.write_bytes(jvm_pid), compilation.getTotalCompilationTime()
            c0, py0 = probes.tree_cpu_s(os.getpid()), time.process_time()
            r0 = time.perf_counter()
            round_samples = run_round(order, run_one)
            wall = time.perf_counter() - r0
            c1, py1 = probes.tree_cpu_s(os.getpid()), time.process_time()
            wb1, jit1 = probes.write_bytes(jvm_pid), compilation.getTotalCompilationTime()
            samples += round_samples
            rounds.append(
                {
                    "wall_s": wall,
                    "cpu_s": c1 - c0,
                    "python_cpu_s": py1 - py0,
                    "jit_s": (jit1 - jit0) / 1e3,
                    "steal_pct": bench._suite_steal(cpu_r, bench._cpu_times()),
                    "disk_write_mb": (wb1 - wb0) / 1e6,
                    "order": [op.name for op in order],
                    "cache_entries": {k: len(c) for k, c in module_caches().items()},
                    "layers": tracer.round_layers(round_samples) if tracer else {},
                }
            )
        peak_mb = (probes.peak_rss_kb(os.getpid()) + probes.peak_rss_kb(jvm_pid)) / 1024
        retained_mb = probes.jvm_retained_mb(spark)
        stolen = bench._suite_steal(cpu0, bench._cpu_times())

        # Oracle check of every op's last result, outside the timed rounds.
        def check_one(name: str) -> None:
            op, df, op_fit = last[name]
            check(spark, sf_dir, op, df, op_fit, oracles)

        t0 = time.perf_counter()
        bad_checks = check_all(list(last), [op.name for op in ops], check_one)
        check_s = time.perf_counter() - t0

        failed = stats.count_failed(
            [(s.name, s.error is not None) for s in samples], set(bad_checks)
        )
        latencies = [s.latency_s for s in samples]
        values = {
            "setup_s": setup_s,
            "cpu_s": statistics.median(r["cpu_s"] for r in rounds),
            "retained_mb": retained_mb,
        }
        metrics = {k: (values[k], unit) for k, unit in END_TO_END.items()}
        if tracer:
            totals = {
                k: statistics.median(r["layers"].get(k, 0) for r in rounds)
                for k in PER_LAYER
            }
            totals.update(
                {
                    "session.start_s": statistics.median(a for a, _ in cycles),
                    "session.peak_rss_mb": peak_mb,
                    "sources.land_s": statistics.median(b for _, b in cycles),
                    "caching.entries": sum(rounds[-1]["cache_entries"].values()),
                    "caching.warm_round_s": warm_s,
                    "spark.disk_write_mb": statistics.median(
                        r["disk_write_mb"] for r in rounds
                    ),
                    "spark.jit_s": statistics.median(r["jit_s"] for r in rounds),
                    "plans.python_cpu_s": statistics.median(
                        r["python_cpu_s"] for r in rounds
                    ),
                }
            )
            metrics = {k: (totals[k], unit) for k, unit in PER_LAYER.items()}

        record = {
            "workload": workload,
            "seed": seed,
            "seconds": seconds,
            "trace": trace,
            "host": {
                "cpus": cores,
                "spark_version": pyspark.__version__,
                "testdata_generation": f"perfbench.datagen sha256:{_dir_digest(sf_dir)}",
                "steal_pct": stolen,
            },
            "setup": {
                "import_s": import_s,
                "cycles": [{"session_s": a, "land_s": b} for a, b in cycles],
                "warm_round_s": warm_s,
            },
            "correct": failed == 0,
            "attempted": len(samples),
            "failed": failed,
            "error_rate": stats.error_rate(len(samples), failed),
            "op_errors": {s.name: s.error for s in samples if s.error},
            "check_errors": bad_checks,
            "check_s": check_s,
            "peak_rss_mb": peak_mb,
            "wall_s": statistics.median(r["wall_s"] for r in rounds),
            "op_p50_s": statistics.median(latencies),
            "op_tail_s": stats.tail(latencies),
            "ops": {
                op.name: [s.latency_s for s in samples if s.name == op.name] for op in ops
            },
            "rounds": rounds,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        if tracer:
            record["caching_steady"] = len({tuple(r["cache_entries"].items()) for r in rounds}) == 1
            record["fingerprints"] = tracer.fingerprints
            record["spans"] = tracer.spans
        return record
    finally:
        if tracer:
            tracer.close()
        _stop(spark)
