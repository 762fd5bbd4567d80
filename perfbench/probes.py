"""Readers for the layers under the catalog: Spark's status store (jobs,
stages, executor metrics per job group), the py4j gateway (round trips),
streaming progress, and /proc (memory, disk writes, child processes).

None of this changes what the program does; the status store works
with ``spark.ui.enabled=false``, which the session factory sets.
"""

from __future__ import annotations

import json
import os
import signal
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class JobStats:
    job_id: int
    group: str
    start: float  # epoch seconds
    end: float
    tasks: int
    stage_ids: list[int]


@dataclass
class SparkStats:
    """Spark's own accounting of the jobs one op ran."""

    jobs: list[JobStats] = field(default_factory=list)
    stages: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0

    @property
    def tasks(self) -> int:
        return sum(j.tasks for j in self.jobs)

    def intervals(self, groups) -> list[tuple[float, float]]:
        return [(j.start, j.end) for j in self.jobs if j.group in groups]


class StatusStore:
    """Per-job-group reads from the SparkContext's AppStatusStore."""

    def __init__(self, spark: SparkSession) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def settle(self) -> None:
        """Wait until the status listener has seen every finished job."""
        self._bus.waitUntilEmpty()

    def _job(self, job_id: int, group: str) -> JobStats:
        jd = self._store.job(job_id)
        sub, done = jd.submissionTime(), jd.completionTime()
        start = sub.get().getTime() / 1000 if sub.isDefined() else 0.0
        end = done.get().getTime() / 1000 if done.isDefined() else start
        info = self._sc.statusTracker().getJobInfo(job_id)
        stage_ids = list(info.stageIds) if info is not None else []
        return JobStats(
            job_id, group, start, end, jd.numTasks() - jd.numSkippedTasks(), stage_ids
        )

    def stats(self, groups: list[str]) -> SparkStats:
        out = SparkStats()
        tracker = self._sc.statusTracker()
        seen: set[int] = set()
        for group in groups:
            for job_id in sorted(tracker.getJobIdsForGroup(group)):
                job = self._job(job_id, group)
                out.jobs.append(job)
                for sid in job.stage_ids:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    sd = self._store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out.stages += 1
                    out.executor_run_s += sd.executorRunTime() / 1e3
                    out.executor_cpu_s += sd.executorCpuTime() / 1e9
                    out.gc_s += sd.jvmGcTime() / 1e3
                    out.shuffle_mb += sd.shuffleWriteBytes() / 1e6
                    out.spill_mb += sd.diskBytesSpilled() / 1e6
        return out


class Py4jCounter:
    """Counts JVM round trips made through the gateway client inside
    ``counting()``. Installed by shadowing the client's ``send_command``
    on the instance every py4j proxy calls through."""

    def __init__(self, spark: SparkSession) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self.calls = 0
        self._active = False

        def send_command(*args, **kwargs):
            if self._active:
                self.calls += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = send_command

    @contextmanager
    def counting(self) -> Iterator[None]:
        self._active = True
        try:
            yield
        finally:
            self._active = False

    def remove(self) -> None:
        del self._client.send_command


@dataclass
class StreamStats:
    run_ids: list[str] = field(default_factory=list)
    batches: int = 0
    input_rows: int = 0
    add_batch_s: float = 0.0
    planning_s: float = 0.0
    commit_s: float = 0.0
    state_rows: int = 0
    state_commit_s: float = 0.0


def stream_stats(last_progress: dict[str, list]) -> StreamStats:
    """Sum the progress of every drain recorded in ``last_progress``
    (``streaming.jobs.LAST_PROGRESS``)."""
    out = StreamStats()
    for progress in last_progress.values():
        batches = [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in progress]
        for b in batches:
            d = b.get("durationMs", {})
            out.batches += 1
            out.input_rows += b.get("numInputRows", 0)
            out.add_batch_s += d.get("addBatch", 0) / 1e3
            out.planning_s += d.get("queryPlanning", 0) / 1e3
            out.commit_s += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
            out.state_commit_s += sum(
                s.get("commitTimeMs", 0) for s in b.get("stateOperators", [])
            ) / 1e3
            if b.get("runId") and b["runId"] not in out.run_ids:
                out.run_ids.append(b["runId"])
        if batches:
            out.state_rows += sum(
                s.get("numRowsTotal", 0) for s in batches[-1].get("stateOperators", [])
            )
    return out


def jvm_retained_mb(spark: SparkSession) -> float:
    """Heap plus non-heap (metaspace, code cache) the JVM still uses
    after a full GC: what the session keeps between ops."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return used / 2**20


def _proc_field(path: str, key: str) -> int:
    with open(path) as f:
        for line in f:
            if line.startswith(key):
                return int(line.split()[1])
    raise KeyError(f"{key} not in {path}")


def peak_rss_kb(pid: int) -> int:
    return _proc_field(f"/proc/{pid}/status", "VmHWM:")


def write_bytes(pid: int) -> int:
    return _proc_field(f"/proc/{pid}/io", "write_bytes:")


_TICK_S = 1 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, own and reaped children's) of ``pid``
    and every process below it. With paravirtual steal accounting the
    kernel charges a task only for time it really ran, so time the
    hypervisor gave to other tenants is not in it. The difference of two
    reads includes children that ended in between."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total * _TICK_S


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait for ``pids`` to end; kill any still running after the timeout."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if not any(_alive(p) for p in pids):
            return
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.05)
