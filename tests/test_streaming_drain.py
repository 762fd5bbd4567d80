"""``streaming.jobs.drain`` is the package's one streaming writer: it
removes its checkpoint once the query has terminated, sizes the
stateful shuffle from the rows its source holds, and no other module
starts a ``writeStream``."""

from __future__ import annotations

import ast
import pathlib
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

import big_data_analysis_of_airline_data_set_spark as pkg
from big_data_analysis_of_airline_data_set_spark.plans import all_queries
from big_data_analysis_of_airline_data_set_spark.sources.readers import read_testdata_table
from big_data_analysis_of_airline_data_set_spark.streaming import jobs
from big_data_analysis_of_airline_data_set_spark.streaming.jobs import (
    drain,
    events_stream_reader,
)
from big_data_analysis_of_airline_data_set_spark.streaming.windows import tumbling_counts

_MAINTENANCE_KEY = "spark.sql.streaming.stateStore.maintenanceInterval"


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir):
    d = tempfile.mkdtemp(prefix="events-drain-")
    read_testdata_table(spark, sf_dir, "events").repartition(2).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture
def temp_root(tmp_path, monkeypatch):
    """``tempfile.gettempdir()`` for this test only: an empty directory
    in which a leaked checkpoint cannot hide among other runs' files."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def _tumbling(spark, events_dir, name):
    stream = events_stream_reader(spark, events_dir).withWatermark("ts", "30 minutes")
    return drain(
        tumbling_counts(stream), events_dir, query_name=name, output_mode="complete"
    )


def test_drains_leave_no_checkpoint(spark, events_dir, temp_root):
    width = spark.conf.get("spark.sql.shuffle.partitions")
    n = spark.read.parquet(events_dir).count()
    assert _tumbling(spark, events_dir, "ckpt_ok").agg(F.sum("n_events")).first()[0] == n

    seen = []
    assert drain(
        events_stream_reader(spark, events_dir),
        events_dir,
        query_name="ckpt_foreach",
        foreach_batch=lambda df, batch_id: seen.append(batch_id),
    ) is None
    assert seen

    def boom(df, batch_id):
        raise RuntimeError("sink failed")

    with pytest.raises(Exception, match="sink failed"):
        drain(
            events_stream_reader(spark, events_dir),
            events_dir,
            query_name="ckpt_fail",
            foreach_batch=boom,
        )
    assert tempfile.gettempdir() == str(temp_root)
    assert list(temp_root.glob("ckpt-*")) == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == width


def test_tumbling_stream_width_follows_source_rows(spark):
    """sf0.001 holds ~1k events: one state partition, where the catalog
    once pinned 8."""
    all_queries()["events_tumbling_stream"].fn(spark, "/root/testdata/sf0.001").count()
    ops = [
        op
        for p in jobs.LAST_PROGRESS["events_tumbling_stream"]
        for op in p["stateOperators"]
    ]
    assert ops and {op["numShufflePartitions"] for op in ops} == {1}


def test_source_rows_read_from_footers(spark, events_dir):
    assert jobs._source_rows(events_dir) == spark.read.parquet(events_dir).count()


def test_deleted_checkpoint_cannot_break_a_later_drain(spark, events_dir, temp_root):
    """State-store maintenance runs in the background over every store
    it has loaded. With the interval shortened and a sleep past it
    between two stateful drains, maintenance visits the first drain's
    store after its checkpoint is gone: the second drain must still
    succeed, and neither checkpoint may reappear."""
    state_store = spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore
    saved = spark.conf.get(_MAINTENANCE_KEY)
    spark.conf.set(_MAINTENANCE_KEY, "200ms")
    # maintenance keeps the interval it started with: restart it
    state_store.stop()
    try:
        first = _tumbling(spark, events_dir, "maint_first").collect()
        time.sleep(2)
        second = _tumbling(spark, events_dir, "maint_second").collect()
        time.sleep(1)
    finally:
        spark.conf.set(_MAINTENANCE_KEY, saved)
        state_store.stop()
    assert sorted(first) == sorted(second) and first
    assert list(temp_root.glob("ckpt-*")) == []


# ---------------------------------------------------------------- guard

_PKG_DIR = pathlib.Path(pkg.__file__).parent


def _offences(tree: ast.Module, *, drain_home: bool):
    """(line, what) for every streaming write outside the top-level
    ``drain`` of the drain's home module, and every
    ``stream_shuffle_partitions`` anywhere."""
    exempt: set[int] = set()
    for fn in tree.body if drain_home else ():
        if isinstance(fn, ast.FunctionDef) and fn.name == "drain":
            exempt = {id(n) for n in ast.walk(fn)}
    for node in ast.walk(tree):
        name = getattr(node, "arg", None) or getattr(node, "id", None)
        if name == "stream_shuffle_partitions":
            yield node.lineno, "stream_shuffle_partitions"
        elif id(node) in exempt:
            continue
        elif isinstance(node, ast.Attribute) and node.attr == "writeStream":
            yield node.lineno, "writeStream"
        elif isinstance(node, ast.Constant) and node.value == "checkpointLocation":
            yield node.lineno, "checkpointLocation"


def test_drain_is_the_only_streaming_writer():
    home = _PKG_DIR / "streaming" / "jobs.py"
    offences = [
        f"{path.relative_to(_PKG_DIR)}:{line} {what}"
        for path in sorted(_PKG_DIR.rglob("*.py"))
        for line, what in _offences(ast.parse(path.read_text()), drain_home=path == home)
    ]
    assert offences == []
    assert "writeStream" in home.read_text()


def test_guard_sees_a_second_writer():
    src = (
        "def drain(df):\n    return df.writeStream\n"
        "def other(df, stream_shuffle_partitions=2):\n"
        "    return df.writeStream.option('checkpointLocation', '/x')\n"
    )
    found = lambda home: sorted(w for _, w in _offences(ast.parse(src), drain_home=home))  # noqa: E731
    assert found(True) == ["checkpointLocation", "stream_shuffle_partitions", "writeStream"]
    assert found(False).count("writeStream") == 2
