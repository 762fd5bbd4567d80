"""Session state (big_data_analysis_of_airline_data_set_spark.caching):
per-session caches must not grow without bound in a long-lived server
session cycling many sf_dirs, every memo goes through
``BoundedCache.get_or_build``, and a call-scoped directory is gone once
its call returns."""

from __future__ import annotations

import ast
import importlib
import os
import pkgutil
import sys
import tempfile
from pathlib import Path

import pytest

import big_data_analysis_of_airline_data_set_spark as pkg
from big_data_analysis_of_airline_data_set_spark.caching import BoundedCache


def test_lru_eviction_order_and_bound():
    evicted = []
    c = BoundedCache(3, on_evict=lambda k, v: evicted.append(k))
    for i in range(3):
        c.put(i, str(i))
    c.get(0)  # refresh 0 → next eviction must pick 1
    c.put(3, "3")
    assert evicted == [1]
    assert len(c) == 3
    assert 0 in c and 2 in c and 3 in c


def test_put_existing_key_refreshes_not_grows():
    c = BoundedCache(2)
    c.put("a", 1)
    c.put("b", 2)
    c.put("a", 10)  # refresh, not insert
    assert len(c) == 2
    c.put("c", 3)  # evicts b (oldest), not a
    assert "a" in c and "c" in c and "b" not in c
    assert c.get("a") == 10


def test_clear_runs_evict_callback_for_all():
    evicted = []
    c = BoundedCache(5, on_evict=lambda k, v: evicted.append((k, v)))
    c.put("x", 1)
    c.put("y", 2)
    c.clear()
    assert sorted(evicted) == [("x", 1), ("y", 2)]
    assert len(c) == 0


def test_rejects_nonpositive_bound():
    with pytest.raises(ValueError):
        BoundedCache(0)


def test_get_or_build_builds_once_refuses_none_and_refreshes_order():
    calls = []

    def build(value):
        def make():
            calls.append(value)
            return value

        return make

    c = BoundedCache(2)
    assert c.get_or_build("a", build(1)) == 1
    assert c.get_or_build("a", build(99)) == 1  # a hit never builds
    assert calls == [1]
    c.get_or_build("b", build(2))
    c.get_or_build("a", build(99))  # the hit refreshes "a": "b" is oldest
    c.get_or_build("c", build(3))
    assert "a" in c and "c" in c and "b" not in c
    with pytest.raises(ValueError, match="None"):
        c.get_or_build("d", lambda: None)
    assert "d" not in c


def test_module_caches_are_bounded():
    """Every session cache is a module-level BoundedCache, found by the
    same module scan perfbench's ``module_caches()`` makes, so cycling
    many sf_dirs cannot grow any of them past its cap and one scan
    clears them all. The scan runs after every plan module is imported:
    a cache built lazily on first use would be missing here."""
    from big_data_analysis_of_airline_data_set_spark import plans

    for info in pkgutil.iter_modules(plans.__path__, plans.__name__ + "."):
        importlib.import_module(info.name)
    found = {
        f"{mod_name}.{attr}": value
        for mod_name, mod in list(sys.modules.items())
        if mod_name.startswith(pkg.__name__)
        for attr, value in vars(mod).items()
        if isinstance(value, BoundedCache)
    }
    assert {
        f"{plans.__name__}.relational2._BLOOM_CACHE",
        f"{plans.__name__}.relational2._HH_CMS_CACHE",
        f"{plans.__name__}.ml_queries._FIT_CACHE",
    } <= set(found)
    assert all(c.max_entries <= 64 for c in found.values())


def test_session_state_is_held_one_way():
    """Source guard over the package: exit cleanup is registered only by
    caching.py (BoundedCache.__init__), no module rebinds a module-level
    name through ``global`` (lazy caches, cleanup flags), no module keeps
    a module-level registry list, and no module reads or fills its own
    caches by hand instead of through ``get_or_build``."""
    root = Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        caches = {
            target.id
            for node in tree.body
            if isinstance(node, (ast.Assign, ast.AnnAssign))
            and isinstance(node.value, ast.Call)
            and getattr(node.value.func, "id", None) == "BoundedCache"
            for target in (node.targets if isinstance(node, ast.Assign) else [node.target])
        }
        for node in tree.body:
            if (
                isinstance(node, (ast.Assign, ast.AnnAssign))
                and isinstance(node.value, ast.List)
                and not node.value.elts
            ):
                offenders.append((path.name, node.lineno, "module-level registry list"))
        for node in ast.walk(tree):
            if isinstance(node, ast.Global):
                offenders.append((path.name, node.lineno, "global"))
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                receiver = getattr(node.func.value, "id", None)
                if receiver == "atexit" and path != root / "caching.py":
                    offenders.append((path.name, node.lineno, "atexit"))
                if receiver in caches and node.func.attr in ("get", "put"):
                    offenders.append((path.name, node.lineno, f"{receiver}.{node.func.attr}"))
    assert offenders == []


def test_hooked_cache_clears_itself_at_exit(monkeypatch):
    import atexit

    registered = []
    monkeypatch.setattr(atexit, "register", registered.append)
    BoundedCache(2)  # no hook: nothing to release at exit
    hooked = BoundedCache(2, on_evict=lambda k, v: None)
    assert registered == [hooked.clear]


def test_eviction_hooks_release_the_entry_resource(tmp_path):
    from big_data_analysis_of_airline_data_set_spark.caching import (
        remove_dir,
        unpersist_quietly,
    )

    d = tmp_path / "index"
    d.mkdir()
    remove_dir("k", (str(d), "centroids"))
    assert not d.exists()
    remove_dir("k", str(d))  # already gone: no error

    class StoppedFrame:
        sparkSession = None  # the stopped-session probe fails → skipped

        def unpersist(self):
            raise AssertionError("must not unpersist a stopped session's frame")

    unpersist_quietly("k", (StoppedFrame(), 7))


def test_schema_verdict_cache_bounded_across_many_dirs():
    from pyspark.sql.types import StructType

    from big_data_analysis_of_airline_data_set_spark.sources.readers import _ON_DISK_SCHEMA_CACHE

    cap = _ON_DISK_SCHEMA_CACHE.max_entries
    for i in range(cap * 3):
        _ON_DISK_SCHEMA_CACHE.put(("app", f"/fake/sf{i}/lineitem.parquet"), StructType())
    assert len(_ON_DISK_SCHEMA_CACHE) <= cap


def test_call_scoped_dirs_are_gone_when_the_call_returns(spark, sf_dir, monkeypatch, tmp_path):
    """The five sink round trips and the upsert stream write into
    TemporaryDirectories: with ``tempfile`` pointed at ``tmp_path``
    nothing is left there once they return, their rows still read, and
    the bucketed join's catalog tables are dropped."""
    from big_data_analysis_of_airline_data_set_spark.plans import all_queries
    from big_data_analysis_of_airline_data_set_spark.plans.events_queries import (
        ensure_events_landed,
    )

    ensure_events_landed(spark, sf_dir)  # a memo, not call-scoped: land it first
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    specs = all_queries()
    for name in (
        "sink_partitioned_roundtrip",
        "sink_report_csv_roundtrip",
        "sink_orc_roundtrip",
        "sink_jsonl_roundtrip",
        "join_bucketed_colocated",
        "events_upsert_sink_stream",
    ):
        out = specs[name].fn(spark, sf_dir)
        assert os.listdir(tmp_path) == [], name
        assert out.count() > 0, name
    assert not spark.catalog.tableExists("sg_bkt_orders")
    assert not spark.catalog.tableExists("sg_bkt_lineitem")


def test_rejects_none_values():
    import pytest as _pytest

    c = BoundedCache(2)
    with _pytest.raises(ValueError, match="None"):
        c.put("k", None)


def test_plan_pin_reuses_identical_plan_and_swaps(spark):
    """PlanPin: plan-identical frames share one Spark cache entry, so
    pin() must hand back the existing pin (not evict it); a different
    plan swaps; release() through the pin leaves nothing dangling."""
    from big_data_analysis_of_airline_data_set_spark.caching import PlanPin

    pin = PlanPin()
    df1 = spark.range(100).selectExpr("id", "id * 2 as v")
    df2 = spark.range(100).selectExpr("id", "id * 3 as v")

    a = pin.pin(df1)
    a.count()
    assert a.storageLevel.useMemory
    # plan-identical frame (fresh object): reuse, still cached
    b = pin.pin(spark.range(100).selectExpr("id", "id * 2 as v"))
    assert b is a
    assert a.storageLevel.useMemory and len(pin) == 1
    # different plan: swap, old released
    c = pin.pin(df2)
    assert c is not a and len(pin) == 1
    assert not a.storageLevel.useMemory
    # release through the pin
    pin.release(c)
    assert len(pin) == 0 and not c.storageLevel.useMemory


def test_plan_pin_release_of_unpinned_twin_is_noop(spark):
    """Round-10 advice: release() of a plan-identical TWIN of the
    pinned frame must not unpersist — the two share one CacheManager
    entry owned by the pin, and unpersisting the twin would evict it
    out from under the pin (silent recompute). A genuinely different
    frame still unpersists normally."""
    from big_data_analysis_of_airline_data_set_spark.caching import PlanPin

    pin = PlanPin()
    a = pin.pin(spark.range(50).selectExpr("id", "id * 7 as v"))
    a.count()
    assert a.storageLevel.useMemory
    twin = spark.range(50).selectExpr("id", "id * 7 as v")
    pin.release(twin)  # NOT the pinned object — must be a no-op
    assert len(pin) == 1 and a.storageLevel.useMemory
    other = spark.range(50).selectExpr("id", "id * 9 as v").persist()
    other.count()
    pin.release(other)  # different plan: releases normally
    assert not other.storageLevel.useMemory
    assert len(pin) == 1 and a.storageLevel.useMemory
    pin.release(a)
    assert len(pin) == 0 and not a.storageLevel.useMemory


def test_one_session_per_process_discipline(spark):
    """Pins the discipline that makes unpersist_quietly's
    plan-identity caveat unreachable (caching.py: evicting an
    OLD session's cache entry whose canonical plan matches a LIVE
    session's twin would evict the live entry too, because Spark's
    CacheManager is shared across sessions of one SparkContext and
    keys by canonical plan). Two guarantees: (1) get_session() can
    never mint a second concurrent session — getOrCreate() hands back
    the one active session; (2) no library code calls newSession(),
    the only API that could create a concurrent sibling."""
    import glob
    import os

    from pyspark.sql import SparkSession

    from big_data_analysis_of_airline_data_set_spark.session import get_session

    s1 = get_session("discipline-probe")
    s2 = get_session("discipline-probe-2")
    assert s1 is s2 is spark
    assert SparkSession.getActiveSession() is spark

    pkg = os.path.dirname(
        os.path.dirname(os.path.abspath(get_session.__code__.co_filename))
    )
    offenders = []
    for path in glob.glob(
        os.path.join(pkg, "big_data_analysis_of_airline_data_set_spark", "**", "*.py"),
        recursive=True,
    ):
        with open(path) as fh:
            if ".newSession(" in fh.read():
                offenders.append(path)
    assert not offenders, f"newSession() would break the discipline: {offenders}"
