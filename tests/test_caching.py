"""Bounded session-cache behavior (big_data_analysis_of_airline_data_set_spark.caching) — round-3
advice: per-session caches must not grow without bound in a long-lived
server session cycling many sf_dirs."""

from __future__ import annotations

import pytest

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


def test_module_caches_are_bounded():
    """Every module-level session cache is a BoundedCache (or carries
    its own explicit bound), so cycling many sf_dirs cannot grow any of
    them past its cap."""
    from big_data_analysis_of_airline_data_set_spark.plans import content, events_queries, ml_queries
    from big_data_analysis_of_airline_data_set_spark.sources import readers

    assert isinstance(ml_queries._FIT_CACHE, BoundedCache)
    assert isinstance(ml_queries._REF_BANDS_CACHE, BoundedCache)
    assert isinstance(content._IVF_CACHE, BoundedCache)
    assert isinstance(content._FREQ_CACHE, BoundedCache)
    assert isinstance(readers._ON_DISK_SCHEMA_CACHE, BoundedCache)
    assert isinstance(events_queries._LANDED_CACHE, BoundedCache)


def test_schema_verdict_cache_bounded_across_many_dirs():
    from pyspark.sql.types import StructType

    from big_data_analysis_of_airline_data_set_spark.sources.readers import _ON_DISK_SCHEMA_CACHE

    cap = _ON_DISK_SCHEMA_CACHE.max_entries
    for i in range(cap * 3):
        _ON_DISK_SCHEMA_CACHE.put(("app", f"/fake/sf{i}/lineitem.parquet"), StructType())
    assert len(_ON_DISK_SCHEMA_CACHE) <= cap


def test_sink_dirs_bounded():
    import os

    from big_data_analysis_of_airline_data_set_spark.plans import patterns

    made = [patterns._sink_dir("cache_test_sink_") for _ in range(20)]
    assert len(patterns._SINK_DIRS) <= patterns._SINK_DIRS_MAX
    # evicted dirs are actually gone; the newest survive
    assert not os.path.isdir(made[0])
    assert os.path.isdir(made[-1])
    patterns._SINK_DIRS.clear()
    for d in made:
        import shutil

        shutil.rmtree(d, ignore_errors=True)


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
    """Pins the discipline that makes _unpersist_quietly's
    plan-identity caveat unreachable (plans/graph_queries.py: evicting an
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
