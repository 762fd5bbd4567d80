"""``sources.local_rows``: driver-side rows as a JVM local relation.
It must give exactly what ``spark.createDataFrame(rows, ddl)`` gave —
same rows, same schema — without the Python RDD underneath, and it
must stay the package's only way to build such a frame."""

from __future__ import annotations

import ast
import datetime as dt
import pathlib
import time

import pytest

import big_data_analysis_of_airline_data_set_spark as pkg
from big_data_analysis_of_airline_data_set_spark.sources import local_rows

_DDL = (
    "s string, i int, l long, d double, b boolean, t timestamp, a array<long>"
)
_ROWS = [
    ("x", 1, 2**40, 1.5, True, dt.datetime(2024, 1, 2, 3, 4, 5, 6), [1, 2]),
    (None, None, None, None, None, None, None),
    ("", -1, -(2**62), float("nan"), False, dt.datetime(1969, 12, 31, 23, 59), []),
    ("y", 0, 0, float("inf"), True, dt.datetime.max, [None, 3]),
    ("z", 2**31 - 1, 3, float("-inf"), False, dt.datetime(1900, 1, 1), [5]),
]


@pytest.fixture
def utc_process(monkeypatch):
    """The old path reads a naive datetime in the process's local zone,
    local_rows reads it as UTC: the twins agree where that zone is UTC."""
    monkeypatch.setenv("TZ", "UTC")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


@pytest.mark.parametrize("rows", [_ROWS, []], ids=["values", "empty"])
def test_matches_create_dataframe(spark, utc_process, rows):
    new = local_rows(spark, rows, _DDL)
    old = spark.createDataFrame(rows, _DDL)
    assert new.schema == old.schema
    # repr: NaN != NaN, but both sides print it the same way
    assert repr(new.collect()) == repr(old.collect())


def test_rows_and_struct_schema(spark):
    """``Row``s from a collect and a ``StructType`` schema, as the
    catalog's collect-then-rebuild queries pass them."""
    src = spark.range(3).selectExpr("id", "id * 0.5 AS half")
    got = local_rows(spark, src.collect(), src.schema)
    assert got.schema == src.schema
    assert got.collect() == src.collect()


def test_plan_is_a_local_scan(spark):
    plan = local_rows(spark, _ROWS, _DDL)._jdf.queryExecution().executedPlan()
    text = plan.toString()
    assert "LocalTableScan" in text
    assert "ExistingRDD" not in text and "Scan ExistingRDD" not in text


def test_no_other_module_calls_create_dataframe():
    """Every driver-side frame in the package goes through local_rows."""
    root = pathlib.Path(pkg.__file__).parent
    helper = root / "sources" / "local.py"
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path == helper:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert offenders == []
