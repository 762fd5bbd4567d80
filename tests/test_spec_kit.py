"""The decimal-exact and daily-series kit in plans/spec.py: each Spark
Column or frame and its DuckDB SQL twin, run on the same hand-built
rows, give identical values — including the rows the seed-42 corpora
never produce (NULLs, the DECIMAL(18,2) ceiling, pre-1970 and
year-9999 instants, days without events). No other plan module
spells the spend quantization or the epoch-day bucket."""

from __future__ import annotations

import ast
import re
from datetime import datetime, timedelta, timezone
from decimal import Decimal
from itertools import product
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from big_data_analysis_of_airline_data_set_spark.plans import spec
from big_data_analysis_of_airline_data_set_spark.plans.spec import (
    DAILY_COUNTS_SQL,
    DAILY_SPEND_SQL,
    DISCOUNTED_PRICE_SQL,
    US_DAY,
    daily_counts,
    daily_spend,
    day_bucket,
    day_bucket_sql,
    discounted_price,
)

# The last non-NULL price is the kit's stated bound: 15 significant digits.
_PRICES = [12.34, 0.01, 987_654.32, 9_999_999_999_999.99, None]
_DISCOUNTS = [0.0, 0.07, 0.10, None]
_CEILING_PRICE = 9_999_999_999_999_998.0  # < 10^16, the DECIMAL(18,2) ceiling

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_INSTANTS = {
    "epoch": datetime(1970, 1, 1),
    "midnight": datetime(2024, 3, 1),
    "last_microsecond": datetime(2024, 3, 1, 23, 59, 59, 999999),
    "pre_1970_noon": datetime(1969, 12, 31, 12),
    "1900_01_01": datetime(1900, 1, 1),
    "9999_12_31": datetime(9999, 12, 31),
    "9999_12_31_last_microsecond": datetime(9999, 12, 31, 23, 59, 59, 999999),
}


def _micros(dt: datetime) -> int:
    return (dt.replace(tzinfo=timezone.utc) - _EPOCH) // timedelta(microseconds=1)


def _lineitem(spark, rows):
    schema = "id long, l_extendedprice double, l_discount double"
    con = duckdb.connect()
    con.execute("CREATE TABLE lineitem (id BIGINT, l_extendedprice DOUBLE, l_discount DOUBLE)")
    con.executemany("INSERT INTO lineitem VALUES (?, ?, ?)", rows)
    return spark.createDataFrame(rows, schema), con


def test_discounted_price_twins_agree(spark):
    rows = [(i, p, d) for i, (p, d) in enumerate(product(_PRICES, _DISCOUNTS))]
    df, con = _lineitem(spark, rows)
    got = {r.id: r.v for r in df.select("id", discounted_price().alias("v")).collect()}
    want = dict(con.execute(f"SELECT id, {DISCOUNTED_PRICE_SQL} FROM lineitem").fetchall())
    assert got == want
    by_input = {(p, d): got[i] for i, p, d in rows}
    assert by_input[(12.34, 0.07)] == Decimal("11.4762")
    assert by_input[(9_999_999_999_999.99, 0.10)] == Decimal("8999999999999.991")
    assert [p for (p, d), v in by_input.items() if v is None] == [
        p for p, d in product(_PRICES, _DISCOUNTS) if p is None or d is None
    ]


def test_discounted_price_sql_twin_stops_below_the_decimal_ceiling(spark):
    """The kit's precondition: near the DECIMAL(18,2) ceiling Spark is
    still exact, while DuckDB's int64 decimal product overflows."""
    df, con = _lineitem(spark, [(0, _CEILING_PRICE, 0.07)])
    assert df.select(discounted_price()).first()[0] == Decimal("9299999999999998.14")
    with pytest.raises(duckdb.OutOfRangeException):
        con.execute(f"SELECT {DISCOUNTED_PRICE_SQL} FROM lineitem").fetchall()


def test_day_bucket_twins_agree(spark):
    rows = [(name, _micros(dt)) for name, dt in _INSTANTS.items()]
    df = spark.createDataFrame(rows, "name string, us long").select(
        "name", F.expr("timestamp_micros(us)").alias("ts")
    )
    got = {r.name: r.day for r in df.select("name", day_bucket("ts").alias("day")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (name VARCHAR, us BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(
        con.execute(
            f"SELECT name, {day_bucket_sql('ts')} FROM (SELECT name, make_timestamp(us) AS ts FROM t)"
        ).fetchall()
    )
    assert got == want
    assert got["last_microsecond"] == got["midnight"] == _micros(_INSTANTS["midnight"]) // US_DAY
    assert got["1900_01_01"] == -25567
    # truncation toward zero in both engines: 1969-12-31 12:00 is day 0
    assert got["pre_1970_noon"] == got["epoch"] == 0
    assert got["9999_12_31_last_microsecond"] == got["9999_12_31"] == 2932896
    # the double-division spelling is not a twin: it rounds this one up
    last = df.filter(F.col("name") == "9999_12_31_last_microsecond")
    rounded = last.select((F.unix_micros("ts") / F.lit(US_DAY)).cast("long")).first()[0]
    assert rounded == 2932897


# (user_id, event_type, instant, value): a gap day (2024-03-02), a day
# whose only value is NULL, a NULL user, pre-1970 instants and values
# that round at the 6th decimal.
_EVENTS = [
    (1, "click", datetime(2024, 3, 1, 10), 1.25),
    (1, "click", datetime(2024, 3, 1, 23, 59, 59, 999999), 2.0000004),
    (1, "buy", datetime(2024, 3, 3), 0.1234567),
    (1, "buy", datetime(2024, 3, 3, 1), None),
    (1, "buy", datetime(2024, 3, 4), None),
    (2, "view", datetime(1969, 12, 31, 12), 5.5),
    (2, "view", datetime(1969, 12, 31, 13), -7.25),
    (2, "view", datetime(1969, 12, 29), 0.000001),
    (None, "click", datetime(2024, 3, 1), 3.0),
]


def _events(spark):
    rows = [(u, t, _micros(dt), v) for u, t, dt, v in _EVENTS]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, us long, value double"
    ).select("user_id", "event_type", F.expr("timestamp_micros(us)").alias("ts"), "value")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (user_id BIGINT, event_type VARCHAR, us BIGINT, value DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", rows)
    con.execute(
        "CREATE VIEW events AS SELECT user_id, event_type, make_timestamp(us) AS ts, value FROM t"
    )
    return df, con


def _rows(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=repr)


def test_daily_series_twins_agree(spark):
    df, con = _events(spark)
    spend = _rows(daily_spend(df).collect())
    assert spend == _rows(con.execute(DAILY_SPEND_SQL).fetchall())
    counts = _rows(daily_counts(df).collect())
    assert counts == _rows(con.execute(DAILY_COUNTS_SQL).fetchall())
    by_day = {(u, d): v for u, d, v in spend}
    march_1 = _micros(datetime(2024, 3, 1)) // US_DAY
    assert by_day[(1, march_1)] == Decimal("3.25")
    assert (1, march_1 + 1) not in by_day  # a gap is a missing row
    assert by_day[(1, march_1 + 2)] == Decimal("0.123457")
    assert by_day[(1, march_1 + 3)] is None  # only NULL values that day
    assert by_day[(None, march_1)] == Decimal("3")
    # truncation toward zero: both 1969-12-31 instants land in day 0
    assert by_day[(2, 0)] == Decimal("-1.75")
    assert by_day[(2, -3)] == Decimal("0.000001")  # 1969-12-29 midnight
    assert ("buy", march_1 + 2, 2) in counts and ("view", 0, 2) in counts


def test_spend_quantization_spelled_only_in_the_kit():
    """A plan module that quantizes ``value`` itself has forked the
    spend arithmetic every daily-series readout shares."""
    kit_path = Path(spec.__file__)
    offenders = []
    for path in sorted(kit_path.parent.glob("*.py")):
        if path == kit_path:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "round(value, 6)" in node.value
            ) or (
                isinstance(node, ast.Call)
                and getattr(node.func, "attr", None) == "round"
                and node.args
                and isinstance(node.args[0], ast.Call)
                and [getattr(a, "value", None) for a in node.args[0].args] == ["value"]
            ):
                offenders.append((path.name, node.lineno))
    assert offenders == []


def test_epoch_day_bucket_spelled_only_in_the_kit():
    """A plan module that divides ``unix_micros(...)`` by ``US_DAY``
    itself has forked ``day_bucket``, and the twin test above no longer
    reaches it."""
    kit_path = Path(spec.__file__)
    inline = re.compile(r"unix_micros\([^)]*\)\s+div\s+(\{US_DAY\}|86400000000)")
    offenders = [
        (path.name, line)
        for path in sorted(kit_path.parent.glob("*.py"))
        if path != kit_path
        for line in path.read_text().splitlines()
        if inline.search(line)
    ]
    assert offenders == []
