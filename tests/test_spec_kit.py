"""The decimal-exact kit in plans/spec.py: each Spark Column and its
DuckDB SQL twin, run on the same hand-built rows, give identical
values — including the rows the seed-42 corpora never produce (NULLs,
the DECIMAL(18,2) ceiling, pre-1970 and year-9999 instants)."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from decimal import Decimal
from itertools import product

import duckdb
import pytest
from pyspark.sql import functions as F

from big_data_analysis_of_airline_data_set_spark.plans.spec import (
    DISCOUNTED_PRICE_SQL,
    US_DAY,
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
