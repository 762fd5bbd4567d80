"""QuerySpec: a named Spark query paired with its DuckDB oracle SQL.

Contract (driver t2): the Spark callable and the oracle SQL must produce
the same row count, the same column names/types, and the same values
(order-insensitive, columns sorted by name). Hence the conventions:

- alias every computed column identically on both sides;
- computed integers → BIGINT/long on both sides (pandas int64 parity);
- exact money sums via DECIMAL(18,2) accumulate, then cast to DOUBLE —
  byte-identical across engines regardless of addition order;
- statistical floats (corr, var) rounded to 6 decimals on both sides.

``oracle`` is None for non-SQL-expressible ops (MLlib fits, LSH, custom
stateful streaming) — driver then records a weaker rows-only check.

The decimal-exact kit below is the one spelling of the two formats
every engine pair must agree on — a Spark Column and its DuckDB SQL
twin, which ``tests/test_spec_kit.py`` runs side by side on edge rows:

- ``discounted_price()`` / ``DISCOUNTED_PRICE_SQL``: the line's net
  price, ``DECIMAL(18,2)`` price times ``DECIMAL(4,2)`` (1 − discount).
  Exact and engine-identical for prices of at most 15 significant
  digits (|price| < 10^13 at cents precision). Beyond that DuckDB's
  double→decimal cast rounds through a double product, and near the
  DECIMAL(18,2) ceiling its int64 decimal product overflows; Spark
  stays exact. NULL price or discount gives NULL on both sides.
- ``day_bucket(col)`` / ``day_bucket_sql(col)``: whole days since the
  epoch of a timestamp, as BIGINT integer division of epoch micros
  (Spark ``div``, DuckDB ``//``). Both engines truncate toward zero,
  so they agree on every instant from 1900-01-01 to 9999-12-31; a
  pre-1970 instant that is not midnight lands in the next day's bucket
  (1969-12-31 12:00 → day 0). The double-division spelling
  ``(unix_micros(c) / US_DAY).cast("long")`` is not a twin: it rounds
  up the last microsecond of 9999-12-31.

The daily-series kit, on ``day_bucket``:

- ``spend()`` / ``SPEND_SQL``: an event's value quantized as
  ``round(value, 6)`` → DECIMAL(18,6), so its sums are exact.
- ``daily_spend(events)`` / ``DAILY_SPEND_SQL``: (user_id, day, v),
  each user's spend summed per epoch day; NULL if all values are NULL.
- ``daily_counts(events)`` / ``DAILY_COUNTS_SQL``: (event_type, day,
  n), each type's events per epoch day.

A day without events is a missing row, never a zero. Callers cast or
shift ``v``/``n`` after the aggregate; Catalyst folds that into it.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

US_SEC = 1_000_000
US_HOUR = 3600 * US_SEC
US_DAY = 24 * US_HOUR

DISCOUNTED_PRICE_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))"
)


def discounted_price() -> Column:
    """Spark twin of ``DISCOUNTED_PRICE_SQL``: a DECIMAL(23,4) Column."""
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    return price * (F.lit(1.0) - F.col("l_discount")).cast("decimal(4,2)")


def day_bucket(col: str) -> Column:
    """Whole epoch days of timestamp column ``col``, as a long Column."""
    return F.expr(f"unix_micros({col}) div {US_DAY}")


def day_bucket_sql(col: str) -> str:
    """DuckDB twin of ``day_bucket``."""
    return f"epoch_us(CAST({col} AS TIMESTAMP)) // {US_DAY}"


SPEND_SQL = "CAST(round(value, 6) AS DECIMAL(18,6))"


def spend() -> Column:
    """Spark twin of ``SPEND_SQL``: a DECIMAL(18,6) Column."""
    return F.round(F.col("value"), 6).cast("decimal(18,6)")


DAILY_SPEND_SQL = f"""SELECT user_id,
         {day_bucket_sql('ts')} AS day,
         SUM({SPEND_SQL}) AS v
  FROM events GROUP BY 1, 2"""


def daily_spend(events: DataFrame) -> DataFrame:
    """Spark twin of ``DAILY_SPEND_SQL``: (user_id, day, v)."""
    return events.groupBy("user_id", day_bucket("ts").alias("day")).agg(
        F.sum(spend()).alias("v")
    )


DAILY_COUNTS_SQL = f"""SELECT event_type,
         {day_bucket_sql('ts')} AS day,
         count(*) AS n
  FROM events GROUP BY 1, 2"""


def daily_counts(events: DataFrame) -> DataFrame:
    """Spark twin of ``DAILY_COUNTS_SQL``: (event_type, day, n)."""
    return events.groupBy("event_type", day_bucket("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
