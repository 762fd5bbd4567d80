"""End-to-end replication of the reference's cleaning job (entry-point
A, Scripts/1_cs_777_cleaning_data.py) as ONE oracled catalog query.

The driver testdata has no flights table, so a deterministic
flights-shaped frame is derived from lineitem ⋈ nothing (pure column
arithmetic — same rows in any engine), with the null structure the
reference's semantics depend on (SURVEY.md §2.12.4):

- Cancelled rows carry NULL times/delays (cancelled ∪ cleaned union);
- a sprinkle of non-cancelled rows has a NULL AirTime (any-null drop).

``flights_cleaning_job`` then runs the REAL pipeline
(operators.cleaning.clean_and_engineer — filter → na.drop → label →
city split → hhmm extraction → casts) and the oracle replicates every
step in SQL, including the string-substr hour/minute quirks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cleaning import clean_and_engineer, visualization_dataset
from ..sources.readers import read_testdata_table
from .spec import QuerySpec


def synthetic_flights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic flights-shaped frame from lineitem (FIXTURES.md §A
    analog on driver testdata)."""
    li = read_testdata_table(spark, sf_dir, "lineitem")
    cancelled = (F.col("l_orderkey") % 37 == 0)
    airtime_null = (F.col("l_orderkey") % 41 == 0)
    null_if_cancelled = lambda c: F.when(cancelled, F.lit(None)).otherwise(c)  # noqa: E731
    return li.select(
        F.col("l_returnflag").alias("Airline"),
        F.col("l_linestatus").alias("Origin"),
        F.col("l_returnflag").alias("Dest"),
        cancelled.alias("Cancelled"),
        (F.col("l_orderkey") % 97 == 0).alias("Diverted"),
        null_if_cancelled((F.col("l_orderkey") % 2400).cast("double")).alias("DepTime"),
        null_if_cancelled((F.col("l_suppkey") % 121 - 60).cast("double")).alias("DepDelay"),
        null_if_cancelled((F.col("l_partkey") % 2400).cast("double")).alias("ArrTime"),
        null_if_cancelled(
            ((F.col("l_orderkey") + F.col("l_suppkey")) % 121 - 60).cast("double")
        ).alias("ArrDelay"),
        F.when(cancelled | airtime_null, F.lit(None))
        .otherwise(F.col("l_quantity") * 10.0)
        .alias("AirTime"),
        F.col("l_extendedprice").alias("Distance"),
        F.year("l_shipdate").alias("Year"),
        F.quarter("l_shipdate").alias("Quarter"),
        F.month("l_shipdate").alias("Month"),
        F.dayofmonth("l_shipdate").alias("DayofMonth"),
        (F.weekday("l_shipdate") + 1).alias("DayOfWeek"),
        F.concat(F.col("l_returnflag"), F.lit(", "), F.col("l_linestatus")).alias(
            "OriginCityName"
        ),
        F.col("l_linestatus").alias("OriginState"),
        F.concat(F.col("l_linestatus"), F.lit(", "), F.col("l_returnflag")).alias(
            "DestCityName"
        ),
        F.col("l_returnflag").alias("DestState"),
        F.lit(0.0).alias("DivAirportLandings"),
        # key kept OUT of the pipeline's view but needed for a stable oracle join
        F.col("l_orderkey").alias("_rowkey_hi"),
        F.col("l_linenumber").alias("_rowkey_lo"),
    )


_FLIGHTS_SQL = """
  SELECT l_returnflag AS Airline,
         l_linestatus AS Origin,
         l_returnflag AS Dest,
         (l_orderkey % 37 = 0) AS Cancelled,
         (l_orderkey % 97 = 0) AS Diverted,
         CASE WHEN l_orderkey % 37 = 0 THEN NULL
              ELSE CAST(l_orderkey % 2400 AS DOUBLE) END AS DepTime,
         CASE WHEN l_orderkey % 37 = 0 THEN NULL
              ELSE CAST(l_suppkey % 121 - 60 AS DOUBLE) END AS DepDelay,
         CASE WHEN l_orderkey % 37 = 0 THEN NULL
              ELSE CAST(l_partkey % 2400 AS DOUBLE) END AS ArrTime,
         CASE WHEN l_orderkey % 37 = 0 THEN NULL
              ELSE CAST((l_orderkey + l_suppkey) % 121 - 60 AS DOUBLE) END AS ArrDelay,
         CASE WHEN l_orderkey % 37 = 0 OR l_orderkey % 41 = 0 THEN NULL
              ELSE l_quantity * 10.0 END AS AirTime,
         l_extendedprice AS Distance,
         year(l_shipdate) AS Year,
         quarter(l_shipdate) AS Quarter,
         month(l_shipdate) AS Month,
         dayofmonth(l_shipdate) AS DayofMonth,
         isodow(l_shipdate) AS DayOfWeek,
         l_returnflag || ', ' || l_linestatus AS OriginCityName,
         l_linestatus AS OriginState,
         l_linestatus || ', ' || l_returnflag AS DestCityName,
         l_returnflag AS DestState,
         0.0 AS DivAirportLandings,
         l_orderkey AS rowkey_hi,
         l_linenumber AS rowkey_lo
  FROM lineitem
"""

# hhmm hour per the reference string semantics (cast int → varchar →
# substr), minute = last two chars unpadded.
_HOUR_SQL = """
  CAST(CASE WHEN {t} >= 1000
            THEN substring(CAST(CAST({t} AS INT) AS VARCHAR), 1, 2)
            WHEN {t} >= 100
            THEN substring(CAST(CAST({t} AS INT) AS VARCHAR), 1, 1)
            ELSE '0' END AS INT)
"""
_MINUTE_SQL = "CAST(right(CAST(CAST({t} AS INT) AS VARCHAR), 2) AS INT)"


def q_flights_cleaning_job(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full job-1 pipeline over the synthetic flights frame. The hidden
    row keys ride along so the oracle compare is row-exact."""
    flights = synthetic_flights(spark, sf_dir)
    out = clean_and_engineer(flights)
    return out.select(
        F.col("_rowkey_hi").alias("rowkey_hi"),
        F.col("_rowkey_lo").alias("rowkey_lo"),
        "Airline",
        "OriginCityName",
        "DestCityName",
        F.col("Delay_Status").cast("long").alias("Delay_Status"),
        F.col("DepTimeHour").cast("long").alias("DepTimeHour"),
        F.col("DepTimeMinute").cast("long").alias("DepTimeMinute"),
        F.col("ArrTimeHour").cast("long").alias("ArrTimeHour"),
        F.col("ArrTimeMinute").cast("long").alias("ArrTimeMinute"),
        F.col("Diverted").cast("long").alias("Diverted"),
        "Distance",
        F.col("Year").cast("long").alias("Year"),
    )


_CLEANING_ORACLE = f"""
WITH flights AS ({_FLIGHTS_SQL}),
cleaned AS (
  SELECT * FROM flights
  WHERE NOT Cancelled
    AND DepTime IS NOT NULL AND DepDelay IS NOT NULL
    AND ArrTime IS NOT NULL AND ArrDelay IS NOT NULL
    AND AirTime IS NOT NULL
)
SELECT rowkey_hi, rowkey_lo, Airline,
       string_split(OriginCityName, ',')[1] AS OriginCityName,
       string_split(DestCityName, ',')[1] AS DestCityName,
       CAST(CASE WHEN DepDelay <= 0 AND ArrDelay <= 0 THEN 0 ELSE 1 END AS BIGINT)
         AS Delay_Status,
       CAST({_HOUR_SQL.format(t='DepTime')} AS BIGINT) AS DepTimeHour,
       CAST({_MINUTE_SQL.format(t='DepTime')} AS BIGINT) AS DepTimeMinute,
       CAST({_HOUR_SQL.format(t='ArrTime')} AS BIGINT) AS ArrTimeHour,
       CAST({_MINUTE_SQL.format(t='ArrTime')} AS BIGINT) AS ArrTimeMinute,
       CAST(Diverted AS BIGINT) AS Diverted,
       Distance,
       CAST(Year AS BIGINT) AS Year
FROM cleaned
"""


def q_flights_viz_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viz dataset: cancelled rows (nulls intact) ∪ fully-non-null
    cleaned rows (Scripts/1_...py:50-58), summarized per Airline so the
    compare is compact but null-structure-sensitive."""
    flights = synthetic_flights(spark, sf_dir)
    viz = visualization_dataset(flights)
    return viz.groupBy("Airline").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("DepTime").alias("n_with_deptime"),
        F.sum(F.col("Cancelled").cast("long")).alias("n_cancelled"),
    )


_VIZ_ORACLE = f"""
WITH flights AS ({_FLIGHTS_SQL}),
viz AS (
  SELECT * FROM flights WHERE Cancelled
  UNION ALL
  SELECT * FROM flights
  WHERE NOT Cancelled
    AND DepTime IS NOT NULL AND DepDelay IS NOT NULL
    AND ArrTime IS NOT NULL AND ArrDelay IS NOT NULL
    AND AirTime IS NOT NULL
)
SELECT Airline,
       count(*) AS n_rows,
       count(DepTime) AS n_with_deptime,
       CAST(sum(CAST(Cancelled AS BIGINT)) AS BIGINT) AS n_cancelled
FROM viz GROUP BY Airline
"""


QUERIES: list[QuerySpec] = [
    QuerySpec(
        "flights_cleaning_job", q_flights_cleaning_job, _CLEANING_ORACLE,
        "entry-point A end-to-end: filter → na.drop → label → split → hhmm quirks",
    ),
    QuerySpec(
        "flights_viz_dataset", q_flights_viz_dataset, _VIZ_ORACLE,
        "cancelled ∪ cleaned viz dataset with null structure preserved",
    ),
]
